package ingestbench

import graft.normalize.Intervals

/** Seeded model of five exchanges' candle history, and the wire payloads
  * they would return for it.
  *
  * Every value is a pure function of (seed, symbol, exchange, interval,
  * timestamp[, as-of time]), so the expected lake can be recomputed on
  * the driver at any time without storing the inputs. Prices and volumes
  * are whole multiples of 1e-4 held as `Long`: the decimal text in a
  * payload and `units / 10000.0` are both the correctly rounded double of
  * the same real number, so decoding is exactly checkable.
  *
  * The payloads reproduce each venue's quirks (crypto_collector.py
  * 113–131, 197–213, 274–290, 334–369, 439–459): field order, epoch
  * seconds vs milliseconds, JSON numbers vs strings, the bare-array,
  * `{data:{ohlc:[...]}}` and `{code, data}` envelopes, newest-first rows
  * (coinbase, kucoin) and Kucoin's app-level `code`, whose non-success
  * responses carry no candles.
  */
final class Gen(seed: Long) {
  import Gen._

  private def mix(xs: Long*): Long =
    xs.foldLeft(splitmix(seed ^ 0x5DEECE66DL))((h, x) => splitmix(h ^ x))

  private def rnd(bound: Long, xs: Long*): Long = java.lang.Math.floorMod(mix(xs: _*), bound)

  /** The closed candle at `ts`. */
  def fin(k: Key): Ohlcv = {
    val base = BasePrice(k.sym)
    val o = base * (9000 + rnd(2000, 1, k.sym, k.ex, k.iv, k.ts)) / 10000
    val c = base * (9000 + rnd(2000, 2, k.sym, k.ex, k.iv, k.ts)) / 10000
    val wick = math.max(1L, base / 100)
    val h = math.max(o, c) + rnd(wick, 3, k.sym, k.ex, k.iv, k.ts)
    val l = math.max(1L, math.min(o, c) - rnd(wick, 4, k.sym, k.ex, k.iv, k.ts))
    Ohlcv(o, h, l, c, 1 + rnd(1000000000L, 5, k.sym, k.ex, k.iv, k.ts))
  }

  /** The still-open candle at `ts` as an exchange reports it at `asOf`:
    * same open, a narrower range, part of the volume, and a close that
    * differs from the final one, so keep-last has something to correct.
    */
  def partial(k: Key, asOfMs: Long): Ohlcv = {
    val f = fin(k)
    val c0 = f.l + rnd(f.h - f.l + 1, 6, k.sym, k.ex, k.iv, k.ts, asOfMs)
    val c = if (c0 == f.c) (if (c0 > f.l) c0 - 1 else c0 + 1) else c0
    Ohlcv(f.o, math.max(f.o, c), math.min(f.o, c), c,
      1 + rnd(math.max(1L, f.v), 7, k.sym, k.ex, k.iv, k.ts, asOfMs))
  }

  /** Kucoin answers about 1 request in 50 with a non-success app code. */
  def refused(ex: Int, sym: Int, iv: Int, startMs: Long): Boolean =
    Exchanges(ex) == "kucoin" && rnd(50, 8, sym, iv, startMs) == 0

  /** Candle open times on the interval grid in `[startMs, endMs)`. */
  def grid(iv: Int, startMs: Long, endMs: Long): Seq[Long] = {
    val step = Intervals.intervalMs(IntervalNames(iv))
    val first = ((startMs + step - 1) / step) * step
    first until endMs by step
  }

  /** One response body for `rows` (ascending by time), in `ex`'s format. */
  def payload(ex: Int, rows: Seq[(Long, Ohlcv)], refused: Boolean): String = {
    val b = new java.lang.StringBuilder(64 + rows.size * 80)
    def num(u: Long): String = fmt(u)
    def str(u: Long): String = "\"" + fmt(u) + "\""
    def q(x: Any): String = "\"" + x + "\""
    def arr(rs: Seq[(Long, Ohlcv)])(row: ((Long, Ohlcv)) => Seq[String]): Unit = {
      b.append('[')
      rs.iterator.zipWithIndex.foreach { case (r, i) =>
        if (i > 0) b.append(',')
        b.append('[').append(row(r).mkString(",")).append(']')
      }
      b.append(']')
    }
    Exchanges(ex) match {
      case "coinbase" => // [ts_s, low, high, open, close, vol], numbers, newest-first
        arr(rows.reverse) { case (t, v) => Seq((t / 1000).toString, num(v.l), num(v.h), num(v.o), num(v.c), num(v.v)) }
      case "bitstamp" => // {data:{ohlc:[{...}]}}, all strings, keys out of canonical order
        b.append("{\"data\":{\"pair\":\"X\",\"ohlc\":[")
        rows.iterator.zipWithIndex.foreach { case ((t, v), i) =>
          if (i > 0) b.append(',')
          b.append("{\"high\":").append(str(v.h)).append(",\"timestamp\":").append(q(t / 1000))
            .append(",\"volume\":").append(str(v.v)).append(",\"low\":").append(str(v.l))
            .append(",\"close\":").append(str(v.c)).append(",\"open\":").append(str(v.o)).append('}')
        }
        b.append("]}}")
      case "bitfinex" => // [ts_ms, open, close, high, low, vol], numbers, ascending
        arr(rows) { case (t, v) => Seq(t.toString, num(v.o), num(v.c), num(v.h), num(v.l), num(v.v)) }
      case "kucoin" => // {code, data:[[ts_s, open, close, high, low, vol, turnover]]}, strings, newest-first
        if (refused) b.append("{\"code\":\"429000\",\"msg\":\"Too Many Requests\"}")
        else {
          b.append("{\"code\":\"200000\",\"data\":")
          arr(rows.reverse) { case (t, v) =>
            Seq(q(t / 1000), str(v.o), str(v.c), str(v.h), str(v.l), str(v.v), str(v.v * 3)) }
          b.append('}')
        }
      case "binanceus" => // 12-field klines, ms numbers, string prices, ascending
        arr(rows) { case (t, v) =>
          Seq(t.toString, str(v.o), str(v.h), str(v.l), str(v.c), str(v.v),
            (t + 1).toString, str(v.v * 2), "42", str(v.v / 2), str(v.v), "\"0\"") }
    }
    b.toString
  }
}

object Gen {
  val Symbols: IndexedSeq[String] =
    IndexedSeq("BTC-USDT", "ETH-USDT", "SOL-USDT", "XRP-USDT", "ADA-USDT", "DOGE-USDT")
  val Exchanges: IndexedSeq[String] =
    IndexedSeq("coinbase", "bitstamp", "bitfinex", "kucoin", "binanceus")
  val IntervalNames: IndexedSeq[String] = Intervals.All.toIndexedSeq

  /** Price level per symbol, in 1e-4 units. */
  private val BasePrice: IndexedSeq[Long] =
    IndexedSeq(600000000L, 30000000L, 1500000L, 5000L, 4000L, 1000L)

  final case class Key(sym: Int, ex: Int, iv: Int, ts: Long)

  /** open, high, low, close, volume as read back from the lake. */
  type Values = (Double, Double, Double, Double, Double)

  /** OHLCV in 1e-4 units. */
  final case class Ohlcv(o: Long, h: Long, l: Long, c: Long, v: Long) {
    def doubles: Values =
      (o / 10000.0, h / 10000.0, l / 10000.0, c / 10000.0, v / 10000.0)
  }

  def fmt(u: Long): String = {
    val frac = (u % 10000).toString
    s"${u / 10000}.${"0" * (4 - frac.length)}$frac"
  }

  private def splitmix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
