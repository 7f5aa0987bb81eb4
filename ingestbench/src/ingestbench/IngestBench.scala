package ingestbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.Session
import graft.lake.MergeWriter
import graft.normalize.{Exchanges => Decoders, Intervals}
import graft.operators.KeepLast
import graft.streaming.{Backfill, LiveIngest}
import Gen._

/** One fetched response body, as the live source delivers it. */
final case class RawPayload(exchange: String, symbol: String, payload: String)

/** Benchmark of the candle ingest pipeline: backfill, aligned live
  * cycles and lake queries, driven through the pipeline's public entry
  * points (`Exchanges.all`, `Backfill.plan`/`runFanOut`,
  * `LiveIngest.runAligned`/`runAvailableNow`, `MergeWriter` and
  * `KeepLast`) with payloads generated from a seed.
  *
  * Every workload runs the same three phases in order, sized so that one
  * of them dominates:
  *  1. backfill: `Backfill.runFanOut` over the plan for all symbols,
  *     intervals and exchanges into a fresh lake;
  *  2. live: `LiveIngest.runAligned` on a frozen clock, one
  *     `runAvailableNow` pass per due interval per boundary;
  *  3. query: closed-loop `range` and `latest` reads of the lake.
  * Each phase checks the lake against the generator's model.
  *
  * Usage: IngestBench --workload NAME --seed N --seconds S --trace 0|1
  *          --scratch-root DIR
  * Prints an environment line, then one JSON result line.
  */
object IngestBench {

  /** @param symbols      how many of [[Gen.Symbols]] are ingested
    * @param intervals    intervals backfilled and collected live
    * @param backfillDays horizon of the backfill, ending at [[T0]]
    * @param warmCycles   leading live cycles run and checked but not timed
    * @param liveCycles   timed live cycles after those
    * @param queries      queries run; 0 means: run them for `--seconds`
    */
  final case class Workload(symbols: Int, intervals: Seq[String], backfillDays: Int,
                            warmCycles: Int, liveCycles: Int, queries: Int)

  val Workloads: Map[String, Workload] = Map(
    // the reference's shape: one 30-day fan-out backfill of six symbols
    // and every interval dominates; one cold live cycle and six reads follow
    "backfill" -> Workload(6, IntervalNames, 30, warmCycles = 0, liveCycles = 1, queries = 6),
    // a three-day lake of two symbols at 15m and 1h, one untimed cycle,
    // four timed ones (15m, 15m + 1h at 00:00, 15m, 15m), then closed-loop reads
    "live" -> Workload(2, Seq("15m", "1h"), 3, warmCycles = 1, liveCycles = 4, queries = 0))

  /** The interval both workloads' queries read: the first merge of the
    * backfill's fan-out, so the 30-day lake holds it in full.
    */
  val QueryInterval: String = "1h"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val w = Workloads.getOrElse(name, sys.error(s"unknown workload $name; known: ${Workloads.keys.mkString(", ")}"))
    val run = new Run(w, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      new File(opt("scratch-root")).getAbsoluteFile)
    val code =
      try { run.run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally run.close()
    System.exit(code)
  }

  /** First live boundary, 2026-03-01 23:30 UTC. The backfill horizon ends
    * here; from it, 15m is due at every boundary and 1h at 00:00.
    */
  val T0: Long = java.time.Instant.parse("2026-03-01T23:30:00Z").toEpochMilli
  val DayMs: Long = 86400000L
  /** Ingest sequence of the backfill. Live passes merge with their
    * micro-batch id, which starts at 0 per checkpoint; the backfill sorts
    * below it so a live correction of a candle the backfill saw still
    * open wins keep-last (at 0 the two would tie).
    */
  val BackfillSeq: Long = -1L
  val PartKeys: Seq[String] = Seq("symbol", "interval", "data_type", "exchange", "date")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dateOf(ts: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ts))

  /** Unit of a per-layer metric, from its name's suffix. */
  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s" else if (metric.endsWith("_ms")) "ms"
    else if (metric.contains("bytes")) "B" else "count"

  def json(m: Iterable[(String, Any)]): String = m.map { case (k, v) =>
    val js = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case m: Map[_, _] => json(m.asInstanceOf[Map[String, Any]])
      case s: Seq[_] => s.map(x => "\"" + x.toString.replace("\"", "'") + "\"").mkString("[", ",", "]")
      case x => x.toString
    }
    "\"" + k + "\":" + js
  }.mkString("{", ",", "}")
}

final class Run(w: IngestBench.Workload, seed: Long, seconds: Int, traced: Boolean, root: File) {
  import IngestBench._

  private val gen = new Gen(seed)
  private val symbols = Symbols.take(w.symbols)
  private val dir = new File(root, s"run-${ProcessHandle.current().pid()}")
  private val lake = new File(dir, "lake").getPath
  private var spark: SparkSession = _
  private var trace: Option[Trace] = None
  /** The lake as it must read back: keep-last over every accepted row. */
  private val model = mutable.HashMap.empty[Key, Ohlcv]
  private var attempted, failed, wrong = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val rangeSecs, latestSecs = mutable.ArrayBuffer.empty[Double]

  private def now: Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (now - t0) / 1e9

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$what: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(160)}"
    if (!errors.contains(msg)) errors += msg
    System.err.println(s"[ingestbench] $msg")
  }

  /** A check found a wrong result: the operation counts as failed and the
    * run as incorrect.
    */
  private def wrongResult(what: String): Unit = {
    failed += 1; wrong += 1
    if (errors.size < 20) errors += s"wrong result: $what"
    System.err.println(s"[ingestbench] wrong result: $what")
  }

  private val RawSchema = org.apache.spark.sql.types.StructType.fromDDL("symbol STRING, payload STRING")

  /** Response bodies as the DataFrame a fetch hands the decoders. */
  private def raw(rows: Seq[(String, String)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (sym, body) => Row(sym, body) }.asJava, RawSchema)
  }

  private def lakeExists: Boolean = new File(lake).exists()

  /** Every row of the lake as (key, value), timestamps in epoch ms. */
  private def readAll(): Array[(Key, Values)] =
    if (!lakeExists) Array.empty
    else rowsOf(MergeWriter.readLake(spark, lake))

  private def rowsOf(df: DataFrame): Array[(Key, Values)] =
    df.select(col("symbol"), col("exchange"), col("interval"), unix_millis(col("timestamp")),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .collect().map { r =>
        (Key(Symbols.indexOf(r.getString(0)), Exchanges.indexOf(r.getString(1)),
          IntervalNames.indexOf(r.getString(2)), r.getLong(3)),
          (r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
      }

  /** The read-back value equals the model's (exact double equality). */
  private def holds(expected: collection.Map[Key, Ohlcv], k: Key, v: Values): Boolean =
    expected.get(k).exists(_.doubles == v)

  /** True when the rows hold exactly the expected candles: each key once,
    * each with the expected values.
    */
  private def matches(rows: Seq[(Key, Values)], expected: collection.Map[Key, Ohlcv]): Boolean =
    rows.size == expected.size && rows.map(_._1).distinct.size == rows.size &&
      rows.forall { case (k, v) => holds(expected, k, v) }

  // ───────────────────────────── set-up ─────────────────────────────

  /** Build the session five times, stopping the previous one before each
    * timed build; returns each build's seconds, the first one cold.
    * Nothing else runs before the workload, so every run starts from the
    * same JIT state.
    */
  private def setup(): Seq[Double] =
    (1 to 5).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now
      spark = Session.build("ingestbench")
      secsSince(t0)
    }

  // ──────────────────────────── tracing ─────────────────────────────

  /** Traced runs only: decode the batch and keep-last it against the
    * lake's affected partitions, each materialized once, so those layers
    * are timed apart from the merge that repeats the work. Returns the
    * nanoseconds it took, which the caller leaves out of its timings.
    */
  private def probe(tr: Trace, iv: String, payloads: Seq[(String, Seq[(String, String)])],
                    seq: Long): Long = {
    val t0 = now
    val decoded = payloads.map { case (ex, rows) => Decoders.all(ex)(raw(rows)) }
      .reduce(_ unionByName _).localCheckpoint()
    val candles = decoded.count()
    tr.add("normalize.decode_s", secsSince(t0))
    tr.add("normalize.payloads", payloads.map(_._2.size).sum)
    tr.add("normalize.candles_out", candles)
    val batch = MergeWriter.withPartitionCols(decoded, iv, "spot").withColumn("ingest_seq", lit(seq))
    val dates = batch.select("date").distinct().collect().map(_.getString(0)).toSeq
    val input = (if (!lakeExists) batch
      else MergeWriter.readLake(spark, lake)
        .filter(col("interval") === iv && col("date").isin(dates: _*))
        .unionByName(batch, allowMissingColumns = true)).localCheckpoint()
    tr.add("keeplast.rows_in", input.count())
    val t1 = now
    val out = KeepLast.dedupClustered(input, PartKeys.map(col(_)),
      (PartKeys :+ "timestamp").map(col(_)), Seq(col("ingest_seq"))).count()
    tr.add("keeplast.dedup_s", secsSince(t1))
    tr.add("keeplast.rows_out", out)
    now - t0
  }

  /** A timed lake read: DataFrame construction, then the action. */
  private def timedRead[A](query: DataFrame => DataFrame)(act: DataFrame => A): A = {
    val t0 = System.currentTimeMillis()
    val df = query(MergeWriter.readLake(spark, lake))
    val t1 = System.currentTimeMillis()
    val out = act(df)
    trace.foreach { tr =>
      tr.record("read_resolve", t0, t1)
      tr.record("read_exec", t1, System.currentTimeMillis())
      tr.scanned(df)
    }
    out
  }

  // ──────────────────────────── backfill ────────────────────────────

  /** One `runFanOut` over the whole horizon into a fresh lake. Each
    * interval's merge is one operation; a merge counts as done only if
    * its candles read back exactly. Returns committed candles per second
    * of the call's wall time.
    */
  private def backfill(): Double = {
    val start = T0 - w.backfillDays * DayMs
    val chunks = Backfill.plan(symbols, w.intervals, start, T0)
    trace.foreach(_.add("streaming.plan_chunks", chunks.size))
    // the fetch seam: one response body per (chunk, exchange), made up front
    val expected = mutable.HashMap.empty[String, mutable.HashMap[Key, Ohlcv]]
    val bodies = (for {
      c <- chunks
      (ex, e) <- Exchanges.zipWithIndex
      (s, end) <- Backfill.clampWindow(ex, c.symbol, c.startMs, c.endMs)
    } yield {
      val (si, ivi) = (Symbols.indexOf(c.symbol), IntervalNames.indexOf(c.interval))
      // a candle still open at the horizon's end comes back partial
      val step = Intervals.intervalMs(c.interval)
      val rows = gen.grid(ivi, s, end).map { t =>
        val k = Key(si, e, ivi, t)
        t -> (if (t + step <= T0) gen.fin(k) else gen.partial(k, T0))
      }
      val refused = gen.refused(e, si, ivi, s)
      if (!refused) expected.getOrElseUpdate(c.interval, mutable.HashMap.empty) ++=
        rows.map { case (t, v) => Key(si, e, ivi, t) -> v }
      (c.symbol, c.interval, s, ex) -> gen.payload(e, rows, refused)
    }).toMap
    val fetch = (c: Backfill.Chunk, ex: String) =>
      Decoders.all(ex)(raw(Seq(c.symbol -> bodies((c.symbol, c.interval, c.startMs, ex)))))
    // runFanOut merges one interval at a time, in this order
    val order = chunks.groupBy(_.interval).keys.toSeq

    var probeNs = 0L
    val t0 = now
    val error = try {
      trace match {
        case None => Backfill.runFanOut(spark, chunks, Exchanges, fetch, lake, BackfillSeq)
        case Some(tr) => order.foreach { iv =>
          val ivChunks = chunks.filter(_.interval == iv)
          probeNs += probe(tr, iv, Exchanges.map(ex => ex -> bodies.toSeq.collect {
            case ((sym, `iv`, _, `ex`), body) => sym -> body }), BackfillSeq)
          tr.span("merge")(Backfill.runFanOut(spark, ivChunks, Exchanges, fetch, lake, BackfillSeq))
        }
      }
      None
    } catch {
      case e: StackOverflowError => Some(e)
      case NonFatal(e) => Some(e)
    }
    val wall = (now - t0 - probeNs) / 1e9

    // the lake must hold exactly the merges that ran before any failure
    val got = readAll().groupBy(kv => IntervalNames(kv._1.iv))
    val committed = order.takeWhile(got.contains)
    var candles = 0L
    order.foreach { iv =>
      attempted += 1
      val exp = expected.getOrElse(iv, mutable.HashMap.empty[Key, Ohlcv])
      got.get(iv) match {
        case Some(rows) if committed.contains(iv) && matches(rows.toSeq, exp) =>
          candles += rows.length; model ++= exp
        case Some(_) => wrongResult(s"backfill interval $iv reads back different candles")
        case None if error.isEmpty => wrongResult(s"backfill returned but interval $iv is missing")
        case None if iv == order(committed.size) => fail(s"backfill merge $iv", error.get)
        case None => fail(s"backfill merge $iv", new IllegalStateException("not run: runFanOut stopped at the failed merge"))
      }
    }
    candles / wall
  }

  // ────────────────────────────── live ──────────────────────────────

  /** Aligned live cycles from the frozen boundary [[T0]]. Returns each
    * cycle's seconds: boundary fired → every due interval merged and the
    * fetched window visible to a reader with its expected values.
    */
  private def live(cycles: Int): Seq[Double] = {
    val session = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = session.sqlContext
    import session.implicits._
    val sources = IntervalNames.map(iv => iv -> MemoryStream[RawPayload]).toMap
    def stream(iv: String): DataFrame = {
      val df = sources(iv).toDF()
      Exchanges.map(ex => Decoders.all(ex)(df.filter(col("exchange") === ex))).reduce(_ unionByName _)
    }
    val batchIds = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val out = mutable.ArrayBuffer.empty[Double]
    // the open cycle: its start and the windows merged so far; `excluded`
    // is the time it spent in benchmark-only work (payloads, probes)
    var open: Option[(Long, mutable.ArrayBuffer[(String, Seq[Key])])] = None
    var excluded = 0L

    def closeCycle(): Unit = open.foreach { case (t0, merged) =>
      if (merged.nonEmpty) {
        val keys = merged.flatMap(_._2)
        val ivs = merged.map(_._1).distinct
        val rows = timedRead(_.filter(col("interval").isin(ivs.toSeq: _*) &&
          col("date").isin(keys.map(k => dateOf(k.ts)).distinct.toSeq: _*) &&
          col("timestamp").isin(keys.map(k => new java.sql.Timestamp(k.ts)).distinct.toSeq: _*)))(rowsOf)
        val seen = rows.groupBy(_._1)
        val bad = merged.filterNot { case (_, ks) =>
          ks.forall(k => seen.get(k).exists(vs => vs.length == 1 && holds(model, k, vs.head._2)))
        }
        bad.foreach { case (iv, _) => wrongResult(s"live cycle: interval $iv window not visible with final values") }
        if (!rows.forall { case (k, v) => holds(model, k, v) })
          wrongResult("live cycle: a read-back candle differs from the model")
      }
      out += (now - t0 - excluded) / 1e9
      open = None
    }

    def launch(iv: String, boundary: Long): Unit = {
      val (_, merged) = open.get
      val g0 = now
      val ivi = IntervalNames.indexOf(iv)
      val step = Intervals.intervalMs(iv)
      // the reference's window [boundary − interval, boundary]: the last
      // closed candle comes back final, the just-opened one is partial
      val fetched = for (si <- symbols.indices; e <- Exchanges.indices) yield {
        val rows = gen.grid(ivi, boundary - step, boundary + 1).map { t =>
          val k = Key(si, e, ivi, t)
          t -> (if (t + step <= boundary) gen.fin(k) else gen.partial(k, boundary))
        }
        val refused = gen.refused(e, si, ivi, boundary)
        (RawPayload(Exchanges(e), Symbols(si), gen.payload(e, rows, refused)),
          if (refused) Nil else rows.map { case (t, v) => Key(si, e, ivi, t) -> v })
      }
      sources(iv).addData(fetched.map(_._1))
      val seq = batchIds(iv)
      trace.foreach(tr => probe(tr, iv, Exchanges.map(ex =>
        ex -> fetched.map(_._1).filter(_.exchange == ex).map(p => p.symbol -> p.payload)), seq))
      excluded += now - g0
      attempted += 1
      val p0 = System.currentTimeMillis()
      val ab0 = trace.map(_.addBatchTotalMs).getOrElse(0L)
      val t1 = now
      try {
        LiveIngest.runAvailableNow(spark, stream(iv), lake, new File(dir, s"ckpt/$iv").getPath, iv)
        val accepted = fetched.flatMap(_._2)
        model ++= accepted
        merged += iv -> accepted.map(_._1)
      } catch { case NonFatal(e) => fail(s"live pass $iv", e) }
      batchIds(iv) = seq + 1
      trace.foreach { tr =>
        val p1 = System.currentTimeMillis()
        val addBatch = tr.addBatchTotalMs - ab0
        excluded += now - t1 - (p1 - p0) * 1000000L
        tr.record("stream_pass", p0, p1)
        tr.add("streaming.batch_overhead_s", (p1 - p0 - addBatch) / 1000.0)
        tr.firstJobStartAfter(p0).filter(_ <= p1).foreach(js => tr.record("merge", js, js + addBatch))
      }
    }

    LiveIngest.runAligned(cycles, w.intervals, launch,
      clock = () => T0 - 60000L,
      sleep = _ => { closeCycle(); excluded = 0L; open = Some((now, mutable.ArrayBuffer.empty)) })
    closeCycle()
    out.toSeq
  }

  // ───────────────────────────── queries ────────────────────────────

  /** `range`: daily OHLCV of one (symbol, exchange) of the interval over
    * 7 dates. Compared with the same aggregates over the model.
    */
  private def rangeQuery(i: Int): Unit = {
    val days = w.backfillDays
    val (si, e, ivi) = ((i * 7 + seed.toInt.abs) % symbols.size, (i * 3 + 1) % Exchanges.size,
      IntervalNames.indexOf(QueryInterval))
    val first = T0 - days * DayMs + ((i * 5) % math.max(1, days - 6)) * DayMs
    val dates = (0 until 7).map(d => dateOf(first + d * DayMs))
    val t0 = now
    attempted += 1
    try {
      val rows = timedRead(_.filter(col("symbol") === Symbols(si) && col("exchange") === Exchanges(e) &&
          col("interval") === IntervalNames(ivi) && col("data_type") === "spot" && col("date").isin(dates: _*))
        .groupBy("date").agg(min_by(col("open"), col("timestamp")), max("high"), min("low"),
          max_by(col("close"), col("timestamp")), sum(col("volume").cast("decimal(38,4)")), count(lit(1))))(_.collect())
      rangeSecs += secsSince(t0)
      val want = model.toSeq.filter { case (k, _) => k.sym == si && k.ex == e && k.iv == ivi && dates.contains(dateOf(k.ts)) }
        .groupBy { case (k, _) => dateOf(k.ts) }.map { case (d, kvs) =>
          val byTs = kvs.sortBy(_._1.ts).map(_._2)
          d -> ((byTs.head.o / 10000.0, byTs.map(_.h).max / 10000.0, byTs.map(_.l).min / 10000.0,
            byTs.last.c / 10000.0, java.math.BigDecimal.valueOf(byTs.map(_.v).sum, 4), byTs.size.toLong))
        }
      val ok = rows.length == want.size && rows.forall { r =>
        want.get(r.getString(0)).exists { case (o, h, l, c, v, n) =>
          r.getDouble(1) == o && r.getDouble(2) == h && r.getDouble(3) == l && r.getDouble(4) == c &&
            r.getDecimal(5).compareTo(v) == 0 && r.getLong(6) == n
        }
      }
      if (!ok) wrongResult(s"range query $i")
    } catch { case NonFatal(ex) => fail(s"range query $i", ex) }
  }

  /** `latest`: last close per (symbol, exchange) of the interval. */
  private def latestQuery(i: Int): Unit = {
    val ivi = IntervalNames.indexOf(QueryInterval)
    val t0 = now
    attempted += 1
    try {
      val rows = timedRead(_.filter(col("interval") === IntervalNames(ivi) && col("data_type") === "spot")
        .groupBy("symbol", "exchange")
        .agg(max(unix_millis(col("timestamp"))), max_by(col("close"), col("timestamp"))))(_.collect())
      latestSecs += secsSince(t0)
      val want = model.toSeq.filter(_._1.iv == ivi).groupBy { case (k, _) => (Symbols(k.sym), Exchanges(k.ex)) }
        .map { case (se, kvs) => val (k, v) = kvs.maxBy(_._1.ts); se -> (k.ts, v.c / 10000.0) }
      val ok = rows.length == want.size && rows.forall { r =>
        want.get((r.getString(0), r.getString(1))).contains((r.getLong(2), r.getDouble(3)))
      }
      if (!ok) wrongResult(s"latest query $i")
    } catch { case NonFatal(ex) => fail(s"latest query $i", ex) }
  }

  // ─────────────────────────────── run ──────────────────────────────

  private def lakeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(lakeBytes).sum).getOrElse(0L) else f.length()

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  def run(): Unit = {
    dir.mkdirs()
    val builds = setup()
    trace = if (traced) Some(new Trace(spark)) else None
    val gc0 = gcSeconds

    // 1. backfill into a fresh lake
    val backfillRate = backfill()

    // 2. live cycles on that lake, then the whole lake against the model
    val cycleSecs = live(w.warmCycles + w.liveCycles).drop(w.warmCycles)
    val all = readAll()
    if (!matches(all.toSeq, model)) wrongResult("lake after live cycles differs from the model")
    val bytesPerCandle = lakeBytes(new File(lake)).toDouble / math.max(1, all.length)

    // 3. queries, closed loop, alternating range and latest
    val q0 = now
    var i = 0
    while (if (w.queries == 0) i < 4 || secsSince(q0) < seconds else i < w.queries) {
      if (i % 2 == 0) rangeQuery(i / 2) else latestQuery(i / 2)
      i += 1
    }

    val e2e = Map(
      "setup_s" -> (median(builds), "s"),
      "backfill_candles_per_s" -> (backfillRate, "1/s"),
      "live_cycle_p50_s" -> (median(cycleSecs), "s"),
      "live_cycle_mean_s" -> (cycleSecs.sum / cycleSecs.size, "s"),
      "query_range_p50_s" -> (median(rangeSecs.toSeq), "s"),
      "query_latest_p50_s" -> (median(latestSecs.toSeq), "s"),
      "ok_frac" -> ((attempted - failed).toDouble / attempted, "ratio"),
      "lake_bytes_per_candle" -> (bytesPerCandle, "B"))
    val metrics = trace match {
      case None => e2e
      case Some(tr) =>
        tr.add("session.build_s", builds.head)
        tr.add("jvm.gc_s", gcSeconds - gc0)
        tr.add("lake.read_resolve_s", tr.secs("read_resolve"))
        tr.add("lake.read_exec_s", tr.secs("read_exec"))
        println("ingestbench traced end-to-end: " + json(e2e.map { case (k, (v, u)) => k -> v }))
        tr.metrics().map { case (k, v) => k -> (v, unitOf(k)) }
    }
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "scratch_root" -> root.getPath,
      "session_scratch_dir" -> sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", "<session default>"),
      "dev_shm_free_bytes" -> new File("/dev/shm").getUsableSpace,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    val samples = Map("setup_builds_s" -> builds.map(b => f"$b%.3f"), "live_cycles" -> cycleSecs.size,
      "range_queries" -> rangeSecs.size, "latest_queries" -> latestSecs.size)
    println("ingestbench env: " + json(env))
    println("ingestbench samples: " + json(samples) + " errors: " + json(Map("errors" -> errors.toSeq)))
    println(json(Seq(
      "correct" -> (wrong == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
