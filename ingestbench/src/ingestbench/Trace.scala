package ingestbench

import scala.collection.mutable
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters of the traced run, kept in memory and reduced to
  * the per-layer metrics when the run ends.
  *
  * Spans are recorded here, around the benchmark's own calls into each
  * layer. Spark-side counts come from one SparkListener (jobs, tasks,
  * shuffle), one QueryExecutionListener (the parquet write's file, byte
  * and partition counts) and one StreamingQueryListener (each
  * micro-batch's `addBatch` time, i.e. the merge inside the pass).
  * Times are wall-clock milliseconds, the clock listener events carry.
  */
final class Trace(spark: SparkSession) {
  final case class Span(name: String, startMs: Long, endMs: Long) {
    def ms: Long = endMs - startMs
  }
  private final case class Job(startMs: Long, var endMs: Long, stages: Seq[Int])
  private final class StageAgg { var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private val writes = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val addBatchMs = mutable.ArrayBuffer.empty[Long]

  private object Walk extends AdaptiveSparkPlanHelper

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = Job(e.time, Long.MaxValue, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (e.taskMetrics != null) {
        a.runMs += e.taskMetrics.executorRunTime
        a.shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ws = Walk.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
      Trace.this.synchronized {
        ws.foreach(w => writes += w.metrics.map { case (k, m) => k -> m.value })
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        addBatchMs += Option(e.progress.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
      }
  })

  /** Deliver every pending listener event. */
  def drain(): Unit = ListenerDrain(spark.sparkContext)

  def add(name: String, v: Double): Unit = synchronized { counts(name) = counts.getOrElse(name, 0.0) + v }

  def record(name: String, startMs: Long, endMs: Long): Unit = synchronized { spans += Span(name, startMs, endMs) }

  def span[A](name: String)(body: => A): A = {
    val s = System.currentTimeMillis()
    try body finally record(name, s, System.currentTimeMillis())
  }

  def secs(name: String): Double = synchronized(spans.filter(_.name == name).map(_.ms).sum / 1000.0)

  /** Micro-batch merge time reported by streaming progress so far. */
  def addBatchTotalMs: Long = { drain(); synchronized(addBatchMs.sum) }

  /** Start of the first Spark job that began at or after `ms`. */
  def firstJobStartAfter(ms: Long): Option[Long] = {
    drain()
    synchronized(jobs.values.map(_.startMs).filter(_ >= ms).minOption)
  }

  /** Scan metrics of an executed read (after its action ran). */
  def scanned(df: DataFrame): Unit = {
    val scans = Walk.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum.toDouble
    add("lake.files_read", m("numFiles"))
    add("lake.partitions_read", m("numPartitions"))
    add("lake.scan_metadata_ms", m("metadataTime"))
  }

  /** Per-layer metrics: the recorded counters plus everything derived
    * from the `merge` spans (jobs, tasks and driver gap inside them) and
    * the write-command metrics.
    */
  def metrics(): Map[String, Double] = {
    drain()
    synchronized {
      val merges = spans.filter(_.name == "merge")
      val inMerge = jobs.values.filter(j => merges.exists(w => j.startMs >= w.startMs && j.startMs <= w.endMs))
      val mergeStages = inMerge.flatMap(_.stages).toSet.toSeq.flatMap(stages.get)
      val gapMs = merges.map { w =>
        val covered = jobs.values
          .map(j => (math.max(j.startMs, w.startMs), math.min(j.endMs, w.endMs)))
          .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
          .foldLeft((0L, w.startMs)) { case ((acc, reach), (s, e)) =>
            val from = math.max(s, reach)
            if (e > from) (acc + e - from, e) else (acc, reach)
          }._1
        w.ms - covered
      }.sum
      def w(k: String) = writes.map(_.getOrElse(k, 0L)).sum.toDouble
      counts.toMap ++ Map(
        "lake.merge_s" -> merges.map(_.ms).sum / 1000.0,
        "lake.merges" -> merges.size.toDouble,
        "lake.jobs_per_merge" -> (if (merges.isEmpty) 0.0 else inMerge.size.toDouble / merges.size),
        "lake.tasks" -> mergeStages.map(_.tasks).sum.toDouble,
        "lake.task_s" -> mergeStages.map(_.runMs).sum / 1000.0,
        "lake.shuffle_write_bytes" -> mergeStages.map(_.shuffleWrite).sum.toDouble,
        "lake.driver_gap_s" -> gapMs / 1000.0,
        "lake.files_written" -> w("numFiles"),
        "lake.bytes_written" -> w("numOutputBytes"),
        "lake.touched_partitions" -> w("numParts"),
        "streaming.batches" -> addBatchMs.size.toDouble)
    }
  }
}
