package perfbench

import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by the harness spans and Spark's events: epoch
  * milliseconds with sub-millisecond resolution taken from nanoTime.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `parent` is another span's id (0 = none; the
  * rollup then parents it by time). Spark-sourced spans carry their
  * numbers in `attrs`.
  */
final case class Span(id: Long, parent: Long, name: String,
                      start: Double, end: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Records spans in memory while a traced pass runs.
  *
  * Harness spans nest on the harness thread; the innermost open span's id
  * rides the `perfbench.span` local property, so every Spark job
  * submitted inside it names its parent in its job-start event. Catalyst
  * phases (from `QueryExecution.tracker`), jobs with their task metrics,
  * and micro-batch triggers arrive as listener events and become spans
  * of their own.
  */
final class Tracer(spark: SparkSession) {
  val SpanProperty = "perfbench.span"
  private val sc = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil

  private def add(s: Span): Unit = spans.synchronized(spans += s)
  def newId(): Long = nextId.incrementAndGet()

  def span[A](name: String, id: Long = newId())(f: => A): A = {
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = Clock.nowMs()
    try f
    finally {
      val t1 = Clock.nowMs()
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
      add(Span(id, parent, name, t0, t1))
    }
  }

  // ---- Spark listener: jobs, stages and their task metrics ----------

  private final class JobAcc(val start: Double, val parent: Long) {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.Map.empty[Int, JobAcc]
  private val stageJob = mutable.Map.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = new JobAcc(e.time.toDouble, parent)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.m("stages") += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); acc <- jobs.get(j)) {
        val m = acc.m
        m("tasks") += 1
        val t = e.taskMetrics
        if (t != null) {
          m("task_s") += t.executorRunTime / 1e3
          m("task_cpu_s") += t.executorCpuTime / 1e9
          m("gc_s") += t.jvmGCTime / 1e3
          m("input_bytes") += t.inputMetrics.bytesRead
          m("input_rows") += t.inputMetrics.recordsRead
          m("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
          m("shuffle_write_s") += t.shuffleWriteMetrics.writeTime / 1e9
          m("shuffle_read_bytes") += t.shuffleReadMetrics.totalBytesRead
          m("shuffle_fetch_wait_s") += t.shuffleReadMetrics.fetchWaitTime / 1e3
          m("spill_bytes") += t.diskBytesSpilled
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { acc =>
        add(Span(newId(), acc.parent, "job", acc.start, e.time.toDouble, acc.m.toMap))
      }
  }

  // ---- Catalyst: tracker phases and rule statistics per execution ---

  private val qeListener = new QueryExecutionListener {
    private def onQe(qe: QueryExecution): Unit = {
      val tr = qe.tracker
      tr.phases.foreach { case (phase, p) =>
        add(Span(newId(), 0L, s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      val graftRules = tr.rules.filter { case (name, _) => name.startsWith("graft.") }
      val obs = qe.observedMetrics
      def capCounts(prefix: String): Seq[(Long, Long)] =
        obs.keys.filter(_.startsWith(prefix + "_in_")).toSeq.flatMap { k =>
          obs.get(prefix + "_out_" + k.stripPrefix(prefix + "_in_"))
            .map(out => (obs(k).getLong(0), out.getLong(0)))
        }
      val caps = capCounts("graft_cap") ++ capCounts("graft_bucketcap")
      val now = Clock.nowMs()
      add(Span(newId(), 0L, "qe", now, now, Map(
        "rule_s" -> graftRules.values.map(_.totalTimeNs).sum / 1e9,
        "rule_invocations" -> graftRules.values.map(_.numInvocations).sum.toDouble,
        "rule_effective" -> graftRules.values.map(_.numEffectiveInvocations).sum.toDouble,
        "cap_reports" -> caps.size.toDouble,
        "cap_binds" -> caps.count { case (in, out) => in > out }.toDouble)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQe(qe)
  }

  // ---- Structured Streaming: one span per trigger --------------------

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      add(Span(newId(), 0L, "stream.trigger", start, start + d.getOrElse("triggerExecution", 0.0), Map(
        "add_batch_s" -> d.getOrElse("addBatch", 0.0) / 1e3,
        "query_planning_s" -> d.getOrElse("queryPlanning", 0.0) / 1e3,
        "wal_commit_s" -> d.getOrElse("walCommit", 0.0) / 1e3,
        "commit_offsets_s" -> d.getOrElse("commitOffsets", 0.0) / 1e3,
        "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
        "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
        "state_partitions" -> ops.map(_.numShufflePartitions).sum.toDouble,
        "input_rows" -> p.numInputRows.toDouble)))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach every listener, after the bus has delivered what it holds. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def dump(): Seq[Span] = spans.synchronized(spans.toList)
}
