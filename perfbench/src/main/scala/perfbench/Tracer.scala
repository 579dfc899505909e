package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A child span recorded by a listener: a Spark job, SQL execution or
  * microbatch, attributed to the benchmark op that caused it. `execId` is
  * the SQL execution a job ran under, or the execution itself (else -1). */
final case class Child(op: Int, kind: String, name: String, startMs: Long, endMs: Long,
                       execId: Long = -1L)

/** Per-op counters gathered from Spark's public listener events. */
final class OpStats {
  val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
  def max(k: String, v: Double): Unit = c(k) = math.max(c(k), v)
}

/** The traced run's listeners. Every op runs under the job tag
  * `pb-op-<seq>`, so jobs, stages, tasks and SQL executions carry the op
  * that caused them (job tags are thread-inherited, so stream threads
  * started inside an op carry it too). Streaming queries are attributed
  * through their run id to the op running when they started. Catalyst
  * phase times come from a [[QueryExecutionListener]]; each callback is
  * paired with the SQL execution end event it was dispatched for. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  @volatile var currentOp: Int = -1
  @volatile var enabled: Boolean = false

  private val stats = new ConcurrentHashMap[Int, OpStats]()
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val execOp = new ConcurrentHashMap[Long, Int]()
  private val execStartMs = new ConcurrentHashMap[Long, Long]()
  private val runOp = new ConcurrentHashMap[java.util.UUID, Int]()
  private val runStartMs = new ConcurrentHashMap[java.util.UUID, Long]()
  private val firstBatchSeen = ConcurrentHashMap.newKeySet[java.util.UUID]()
  val children = new java.util.concurrent.ConcurrentLinkedQueue[Child]()
  // QE callback <-> SQL execution end pairing (both run on the listener
  // bus thread, one right after the other, for the same event)
  private var events = 0L
  private var lastEnd: (Long, Long) = (-1L, -1L)        // (event no, exec id)
  private var pendingQe: (Long, QueryExecution) = (-1L, null)

  def statsOf(op: Int): OpStats = stats.computeIfAbsent(op, _ => new OpStats)
  def opStats(op: Int): Option[OpStats] = Option(stats.get(op))

  private def opOfTags(tags: String): Int =
    if (tags == null) -1
    else tags.split(",").find(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val op = opOfTags(Option(e.properties).map(_.getProperty("spark.job.tags")).orNull)
    if (enabled && op >= 0) {
      jobOp.put(e.jobId, op); jobStartMs.put(e.jobId, e.time)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      e.stageIds.foreach(stageOp.put(_, op))
      statsOf(op).add("spark.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    val op = jobOp.getOrDefault(e.jobId, -1)
    if (op >= 0) {
      val st = jobStartMs.getOrDefault(e.jobId, e.time)
      statsOf(op).add("spark.job_ms", (e.time - st).toDouble)
      children.add(Child(op, "job", s"job ${e.jobId}", st, e.time,
        jobExec.getOrDefault(e.jobId, -1L)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val op = stageOp.getOrDefault(e.stageInfo.stageId, -1)
    if (op >= 0) statsOf(op).add("spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val op = stageOp.getOrDefault(e.stageId, -1)
    val m = e.taskMetrics
    if (op >= 0 && m != null) {
      val s = statsOf(op)
      s.add("spark.tasks", 1)
      s.add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      s.add("spark.gc_ms", m.jvmGCTime.toDouble)
      s.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("scan.records", m.inputMetrics.recordsRead.toDouble)
      s.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      s.add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.max("exec_mem.peak_bytes", m.peakExecutionMemory.toDouble)
      s.add("output.bytes", m.outputMetrics.bytesWritten.toDouble)
      s.add("output.records", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    events += 1
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val op = s.jobTags.find(_.startsWith(TagPrefix))
          .map(_.stripPrefix(TagPrefix).toInt).getOrElse(-1)
        if (enabled && op >= 0) {
          execOp.put(s.executionId, op); execStartMs.put(s.executionId, s.time)
          statsOf(op).add("sql.executions", 1)
        }
      case x: SparkListenerSQLExecutionEnd =>
        val op = execOp.getOrDefault(x.executionId, -1)
        if (op >= 0) children.add(Child(op, "sql", s"sql ${x.executionId}",
          execStartMs.getOrDefault(x.executionId, x.time), x.time, x.executionId))
        if (pendingQe._1 == events - 1 && pendingQe._2 != null) {
          recordQe(x.executionId, pendingQe._2); pendingQe = (-1L, null)
        } else lastEnd = (events, x.executionId)
      case _ =>
    }
  }

  /** Called from the QueryExecutionListener for every finished query. */
  def onQe(qe: QueryExecution): Unit = synchronized {
    if (lastEnd._1 == events) { recordQe(lastEnd._2, qe); lastEnd = (-1L, -1L) }
    else pendingQe = (events, qe)
  }

  private def recordQe(execId: Long, qe: QueryExecution): Unit = {
    val op = execOp.getOrDefault(execId, -1)
    if (op < 0) return
    val s = statsOf(op)
    val ph = qe.tracker.phases
    Seq("analysis" -> "catalyst.analysis_ms", "optimization" -> "catalyst.optimization_ms",
        "planning" -> "catalyst.planning_ms").foreach { case (p, k) =>
      ph.get(p).foreach(t => s.add(k, t.durationMs.toDouble))
    }
    val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      val nodes = PlanWalk.collectWithSubqueries(plan) { case p => p }
      s.add("plan.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble)
      s.add("plan.broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble)
      nodes.foreach {
        case f: FileSourceScanExec =>
          f.metrics.get("numFiles").foreach(m => s.add("scan.files", m.value.toDouble))
        case _ =>
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) onQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) onQe(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = if (enabled) {
      val op = currentOp
      if (op >= 0) {
        runOp.put(e.runId, op)
        runStartMs.put(e.runId, parseTs(e.timestamp))
        statsOf(op).add("stream.queries", 1)
      }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val op = runOp.getOrDefault(p.runId, -1)
      if (op >= 0) {
        val s = statsOf(op)
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val ts = parseTs(p.timestamp)
        s.add("stream.microbatches", 1)
        if (p.numInputRows == 0) s.add("stream.empty_batches", 1)
        if (firstBatchSeen.add(p.runId))
          s.add("stream.start_ms", (ts - runStartMs.getOrDefault(p.runId, ts)).toDouble)
        s.add("stream.trigger_ms", ms("triggerExecution"))
        s.add("stream.add_batch_ms", ms("addBatch"))
        s.add("stream.query_planning_ms", ms("queryPlanning"))
        s.add("stream.latest_offset_ms", ms("latestOffset"))
        s.add("stream.get_batch_ms", ms("getBatch"))
        s.add("stream.wal_commit_ms", ms("walCommit"))
        s.add("stream.commit_offsets_ms", ms("commitOffsets"))
        children.add(Child(op, "microbatch", s"batch ${p.batchId}", ts,
          ts + ms("triggerExecution").toLong))
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the asynchronous listener bus has delivered the events of
    * the finished ops: a marker job's end event arrives after every event
    * posted before it. */
  def drain(): Unit = {
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = marker.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(l)
  }
}

object Tracer {
  val TagPrefix = "pb-op-"
  def parseTs(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli catch { case _: Throwable => System.currentTimeMillis() }
}

/** AQE-aware plan traversal (final adaptive plans, query stages and
  * subqueries included). */
object PlanWalk extends AdaptiveSparkPlanHelper
