package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One failure, as it explains itself: exception class, message and the
  * top frames. */
final case class Failure(cls: String, message: String, frames: Seq[String])

object Failure {
  def of(t: Throwable): Failure = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    Failure(t.getClass.getName,
      Option(t.getMessage).getOrElse("") +
        (if (root ne t) s" [root cause ${root.getClass.getName}: ${root.getMessage}]" else ""),
      t.getStackTrace.take(8).map(_.toString).toSeq)
  }
}

/** One timed op: a registry row, or a step of the flight pipeline. */
final case class OpRecord(seq: Int, pass: Int, traced: Boolean, name: String, kind: String,
                          module: String, startMs: Long, endMs: Long, buildMs: Double,
                          actionMs: Double, failure: Option[Failure], mismatch: Option[String],
                          digest: String, nRows: Long, oracleSql: String) {
  def wallMs: Double = buildMs + actionMs
  def failed: Boolean = failure.isDefined || mismatch.isDefined
}

/** Options of one run (see run.py, which launches this main). */
final case class Conf(workload: String, seed: Int, seconds: Double, trace: Boolean,
                      data: String, fixtures: String, out: String, work: String, cpus: Int,
                      passes: Int)

/** The benchmark's JVM side: sets the engine up, runs the workload's ops
  * in a closed loop (one client thread, each op after the previous one
  * returns), checks what it can in-process and writes a JSON report that
  * run.py turns into the result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toInt, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("fixtures"), kv("out"), kv("work"),
      kv("cpus").toInt, kv("passes").toInt)
    val su = setUp(conf)
    val spark = su.spark
    val probeStart = hostProbeMs()
    val result = su.runner.measure(su.workload)
    val probeEnd = hostProbeMs()
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_master" -> spark.sparkContext.master,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "heap_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(a => a.startsWith("-X")).mkString(" "),
      "host_probe_start_ms" -> f"$probeStart%.3f",
      "host_probe_end_ms" -> f"$probeEnd%.3f")
    val rss = peakRssMb()
    Report.write(conf, su, result, su.workload.extraMetrics, env, rss, peakOldGenMb(),
      retainedHeapMb())
    spark.stop()
  }

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  /** The kept session and workload, the time of each set-up, and the cold
    * start: JVM start to the end of the first set-up, the one that pays
    * for class loading, JIT and every one-time initialisation. */
  final case class SetUp(spark: SparkSession, runner: Runner, workload: Workload,
                         times: Seq[Double], coldStartS: Double)

  /** Set-up, timed [[Setups]] times: start the session with the engine's
    * extensions, warm the machinery every op shares (see [[Warm]]) and
    * build the workload, which for a registry workload resolves the module
    * query maps and the oracle SQL (initialising the operator modules).
    * The last session and workload are kept. */
  def setUp(conf: Conf): SetUp = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var runner: Runner = null
    var workload: Workload = null
    var coldStartS = 0.0
    val times = (1 to Setups).map { i =>
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[${conf.cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", conf.cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${conf.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      Warm.run(spark, conf)
      runner = new Runner(spark, conf)
      workload = conf.workload match {
        case "flight_ingest" => new FlightIngest(spark, conf, runner)
        case w if Registry.workloads.contains(w) =>
          new Registry(spark, conf, runner, Registry.workloads(w))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (i == 1) coldStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      (System.nanoTime() - t0) / 1e9
    }
    SetUp(spark, runner, workload, times, coldStartS)
  }

  /** Fixed single-thread CPU probe (ms): context for host-speed swings
    * between runs; no metric is normalised by it. */
  def hostProbeMs(): Double = { probeOnce(); probeOnce() }

  private def probeOnce(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000) { md.update(buf); buf(i % buf.length) = md.digest()(0); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  /** Heap still live after the run, measured after full collections:
    * what the ops left pinned in the session (caches, listeners, state). */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak occupancy of the old generation over the run (MB): what outlived
    * a young collection or was allocated there directly. The young pools'
    * peaks are the collector's fixed young size and are left out. */
  def peakOldGenMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old Gen") || p.getName.contains("Tenured")))
      .map(_.getPeakUsage.getUsed / 1048576.0).sum

  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    else Runtime.getRuntime.totalMemory / 1048576.0
  }
}

/** Session warm-up, part of set-up: one-time first-use costs (class
  * loading, codegen of shared operators, shuffle, the workload's reader and
  * writer, the microbatch machinery) that would otherwise land on whichever
  * op runs first. It runs on tiny inputs of its own under the work
  * directory; no workload data is cached and no workload table is
  * touched. */
object Warm {
  def run(spark: SparkSession, conf: Conf): Unit = {
    import spark.implicits._
    spark.range(200000L).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    val warm = s"${conf.work}/warm"
    deleteTree(new java.io.File(warm))
    conf.workload match {
      case "flight_ingest" =>
        // the CSV reader and the partitioned parquet writer, on a 40-line
        // slice of the extract
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(s"${conf.data}/schedule.csv")).asScala.take(40)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warm))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$warm/schedule.csv"), lines.asJava)
        graft.Graft.importSchedules(spark, s"$warm/schedule.csv", s"${conf.data}/airports.csv",
          s"$warm/import")
      case w =>
        val d = conf.data
        spark.read.parquet(s"$d/nation.parquet")
          .join(spark.read.parquet(s"$d/supplier.parquet"), $"n_nationkey" === $"s_nationkey")
          .groupBy("n_regionkey").count().collect()
        if (w == "lakehouse_stream_sf01") {
          // one microbatch through the memory sink
          val schema = spark.read.parquet(s"$d/region.parquet").schema
          val q = spark.readStream.schema(schema)
            .option("pathGlobFilter", "region.parquet").parquet(d)
            .groupBy("r_regionkey").count()
            .writeStream.format("memory").queryName("perfbench_warm")
            .outputMode("complete")
            .option("checkpointLocation", s"$warm/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          spark.catalog.dropTempView("perfbench_warm")
        }
    }
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A workload: a fixed list of ops run as one pass. */
trait Workload {
  /** Runs one pass; `op` times each step. */
  def pass(p: Int, traced: Boolean): Unit
  /** Workload-specific figures measured outside the ops. */
  def extraMetrics: Map[String, Double] = Map.empty
}

final case class RunResult(ops: Seq[OpRecord], measuredS: Double, passes: Int,
                           tracedPasses: Seq[Int], untracedWarmOpsPerS: Double,
                           tracedOpsPerS: Double, layer: Map[String, Double],
                           spans: Seq[Span], checks: Seq[OpRecord],
                           opStats: Map[Int, Map[String, Double]])

final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String,
                      startMs: Long, endMs: Long, selfMs: Double)

/** Times ops, attributes them for the tracer, and runs whole passes until
  * the run's time is used. */
final class Runner(spark: SparkSession, conf: Conf) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val checks = mutable.ArrayBuffer.empty[OpRecord]
  /** Per-layer sums a workload measures around its own calls (traced
    * passes only), merged into the listener-derived ones. */
  val layerExtra: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  var tracer: Tracer = _
  private var seq = 0
  private var pass = 0
  private var traced = false

  /** Runs one op: `build` returns the op's value (a DataFrame for a
    * registry row), `action` forces it; both are timed apart. `check`
    * runs untimed on the action's value and returns a mismatch, if any. */
  def op[A, B](name: String, kind: String, module: String, oracleSql: String = "",
                digest: B => Option[Digest] = (_: B) => None)(
      build: => A)(action: A => B)(check: B => Option[String]): Option[B] = {
    seq += 1
    val tag = Tracer.TagPrefix + seq
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    if (tracer != null) tracer.currentOp = seq
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val out: Either[Throwable, B] =
      try {
        val a = build
        t1 = System.nanoTime()
        Right(action(a))
      } catch { case t: Throwable => if (t1 == t0) t1 = System.nanoTime(); Left(t) }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    sc.removeJobTag(tag)
    if (tracer != null) tracer.currentOp = -1
    val mismatch = out.toOption.flatMap(b =>
      try check(b) catch { case t: Throwable => Some(s"check threw ${Failure.of(t)}") })
    val dg = out.toOption.flatMap(b => try digest(b) catch { case _: Throwable => None })
    ops += OpRecord(seq, pass, traced, name, kind, module, startMs, endMs,
      (t1 - t0) / 1e6, (t2 - t1) / 1e6, out.left.toOption.map(Failure.of), mismatch,
      dg.map(_.hex).getOrElse(""), dg.map(_.rows).getOrElse(-1L), oracleSql)
    out.toOption
  }

  /** An untimed end-of-run check, reported like an op. */
  def check(name: String)(body: => Option[String]): Unit = {
    val r = try Right(body) catch { case t: Throwable => Left(t) }
    checks += OpRecord(-1, pass, false, name, "check", "perfbench", 0L, 0L, 0, 0,
      r.left.toOption.map(Failure.of), r.toOption.flatten, "", -1L, "")
  }

  /** Whole passes until `conf.seconds` have elapsed and at least
    * `conf.passes` have run. A traced run starts
    * with an untraced (cold) pass, then alternates traced and untraced
    * passes, at least one of each after the cold one; per-layer sums come
    * from the traced passes and the tracing overhead from comparing them
    * with the warm untraced ones. */
  def measure(w: Workload): RunResult = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (conf.trace) { tracer = new Tracer(spark); tracer.register() }
    var done = false
    while (!done) {
      traced = conf.trace && pass % 2 == 1
      if (tracer != null) tracer.enabled = traced
      w.pass(pass, traced)
      pass += 1
      done = elapsed >= conf.seconds && pass >= conf.passes && (!conf.trace || pass >= 3)
    }
    val measured = elapsed
    if (tracer != null) { tracer.enabled = false; tracer.drain() }
    // ops per second of time spent inside ops (untimed checks excluded)
    def rate(sel: Seq[OpRecord]) =
      if (sel.isEmpty) 0.0 else sel.size / (sel.map(_.wallMs).sum / 1000.0)
    val tracedOps = ops.filter(_.traced).toSeq
    val tracedPasses = tracedOps.map(_.pass).distinct
    val (layer, spans) =
      if (tracer == null) (Map.empty[String, Double], Seq.empty[Span])
      else Layers.summarize(tracedOps, tracer, tracedPasses.size, layerExtra.toMap)
    RunResult(ops.toSeq, measured, pass, tracedPasses,
      rate(ops.filter(o => !o.traced && o.pass > 0).toSeq), rate(tracedOps),
      layer, spans, checks.toSeq,
      if (tracer == null) Map.empty
      else tracedOps.flatMap(o => tracer.opStats(o.seq).map(o.seq -> _.c.toMap)).toMap)
  }
}

/** Order-insensitive result digest, with check_oracle.py's compare rules:
  * columns sorted by name, each cell stringified, NULL spelled once, rows
  * sorted. oracle.py computes the same digest from DuckDB's result. */
final case class Digest(hex: String, rows: Long)

object Digest {
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "True" else "False"
    case d: Double => pyFloat(d)
    case f: Float => pyFloat(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => ts(t.toLocalDateTime)
    case t: java.time.Instant => ts(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => ts(t)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ", ", "]")
    case o => o.toString
  }

  private def ts(t: java.time.LocalDateTime): String =
    t.format(tsFmt) + (if (t.getNano == 0) "" else f".${t.getNano / 1000}%06d")

  private def pyFloat(d: Double): String =
    if (d.isNaN) "NULL"
    else if (d == math.rint(d) && math.abs(d) < 1e16) s"${d.toLong}.0"
    else d.toString

  def of(df: org.apache.spark.sql.DataFrame, rows: Array[org.apache.spark.sql.Row]): Digest = {
    val names = df.columns
    val order = names.indices.sortBy(names(_))
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("\u001f").getBytes("UTF-8"))
    lines.foreach { l => md.update("\n".getBytes("UTF-8")); md.update(l.getBytes("UTF-8")) }
    Digest(md.digest().map(b => f"$b%02x").mkString, rows.length.toLong)
  }
}
