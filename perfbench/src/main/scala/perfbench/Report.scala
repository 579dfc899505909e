package perfbench

import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The JVM side's report: every op record (with its failure, if any), the
  * set-up times, per-layer sums, spans and the run's environment. run.py
  * reads it, checks digests against the oracle and prints the result. */
object Report {

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def sorted(m: Map[String, Double]): JMap[String, Any] =
    obj(m.toSeq.sortBy(_._1): _*)

  private def op(o: OpRecord, stats: Map[String, Double]) = obj(
    "seq" -> o.seq, "pass" -> o.pass, "traced" -> o.traced, "name" -> o.name,
    "kind" -> o.kind, "module" -> o.module, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
    "build_ms" -> o.buildMs, "action_ms" -> o.actionMs, "wall_ms" -> o.wallMs,
    "failure" -> o.failure.map(f => obj("class" -> f.cls, "message" -> f.message,
      "frames" -> f.frames.asJava)).orNull,
    "mismatch" -> o.mismatch.orNull, "digest" -> o.digest, "rows" -> o.nRows,
    "oracle_sql" -> o.oracleSql, "stats" -> sorted(stats))

  private def span(s: Span) = obj(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> (s.endMs - s.startMs),
    "self_ms" -> s.selfMs)

  def write(conf: Conf, su: Main.SetUp, r: RunResult, extra: Map[String, Double],
            env: Map[String, String], peakRssMb: Double, peakOldGenMb: Double,
            retainedHeapMb: Double): Unit = {
    val layer: Map[String, Double] =
      if (!conf.trace) Map.empty
      else r.layer ++ extra + ("trace.overhead_ratio" ->
        (if (r.untracedWarmOpsPerS > 0) r.tracedOpsPerS / r.untracedWarmOpsPerS else 0.0))
    val report = obj(
      "workload" -> conf.workload, "seed" -> conf.seed, "trace" -> conf.trace,
      "cpus" -> conf.cpus, "setup_s" -> su.times.asJava, "cold_start_s" -> su.coldStartS,
      "measured_s" -> r.measuredS,
      "passes" -> r.passes, "traced_passes" -> r.tracedPasses.asJava,
      "peak_rss_mb" -> peakRssMb, "peak_old_gen_mb" -> peakOldGenMb,
      "retained_heap_mb" -> retainedHeapMb,
      "extra" -> sorted(extra), "layer" -> sorted(layer),
      "env" -> obj(env.toSeq.sortBy(_._1): _*),
      "ops" -> r.ops.map(o => op(o, r.opStats.getOrElse(o.seq, Map.empty))).asJava,
      "checks" -> r.checks.map(op(_, Map.empty)).asJava,
      "spans" -> r.spans.map(span).asJava)
    Files.writeString(Paths.get(conf.out), new ObjectMapper().writeValueAsString(report))
  }
}
