package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns the traced passes into per-layer sums (per pass) and a span tree:
  * workload -> op -> phase (build/action) -> Spark job, SQL execution or
  * microbatch, each with its parent and its self time (duration minus the
  * part of it its children cover). */
object Layers {

  /** Union length of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    clipped.foreach { case (a, b) =>
      if (cur == null || a > cur._2) { if (cur != null) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Self time of each span: its duration minus what its direct children
    * cover. */
  def withSelf(group: Seq[Span]): Seq[Span] = group.map { sp =>
    val kids = group.filter(_.parent == sp.id).map(k => (k.startMs, k.endMs))
    sp.copy(selfMs = (sp.endMs - sp.startMs) - covered(kids, sp.startMs, sp.endMs).toDouble)
  }

  def summarize(ops: Seq[OpRecord], tracer: Tracer, passes: Int,
                extra: Map[String, Double]): (Map[String, Double], Seq[Span]) = {
    val sum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val children = tracer.children.asScala.toSeq.groupBy(_.op)
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 1
    val rootId = 0
    ops.foreach { o =>
      tracer.opStats(o.seq).foreach(_.c.foreach { case (k, v) => sum(k) += v })
      val kids = children.getOrElse(o.seq, Nil)
      val jobs = kids.filter(_.kind == "job").map(c => (c.startMs, c.endMs))
      sum("driver.gap_ms") += math.max(0.0, o.wallMs - covered(jobs, o.startMs, o.endMs))
      o.kind match {
        case "query" =>
          sum("registry.build_ms") += o.buildMs
          sum("registry.action_ms") += o.actionMs
          sum(s"module.${o.module}_ms") += o.wallMs
        case "import" => sum("flight.import_ms") += o.wallMs
        case "commit" => sum("vt.commits") += 1; sum("vt.commit_ms") += o.wallMs
        case "checkpoint" => sum("vt.checkpoint_ms") += o.wallMs
        case "vacuum" => sum("vt.vacuum_ms") += o.wallMs
        case "read" =>
          sum("vt.read_build_ms") += o.buildMs
          sum("vt.read_exec_ms") += o.actionMs
          sum("vt.scan_files_read") += tracer.opStats(o.seq).map(_.c("scan.files")).getOrElse(0.0)
        case _ =>
      }
      // span tree: op -> phase -> SQL execution / microbatch -> job (a
      // job under the SQL execution it ran in, else under the phase)
      val opId = nextId; nextId += 1
      val buildEnd = o.startMs + o.buildMs.toLong
      val phases = Seq(("build", o.startMs, buildEnd), ("action", buildEnd, o.endMs))
      val phaseIds = phases.map { _ => val id = nextId; nextId += 1; id }
      def phaseOf(c: Child) = if (c.startMs < buildEnd) phaseIds(0) else phaseIds(1)
      val outer = kids.filter(_.kind != "job").map { c =>
        val id = nextId; nextId += 1
        Span(id, phaseOf(c), o.seq, c.kind, c.name, c.startMs, c.endMs, 0.0) -> c.execId
      }
      val sqlIds = outer.collect { case (sp, x) if sp.kind == "sql" => x -> sp.id }.toMap
      val jobSpans = kids.filter(_.kind == "job").map { c =>
        val id = nextId; nextId += 1
        Span(id, sqlIds.getOrElse(c.execId, phaseOf(c)), o.seq, c.kind, c.name, c.startMs,
          c.endMs, 0.0)
      }
      val opSpan = Span(opId, rootId, o.seq, "op", o.name, o.startMs, o.endMs, 0.0)
      val phaseSpans = phases.zip(phaseIds).map { case ((name, a, b), id) =>
        Span(id, opId, o.seq, "phase", name, a, b, 0.0) }
      spans ++= withSelf(Seq(opSpan) ++ phaseSpans ++ outer.map(_._1) ++ jobSpans)
    }
    if (ops.nonEmpty) {
      val (a, b) = (ops.map(_.startMs).min, ops.map(_.endMs).max)
      spans += Span(rootId, -1, -1, "workload", "workload", a, b,
        (b - a) - covered(ops.map(o => (o.startMs, o.endMs)), a, b).toDouble)
    }
    val n = math.max(1, passes).toDouble
    val perPass = sum.map { case (k, v) => k -> v / n }.toMap ++ extra.map { case (k, v) =>
      k -> v / n }
    val mb = perPass.getOrElse("stream.microbatches", 0.0)
    val derived = Map(
      "stream.empty_batch_ratio" ->
        (if (mb > 0) perPass.getOrElse("stream.empty_batches", 0.0) / mb else 0.0),
      "vt.files_read_ratio" -> (perPass.getOrElse("vt.scan_files_read", 0.0) /
        math.max(1.0, perPass.getOrElse("vt.live_files_read", 0.0))))
    (perPass ++ derived, spans.toSeq)
  }
}
