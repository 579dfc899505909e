package perfbench

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Graft
import graft.operators.FlightPipeline
import graft.sources.VersionedTable

/** The paper's pipeline, and the only workload that writes: E1 import of
  * the schedule extract, the versioned table created from it, then E2
  * reload cycles (read the window's partitions, upsert the amended extract,
  * commit with the read version, read the window back per route, look one
  * airport's flights up in the latest snapshot), with time travel and the
  * change feed every second cycle, a checkpoint every fourth commit and a
  * vacuum at the end. Every output is checked against
  * model.json, written by gen_flight.py from the generated rows. */
final class FlightIngest(spark: SparkSession, conf: Conf, runner: Runner) extends Workload {
  private val dir = conf.data
  private val model = new ObjectMapper().readTree(new File(s"$dir/model.json"))
  private val cycles = model.get("cycles").elements().asScala.toSeq
  private val airports = s"$dir/airports.csv"
  private val inputBytes = (Seq(new File(s"$dir/schedule.csv"), new File(airports)) ++
    cycles.map(c => new File(f"$dir/amend_${c.get("k").asInt}%02d.csv"))).map(_.length).sum
  private var storage = Map.empty[String, Double]
  private var rowsLanded = 0L

  private def expect(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, model says $want")

  private def sizes(root: String): Map[String, Long] = {
    val p = new File(root).toPath
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: JPath) => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def pass(p: Int, traced: Boolean): Unit = {
    val root = s"${conf.fixtures}/flight/p$p"
    val importDir = s"$root/import"
    val table = s"$root/table"
    Warm.deleteTree(new File(s"${conf.fixtures}/flight"))
    val seen = mutable.Map.empty[String, Long]
    var written = 0L
    def noteWrites(): Unit = sizes(root).foreach { case (f, n) =>
      if (!seen.contains(f)) { seen(f) = n; written += n }
    }
    val totals = mutable.Map(0 -> model.get("landed").asLong)
    var landed = 0L

    runner.op[(DataFrame, DataFrame), (DataFrame, DataFrame)]("import", "import", "FlightPipeline")(
      Graft.importSchedules(spark, s"$dir/schedule.csv", airports, importDir))(identity) {
      case (_, rejects) =>
        noteWrites()
        landed += model.get("landed").asLong
        expect("import landed rows", spark.read.parquet(importDir).count(), model.get("landed").asLong)
          .orElse(expect("import rejects", rejects.count(), model.get("rejects").asLong))
    }
    if (traced) runner.layerExtra("flight.rows_landed") += model.get("landed").asDouble
    if (traced) runner.layerExtra("flight.rejects") += model.get("rejects").asDouble

    var v = 0
    var commits = 0
    def committed(c: VersionedTable.Commit, want: Int): Option[String] = {
      noteWrites()
      if (traced) {
        val t0 = System.nanoTime()
        VersionedTable.liveEntries(spark, table, c.version)
        runner.layerExtra("vt.replay_ms") += (System.nanoTime() - t0) / 1e6
      }
      expect("committed version", c.version, want)
    }
    runner.op[VersionedTable.Commit, VersionedTable.Commit]("create", "commit", "VersionedTable")(
      VersionedTable.create(spark, table, spark.read.parquet(importDir), "flight_date"))(identity)(
      c => { landed += model.get("landed").asLong; committed(c, 0) })
    commits += 1

    cycles.foreach { c =>
      val k = c.get("k").asInt
      val parts = c.get("parts").elements().asScala.map(_.asText).toSet
      val (w0, w1) = (c.get("w0_us").asLong, c.get("w1_us").asLong)
      val readV = v
      runner.op[VersionedTable.Commit, VersionedTable.Commit]("reload_commit", "commit", "VersionedTable") {
        val existing = VersionedTable.read(spark, table, readV, partValues = Some(parts))
        val (valid, _) = FlightPipeline.validate(Graft.readSchedules(spark, f"$dir/amend_$k%02d.csv"))
        val incoming = FlightPipeline.enrich(
          FlightPipeline.expandAndNormalize(FlightPipeline.passengerOnly(valid)),
          Graft.readAirports(spark, airports))
        VersionedTable.rewritePartitionsCommit(spark, table, parts,
          FlightPipeline.upsertWindow(existing, incoming, w0, w1), "flight_date",
          readVersion = readV)
      }(identity) { cm => landed += c.get("rewritten_rows").asLong; committed(cm, readV + 1) }
      v = readV + 1
      commits += 1
      totals(v) = c.get("total").asLong
      if (commits % 4 == 0) {
        val at = v
        runner.op[Unit, Unit]("checkpoint", "checkpoint", "VersionedTable")(
          VersionedTable.checkpoint(spark, table, at))(identity)(_ => { noteWrites(); None })
      }
      val at = v
      runner.op[DataFrame, Array[Row]]("reload_read", "read", "VersionedTable")(
        VersionedTable.read(spark, table, at, partValues = Some(parts))
          .filter(col("dep_utc_us") >= w0 && col("dep_utc_us") < w1)
          .groupBy("departureAirport", "arrivalAirport").count())(_.collect())(rows =>
        expect(s"cycle $k window rows", rows.map(_.getLong(2)).sum, c.get("window_rows").asLong))
      if (traced) runner.layerExtra("vt.live_files_read") += VersionedTable.liveFiles(spark, table, at).size
      // a lookup across the whole latest snapshot: one departure airport's
      // flights, pruned only by the readers' own filters
      val ap = c.get("lookup_airport").asText
      runner.op[DataFrame, Long]("route_lookup", "read", "VersionedTable")(
        VersionedTable.read(spark, table, at).filter(col("departureAirport") === ap))(_.count())(n =>
        expect(s"cycle $k flights from $ap", n, c.get("lookup_rows").asLong))
      if (traced) runner.layerExtra("vt.live_files_read") += VersionedTable.liveFiles(spark, table, at).size
      if (k % 2 == 0) {
        runner.op[DataFrame, Long]("time_travel", "read", "VersionedTable")(
          VersionedTable.read(spark, table, at - 2))(_.count())(n =>
          expect(s"rows at version ${at - 2}", n, totals(at - 2)))
        if (traced) runner.layerExtra("vt.live_files_read") +=
          VersionedTable.liveFiles(spark, table, at - 2).size
        runner.op[DataFrame, Array[Row]]("changes", "read", "VersionedTable")(
          VersionedTable.changes(spark, table, at, at).groupBy("_change_type").count())(_.collect()) {
          rows =>
            val n = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
            expect(s"net change feed rows of version $at",
              n.getOrElse("insert", 0L) - n.getOrElse("delete", 0L), c.get("delta").asLong)
        }
        if (traced) runner.layerExtra("vt.live_files_read") +=
          VersionedTable.liveFiles(spark, table, at).size
      }
    }
    runner.op[Seq[String], Seq[String]]("vacuum", "vacuum", "VersionedTable")(
      VersionedTable.vacuum(spark, table, retainLast = 2))(identity)(_ => None)

    // untimed end-of-pass checks: the final snapshot against the model,
    // and no natural key twice
    val latest = VersionedTable.latestVersion(spark, table)
    runner.check(s"pass $p final snapshot") {
      val snap = VersionedTable.read(spark, table, latest)
      expect("final rows", snap.count(), model.get("final_total").asLong).orElse {
        val dups = snap.groupBy(FlightPipeline.naturalKey.map(col): _*).count()
          .filter(col("count") > 1).count()
        expect("duplicate natural keys", dups, 0L)
      }
    }
    val live = VersionedTable.liveFiles(spark, table, latest)
    val liveBytes = live.map { case (f, _) =>
      val file = if (new File(f).isAbsolute) new File(f) else new File(table, f)
      file.length }.sum.toDouble
    val tableBytes = sizes(table).values.sum.toDouble
    val log = sizes(s"$table/_log")
    storage = Map(
      "flight.storage_amp" -> tableBytes / math.max(1.0, liveBytes),
      "flight.write_amp" -> written / math.max(1.0, inputBytes.toDouble),
      "vt.live_files" -> live.size.toDouble,
      "vt.bytes_written" -> written.toDouble,
      "vt.log_files" -> log.size.toDouble,
      "vt.log_bytes" -> log.values.sum.toDouble)
    rowsLanded = landed
  }

  /** Storage figures of the last pass, and the flight instances each pass
    * lands (import, create and reload rewrites) for run.py's ingest rate. */
  override def extraMetrics: Map[String, Double] =
    storage + ("flight.rows_landed_per_pass" -> rowsLanded.toDouble)
}
