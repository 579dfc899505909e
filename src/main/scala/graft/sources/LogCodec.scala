package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Driver-side parquet IO for the versioned-table LOG (`_log/vNNNNN.parquet`,
  * `_ckpt/cNNNNN.parquet`). The log is metadata, bounded by file-op count —
  * reading or writing it must cost file-ops, not Spark jobs. Routing a
  * 200-byte manifest through `spark.read.parquet(...).collect()` /
  * `df.coalesce(1).write.parquet(...)` pays full query planning, schema
  * inference and task scheduling per touch (~100-300 ms each on an idle
  * local master); a multi-commit fixture pays it dozens of times. Delta
  * reads and writes its JSON/parquet log on the driver for the same reason.
  *
  * File format is unchanged: plain parquet with the exact column set the
  * previous Spark-written manifests carried, so the DuckDB oracle (which
  * parses `_log` with SQL string functions), `DESCRIBE HISTORY`, and any
  * manifest written by an older engine all interoperate — the reader takes
  * its schema from each file's own footer, tolerating pre-`nrec`/`mstats`
  * manifests exactly like the old `collectEntries` column probe did. */
private[graft] object LogCodec {

  /** One manifest row: the replayable entry plus the commit-metadata
    * columns (`ts`, `op`) that only history/time-travel consume. */
  final case class LogRow(entry: VersionedTable.LogEntry,
                          ts: Option[Long], op: Option[String])

  private val ManifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 version;
      |  optional binary action (UTF8);
      |  optional binary file (UTF8);
      |  optional binary part (UTF8);
      |  optional int64 smin;
      |  optional int64 smax;
      |  optional binary fschema (UTF8);
      |  optional int64 nrec;
      |  optional binary scol (UTF8);
      |  optional binary mstats (UTF8);
      |  optional int64 ts;
      |  optional binary op (UTF8);
      |  optional int64 fsize;
      |  optional int64 fmtime;
      |}""".stripMargin)

  private val CheckpointSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 version;
      |  optional binary action (UTF8);
      |  optional binary file (UTF8);
      |  optional binary part (UTF8);
      |  optional int64 smin;
      |  optional int64 smax;
      |  optional binary fschema (UTF8);
      |  optional int64 nrec;
      |  optional binary scol (UTF8);
      |  optional binary mstats (UTF8);
      |  optional int64 fsize;
      |  optional int64 fmtime;
      |}""".stripMargin)

  /** Writes manifest rows as ONE parquet file at `dest` (driver-side; no
    * Spark job). `withTsOp = false` writes the 10-column checkpoint shape. */
  def write(conf: Configuration, dest: Path, rows: Seq[LogRow],
            withTsOp: Boolean = true): Unit = {
    val schema = if (withTsOp) ManifestSchema else CheckpointSchema
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dest, conf))
      .withType(schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val e = r.entry
      val g = factory.newGroup()
      g.add("version", e.version)
      if (e.action != null) g.add("action", e.action)
      if (e.file != null) g.add("file", e.file)
      if (e.part != null) g.add("part", e.part)
      e.smin.foreach(g.add("smin", _))
      e.smax.foreach(g.add("smax", _))
      e.fschema.foreach(g.add("fschema", _))
      e.nrec.foreach(g.add("nrec", _))
      e.scol.foreach(g.add("scol", _))
      e.mstats.foreach(g.add("mstats", _))
      if (withTsOp) {
        r.ts.foreach(g.add("ts", _))
        r.op.foreach(g.add("op", _))
      }
      e.fsize.foreach(g.add("fsize", _))
      e.fmtime.foreach(g.add("fmtime", _))
      writer.write(g)
    } finally writer.close()
  }

  /** Opens one parquet file with read options built from `conf`, the
    * caller's configuration. parquet-mr's default options (and
    * `ParquetReader.builder(…, path)`) build a fresh Hadoop
    * `Configuration` per open and re-parse its XML defaults, which cost
    * more than the read of a small manifest or footer itself; every
    * driver-side open in this object goes through here. */
  private def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  /** Reads every row of the given manifest/checkpoint files on the driver,
    * each opened through [[open]] (read options from `conf`, never a
    * fresh Hadoop configuration) and decoded row group by row group.
    * Schema comes from each file's own footer; columns added over the
    * engine's history (`fschema`, `nrec`, `scol`, `mstats`, `ts`, `op`)
    * read as None when a file predates them. */
  def read(conf: Configuration, files: Seq[Path]): Seq[LogRow] = {
    def readOne(p: Path): Seq[LogRow] = {
      val out = Seq.newBuilder[LogRow]
      val rd = open(conf, p)
      try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        var pages = rd.readNextRowGroup()
        while (pages != null) {
          val records = io.getRecordReader(pages, new GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) { out += rowOf(records.read()); i += 1 }
          pages = rd.readNextRowGroup()
        }
      } finally rd.close()
      out.result()
    }
    if (files.sizeIs <= 1) files.flatMap(readOne)
    else {
      // Independent ~ms-scale file opens: read them on the common FJ pool
      // (same bounded driver pool as the footer-stats pass) instead of
      // serially — a 200-commit replay between checkpoints is 200 opens.
      // Results are slotted by index, so row order (and therefore replay
      // order) is identical to the serial read.
      val perFile = new Array[Seq[LogRow]](files.size)
      import scala.jdk.CollectionConverters._
      files.zipWithIndex.asJava.parallelStream().forEach { case (p, i) =>
        perFile(i) = readOne(p)
      }
      perFile.toIndexedSeq.flatten
    }
  }

  private def rowOf(g: Group): LogRow = {
    val t = g.getType
    def has(n: String): Boolean =
      t.containsField(n) && g.getFieldRepetitionCount(n) > 0
    def str(n: String): Option[String] = if (has(n)) Some(g.getString(n, 0)) else None
    def lng(n: String): Option[Long] = if (has(n)) Some(g.getLong(n, 0)) else None
    LogRow(VersionedTable.LogEntry(
      version = g.getInteger("version", 0),
      action = str("action").orNull,
      file = str("file").orNull,
      part = str("part").orNull,
      smin = lng("smin"), smax = lng("smax"),
      fschema = str("fschema"), nrec = lng("nrec"),
      scol = str("scol"), mstats = str("mstats"),
      fsize = lng("fsize"), fmtime = lng("fmtime")),
      ts = lng("ts"), op = str("op"))
  }

  /** Per-file footer metadata read driver-side: exact row count plus, for
    * integer-typed columns, min/max from the column-chunk statistics.
    * Replaces the post-write Spark "stats read-back" job for the common
    * case (long/int stats columns); callers fall back to the Spark pass
    * for any column whose parquet type is not plain signed INT32/INT64
    * (dates, decimals, strings — where `cast(col as long)` semantics and
    * physical-stats ordering can diverge). */
  final case class FooterStats(rows: Long,
                               ranges: Map[String, (Long, Long)],
                               ineligible: Set[String])

  def footerStats(conf: Configuration, file: Path,
                  statCols: Seq[String]): FooterStats = {
    val rd = open(conf, file)
    try {
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
      val blocks = rd.getFooter.getBlocks
      var rows = 0L
      val mins = scala.collection.mutable.Map.empty[String, Long]
      val maxs = scala.collection.mutable.Map.empty[String, Long]
      val bad = scala.collection.mutable.Set.empty[String]
      val want = statCols.toSet
      val it = blocks.iterator()
      while (it.hasNext) {
        val b = it.next()
        rows += b.getRowCount
        val cit = b.getColumns.iterator()
        while (cit.hasNext) {
          val c = cit.next()
          val name = c.getPath.toDotString
          if (want(name)) {
            val pt = c.getPrimitiveType
            val ann = pt.getLogicalTypeAnnotation
            val intOk = pt.getPrimitiveTypeName match {
              case INT64 | INT32 => ann == null || (ann match {
                case i: IntLogicalTypeAnnotation => i.isSigned
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => false
                case _ => false
              })
              case _ => false
            }
            val st = c.getStatistics
            if (!intOk) bad += name
            // ABSENT statistics (never collected — stats disabled, or a
            // foreign writer) are NOT the same as an all-null chunk: an
            // uncounted chunk may hold any values, so treating it as
            // range-free would let manifest-based file skipping
            // (readRange/statsBounds) wrongly prune a matching file. Mark
            // the column ineligible so the caller falls back to the Spark
            // stats pass.
            else if (st == null || st.isEmpty) bad += name
            else if (!st.hasNonNullValue) {
              // stats present, no non-null value: a GENUINE all-null chunk
              // for this column — contributes no range
            } else {
              val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b: java.lang.Long) =>
                  (a.longValue(), b.longValue())
                case (a: java.lang.Integer, b: java.lang.Integer) =>
                  (a.longValue(), b.longValue())
                case _ => bad += name; (0L, 0L)
              }
              if (!bad(name)) {
                mins(name) = mins.get(name).fold(mn)(math.min(_, mn))
                maxs(name) = maxs.get(name).fold(mx)(math.max(_, mx))
              }
            }
          }
        }
      }
      FooterStats(rows,
        mins.keys.map(k => k -> ((mins(k), maxs(k)))).toMap
          .filter { case (k, _) => !bad(k) },
        bad.toSet)
    } finally rd.close()
  }

  /** Exact row count of one parquet file from its footer (no Spark job). */
  def footerRowCount(conf: Configuration, file: Path): Long = {
    val rd = open(conf, file)
    try rd.getRecordCount
    finally rd.close()
  }
}
