package graft.sources

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  AttributeReference, BoundReference, Cast, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or,
  Predicate, RuntimeReplaceable, SubqueryExpression}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import VersionedTable.LogEntry

/** A snapshot's manifest as Spark's file index, and the ONE place that
  * decides which files a scan skips. The scan starts from the files and
  * sizes the manifest recorded — no listing, no per-file status fetch, no
  * footer schema inference (the Delta/Iceberg shape: the manifest IS the
  * file index; the sizes drive split planning, so they must be the files'
  * real lengths). Spark hands [[listFiles]] the scan's pushed filters on
  * every path — a library `read(…).filter`, the `graftvt` relation, SQL,
  * and the DML probe and rewrite scans — and a file is dropped only when
  * those filters prove it holds no matching row:
  *   - partition columns: Spark's interpreted predicate over the file's
  *     typed part-key values ([[partitionRule]]), the
  *     `PartitioningAwareFileIndex.prunePartitions` rule;
  *   - stats columns: the file's recorded [min, max] CAST AS LONG
  *     ([[mayMatch]]).
  * Spark re-applies every filter above the scan, so skipping is a scan
  * optimization, never a correctness dependency. */
private[graft] final class KnownFilesIndex(
    files: Seq[(FileStatus, LogEntry)], schema: StructType)
    extends FileIndex {
  override def rootPaths: Seq[Path] = files.map(_._1.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val filters = (partitionFilters ++ dataFilters).filter(f =>
      f.deterministic && !SubqueryExpression.hasSubquery(f))
    val keep = KnownFilesIndex.keeps(filters, schema)
    Seq(PartitionDirectory(InternalRow.empty,
      files.collect { case (st, e) if keep(e) => st }.toArray))
  }
  override def inputFiles: Array[String] =
    files.map(_._1.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._1.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}

private[graft] object KnownFilesIndex {

  /** Partition-column types whose write-side rendering (cast to string →
    * directory name and manifest part key) provably roundtrips through a
    * cast back: the one type gate for every consumer that types part keys
    * — this index and the metadata-only DELETE ([[GraftVtDeleteCommand]]).
    * Float, decimal and timestamp renderings can diverge from the value. */
  private[sources] val partRenderSafeTypes: Set[DataType] =
    Set(StringType, BooleanType, ByteType, ShortType, IntegerType,
      LongType, DateType)

  /** A parquet scan over exactly `files` (absolute path → its manifest
    * entry, which must record `fsize`) with the given data schema — the
    * same rows as `spark.read.schema(schema).parquet(paths: _*)` minus all
    * listing I/O. Partition-column reconstruction is off (explicit leaf
    * files, matching that reader); file sources read every column
    * nullable, so the schema is too (a recorded non-nullable field changes
    * downstream analysis, e.g. UPDATE alignment's AssertNotNull). The
    * index keeps each entry without its written-schema JSON, which
    * skipping never reads and which would otherwise stay on the driver
    * once per file for the frame's lifetime. */
  def scan(spark: SparkSession, files: Seq[(String, LogEntry)],
           schema: StructType): DataFrame = {
    val statuses = files.map { case (p, e) =>
      new FileStatus(e.fsize.get, false, 1, 0, e.fmtime.getOrElse(0L),
        new Path(p)) -> e.copy(fschema = None)
    }
    val nullable = PlanShim.asNullable(schema)
    val relation = HadoopFsRelation(
      new KnownFilesIndex(statuses, nullable),
      partitionSchema = StructType(Nil), dataSchema = nullable,
      bucketSpec = None, fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    PlanShim.ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }

  /** Files the scans of `df`'s physical plan select after skipping. */
  def filesScanned(df: DataFrame): Long =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.selectedPartitions.totalNumberOfFiles
    }.sum

  /** Whether a file may hold a row satisfying every one of `filters`:
    * its part key passes [[partitionRule]] (one evaluation per distinct
    * key; a key the rule cannot decide, or whose evaluation throws, is
    * kept for the scan to judge) and its column metrics pass
    * [[mayMatch]]. */
  private def keeps(filters: Seq[Expression], schema: StructType)
      : LogEntry => Boolean =
    if (filters.isEmpty) _ => true
    else {
      val rules = scala.collection.mutable.Map
        .empty[String, Option[String => Option[Boolean]]]
      val byKey = scala.collection.mutable.Map.empty[(String, String), Boolean]
      e => e.pcol.forall { spec =>
        byKey.getOrElseUpdate((spec, e.part),
          rules.getOrElseUpdate(spec, partitionRule(filters,
            VersionedTable.partColsOf(spec), schema))
            .forall(r => Try(r(e.part)).toOption.flatten.getOrElse(true)))
      } && {
        val ranges = e.statRanges
        filters.forall(mayMatch(_, ranges))
      }
    }

  /** Spark's interpreted predicate over a manifest part key: the
    * conjunction of the `filters` that reference only the partition
    * columns `pCols` of a [[partRenderSafeTypes]] type, evaluated on the
    * key's values cast back to the columns' types in `schema`. Exact,
    * because a partition column's value is that constant in every row of
    * the file and is never null. None when no filter qualifies; the
    * predicate answers None for a key whose values do not type, and
    * throws where Spark's evaluation would (an ANSI cast failure). A key
    * value equal to Spark's default partition name answers None too:
    * Spark writes an empty string value under that directory name, so the
    * key does not carry the rows' value. The filters may be analyzed but
    * not optimized (a DELETE condition), so each RuntimeReplaceable is
    * swapped for its replacement first, as the optimizer would. */
  private[sources] def partitionRule(filters: Seq[Expression],
                                     pCols: Seq[String], schema: StructType)
      : Option[String => Option[Boolean]] = {
    val conf = SQLConf.get
    val typed = pCols.flatMap(c => schema.find(f => conf.resolver(f.name, c))
      .filter(f => partRenderSafeTypes(f.dataType)).map(c -> _))
    val names = typed.map(_._2.name)
    val usable = filters.filter(_.references.forall(a => names.contains(a.name)))
    if (usable.isEmpty) None
    else {
      val pred = Predicate.createInterpreted(usable.reduce(And).transform {
        case r: RuntimeReplaceable => r.replacement
      }.transform {
        case a: AttributeReference =>
          val i = names.indexOf(a.name)
          BoundReference(i, typed(i)._2.dataType, nullable = true)
      })
      val tz = Some(conf.sessionLocalTimeZone)
      Some { part =>
        val vals = VersionedTable.partValuesOf(pCols, part)
        val row = typed.map { case (c, f) => vals.get(c)
          .filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
          .flatMap(v => Try(Cast(Literal(v), f.dataType, tz).eval()).toOption)
          .orNull }
        if (row.contains(null)) None
        else Some(pred.eval(InternalRow.fromSeq(row)))
      }
    }
  }

  /** False only when a file's recorded `ranges` (per column, its [min, max]
    * CAST AS LONG) prove that no row of the file satisfies `e`. Sound
    * because that cast truncates toward zero, which is MONOTONE: x ≥ v
    * implies trunc(x) ≥ trunc(v), and likewise for ≤, so trunc(v) is a safe
    * bound on the truncated stats for =, <, ≤, > and ≥ alike. Only
    * null-rejecting shapes over a bare column decide (a skipped file's
    * NULL rows are invisible to min/max); anything else — IS NULL, <=>,
    * NOT, a cast-wrapped column, a column without stats — keeps the file.
    * Two holes in monotonicity keep the file too: a NaN or infinite
    * literal, and `>`/`≥` over a float column, whose NaN rows (greatest in
    * Spark's order) are recorded as 0. */
  private[graft] def mayMatch(e: Expression,
                                ranges: Map[String, (Long, Long)]): Boolean = {
    def within(a: Attribute, l: Literal)(ok: (Long, Long, Long) => Boolean) =
      (for ((mn, mx) <- ranges.get(a.name); x <- truncatedLong(l))
        yield ok(mn, mx, x)).getOrElse(true)
    def floatCol(a: Attribute) =
      a.dataType == FloatType || a.dataType == DoubleType
    e match {
      case And(l, r) => mayMatch(l, ranges) && mayMatch(r, ranges)
      case Or(l, r)  => mayMatch(l, ranges) || mayMatch(r, ranges)
      case EqualTo(a: Attribute, l: Literal) =>
        within(a, l)((mn, mx, x) => mn <= x && x <= mx)
      case LessThan(a: Attribute, l: Literal) => within(a, l)((mn, _, x) => mn <= x)
      case LessThanOrEqual(a: Attribute, l: Literal) =>
        within(a, l)((mn, _, x) => mn <= x)
      case GreaterThan(a: Attribute, l: Literal) if !floatCol(a) =>
        within(a, l)((_, mx, x) => mx >= x)
      case GreaterThanOrEqual(a: Attribute, l: Literal) if !floatCol(a) =>
        within(a, l)((_, mx, x) => mx >= x)
      case EqualTo(l: Literal, a: Attribute) => mayMatch(EqualTo(a, l), ranges)
      case LessThan(l: Literal, a: Attribute) =>
        mayMatch(GreaterThan(a, l), ranges)
      case LessThanOrEqual(l: Literal, a: Attribute) =>
        mayMatch(GreaterThanOrEqual(a, l), ranges)
      case GreaterThan(l: Literal, a: Attribute) => mayMatch(LessThan(a, l), ranges)
      case GreaterThanOrEqual(l: Literal, a: Attribute) =>
        mayMatch(LessThanOrEqual(a, l), ranges)
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        list.exists(l => mayMatch(EqualTo(a, l), ranges))
      case InSet(a: Attribute, set) =>
        set.exists(v => mayMatch(EqualTo(a, Literal(v, a.dataType)), ranges))
      case _ => true
    }
  }

  /** The long truncation of a numeric literal, or None when none is safe:
    * null, NaN or ±∞, a decimal past ±2^63 (narrowing would wrap), or a
    * non-numeric type (a string, date or timestamp literal is not ordered
    * like its long cast). */
  private def truncatedLong(l: Literal): Option[Long] =
    (l.value, l.dataType) match {
      case (null, _) => None
      case (n: java.lang.Number,
            ByteType | ShortType | IntegerType | LongType) =>
        Some(n.longValue)
      case (n: java.lang.Number, FloatType | DoubleType) =>
        val d = n.doubleValue
        if (d.isNaN || d.isInfinite) None else Some(d.toLong)
      case (d: Decimal, _: DecimalType) =>
        Try(d.toJavaBigDecimal.toBigInteger.longValueExact).toOption
      case _ => None
    }
}
