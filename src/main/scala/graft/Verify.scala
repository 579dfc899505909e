package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names — dev-loop subset]
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Set.empty[String])
      case Array(a, b, c) => (a, b, c.split(",").toSet)
    }
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: name → DuckDB SQL, what
    * tools/check_oracle.py reads. */
  private[graft] def writeOracleSql(outDir: String,
                                    sql: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      sql.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
        .mkString("{", ",", "}"))

  /** JSON string literal. Escapes backslash, quote and ALL control chars
    * (<0x20): a tab or CR in builder-authored SQL or an exception message
    * would otherwise make the reader's json.load fail and silently zero
    * the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
