package graft

/** Dump `.explain("formatted")` for a list of registered queries to files
  * (`<outDir>/<name>_<suffix>.txt`) — the optimization-round evidence trail.
  * Runs on Bench's session ([[GraftSession]], extensions included) so SQL-
  * surface queries resolve. */
object ExplBatch {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        println(s"[expl] wrote $n")
      } catch { case e: Throwable =>
        println(s"[expl] $n failed: ${e.getMessage}")
        failed += n
      }
    }
    spark.stop()
    // Exit non-zero on any failure so evidence generation can't silently
    // produce a partial set of plan files.
    if (failed.nonEmpty) {
      System.err.println(s"[expl] FAILED: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
