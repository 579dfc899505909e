package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Cross-engine fuzz gate: execute generated shared-dialect SQL
  * (tools/fuzz_gen.py) with spark.sql over the testdata views, dump each
  * result + an oracle_sql.json echoing the same SQL, so
  * tools/check_oracle.py can hash-compare against DuckDB. Catches dialect
  * or planner divergences the fixed query set doesn't reach. The session
  * carries the full extensions: the band-join fuzz template relies on the
  * range-join rewrite to stay O(n·c), and DuckDB's IEJoin runs the
  * identical SQL on the oracle side.
  *
  * Usage: runMain graft.FuzzVerify <sfDir> <sqlTsv> <outDir>
  */
object FuzzVerify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, sqlTsv, outDir) = args
    val spark = GraftSession()
    Seq("orders", "lineitem", "customer").foreach { t =>
      Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    new java.io.File(outDir).mkdirs()
    val entries = Files.readAllLines(Paths.get(sqlTsv)).asScala
      .filter(_.nonEmpty).map { line =>
        val Array(name, sql) = line.split("\t", 2)
        name -> sql
      }
    entries.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[fuzz] $name failed: ${e.getMessage}")
      }
    }
    Verify.writeOracleSql(outDir, entries)
    spark.stop()
  }
}
