package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Registry integrity: no query key may be declared twice ANYWHERE — a
  * duplicate inside one Map literal silently self-shadows (last entry
  * wins) before SparkEntry's cross-registry merge check can see it, which
  * is exactly how round 12 briefly lost the graded etl_sql_time_travel
  * row. The only reliable detector is the source text itself. */
class RegistrySpec extends AnyFunSuite {

  private val keyRe = """"([a-z0-9_]+)" -> \(\(s, d\)""".r

  /** The text of every main source file. */
  private def sources(): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), s"run from the repo root (cwd=${
      Paths.get("").toAbsolutePath})")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p))).toSeq
  }

  private def sourceKeys(): Seq[String] =
    sources().flatMap(keyRe.findAllMatchIn(_).map(_.group(1)))

  test("no query key is declared twice in the source") {
    val keys = sourceKeys()
    val dup = keys.groupBy(identity).collect {
      case (k, v) if v.size > 1 => s"$k (${v.size}x)" }
    assert(dup.isEmpty, s"shadowed query keys: ${dup.mkString(", ")}")
    // and the merged registry holds exactly the declared set
    assert(SparkEntry.queries.size == keys.size,
      s"registry size ${SparkEntry.queries.size} != declared ${keys.size}")
  }

  test("every oracle key has a query; every query key has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).mkString(", ")}")
    // the driver records a weaker rows-only check for oracle-less queries;
    // this project's policy is every row graded — keep the sets equal
    assert((q -- o).isEmpty, s"queries without oracles: ${(q -- o).mkString(", ")}")
  }

  test("SparkEntry lists each module once, the benchmark's five included") {
    val ms = SparkEntry.modules
    assert(ms.distinct.size == ms.size, ms.map(_.getClass.getSimpleName).toString)
    // the modules perfbench/Registry.scala reads rows from by name
    Seq(operators.Etl, operators.Ingest, streaming.Streams,
        operators.TpchQueries, operators.Joins).foreach { m =>
      assert(ms.contains(m), s"$m is not in SparkEntry.modules")
    }
    // and every module declared in the source is listed
    val declared = """object (\w+) extends QueryModule""".r
    val names = sources().flatMap(declared.findAllMatchIn(_).map(_.group(1))).toSet
    assert(names == ms.map(_.getClass.getSimpleName.stripSuffix("$")).toSet)
  }
}
