package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every main the docs tell a reader to run, or credit with a measured
  * figure, exists. A figure measured with a main since deleted keeps its
  * name with the `*` mark (`graft.TimeQ`*), which the docs' header notes
  * explain. Spark-free: it reads text and loads classes without
  * initialising them. */
class DocRefSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md",
    "SCALING.md", "BASELINE.md", "INVENTORY.md")

  private def text(doc: String): String = {
    assume(Files.isRegularFile(Paths.get("README.md")), s"run from the repo root (cwd=${
      Paths.get("").toAbsolutePath})")
    new String(Files.readAllBytes(Paths.get(doc)))
  }

  private def loads(name: String): Boolean =
    try { Class.forName(name, false, getClass.getClassLoader); true }
    catch { case _: ClassNotFoundException => false }

  test("every `runMain graft.X` names an object with a main") {
    val runMain = """runMain (graft\.[\w.]+)""".r
    for (doc <- docs; m <- runMain.findAllMatchIn(text(doc))) {
      val name = m.group(1)
      assert(loads(name + "$"), s"$doc: runMain $name does not load")
      val main = Class.forName(name + "$", false, getClass.getClassLoader)
        .getMethods.exists(_.getName == "main")
      assert(main, s"$doc: $name has no main")
    }
  }

  test("every graft.X a doc names loads, or carries the since-deleted mark") {
    // a class or object name, optionally backticked, then the optional mark
    val ref = """graft\.((?:[a-z]\w*\.)*[A-Z]\w*)`?(\\?\*)?""".r
    for (doc <- docs; m <- ref.findAllMatchIn(text(doc))) {
      val name = "graft." + m.group(1)
      val live = loads(name) || loads(name + "$")
      if (m.group(2) == null) assert(live, s"$doc: $name does not load; " +
        "mark a figure measured with a deleted main as `" + name + "`*")
      else assert(!live, s"$doc: $name is marked deleted but still loads")
    }
  }
}
