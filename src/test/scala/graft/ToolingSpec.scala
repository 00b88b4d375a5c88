package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.<Name>` command the docs and scripts run must exist as
  * an object with `main(Array[String])`, so deleting or renaming a main
  * cannot leave a stale command behind in README.md, tools/ or the
  * skill notes. */
class ToolingSpec extends AnyFunSuite {
  private val repo = new java.io.File(sys.props("user.dir"))

  private def files: Seq[java.io.File] = {
    def under(dir: String, keep: String => Boolean): Seq[java.io.File] =
      Option(new java.io.File(repo, dir).listFiles).toSeq.flatten
        .filter(f => f.isFile && keep(f.getName))
    Seq(new java.io.File(repo, "README.md")) ++
      under("tools", n => n.endsWith(".sh") || n.endsWith(".py")) ++
      Option(new java.io.File(repo, ".claude/skills").listFiles).toSeq
        .flatten.map(new java.io.File(_, "SKILL.md")).filter(_.isFile)
  }

  // `sbt "runMain graft.X"`, `tools/runmain.sh graft.X`, `java -cp … graft.X`
  private val command = """(?:runMain|runmain\.sh|-cp\s+\S+)\s+graft\.(\w+)""".r

  test("every graft command named in the docs and scripts is a main") {
    val named = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      command.findAllMatchIn(text).map(m => m.group(1) -> f.getName)
    }
    // the gate commands themselves must be found, or the pattern rotted
    assert(Set("Verify", "Bench", "ClusterSmoke").subsetOf(named.map(_._1).toSet),
      s"command pattern found only: ${named.distinct}")
    val missing = named.distinct.filterNot { case (name, _) =>
      // `graft.X$` is the object's module class
      scala.util.Try(Class.forName(s"graft.$name$$")
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(missing.isEmpty, s"commands without a main: $missing")
  }
}
