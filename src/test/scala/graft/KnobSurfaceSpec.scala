package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` session settings the engine reads are exactly the ones
  * README.md documents: adding a key without documenting it, or leaving
  * a retired key in the README, fails here. */
class KnobSurfaceSpec extends AnyFunSuite {
  private val repo = new java.io.File(sys.props("user.dir"))
  private val key = """graft\.[a-z]\w*\.[a-z]\w*""".r

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("src/main reads exactly the graft.* keys README lists") {
    // every quoted "graft.<family>.<name>" literal in the main sources;
    // the two observation names are metric prefixes, not settings
    val observations = Set(functions.Dedup.bucketMetricsPrefix,
      functions.Dedup.cellMetricsPrefix)
    val sources = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(new java.io.File(repo, "src/main").toPath)
      try s.iterator.asScala.map(_.toFile)
        .filter(_.getName.endsWith(".scala")).toList
      finally s.close()
    }
    val quoted = ("\"(" + key.regex + ")\"").r
    val inCode = sources.flatMap(f =>
      quoted.findAllMatchIn(read(f)).map(_.group(1))).toSet -- observations

    val readme = read(new java.io.File(repo, "README.md"))
    val start = readme.indexOf("\n## Session settings")
    assert(start >= 0, "README.md has no 'Session settings' section")
    val end = readme.indexOf("\n## ", start + 1)
    val section = readme.substring(start, if (end < 0) readme.length else end)
    val inReadme = key.findAllIn(section).toSet

    assert(inCode.nonEmpty, "the key pattern found nothing in src/main")
    assert(inCode == inReadme,
      s"undocumented: ${inCode -- inReadme}; documented but not read: " +
        s"${inReadme -- inCode}")
  }
}
