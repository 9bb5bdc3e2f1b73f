package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source hygiene of `src/main`, pinned by a scan. A line that closes a
  * doc comment, directly followed by a line that opens another, is a
  * stacked pair: scaladoc attaches only the second comment to the
  * definition below and drops the first, so its contract never reaches
  * the generated docs.
  */
class SourceHygieneSpec extends AnyFunSuite {
  test("no scaladoc in src/main is stacked directly on another") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, "spec must run from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val stacked = walk(root).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try s.getLines().toVector finally s.close()
      lines.indices.drop(1).collect {
        case i if lines(i - 1).trim.endsWith("*/") &&
            lines(i).trim.startsWith("/**") => s"${f.getPath}:${i + 1}"
      }
    }
    assert(stacked.isEmpty, s"stacked scaladocs at ${stacked.mkString(", ")}")
  }
}
