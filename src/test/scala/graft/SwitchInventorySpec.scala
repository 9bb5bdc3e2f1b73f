package graft

import org.scalatest.funsuite.AnyFunSuite

/** Switch inventory: the environment variables and system properties the
  * library layers read, and the places they write session conf, pinned by
  * a source scan (the style of WindowOrderTotalitySpec's window
  * inventory). A new switch or conf write in the local filesystem, an
  * operator, function, query, source, sink or stream has to be declared
  * here, so a one-off A/B knob cannot stay behind unnoticed and a library
  * call cannot silently change its caller's session. The runnable mains in
  * package `graft` are outside the scan: their variables are the
  * documented run configuration.
  */
class SwitchInventorySpec extends AnyFunSuite {
  private val layers =
    Seq("io", "operators", "functions", "queries", "sources", "sinks", "streaming")

  /** The store's deployment path; every size gate decides from plan
    * stats against a named constant.
    */
  private val declared = Set("SPARK_GRAFT_STORE_DIR")

  private val access = "sys\\.(env|props)|System\\.(getenv|getProperty)".r
  private val literalRead =
    ("(?:sys\\.(?:env|props)(?:\\.(?:get|getOrElse|contains))?|" +
      "System\\.(?:getenv|getProperty))\\(\\s*\"([^\"]+)\"").r

  /** The library layers' code lines as (file name, enclosing member,
    * line): the member is the last object- or class-level `def`/`val`
    * (two-space indent) above the line. Comment lines are dropped.
    */
  private lazy val code: Seq[(String, String, String)] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, "spec must run from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val member = "^  (?![\\s/*]).*?\\b(?:def|val) (\\w+)".r.unanchored
    layers.flatMap(l => walk(new java.io.File(root, l))).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try s.getLines().toVector finally s.close()
      lines.scanLeft(("", "")) { case ((m, _), l) =>
        (l match { case member(n) => n; case _ => m }, l)
      }.drop(1).map { case (m, l) => (f.getName, m, l) }
    }.filterNot { case (_, _, l) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/**")
    }
  }

  test("library layers read exactly the declared env/prop keys") {
    // a read through a computed key would escape the inventory
    val unpinned = code.filter { case (_, _, l) =>
      access.findAllIn(l).size != literalRead.findAllIn(l).size }
    assert(unpinned.isEmpty,
      s"env/prop reads without a literal key: ${unpinned.mkString("; ")}")
    val keys = code.flatMap { case (_, _, l) =>
      literalRead.findAllMatchIn(l).map(_.group(1)) }.toSet
    assert(keys == declared,
      s"switch inventory changed — declare the new key here or remove it." +
        s"\n  undeclared: ${(keys -- declared).toSeq.sorted}" +
        s"\n  no longer read: ${(declared -- keys).toSeq.sorted}")
  }

  /** Session-conf writes: `conf.set`/`unset`, `setConfString` or a SQL
    * `SET`/`RESET` statement.
    */
  private val confWrite =
    ("\\.conf\\.(?:set|unset)\\(|setConfString\\(|" +
      "sql\\(\\s*s?\"\\s*(?i:set|reset)\\b").r

  test("library layers write session conf only at the declared sites") {
    // LocalFs.register claims the fork-free filesystem keys the caller
    // left unset; the events reader reads TIMESTAMP(NANOS) parquet as
    // long. Anything else that flips a session conf leaks into every
    // later query of the caller's session.
    val writes = code.filter { case (_, _, l) => confWrite.findFirstIn(l).nonEmpty }
    assert(writes.map { case (f, m, _) => (f, m) } ==
      Seq(("LocalFs.scala", "register"), ("PipelineQueries.scala", "events")),
      s"session-conf writes changed: ${writes.mkString("; ")}")
    assert(writes.last._3.contains("\"spark.sql.legacy.parquet.nanosAsLong\""),
      writes.last._3)
  }
}
