package graft

import org.scalatest.funsuite.AnyFunSuite

/** Switch inventory: the environment variables and system properties the
  * library layers read, pinned by a source scan (the style of
  * WindowOrderTotalitySpec's window inventory). A new switch in the
  * local filesystem, an operator, function, query, source, sink or stream
  * has to be declared here, so a one-off A/B knob cannot stay behind
  * unnoticed. The runnable
  * mains in package `graft` are outside the scan: their variables are the
  * documented run configuration.
  */
class SwitchInventorySpec extends AnyFunSuite {
  private val layers =
    Seq("io", "operators", "functions", "queries", "sources", "sinks", "streaming")

  /** The size-gate thresholds and the store's deployment path. */
  private val declared = Set(
    "SPARK_GRAFT_KMEANS_TOPDOT_BYTES",
    "SPARK_GRAFT_POSTINGS_CACHE_BYTES",
    "SPARK_GRAFT_LM_MODEL_CACHE_BYTES",
    "SPARK_GRAFT_STORE_DIR")

  private val access = "sys\\.(env|props)|System\\.(getenv|getProperty)".r
  private val literalRead =
    ("(?:sys\\.(?:env|props)(?:\\.(?:get|getOrElse|contains))?|" +
      "System\\.(?:getenv|getProperty))\\(\\s*\"([^\"]+)\"").r

  test("library layers read exactly the declared env/prop keys") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, "spec must run from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val lines = layers.flatMap(l => walk(new java.io.File(root, l))).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.getLines().toVector.map(f.getName -> _) finally s.close()
    }
    val code = lines.filterNot { case (_, l) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/**")
    }
    // a read through a computed key would escape the inventory
    val unpinned = code.filter { case (_, l) =>
      access.findAllIn(l).size != literalRead.findAllIn(l).size }
    assert(unpinned.isEmpty,
      s"env/prop reads without a literal key: ${unpinned.mkString("; ")}")
    val keys = code.flatMap { case (_, l) =>
      literalRead.findAllMatchIn(l).map(_.group(1)) }.toSet
    assert(keys == declared,
      s"switch inventory changed — declare the new key here or remove it." +
        s"\n  undeclared: ${(keys -- declared).toSeq.sorted}" +
        s"\n  no longer read: ${(declared -- keys).toSeq.sorted}")
  }
}
