package graft.queries

import java.io.File

import graft.TestSpark
import graft.operators.VectorIndex
import org.scalatest.funsuite.AnyFunSuite

/** The cached-store sweep: stores keyed by an older code generation are
  * deleted from the store root, nothing else is.
  */
class StoreSweepSpec extends AnyFunSuite {

  test("the store sweep deletes older-generation stores and keeps current ones and other names") {
    TestSpark.spark
    val root = java.nio.file.Files.createTempDirectory("stores").toFile
    root.deleteOnExit()
    val v = VectorIndex.FormatVersion
    val superseded = Seq(s"ivf_hier_v${v - 1}_1a2b3c", "ivf_sem_v1_ff")
    val kept = Seq(s"ivf_hier_v${v}_1a2b3c", s"ivf_cmp_v${v + 1}_0",
      "ivf_hier_vx_1a", s"ivf_hier_v${v - 1}", "my_store")
    for (d <- superseded ++ kept) {
      val store = new File(root, d)
      new File(store, "lists/c_id=0").mkdirs()
      new File(store, "_GRAFT_IVF_STORE_OK").createNewFile()
    }
    // a FILE named like an old store is not a store
    new File(root, s"ivf_pq_v${v - 1}_ab").createNewFile()
    assert(PipelineQueries.sweepSuperseded(root.toString) == superseded.sorted)
    assert(root.list().toSet == kept.toSet + s"ivf_pq_v${v - 1}_ab")
    assert(PipelineQueries.sweepSuperseded(root.toString).isEmpty)
    assert(PipelineQueries.sweepSuperseded(
      new File(root, "absent").toString).isEmpty)
  }
}
