package graft

import graft.queries.ServeOps
import java.io.File

/** Queries that write scratch data under java.io.tmpdir name it per JVM
  * and per fixture, so two processes running the same query at once never
  * share a directory, and the exit sweep reclaims every one of them. */
class ScratchDirSpec extends SparkSpec {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  test("scratch writes carry this JVM's tag and match the exit sweep") {
    for (q <- Seq("q_partitioned_roundtrip", "q_load_roundtrip",
        "q_merge_roundtrip", "q_canonical", "q_kmeans"))
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
    for (base <- Seq("graft_part_orders", "graft_load_staging",
        "graft_load_table", "graft_merge_orders", "graft_manifest_10",
        "graft_kmdist")) {
      val name = ServeOps.sfPrefix(base, sf)
      assert(new File(ServeOps.scratchDir(name)).getParentFile == tmp &&
        new File(tmp, name).isDirectory, s"$name was not written")
      assert(ServeOps.swept(name), s"$name escapes the exit sweep")
      // graft_graft_* is the serving tables' layout (stored-bytes readers
      // count every such directory as an index table)
      assert(!name.startsWith("graft_graft_"), name)
    }
  }

  test("q_pagerank_bucketed writes its edge table under this JVM's tag") {
    assert(SparkEntry.queries("q_pagerank_bucketed")(spark, sf)
      .collect().nonEmpty)
    val dir = "graft_" + ServeOps.sfPrefix("graft_pr", sf) + "_edges"
    assert(new File(tmp, dir).isDirectory, s"$dir was not written")
    assert(ServeOps.swept(dir), s"$dir escapes the exit sweep")
  }

  test("the sweep takes this JVM's serving tables, never another JVM's") {
    val pre = ServeOps.sfPrefix("graft_ann_q", sf)
    val tag = pre.takeRight(8)
    val other = if (tag == "00000000") "00000001" else "00000000"
    assert(ServeOps.swept(s"graft_${pre}_postings"))
    assert(ServeOps.swept(s"graft_${pre}_c_vectors"))
    assert(!ServeOps.swept(s"graft_${pre.dropRight(8)}${other}_postings"))
    assert(!ServeOps.swept(pre.dropRight(8) + other))
    // the cross-JVM persistence tables carry no tag and survive
    assert(!ServeOps.swept("graft_graft_ann_cold_postings"))
    assert(!ServeOps.swept("graft_merge_orders"))
  }
}
