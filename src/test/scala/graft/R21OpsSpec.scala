package graft

import graft.queries.{ServeOps, VectorQueries, XModalOps}
import org.apache.spark.sql.functions._

/** Round-21 contracts (the optimization round's acceptance tests,
  * VERDICT r20 #1/#2): every serving family's split layout is built
  * ONCE per (application, fixture) through ServeOps.buildOnce and the
  * persisted artifacts equal a fresh in-plan derivation — the BPE
  * artifact ≡ fresh-train discipline applied to the four index
  * families — and the memo itself builds exactly once per key with the
  * heavy work outside the CHM bin lock. */
class R21OpsSpec extends SparkSpec {

  test("buildOnce: exactly one build per (application, fixture, prefix) " +
      "key; a second call with the same key is a no-op; a different " +
      "prefix builds again") {
    var n = 0
    ServeOps.buildOnce(spark, sf, "graft_r21_once_a") { _ => n += 1 }
    ServeOps.buildOnce(spark, sf, "graft_r21_once_a") { _ => n += 1 }
    assert(n === 1, "same key must not re-run the build body")
    ServeOps.buildOnce(spark, sf, "graft_r21_once_b") { _ => n += 1 }
    assert(n === 2, "a different prefix is a different artifact")
    // a different fixture dir under the same prefix is a different key
    // (the verbatim-sfDir collision note on buildOnce)
    ServeOps.buildOnce(spark, sf + "/.", "graft_r21_once_a") { _ => n += 1 }
    assert(n === 3)
    // a fixture rewritten in place is a different key: the memo also
    // fingerprints every file's (relative path, length, mtime)
    val copy = java.nio.file.Files.createTempDirectory("graft_r21_fixture")
    try {
      val src = java.nio.file.Paths.get(sf)
      java.nio.file.Files.walk(src).forEach { p =>
        val to = copy.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(to)
        else java.nio.file.Files.copy(p, to)
      }
      val dir = copy.toString
      ServeOps.buildOnce(spark, dir, "graft_r21_once_c") { _ => n += 1 }
      assert(n === 4)
      ServeOps.buildOnce(spark, dir, "graft_r21_once_c") { _ => n += 1 }
      assert(n === 4, "an unchanged fixture must not re-run the build body")
      val f = java.nio.file.Files.walk(copy).filter(
        java.nio.file.Files.isRegularFile(_)).findFirst().get.toFile
      val mtime = f.lastModified()
      f.setWritable(true)
      java.nio.file.Files.write(f.toPath, Array[Byte](0),
        java.nio.file.StandardOpenOption.APPEND)
      assert(f.setLastModified(mtime + 10000L))
      ServeOps.buildOnce(spark, dir, "graft_r21_once_c") { _ => n += 1 }
      assert(n === 5, "a fixture changed in place must build again")
    } finally {
      java.nio.file.Files.walk(copy).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("SRP split artifacts ≡ fresh derivation: vectors = the %4 base " +
      "half, delta = the rest of the %2 corpus, postings = srpKeys of " +
      "the stored base (artifact ≡ fresh-build, the BPE discipline)") {
    import spark.implicits._
    val pre = ServeOps.annSplit(spark, sf)
    val emb = Tables.df(spark, sf, "embeddings")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids(spark.table(s"${pre}_vectors")) ===
      ids(emb.filter($"vec_id" % 4 === 0)))
    assert(ids(spark.table(s"${pre}_delta")) ===
      ids(emb.filter($"vec_id" % 2 === 0 && $"vec_id" % 4 =!= 0)))
    val gotPost = spark.table(s"${pre}_postings")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val wantPost = VectorQueries.srpKeys(
        emb.filter($"vec_id" % 4 === 0).select($"vec_id", $"embedding"))
      .select(($"tbl" * 256 + $"bk").as("bkey"), $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(gotPost === wantPost,
      "stored postings differ from a fresh srpKeys run over the base")
  }

  test("IVF split artifacts ≡ fresh derivation: centers table = the " +
      "md5-ordered 8 centroids, cells = the %2 half's assignment under " +
      "those centroids, delta = the other half's raw vectors") {
    import spark.implicits._
    val pre = ServeOps.ivfSplit(spark, sf)
    val emb = Tables.df(spark, sf, "embeddings")
    val freshCenters = VectorQueries.ivfCenters(emb).localCheckpoint()
    val gotCenters = spark.table(s"${pre}_centers")
      .select($"cell", $"center").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val wantCenters = freshCenters.select($"cell", $"center").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(gotCenters === wantCenters,
      "stored centroids differ from a fresh ivfCenters pick")
    val gotCells = spark.table(s"${pre}_cells")
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val wantCells = VectorQueries.ivfAssigned(
        emb.filter($"vec_id" % 2 === 0), freshCenters)
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(gotCells === wantCells,
      "stored cell assignment differs from a fresh assignment pass")
    val gotDelta = spark.table(s"${pre}_delta").select($"vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(gotDelta === emb.filter($"vec_id" % 2 =!= 0).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("media-tower split artifacts ≡ fresh derivation: media = the " +
      "even dense half, delta = the odd dense half (vectors AND hoisted " +
      "norms), postings = srpKeys of the stored base") {
    import spark.implicits._
    val pre = XModalOps.xmSplit(spark, sf)
    val dense = XModalOps.mediaDense(spark, sf).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long], Double)] =
      df.select($"doc_id", $"mv", $"mn").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    assert(rows(spark.table(s"${pre}_vectors")) ===
      rows(dense.filter($"doc_id" % 2 === 0)))
    assert(rows(spark.table(s"${pre}_delta")) ===
      rows(dense.filter($"doc_id" % 2 =!= 0)))
    val gotPost = spark.table(s"${pre}_postings")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val wantPost = VectorQueries.srpKeys(
        dense.filter($"doc_id" % 2 === 0)
          .select($"doc_id".as("vec_id"), $"mv".as("embedding")))
      .select(($"tbl" * 256 + $"bk").as("bkey"), $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(gotPost === wantPost)
  }

  test("semantic-cache split artifacts ≡ fresh derivation: snapshot " +
      "vectors = the %100 half, delta = the %50 arrivals since, " +
      "postings = srpKeys of the snapshot") {
    import spark.implicits._
    val pre = ServeOps.scSplit(spark, sf)
    val emb = Tables.df(spark, sf, "embeddings")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids(spark.table(s"${pre}_vectors")) ===
      ids(emb.filter($"vec_id" % 100 === 0)))
    assert(ids(spark.table(s"${pre}_delta")) ===
      ids(emb.filter($"vec_id" % 50 === 0 && $"vec_id" % 100 =!= 0)))
    val gotPost = spark.table(s"${pre}_postings")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val wantPost = VectorQueries.srpKeys(
        emb.filter($"vec_id" % 100 === 0).select($"vec_id", $"embedding"))
      .select(($"tbl" * 256 + $"bk").as("bkey"), $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(gotPost === wantPost)
  }

  test("q_compact_advisor reads the memoized split tables: the four " +
      "families' ensure-builds resolve to the SAME prefixes the " +
      "delta/compact queries serve from, and a repeat advisor run " +
      "reuses them (no rebuild)") {
    import spark.implicits._
    val r1 = ServeOps.qCompactAdvisor(spark, sf).collect().map(_.toSeq).toSeq
    // the shared prefixes now exist; mark their postings tables and
    // re-run — a rebuild would DROP + recreate the tables, changing the
    // catalog createTime; identical createTime ⇒ the memo served
    val pres = Seq(
      ServeOps.sfPrefix("graft_ann_s", sf),
      ServeOps.sfPrefix("graft_ivf_s", sf),
      ServeOps.sfPrefix("graft_xm_s", sf),
      ServeOps.sfPrefix("graft_sc_s", sf))
    def tableNames: Seq[String] = pres.map { p =>
      if (p.startsWith("graft_ivf")) s"${p}_cells" else s"${p}_postings"
    }
    def createTimes(): Seq[Long] = tableNames.map { t =>
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(t)).createTime
    }
    // ADVICE r21: createTime has millisecond granularity, so a rebuild
    // completing within the same ms could false-pass. Also pin the
    // tables' part-FILE paths: every overwrite generates fresh write-UUID
    // part names, so identical sorted file lists ⇒ no write ran at all.
    def partFiles(): Seq[Seq[String]] = tableNames.map { t =>
      val loc = new java.io.File(java.net.URI.create(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location.toString))
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f.getPath)
      walk(loc).sorted
    }
    val before = createTimes()
    val filesBefore = partFiles()
    val r2 = ServeOps.qCompactAdvisor(spark, sf).collect().map(_.toSeq).toSeq
    assert(r2 === r1, "advisor must be deterministic across runs")
    assert(createTimes() === before,
      "a repeat advisor run re-created a split table — the memo failed")
    assert(partFiles() === filesBefore,
      "a repeat advisor run rewrote a split table's data files — the " +
        "memo failed (createTime alone can false-pass within one ms)")
  }
}
