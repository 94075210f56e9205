package graft.queries

import graft.Decimals._
import graft.Tables
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Persisted-index serving ops (r18, VERDICT r17 #1): the build-once /
  * serve-cold half of the ANN story. Every earlier ANN chain
  * ([[VectorQueries.qAnnLsh]]/qAnnMd5/qAnnKnn) rebuilds its SRP index
  * inside the measured query — correct for an eval, not how a 100 TB
  * vector service runs. Here the index is the pair of bucketed tables
  * [[SrpIndex]] writes and probes (the IVF family keeps its own cell
  * table): at 100 TB both tables are written once (one shuffle each)
  * and every query batch — and every restart — reuses the layout: the
  * serving plan shuffles O(candidates), never O(corpus). Cross-JVM cold
  * serving is proven by [[graft.sources.AnnIndexProbe]] (the
  * MetastoreProbe pattern: build JVM exits, serve JVM reopens the
  * derby-backed catalog and must reproduce the in-plan result exactly —
  * AnnServedSpec).
  */
object ServeOps extends QueryPack {

  /** The radius search's SRP input: the %2 corpus (vec_id, embedding). */
  private[graft] def annCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 2 === 0)
      .select($"vec_id", $"embedding")
  }

  /** Serve the radius search (the q_ann_lsh contract: Hamming-1
    * multiprobe candidates, exact euclidean ≤ 1.5) for fresh `queries`
    * (qid, qv) from the index `parts` through the one
    * [[SrpIndex.probe]] chain — the cold-query shape: a serving process
    * never has precomputed keys for arriving queries, only the stored
    * postings. The bounded query set broadcasts into the distance
    * kernel. The candidate rows are few bytes, so AQE coalesces their
    * shuffle read to one partition; the explicit-count repartition
    * spreads the distance projection and the sort's range sample, which
    * both evaluate the interpreted decimal L2² per row, over every core. */
  private[graft] def annRadius(queries: DataFrame, parts: SrpIndex.Parts)
      : DataFrame =
    SrpIndex.probe(queries, parts, keep = col("qid") =!= col("vec_id"),
        vcols = Seq(col("vec_id"), col("embedding").as("ev")))
      .repartition(Tables.shufflePartitions(queries.sparkSession), col("qid"))
      .select(col("qid"), col("vec_id"),
        round(sqrt(VectorQueries.decL2Sq("qv", "ev").cast("double")), 6)
          .as("dist"))
      .filter(col("dist") <= 1.5)
      .orderBy(col("qid"), col("vec_id"))

  /** SF- and process-scoped table prefix: two sessions verifying
    * DIFFERENT fixtures must not clobber each other's index tables (the
    * writeBucketed path derives from the table name, so a shared name
    * is a shared path) — and neither must two JVMs verifying the SAME
    * fixture (parallel test/bench runs are the likelier collision: the
    * build here is DROP TABLE + overwrite, which would yank an index
    * out from under a concurrent reader). The process tag is stable
    * within a JVM so repeated runs overwrite rather than accumulate;
    * cross-JVM persistence tests ([[graft.sources.AnnIndexProbe]]) pass
    * their prefix explicitly and are unaffected. */
  // zero-padded to a FIXED 8 hex chars (ADVICE r19): toHexString drops
  // leading zeros, and a short tag made the sweep's substring match able
  // to collide with another JVM's sfDir-hash segment
  private val jvmTag: String = f"${java.util.UUID.randomUUID()
    .getMostSignificantBits & 0xffffffffL}%08x"
  // this JVM's tagged index directories would otherwise ACCUMULATE in
  // java.io.tmpdir (review r19): the per-process tag means no later run
  // ever overwrites them, and writeBucketed's DROP TABLE only targets
  // the current names — so each JVM sweeps its own generation on exit.
  // Untagged tables (AnnIndexProbe's graft_ann_cold / graft_xm_cold —
  // the cross-JVM persistence story) never match the tag and survive.
  // The match is anchored to the FULL directory-name structure
  // writeBucketed produces — graft_graft_<base>_<sfhash>_<tag>_<suffix>
  // with a closed suffix set — so a name can only match when the
  // 8-hex-char tag segment sits exactly where this JVM's tag goes
  // (ADVICE r19: a bare contains() could delete a concurrent run's
  // directories if its sfDir hash happened to equal this tag). The second
  // alternative is a [[scratchDir]]: graft_<base>_<sfhash>_<tag>, the tag
  // last.
  private val sweepName = java.util.regex.Pattern.compile(
    "^graft_graft_[a-z0-9_]+_" + jvmTag +
      "_(c_)?(postings|vectors|cells|centers|vocab|traj|tot|delta|edges)$" +
      "|^graft_[a-z0-9_]+_[0-9a-f]{8}_" + jvmTag + "$")
  private[graft] def swept(name: String): Boolean =
    sweepName.matcher(name).matches()
  locally {
    def del(f: java.io.File): Unit = {
      // never FOLLOW a symlink (ADVICE r19): a link inside a swept dir
      // must be removed as a link, not traversed into content outside
      // java.io.tmpdir
      if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(del)
      }
      f.delete(): Unit
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      val mine = tmp.listFiles((_, n) => swept(n))
      if (mine != null) mine.foreach(del)
    }, "graft-index-tmp-sweep"))
  }
  // first 8 MD5 hex chars of the verbatim sfDir, not String.hashCode
  // (ADVICE r21): with every family build memoized per (sfDir, prefix),
  // a hashCode collision between two fixture dirs in one JVM would let
  // the second fixture's build overwrite the first's tables while the
  // first's memo still claims "built" — the un-memoized families
  // self-corrected by rebuilding; that escape hatch is gone. 32 bits of
  // MD5 can still collide in principle, but not for the structured
  // sibling paths (…/sf0.001 vs …/sf0.01) that defeat String.hashCode's
  // weak mixing in practice; test-suite fixture tags ride the same digest.
  private[graft] def sfPrefix(base: String, sfDir: String): String =
    base + "_" + md5Hex(sfDir).take(8) + "_" + jvmTag

  /** The scratch directory `java.io.tmpdir/<pre>` of an [[sfPrefix]]
    * `pre` — per fixture and per JVM, so two processes never share one,
    * and reclaimed by the exit sweep. Never `graft_graft_*`: that name
    * space is the serving tables'. */
  private[graft] def scratchDir(pre: String): String =
    s"${System.getProperty("java.io.tmpdir")}/$pre"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Build-once-per-(application, fixture) memo for the persisted index
    * layouts (r21, VERDICT r20 #1 — the [[Corpus2Ops.bpeArtifacts]]
    * pattern applied to every serving family): a production fleet
    * builds an index once per refresh and every consumer reads the
    * TABLES, but through r20 each q_*_served/delta/compact/advisor
    * execution re-ran its family's full build — srpKeys/ivfAssigned
    * corpus passes plus bucketed writes plus their plan-compile tails,
    * ~41 s of committed round wall for layouts that are byte-identical
    * every time on a frozen fixture. The FIRST caller in a JVM pays the
    * build (the q_ann_served honesty: any single-pass or cold-JVM run
    * still shows the build cost); later callers read the tables. Keyed
    * on applicationId, the VERBATIM sfDir (the bpeArtifacts collision
    * note), the prefix, and a [[fixtureFingerprint]] — a fixture
    * rewritten in place within one JVM builds again instead of serving
    * a stale index. The value is a lazy cell so the heavy build runs
    * OUTSIDE the CHM bin lock (ADVICE r20: computeIfAbsent's mapping
    * function must stay cheap — a same-bin key would otherwise block on
    * seconds of Spark jobs, and re-entry would throw). Tables carry the
    * per-JVM [[jvmTag]], so a fresh process can never read a previous
    * run's artifacts — every invocation computes from the parquet
    * inputs. `body` receives the table prefix `sfPrefix(base, sfDir)`,
    * which is also returned.
    *
    * Failure caveat (ADVICE r21): if a body throws after partially
    * writing its family's tables (postings written, vectors not), the
    * lazy cell retries on the NEXT caller, but a reader that raced in
    * between — or a caller that swallowed the first failure — can see a
    * half-built prefix mixing generations until that retry completes.
    * Acceptable for the single-threaded bench/verify harness (the first
    * caller's failure surfaces as the query erroring); a multi-threaded
    * serving fleet would want a write-to-staging-then-rename commit. */
  private final class Once(body: () => Unit) { lazy val force: Unit = body() }
  private val buildMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Once]()
  private[graft] def buildOnce(spark: SparkSession, sfDir: String,
      base: String)(body: String => Unit): String = {
    val pre = sfPrefix(base, sfDir)
    buildMemo.computeIfAbsent(Seq(spark.sparkContext.applicationId, sfDir,
        pre, fixtureFingerprint(sfDir)).mkString("|"),
      _ => new Once(() => body(pre))).force
    pre
  }

  /** MD5 of the sorted (relative path, length, lastModified) of every
    * regular file under `sfDir`; empty when `sfDir` is not a local
    * directory. */
  private def fixtureFingerprint(sfDir: String): String = {
    val root = java.nio.file.Paths.get(sfDir)
    if (!java.nio.file.Files.isDirectory(root)) ""
    else {
      val files = java.nio.file.Files.walk(root,
        java.nio.file.FileVisitOption.FOLLOW_LINKS)
      try md5Hex(files.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          val attrs = java.nio.file.Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          s"${root.relativize(f)}\t${attrs.size}\t" +
            attrs.lastModifiedTime.toMillis
        }.toSeq.sorted.mkString("\n"))
      finally files.close()
    }
  }

  // ---- q_ann_served --------------------------------------------------------
  /** The persisted-index serving chain end-to-end: pay the bucketed index
    * WRITE inside the measured time (the q_pagerank_bucketed honesty —
    * PERF.md records whether one query amortizes it; a cluster writes
    * once and serves forever), then answer the %100 query decile's
    * radius search by probing the TABLES, never the in-plan key
    * relation. Row-identical to [[VectorQueries.qAnnLsh]] by
    * construction (same hyperplanes, same probe rule, same exact
    * verify), so it shares that oracle verbatim — the persisted layout
    * is pure physical design, invisible in the answer. */
  def qAnnServed(spark: SparkSession, sfDir: String): DataFrame = {
    // build once per (application, fixture) — see buildOnce; the serve
    // below probes the TABLES, the production read path
    val pre = buildOnce(spark, sfDir, "graft_ann_q")(
      SrpIndex.write(annCorpus(spark, sfDir), _))
    annRadius(queryDecile(spark, sfDir), SrpIndex.stored(spark, pre))
  }

  // ---- q_ann_delta ---------------------------------------------------------
  /** Index FRESHNESS: serve against a persisted base index plus an
    * in-flight DELTA that has not been compacted into it yet — the
    * lambda read every production vector service does between index
    * rebuilds (new vectors must be searchable before the nightly
    * bucketed rewrite). The base half (vec_id % 4 = 0) is built and
    * persisted exactly like [[qAnnServed]]; the delta half (the other
    * %2 vectors) is keyed at READ time through the same
    * [[VectorQueries.srpKeys]] hyperplanes ([[SrpIndex.withDelta]]).
    * Because key computation has one home, base ∪ delta ≡ the full
    * index, so the answer is row-identical to q_ann_lsh — same oracle,
    * one more physical layout proven invisible in the result. Scale:
    * the delta is small by definition (it compacts away at the next
    * build); the base side stays the Exchange-free bucketed scan, the
    * delta side shuffles only itself. */
  /** Build the SPLIT layout once per (application, fixture) under the
    * family's ONE shared prefix (r21 — memoized via [[buildOnce]];
    * through r20 qAnnDelta, qAnnCompact, and qCompactAdvisor each
    * rebuilt this identical layout under separate prefixes): the %4
    * base half as the bucketed index, the rest of the %2 corpus as the
    * `<pre>_delta` buffer ([[SrpIndex.write]]). Returns the prefix. */
  private[graft] def annSplit(spark: SparkSession, sfDir: String): String =
    buildOnce(spark, sfDir, "graft_ann_s")(SrpIndex.write(
      annCorpus(spark, sfDir), _, split = Some(col("vec_id") % 4 === 0)))

  def qAnnDelta(spark: SparkSession, sfDir: String): DataFrame =
    annRadius(queryDecile(spark, sfDir),
      SrpIndex.withDelta(spark, annSplit(spark, sfDir)))

  // ---- q_ann_compact -------------------------------------------------------
  /** The COMPACTION EXECUTOR (VERDICT r18 #7): [[qAnnDelta]] proves the
    * base∪delta read; AnnServedSpec proves compaction INVARIANCE; this
    * is the op that actually PERFORMS the nightly rewrite, measured:
    * build the split layout, then rewrite stored-postings ∪ delta into
    * a fresh bucketed base ([[SrpIndex.compact]] — the reshard_plan →
    * executor gap closed for the vector index) and serve the %100
    * radius search from the COMPACTED tables only. Row-identical to
    * q_ann_lsh (base∪delta ≡ full index under the one srpKeys home, and
    * the rewrite is a set-preserving union), so it shares that oracle:
    * two physical layouts and a rewrite between them, all invisible in
    * the answer. */
  def qAnnCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = SrpIndex.compact(spark, annSplit(spark, sfDir))
    annRadius(queryDecile(spark, sfDir), parts)
  }

  // ---- q_ivf_served --------------------------------------------------------
  /** The OTHER index family persisted: IVF cells as a bucketed table.
    * Build writes the 8 md5-ordered centroids and the exact-decimal cell
    * assignment (vec_id, cell, embedding) bucketed BY CELL — the inverted
    * file proper, vectors co-located with their posting list so a probe
    * reads its cells' vectors with zero additional joins. Serve probes
    * each fresh query's 2 nearest cells against the TABLES and reranks by
    * exact cosine — the [[VectorQueries.ivfServe]] rule verbatim, so the
    * answer is row-identical to q_ann_ivf (same oracle; the layout is
    * pure physical design). At 100 TB this is the memory story's other
    * half beside q_ann_served's SRP postings: the cell table is written
    * once, each query batch scans ~2/8 of the corpus partition-locally,
    * and the centroid table is an 8-row broadcast forever. */
  def qIvfServed(spark: SparkSession, sfDir: String): DataFrame = {
    // build once per (application, fixture) — see buildOnce
    val pre = buildOnce(spark, sfDir, "graft_ivf_q") { pre =>
      val emb = Tables.df(spark, sfDir, "embeddings")
      val centers = VectorQueries.ivfCenters(emb).localCheckpoint()
      graft.sources.Sources.writeBucketed(
        VectorQueries.ivfAssigned(emb, centers), s"${pre}_cells", 8, "cell")
      graft.sources.Sources.writeBucketed(centers, s"${pre}_centers",
        1, "cell")
    }
    VectorQueries.ivfServe(queryDecile(spark, sfDir),
      spark.table(s"${pre}_centers"), spark.table(s"${pre}_cells"))
  }

  // ---- q_ivf_delta ---------------------------------------------------------
  /** IVF freshness — the lambda read for the OTHER index family (r19,
    * completing the delta symmetry [[qAnnDelta]] established for SRP):
    * serve against the persisted base cell table (the %2 half of the
    * corpus, bucketed BY CELL exactly like [[qIvfServed]]) UNIONED with
    * the in-flight delta half assigned in-plan through the SAME
    * md5-ordered centroids ([[VectorQueries.ivfCenters]] — one centroid
    * home, so build-time and delta-time assignments cannot drift).
    * Base ∪ delta ≡ the full inverted file, so the answer is
    * row-identical to q_ann_ivf (same oracle) — the compaction boundary
    * invisible for this index family too. Scale: the delta assigns only
    * itself against the 8-row centroid broadcast; the base side stays
    * the exchange-free bucketed cells scan; the nightly rewrite is the
    * same no-rehash bucket shuffle [[qAnnCompact]] performs for SRP. */
  /** Build the IVF split layout once per (application, fixture) under
    * the family's ONE shared prefix (r21 — memoized via [[buildOnce]],
    * the [[annSplit]] rationale): the %2 base half's cell assignment
    * persisted bucketed BY CELL, the 8 centroids persisted as the
    * 1-bucket `<pre>_centers` table (the qIvfServed layout — one
    * centroid home on disk), and the other half persisted as the plain
    * `<pre>_delta` vector buffer; consumers assign the delta in-plan
    * against the stored centroids at read time. Shared by [[qIvfDelta]],
    * [[qIvfCompact]], and [[qCompactAdvisor]]. Returns the prefix. */
  private[graft] def ivfSplit(spark: SparkSession, sfDir: String): String =
    buildOnce(spark, sfDir, "graft_ivf_s") { pre =>
      import spark.implicits._
      val emb = Tables.df(spark, sfDir, "embeddings")
      val centers = VectorQueries.ivfCenters(emb).localCheckpoint()
      graft.sources.Sources.writeBucketed(
        VectorQueries.ivfAssigned(emb.filter($"vec_id" % 2 === 0), centers),
        s"${pre}_cells", 8, "cell")
      graft.sources.Sources.writeBucketed(centers, s"${pre}_centers",
        1, "cell")
      graft.sources.Sources.writeTable(
        emb.filter($"vec_id" % 2 =!= 0).select($"vec_id", $"embedding"),
        s"${pre}_delta")
    }

  /** The %100 query-decile relation (qid, qv). */
  private[graft] def queryDecile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
  }

  def qIvfDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = ivfSplit(spark, sfDir)
    val centers = spark.table(s"${pre}_centers")
    // the delta is ASSIGNED at read time against the stored centroids —
    // the lambda-read cost a serving process actually pays
    val delta = VectorQueries.ivfAssigned(
      spark.table(s"${pre}_delta"), centers)
    // join-distributed parts (see ivfServeSplit): the base cell table
    // stays an Exchange-free bucketed scan; only the delta shuffles
    VectorQueries.ivfServeSplit(queryDecile(spark, sfDir), centers,
      Seq(spark.table(s"${pre}_cells"), delta))
  }

  // ---- q_ivf_compact -------------------------------------------------------
  /** The compaction executor for the IVF family (r19 — [[qAnnCompact]]'s
    * symmetry completed, as [[qIvfDelta]] completed [[qAnnDelta]]'s):
    * build the split layout, rewrite stored-cells ∪ delta-assignment
    * into a fresh bucketed cell table — the stored side's assignments
    * are READ from the table, never re-derived (no centroid distance
    * pass: compaction is pure I/O + one 8-bucket shuffle), then serve
    * the %100 top-10 from the COMPACTED table only. Row-identical to
    * q_ann_ivf (one centroid/assignment home; the rewrite is a
    * set-preserving union), so it shares that oracle. */
  def qIvfCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = ivfSplit(spark, sfDir)
    val centers = spark.table(s"${pre}_centers")
    val delta = VectorQueries.ivfAssigned(
      spark.table(s"${pre}_delta"), centers)
    // the nightly rewrite — PERFORMED per execution (it is the measured
    // op): stored assignments ∪ delta → fresh bucketed base; no
    // recomputation on the stored side
    graft.sources.Sources.writeBucketed(
      spark.table(s"${pre}_cells").unionAll(delta),
      s"${pre}_c_cells", 8, "cell")
    VectorQueries.ivfServe(queryDecile(spark, sfDir), centers,
      spark.table(s"${pre}_c_cells"))
  }

  // ---- q_compact_advisor -----------------------------------------------------
  /** The compaction-trigger advisor (r20, VERDICT r19 #5 — completing
    * the build→serve→delta→compact→SCHEDULE chain): read each family's
    * base size from its persisted split table and price the in-flight
    * delta buffer against it — the SAME memoized tables the q_*_delta
    * lambda reads serve from ([[annSplit]], [[ivfSplit]],
    * [[XModalOps.xmSplit]], [[scSplit]]; r21 — through r20 the advisor
    * REBUILT all four layouts in-plan per execution). Per family: the
    * base row count, the delta row count, their ratio, and the
    * compact/defer decision on the exact-integer quarter bar (delta·4 ≥
    * base → compact — the q_ivf_advisor/q_bpe_advisor elbow discipline,
    * so the trigger cannot drift on rounding). Delta sizes are the
    * relations' sizes at their family's index grain, read off the GRAIN
    * (each SRP/media vector contributes exactly 8 posting rows — one
    * per table, a structural constant of [[VectorQueries.srpKeys]];
    * each IVF vector exactly 1 cell row), the way a production advisor
    * reads table metadata instead of recomputing 20 M key rows to count
    * them. Scale: four bounded count aggregates plus three 1-row joins
    * — the advisor reads table stats the builds already paid for,
    * literally. */
  def qCompactAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // r21 (VERDICT r20 #2): the advisor reads the SAME memoized split
    // tables the delta/compact queries serve from — table stats the
    // builds already paid for, now true literally — instead of
    // rebuilding all four layouts in-plan per execution (619 tasks /
    // 7.1 s of committed r20 wall for eight bounded counts). The delta
    // sizes read off the GRAIN exactly as before: count(delta buffer) ×
    // the family's structural rows-per-key constant.
    def fam(name: String, pre: String, base: String,
        rowsPerKey: Int): DataFrame =
      spark.table(s"${pre}_$base").agg(count(lit(1)).as("base_rows"))
        .crossJoin(spark.table(s"${pre}_delta")
          .agg((count(lit(1)) * rowsPerKey).as("delta_rows")))
        .select(lit(name).as("family"), $"base_rows", $"delta_rows")
    val srp = fam("srp", annSplit(spark, sfDir), "postings", 8)
    val ivf = fam("ivf", ivfSplit(spark, sfDir), "cells", 1)
    val xm = fam("xm", XModalOps.xmSplit(spark, sfDir), "postings", 8)
    val sc = fam("cache", scSplit(spark, sfDir), "postings", 8)
    srp.unionAll(ivf).unionAll(xm).unionAll(sc)
      .select($"family", $"base_rows", $"delta_rows",
        round($"delta_rows".cast("double") / $"base_rows", 6)
          .as("delta_ratio"),
        when($"delta_rows" * 4 >= $"base_rows", lit("compact"))
          .otherwise(lit("defer")).as("decision"))
      .orderBy($"family")
  }

  // ---- q_knn_shapley_ann ---------------------------------------------------
  /** Truncated KNN-Shapley from the ANN candidate chain — the production
    * valuation path [[ValueOps]]' scaladoc promised (VERDICT r17 #2):
    * instead of brute-ranking the whole corpus per query, each %100
    * query's ranking is RESTRICTED to its [[VectorQueries.annMd5Pairs]]
    * multiprobe candidates, and the one Jia '19 suffix-sum recursion
    * ([[ValueOps.knnShapley]]) runs on that truncated list. The
    * estimator is exact on whatever the candidates cover: for T ≥ K the
    * last-rank seed m·min(K,T)/(K·T) IS the exact recursion's term, so
    * truncation drops only the O(1/rank) tail past the candidate set —
    * the reason the truncated estimator converges (Jia et al. '19 §4). Vectors
    * never retrieved for any query carry value 0 (the mean divides by
    * the TOTAL query count, not appearances, so truncated and exact
    * values share a scale — ValueOpsSpec pins the agreement floor).
    * Scale: the candidate relation is the banded bucket join (never
    * corpus×corpus); the rank window sorts per-query CANDIDATES, not
    * the corpus — the exact fix for the eval twin's per-qid full-corpus
    * sort flagged in VERDICT r17 Watch #1. */
  /** The candidate-truncated per-query valuation prefix
    * (qid, vec_id, label, rk, m, shap) — shared by [[qKnnShapleyAnn]]
    * and ValueOpsSpec's efficiency assertion (the truncated recursion
    * telescopes exactly like the full one: each query's values sum to
    * its top-K match rate over the CANDIDATE ranking). */
  private[graft] def knnShapleyAnnPerQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = VectorQueries.annMd5Pairs(spark, sfDir).localCheckpoint()
    val cands = pairs.select($"id1".as("qid"), $"id2".as("vec_id"), $"sim")
      .unionAll(pairs.select($"id2".as("qid"), $"id1".as("vec_id"), $"sim"))
      .filter($"qid" % 100 === 0)
    val emb = Tables.df(spark, sfDir, "embeddings")
    val truth = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"label".as("truth"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"vec_id".asc)
    ValueOps.knnShapley(cands
      .join(broadcast(truth), "qid")
      .join(emb.select($"vec_id", $"label"), "vec_id")
      .withColumn("rk", row_number().over(wRank))
      .withColumn("m", ($"label" === $"truth").cast("long"))
      .select($"qid", $"vec_id", $"label", $"rk", $"m"))
  }

  def qKnnShapleyAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val shap = knnShapleyAnnPerQuery(spark, sfDir)
    val nq = Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 100 === 0)
      .agg(count(lit(1)).as("n_queries"))
    shap.groupBy($"vec_id", $"label")
      .agg(count(lit(1)).as("n_q"), sum($"shap").as("ss"))
      .crossJoin(broadcast(nq))
      .select($"vec_id", $"label", $"n_q",
        round($"ss".cast("double") / $"n_queries", 6).as("mean_shapley"))
      .orderBy($"mean_shapley".desc, $"vec_id".asc)
      .limit(20)
  }

  // ---- q_semcache_lsh ------------------------------------------------------
  /** The semantic cache priced under its PRODUCTION key (VERDICT r17 #7):
    * [[VectorQueries.qSemcache]] brute-forces every strictly-earlier
    * cosine to decide a hit — the eval twin; a deployed cache can only
    * afford to look up EARLIER QUERIES SHARING AN SRP BUCKET (the same
    * Hamming-1 multiprobe rule the serving chain uses). Per τ: the exact
    * sweep's hit count, the bucket-keyed hit count, and the miss delta —
    * the inference-cost price of the index-shaped lookup (every
    * LSH-missed hit is an inference call the exact cache would have
    * absorbed). The stream is keyed once through the srpKeys home and
    * its keys are both the probes and the one in-plan postings part of
    * [[semcacheBest]] — the served arm's chain. Scale: the exact arm is
    * the bounded broadcast window (eval-only); the LSH arm is a bucket
    * equi-join — the arm that ships. */
  /** The exact-sweep arm: per query the max round-6 cosine over ALL
    * strictly-earlier queries (pid < qid — the arrival-order contract)
    * via the bounded broadcast self-join. ONE home (ADVICE r19) shared
    * by [[qSemcacheLsh]] and [[qSemcacheServed]], so a tweak to the
    * eval arm cannot silently drift the two per-τ reports apart; the
    * hit-rate sweep [[VectorQueries.qSemcache]] reads it too. */
  private[graft] def semcacheBestExact(q: DataFrame): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    q.join(broadcast(q.select($"qid".as("pid"), $"qv".as("pv"))),
        $"pid" < $"qid")
      .select($"qid", round(CosineSimilarity.of($"qv", $"pv"), 6).as("cs"))
      .groupBy($"qid").agg(max($"cs").as("best_exact"))
  }

  def qSemcacheLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val q = semcacheStreamQ(spark, sfDir)
    val keys = SrpIndex.keys(q).localCheckpoint() // probe arm + build arm
    val parts = (Seq(keys.select(SrpIndex.bkey, col("vec_id"))),
      Seq(q.select(col("qid").as("vec_id"), col("qv").as("embedding"))))
    semcacheReport(q, semcacheBestExact(q), semcacheBest(q, parts, Some(keys)))
  }

  /** The per-τ hit/miss-delta report off the two best-cosine arms —
    * shared verbatim by [[qSemcacheLsh]] (keys in-plan) and
    * [[qSemcacheServed]] (keys probed from the persisted tables). */
  private def semcacheReport(q: DataFrame, bestExact: DataFrame,
      bestLsh: DataFrame): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val taus = Seq("0.70", "0.80", "0.90", "0.95").toDF("tau_s")
      .select($"tau_s".cast("double").as("tau"))
    q.select($"qid")
      .join(bestExact, Seq("qid"), "left")
      .join(bestLsh, Seq("qid"), "left")
      .crossJoin(broadcast(taus))
      .groupBy($"tau")
      .agg(count(lit(1)).as("n_queries"),
        sum(when($"best_exact" >= $"tau", 1L).otherwise(0L)).as("hits_exact"),
        sum(when($"best_lsh" >= $"tau", 1L).otherwise(0L)).as("hits_lsh"))
      .select($"tau", $"n_queries", $"hits_exact", $"hits_lsh",
        round($"hits_exact".cast("double") / $"n_queries", 6)
          .as("hit_rate_exact"),
        round($"hits_lsh".cast("double") / $"n_queries", 6)
          .as("hit_rate_lsh"),
        round(($"hits_exact" - $"hits_lsh").cast("double") / $"n_queries", 6)
          .as("miss_delta"))
      .orderBy($"tau")
  }

  // ---- q_semcache_served -----------------------------------------------------
  /** The semantic cache's key index PERSISTED (r19 — the q_ann_served
    * layout for the cache): the %50 stream's SRP postings and vectors
    * are written once as bucketed tables (the standing cache a serving
    * fleet shares between refreshes), and the LSH arm answers by keying
    * each arriving query FRESH through the one srpKeys home, probing
    * its Hamming-1 buckets against the postings TABLE, and verifying
    * cosines against the vectors TABLE — earlier-only (pid < qid, the
    * arrival-order contract) at the candidate filter. The exact arm
    * stays the in-plan eval twin. srpKeys is deterministic per vector
    * and %50 ⊂ %2, so the fresh query keys equal the stored ones and
    * the candidate set is IDENTICAL to [[qSemcacheLsh]]'s — same
    * oracle; the cache's physical layout is invisible in the report.
    * Scale: cache writes amortize across every probe batch; the probe
    * shuffles O(|Q|·72 + candidates), never the stored cache. */
  /** The %50 query-stream relation (qid, qv), checkpointed — it feeds
    * the exact arm, the fresh-key arm, and the report spine. */
  private def semcacheStreamQ(spark: SparkSession, sfDir: String)
      : DataFrame =
    semcacheCorpus(spark, sfDir)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .localCheckpoint()

  /** The cache's LSH arm against any index `parts`: the one
    * [[SrpIndex.probe]] chain with the earlier-only candidate filter
    * (pid < qid), best verified cosine per query. Shared by
    * [[qSemcacheLsh]] (the stream's own keys as an in-plan index),
    * [[qSemcacheServed]] (tables), [[qSemcacheDelta]] (base ∪ delta),
    * and [[qSemcacheCompact]] (compacted tables). */
  private def semcacheBest(q: DataFrame, parts: SrpIndex.Parts,
      qkeys: Option[DataFrame] = None): DataFrame =
    SrpIndex.probe(q, parts, keep = col("vec_id") < col("qid"), as = "pid",
        vcols = Seq(col("vec_id").as("pid"), col("embedding").as("pv")),
        qkeys = qkeys)
      .select(col("qid"),
        round(CosineSimilarity.of(col("qv"), col("pv")), 6).as("cs"))
      .groupBy(col("qid")).agg(max(col("cs")).as("best_lsh"))

  /** The per-τ cache report from the index `parts`. */
  private def semcacheServe(spark: SparkSession, sfDir: String,
      parts: SrpIndex.Parts): DataFrame = {
    val q = semcacheStreamQ(spark, sfDir)
    semcacheReport(q, semcacheBestExact(q), semcacheBest(q, parts))
  }

  /** The %50 query stream (vec_id, embedding) the cache indexes. */
  private def semcacheCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, sfDir, "embeddings")
      .filter($"vec_id" % 50 === 0)
      .select($"vec_id", $"embedding")
  }

  def qSemcacheServed(spark: SparkSession, sfDir: String): DataFrame = {
    // build once per (application, fixture) — see buildOnce
    val pre = buildOnce(spark, sfDir, "graft_sc_q")(
      SrpIndex.write(semcacheCorpus(spark, sfDir), _))
    semcacheServe(spark, sfDir, SrpIndex.stored(spark, pre))
  }

  // ---- q_semcache_delta ------------------------------------------------------
  /** Build the cache's SPLIT layout once per (application, fixture)
    * under the family's ONE shared prefix (r21 — memoized via
    * [[buildOnce]], the [[annSplit]] rationale): the %100 half of the
    * %50 stream as the bucketed snapshot a serving fleet loaded at its
    * last refresh, the other half as the `<pre>_delta` buffer — the
    * queries that arrived SINCE the snapshot; consumers key them at
    * read time through the same srpKeys home. Shared by
    * [[qSemcacheDelta]], [[qSemcacheCompact]], and [[qCompactAdvisor]].
    * Returns the prefix. */
  private[graft] def scSplit(spark: SparkSession, sfDir: String): String =
    buildOnce(spark, sfDir, "graft_sc_s")(SrpIndex.write(
      semcacheCorpus(spark, sfDir), _, split = Some(col("vec_id") % 100 === 0)))

  /** Cache freshness — the fourth persisted family's lambda read (r20:
    * SRP, IVF, and the media tower each gained the full
    * served→delta→compact triad by r19/r20; the cache index had serve
    * only): the LSH arm probes the persisted snapshot postings UNIONED
    * with the in-flight delta's read-time keys — new cache entries must
    * be hittable before the nightly rewrite folds them in. Base ∪
    * delta ≡ the full %50 key set under the one srpKeys home and the
    * earlier-only filter is untouched, so the per-τ report is
    * row-identical to [[qSemcacheLsh]] — same oracle, the snapshot
    * boundary invisible in the answer. Scale: the delta keys only
    * itself; the base side stays the bucketed-table scan. */
  def qSemcacheDelta(spark: SparkSession, sfDir: String): DataFrame =
    semcacheServe(spark, sfDir,
      SrpIndex.withDelta(spark, scSplit(spark, sfDir)))

  // ---- q_semcache_compact ----------------------------------------------------
  /** The compaction executor for the cache index (r20 — the fourth
    * family's nightly rewrite, completing the triad everywhere): build
    * the split layout, perform the [[SrpIndex.compact]] rewrite, then
    * serve the per-τ report from the COMPACTED tables only.
    * Row-identical to [[qSemcacheLsh]] (set-preserving union under one
    * key home), so it shares that oracle. */
  def qSemcacheCompact(spark: SparkSession, sfDir: String): DataFrame =
    semcacheServe(spark, sfDir,
      SrpIndex.compact(spark, scSplit(spark, sfDir)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_served" -> qAnnServed,
    "q_ann_delta" -> qAnnDelta,
    "q_ann_compact" -> qAnnCompact,
    "q_ivf_served" -> qIvfServed,
    "q_ivf_delta" -> qIvfDelta,
    "q_ivf_compact" -> qIvfCompact,
    "q_compact_advisor" -> qCompactAdvisor,
    "q_knn_shapley_ann" -> qKnnShapleyAnn,
    "q_semcache_lsh" -> qSemcacheLsh,
    "q_semcache_served" -> qSemcacheServed,
    "q_semcache_delta" -> qSemcacheDelta,
    "q_semcache_compact" -> qSemcacheCompact
  )

  val oracle: Map[String, String] = Map(
    // row-identical to q_ann_lsh by construction — ONE oracle home
    // (VectorQueries.annLshOracleSql) so the served and in-plan results
    // can never drift apart unnoticed
    "q_ann_served" -> VectorQueries.annLshOracleSql,

    // base ∪ delta ≡ the full index (one srpKeys home), so the freshness
    // read shares the same oracle — the layout split is pure physical
    "q_ann_delta" -> VectorQueries.annLshOracleSql,

    // the compaction rewrite is a set-preserving union of the same two
    // halves — same oracle again: build, rewrite, and serve all leave
    // the ANSWER untouched or the run hashes red
    "q_ann_compact" -> VectorQueries.annLshOracleSql,

    // row-identical to q_ann_ivf by construction (same centroids, same
    // assignment, same 2-probe serve rule) — one oracle home
    "q_ivf_served" -> VectorQueries.annIvfOracleSql,

    // base ∪ delta ≡ the full inverted file (one centroid/assignment
    // home), so the IVF freshness read shares the q_ann_ivf oracle too
    "q_ivf_delta" -> VectorQueries.annIvfOracleSql,

    // the IVF compaction rewrite is a set-preserving union of the same
    // two halves — same oracle: the rewrite must be invisible
    "q_ivf_compact" -> VectorQueries.annIvfOracleSql,

    // the advisor's inputs are structural: each split's base table and
    // delta relation hold exactly rows-per-key × its half's population
    // (8 postings per SRP/media vector — one per table; 1 cell row per
    // IVF vector; a media vector exists iff the payload is non-empty,
    // the mediaDense mn > 0 ingest posture), so the oracle derives the
    // same counts from the raw fixtures — any drift in the split rule,
    // the key fan-out, or the decision arithmetic hashes red
    "q_compact_advisor" ->
      """WITH fam AS (
        |  SELECT 'ivf' AS family,
        |    (SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)
        |      AS base_rows,
        |    (SELECT count(*) FROM embeddings WHERE vec_id % 2 <> 0)
        |      AS delta_rows
        |  UNION ALL
        |  SELECT 'srp',
        |    8 * (SELECT count(*) FROM embeddings WHERE vec_id % 4 = 0),
        |    8 * (SELECT count(*) FROM embeddings
        |         WHERE vec_id % 2 = 0 AND vec_id % 4 <> 0)
        |  UNION ALL
        |  SELECT 'xm',
        |    8 * (SELECT count(*) FROM documents
        |         WHERE doc_id % 2 = 0 AND len(text) >= 1),
        |    8 * (SELECT count(*) FROM documents
        |         WHERE doc_id % 2 <> 0 AND len(text) >= 1)
        |  UNION ALL
        |  SELECT 'cache',
        |    8 * (SELECT count(*) FROM embeddings WHERE vec_id % 100 = 0),
        |    8 * (SELECT count(*) FROM embeddings
        |         WHERE vec_id % 50 = 0 AND vec_id % 100 <> 0))
        |SELECT family, CAST(base_rows AS BIGINT) AS base_rows,
        |  CAST(delta_rows AS BIGINT) AS delta_rows,
        |  round(CAST(delta_rows AS DOUBLE) / base_rows, 6) AS delta_ratio,
        |  CASE WHEN delta_rows * 4 >= base_rows THEN 'compact'
        |    ELSE 'defer' END AS decision
        |FROM fam ORDER BY family""".stripMargin,

    // the shared LSH chain through verified pairs (annMd5CtesSql), both
    // pair directions for the %100 decile, then the IDENTICAL Jia
    // suffix-sum recursion the exact q_knn_shapley oracle runs — on the
    // candidate-truncated ranking
    "q_knn_shapley_ann" ->
      (VectorQueries.annMd5CtesSql + """,
        |scands AS (
        |  SELECT id1 AS qid, id2 AS vec_id, sim FROM ann WHERE id1 % 100 = 0
        |  UNION ALL
        |  SELECT id2 AS qid, id1 AS vec_id, sim FROM ann WHERE id2 % 100 = 0),
        |ranked AS (
        |  SELECT c.qid, c.vec_id, en.label,
        |    CASE WHEN en.label = eq.label THEN 1 ELSE 0 END AS m,
        |    row_number() OVER (PARTITION BY c.qid
        |      ORDER BY c.sim DESC, c.vec_id) AS rk
        |  FROM scands c
        |  JOIN embeddings eq ON eq.vec_id = c.qid
        |  JOIN embeddings en ON en.vec_id = c.vec_id),
        |tvals AS (
        |  SELECT qid, vec_id, label, rk,
        |    CAST(round(CAST((CASE WHEN m_next IS NULL THEN m
        |        ELSE m - m_next END) * least(rk, 10) AS DOUBLE)
        |      / (rk * 10.0), 9) AS DECIMAL(28,9)) AS t
        |  FROM (SELECT qid, vec_id, label, rk, m,
        |    lead(m) OVER (PARTITION BY qid ORDER BY rk) AS m_next
        |    FROM ranked)),
        |svals AS (
        |  SELECT qid, vec_id, label,
        |    SUM(t) OVER (PARTITION BY qid ORDER BY rk
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS shap
        |  FROM tvals),
        |nq AS (SELECT count(*) AS n_queries FROM embeddings
        |  WHERE vec_id % 100 = 0)
        |SELECT vec_id, label, CAST(n_q AS BIGINT) AS n_q,
        |  round(CAST(ss AS DOUBLE) / n_queries, 6) AS mean_shapley
        |FROM (SELECT vec_id, label, count(*) AS n_q, SUM(shap) AS ss
        |  FROM svals GROUP BY 1, 2) CROSS JOIN nq
        |ORDER BY mean_shapley DESC, vec_id LIMIT 20""".stripMargin),

    // the shared key chain restricted to the %50 stream: exact arm =
    // q_semcache's strictly-earlier max; LSH arm = the same max over
    // strictly-earlier MULTIPROBE-BUCKET collisions only
    "q_semcache_lsh" -> semcacheLshOracleSql,

    // identical candidate set by construction (deterministic srpKeys,
    // %50 ⊂ %2, same probe rule, same earlier-only filter) — the
    // persisted cache layout shares the oracle verbatim
    "q_semcache_served" -> semcacheLshOracleSql,

    // base ∪ delta ≡ the full %50 key set (one srpKeys home) and the
    // earlier-only filter is untouched — the snapshot boundary is pure
    // physical design, so the freshness read shares the oracle
    "q_semcache_delta" -> semcacheLshOracleSql,

    // the cache compaction rewrite is a set-preserving union of the
    // same two halves — same oracle: the rewrite must be invisible
    "q_semcache_compact" -> semcacheLshOracleSql
  )

  /** One oracle home for the bucket-keyed cache pair — in-plan keys
    * (q_semcache_lsh) and the persisted layout (q_semcache_served). */
  private lazy val semcacheLshOracleSql: String =
      (VectorQueries.annMd5KeysCtesSql + """,
        |q AS (
        |  SELECT vec_id AS qid, embedding AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |be AS (
        |  SELECT a.qid, max(round(list_cosine_similarity(
        |      CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[])), 6))
        |    AS best_exact
        |  FROM q a JOIN q b ON b.qid < a.qid GROUP BY a.qid),
        |k50 AS (SELECT * FROM keys WHERE vec_id % 50 = 0),
        |cprobes AS (
        |  SELECT vec_id AS qid, tbl,
        |    CASE WHEN p.j = -1 THEN bk
        |      ELSE xor(bk, (1::BIGINT << p.j)) END AS bk
        |  FROM k50 CROSS JOIN range(-1, 8) p(j)),
        |ccand AS (
        |  SELECT DISTINCT p.qid, b.vec_id AS pid
        |  FROM cprobes p JOIN k50 b ON b.tbl = p.tbl AND b.bk = p.bk
        |    AND b.vec_id < p.qid),
        |bl AS (
        |  SELECT c.qid, max(round(list_cosine_similarity(
        |      CAST(ea.embedding AS DOUBLE[]),
        |      CAST(eb.embedding AS DOUBLE[])), 6)) AS best_lsh
        |  FROM ccand c
        |  JOIN embeddings ea ON ea.vec_id = c.qid
        |  JOIN embeddings eb ON eb.vec_id = c.pid
        |  GROUP BY c.qid),
        |taus AS (SELECT unnest([0.70, 0.80, 0.90, 0.95]) AS tau)
        |SELECT tau, count(*) AS n_queries,
        |  CAST(sum(CASE WHEN be.best_exact >= tau THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits_exact,
        |  CAST(sum(CASE WHEN bl.best_lsh >= tau THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits_lsh,
        |  round(CAST(sum(CASE WHEN be.best_exact >= tau THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS hit_rate_exact,
        |  round(CAST(sum(CASE WHEN bl.best_lsh >= tau THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS hit_rate_lsh,
        |  round(CAST(sum(CASE WHEN be.best_exact >= tau THEN 1 ELSE 0 END)
        |    - sum(CASE WHEN bl.best_lsh >= tau THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS miss_delta
        |FROM q LEFT JOIN be ON be.qid = q.qid
        |LEFT JOIN bl ON bl.qid = q.qid CROSS JOIN taus
        |GROUP BY tau ORDER BY tau""".stripMargin)
}
