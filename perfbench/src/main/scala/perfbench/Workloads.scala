package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.{Chunking, Components, Dedup}
import graft.sources.Acid

/** One operation of a workload stream. `prepare` and `check` run outside
  * the timed window; `run` is the timed call into the program. */
abstract class Op(val name: String, val layer: String) {
  def prepare(): Unit = ()
  def run(t: Tracer): Unit
  /** None when the output is correct, else why not. */
  def check(expected: Expected): Option[String]
  /** Values measured outside the timed window, reported with the op. */
  def attrs: Map[String, Any] = Map.empty
}

/** Committed digests; `observed` collects what this run saw (written out
  * so the expected file can be regenerated from oracle-green code). */
final class Expected(val digests: Map[String, Digest.Result], val rowsOnly: Set[String]) {
  val observed = scala.collection.mutable.Map.empty[String, Digest.Result]
}

/** A DataFrame-returning call checked against its committed digest (or
  * its row count, for the queries without an oracle). */
final class FrameOp(name: String, layer: String, build: () => DataFrame) extends Op(name, layer) {
  private var schema: StructType = _
  private var rows: Array[Row] = _
  def run(t: Tracer): Unit = {
    val df = t.span("build")(build())
    rows = t.span("exec")(df.collect())
    schema = df.schema
    t.planPhases(df, ts => t.covering("exec", ts, t.covering("build", ts, 0L)))
  }
  def check(e: Expected): Option[String] = {
    val got = Digest.of(schema, rows)
    rows = null
    e.observed(name) = got
    e.digests.get(name) match {
      case None => Some("no expected digest")
      case Some(want) if e.rowsOnly(name) =>
        if (want.rows == got.rows) None else Some(s"rows ${got.rows} != ${want.rows}")
      case Some(want) => if (want == got) None else Some(s"digest $got != $want")
    }
  }
}

/** The ACID target: a private copy of `orders`, reset to the fixture's
  * files at the start of every pass so each pass mutates the same table. */
final class AcidTable(spark: SparkSession, dataDir: String, tmp: String) {
  val path: String = s"$tmp/acid/orders"
  private val base = s"$dataDir/orders.parquet"
  val baseRows: Long = spark.read.parquet(base).count()
  val maxKey: Long = spark.read.parquet(base).agg(max("o_orderkey")).head.getLong(0)
  var expectedRows: Long = baseRows

  def reset(): Unit = {
    Runner.deleteTree(new File(path))
    val src = new File(base).toPath
    Files.walk(src).forEach { p =>
      val dst = new File(path).toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    expectedRows = baseRows
  }

  def df: DataFrame = spark.read.parquet(path)
}

/** UPDATE / DELETE / MERGE through `graft.sources.Acid`, each checked
  * against an invariant computed before the call from plain counts. */
final class DmlOp(kind: String, table: AcidTable, spark: SparkSession, rng: Random, tag: String)
    extends Op(s"dml_$kind", "sources") {
  private val key = col("o_orderkey")
  private val marker = s"M-$tag"
  private var cond: Column = _
  private var source: DataFrame = _
  private var before, matched, sourceRows = 0L
  private var changedBytes = 0L
  private var writtenBytes, files = 0L

  override def prepare(): Unit = {
    kind match {
      case "update" => cond = pmod(key, lit(50L)) === rng.nextInt(50)
      case "delete" =>
        val lo = rng.nextInt((table.maxKey - 150).toInt)
        cond = key.between(lo, lo + 149)
      case "merge" =>
        val old = Iterator.continually(rng.nextInt(table.maxKey.toInt + 1).toLong).distinct.take(100).toSeq
        val fresh = (0 until 100).map(i => table.maxKey + 1 + rng.nextInt(1000000) * 100L + i)
        val keys = (old ++ fresh).distinct
        source = spark.createDataFrame(java.util.Arrays.asList(keys.map(k => Row(k)): _*),
            StructType(Seq(StructField("o_orderkey", LongType))))
          .select(key, pmod(key, lit(1500L)).as("o_custkey"), lit("O").as("o_orderstatus"),
            (lit(1000.0) + pmod(key, lit(997L))).as("o_totalprice"),
            lit("2001-01-01 00:00:00").cast("timestamp_ntz").as("o_orderdate"),
            lit(marker).as("o_orderpriority"))
        sourceRows = keys.size
        cond = key.isin(keys: _*)
    }
    before = table.expectedRows
    val hit = table.df.filter(cond)
    val Seq(n, bytes) = Runner.countAndBytes(hit)
    matched = n
    changedBytes = if (kind == "merge") Runner.countAndBytes(source)(1) else bytes
  }

  def run(t: Tracer): Unit = t.span("dml", Map("kind" -> kind)) {
    kind match {
      case "update" => Acid.update(spark, table.path, cond,
        Map("o_orderpriority" -> lit(marker), "o_totalprice" -> (col("o_totalprice") + 1.0)))
      case "delete" => Acid.delete(spark, table.path, cond)
      case "merge" => Acid.mergeInto(spark, table.path, source, Seq("o_orderkey"))
    }
  }

  def check(e: Expected): Option[String] = {
    val r = table.df.agg(count(lit(1)), count(when(col("o_orderpriority") === marker, 1)),
      count(when(cond, 1))).head
    val (after, marked, left) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (wantRows, ok) = kind match {
      case "update" => (before, marked == matched)
      case "delete" => (before - matched, left == 0)
      case "merge" => (before + sourceRows - matched, marked == sourceRows)
    }
    writtenBytes = Runner.treeBytes(new File(table.path))
    files = Runner.dataFiles(new File(table.path))
    table.expectedRows = after
    if (after == wantRows && ok) None
    else Some(s"$kind: rows $after (want $wantRows), marked $marked, matched $matched, left $left")
  }

  override def attrs: Map[String, Any] = Map("bytes_written" -> writtenBytes,
    "files_written" -> files, "changed_bytes" -> changedBytes)
}

/** A read of the ACID table while it is being rewritten. */
final class ReadOp(table: AcidTable) extends Op("read_orders", "sources") {
  private var counts: Long = -1
  def run(t: Tracer): Unit = {
    val df = t.span("build")(table.df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total")))
    val rows = t.span("exec")(df.collect())
    t.planPhases(df, ts => t.covering("exec", ts, t.covering("build", ts, 0L)))
    counts = rows.map(_.getLong(1)).sum
  }
  def check(e: Expected): Option[String] =
    if (counts == table.expectedRows) None else Some(s"read $counts rows, want ${table.expectedRows}")
}

/** What the operations of one run share: the session, the fixture
  * directory, the run's temp dir and, made on first use, the ACID table. */
final class RunCtx(val spark: SparkSession, val dir: String, val tmp: String) {
  lazy val acid = new AcidTable(spark, dir, tmp)
}

/** A workload: a scale factor and, per pass, the list of operations the
  * client sends (in an order the runner shuffles with the seed). */
final case class Workload(name: String, sf: String, queries: Seq[String],
    ops: (RunCtx, Random, Int) => Seq[Op])

object Workloads {
  private def q(ctx: RunCtx)(name: String): Op = {
    val fn = SparkEntry.queries(name)
    new FrameOp(name, "queries", () => fn(ctx.spark, ctx.dir))
  }

  /** Short queries from six of the 15 HiveQL-surface packs (sort/limit,
    * semi-join, collect, range window, TPC-H Q6, NULL semantics): the
    * driver and the scheduler do the work here, operators and shuffle do
    * little. */
  val hiveql: Seq[String] = Seq("q_topk", "q_semi_join", "q_collect", "q_win_range",
    "q6_forecast", "q_null_semantics")

  /** The served query of the IVF serving index: its first call builds
    * bucketed index tables through `Sources.writeBucketed`, later calls
    * probe them. */
  val serve: Seq[String] = Seq("q_ivf_served")

  /** The text family's cheapest query and the IVF serving index (the
    * vector family); the dedup, graph and chunking kernels run through the
    * direct operator calls below. */
  val llm: Seq[String] = Seq("q_zipf_fit") ++ serve

  private def operatorOps(spark: SparkSession, dir: String): Seq[Op] = {
    def docs = Tables.df(spark, dir, "documents")
    // one star per order (line → order hub): many small components
    def edges = Tables.df(spark, dir, "lineitem").filter(pmod(col("l_orderkey"), lit(32L)) === 0)
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("u"), (col("l_orderkey") * 8).as("v"))
    Seq[(String, () => DataFrame)](
      "minhash_candidates" -> (() => Dedup.minhashCandidates(
        docs.filter(pmod(col("doc_id"), lit(4L)) === 0), 0.3)),
      "simhash_groups" -> (() => Dedup.simhashGroups(docs)),
      "connected_components" -> (() => Components.connectedComponents(
        edges.select(col("u").as("id")).union(edges.select(col("v").as("id"))).distinct(), edges)),
      "cdc_segments" -> (() => Chunking.cdcSegments(docs))
    ).map { case (n, f) => new FrameOp(s"operators.$n", "operators", f) }
  }

  /** UPDATE, DELETE and MERGE on the run's copy of `orders` and a read of
    * it, starting from the pristine copy every pass. */
  private def acidOps(ctx: RunCtx, rng: Random, pass: Int): Seq[Op] = {
    ctx.acid.reset()
    Seq("update", "delete", "merge").map(k => new DmlOp(k, ctx.acid, ctx.spark, rng, s"$pass-$k")) ++
      Seq(new ReadOp(ctx.acid))
  }

  val all: Seq[Workload] = Seq(
    Workload("hiveql_interactive", "0.01", hiveql,
      (ctx, rng, pass) => hiveql.map(q(ctx)) ++ acidOps(ctx, rng, pass)),
    Workload("llm_pipeline", "0.01", llm,
      (ctx, _, _) => llm.map(q(ctx)) ++ operatorOps(ctx.spark, ctx.dir)))

  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $n"))
}
