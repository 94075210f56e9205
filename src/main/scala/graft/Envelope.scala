package graft

import org.apache.spark.sql.SparkSession

/** The one session envelope every harness entry point runs under (Bench,
  * Verify, ExplainDump, the two cross-JVM probes and the test session):
  * `local[cpus]`, one shuffle partition per core, pinned AQE coalescing,
  * uncompressed shuffle, no UI, UTC. Written once, so the answers Verify
  * dumps come from the same envelope Bench times. Callers add only what
  * is theirs (Hive support, a metastore URL, a warehouse dir, an app
  * name) on top of [[builder]].
  */
object Envelope {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Task-count determinism (VERDICT r15 #1): AQE partition
    // coalescing folds post-shuffle partitions by OBSERVED size, and
    // observed map-output sizes differ across machines/timing enough
    // that two recorded runs showed 43-vs-242 / 51-vs-136 /
    // 29-vs-174 tasks on IDENTICAL committed plans — which silently
    // broke BASELINE.md's "identical tasks ⇒ machine" attribution
    // rule. Disabling coalescing outright (r15/r16) made every shuffle
    // run exactly `spark.sql.shuffle.partitions` reducers, but cost a
    // measured 316→606 s full-tree wall (every tiny stage runs 32
    // reducers; VERDICT r16 #3). So since r17 coalescing is "pinned":
    // ON, but every input pinned to a constant (parallelismFirst=false
    // so the target is the pinned advisory size, never
    // totalBytes/defaultParallelism; min size pinned too) — task counts
    // then depend only on the plan and the deterministic map-output
    // sizes, not on machine parallelism. CPU-heavy small-shuffle stages
    // (the iterative graph ops) still do not collapse to 1–2 serialized
    // tasks. Skew-join and the rest of AQE stay on. See PERF.md
    // round-17 for the A/B that chose it.
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    // The LAST nondeterminism source under "pinned": AQE merges on the
    // map-output sizes MapStatus reports = bytes as written, and lz4
    // output depends on record ORDER inside each block — which follows
    // shuffle fetch order, which is racy. Same machine, same plan,
    // back-to-back: q_kcore coalesced to 52 vs 51 tasks, q_modularity
    // 202 vs 212 (measured r17). Uncompressed block size = Σ per-record
    // UnsafeRow bytes = order-INDEPENDENT, so compression off makes the
    // merge boundaries a pure function of plan + data. Local-envelope
    // only (sf0.1 shuffles are page-cache-resident; a real cluster
    // keeps compression on), and telemetry shuf_mb reads uncompressed
    // from r17 on — see BASELINE.md caveat (f).
    //
    // Residual ±1-stage task fuzz, root-caused r17 and deliberately
    // ACCEPTED: a handful of multi-consumer plans (q_modularity,
    // q_bradley_terry, q_raking) occasionally run one extra 32-task
    // stage at identical plans/counters — AQE materializes sibling
    // stages concurrently and replans as each completes, so whether a
    // stage that a replan (BHJ conversion / reuse) would eliminate
    // had already launched is a scheduling race, not a size or plan
    // effect. Measured: q_modularity standalone is bimodal 512/703 MB
    // vs 544/802 under reuse; `spark.sql.exchange.reuse=false` pins
    // it standalone (516/728 every run) but makes the FULL TREE
    // worse — 8 queries go bimodal instead of 1, because reuse-off
    // multiplies the duplicate sibling stages that race the replan.
    // So reuse stays ON, and the BASELINE.md attribution rule reads
    // those few rows via run-per-task, never raw task counts.
    "spark.shuffle.compress" -> "false",
    "spark.ui.enabled" -> "false",
    // oracle hashes compare timestamps rendered in UTC
    "spark.sql.session.timeZone" -> "UTC")

  /** The envelope as a session builder at `cpus` local cores. */
  def builder(cpus: Int): SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The entry points' session: the envelope at [[cpus]] cores. */
  def session(): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
