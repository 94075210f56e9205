package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Runs one workload of the benchmark in one JVM and writes its raw record
  * (`record.json`) and, when traced, its spans (`spans.jsonl`) to `--out`.
  * `run.py` turns those into metrics.
  *
  *   gen-data --workload <name> --data <root> --tmp <dir>
  *   run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --data <root> --tmp <dir> --out <dir> --expected <digests.json>
  *
  * One client sends operations in a closed loop: pass 0 is the cold pass;
  * warm passes follow until `--seconds` have elapsed. The seed sets each
  * pass's operation order and the DML keys, nothing else. */
object Runner {
  /** The session envelope of `graft.Bench` (pinned AQE coalescing and
    * uncompressed shuffle), at local[cpus]. */
  def envelope(cpus: Int, tmp: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    "spark.shuffle.compress" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> s"$tmp/warehouse",
    "spark.local.dir" -> s"$tmp/spark-local")

  def session(cpus: Int, tmp: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    envelope(cpus, tmp).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val a = argv.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    mode match {
      case "gen-data" =>
        val sf = Workloads.byName(a("workload")).sf
        if (!DataGen.complete(a("data"), sf)) {
          val spark = session(cpus, a("tmp"))
          DataGen.write(spark, a("data"), sf)
          spark.stop()
        }
      case "run" => run(a, cpus)
      case _ => throw new IllegalArgumentException(s"unknown mode '$mode'")
    }
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used, all threads (tasks, driver, JIT, GC). */
  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  private val jvmStart = System.nanoTime()

  def run(a: Map[String, String], cpus: Int): Unit = {
    val w = Workloads.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tmp = a("tmp")
    val out = new File(a("out")); out.mkdirs()
    val dir = DataGen.dir(a("data"), w.sf)
    require(DataGen.complete(a("data"), w.sf), s"no generated data in $dir")
    val expected = readExpected(new File(a("expected")))
    val unknown = w.queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // Set-up, three times: the session and one warm-up query. All but the
    // last session are stopped again.
    val setups = (1 to 3).map { i =>
      val cpu0 = cpuSeconds
      val (s, create) = timed(session(cpus, tmp))
      val (_, warm) = timed(SparkEntry.queries("q_distinct")(s, dir).collect())
      if (i < 3) {
        s.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      Map("create_s" -> create, "warmup_s" -> warm, "cpu_s" -> (cpuSeconds - cpu0))
    }
    System.err.println(f"[perfbench] setups done at ${(System.nanoTime() - jvmStart) / 1e9}%.1f")
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val recorder = new JobRecorder
    if (traced) sc.addSparkListener(recorder)
    def flush(): Unit = if (traced) org.apache.spark.perfbench.Bus.flush(sc)

    val ctx = new RunCtx(spark, dir, tmp)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var opId = 0L
    var failed = 0L
    val errors = ArrayBuffer.empty[String]
    def pass(idx: Int, kind: String, trace: Boolean): Double = {
      val rng = new Random(seed * 1000003L + idx)
      val ops = rng.shuffle(w.ops(ctx, rng, idx))
      // start every pass from a collected heap, so garbage the previous
      // pass left behind is not billed to this one
      System.gc()
      tracer.enabled = trace
      var cpu = 0.0
      val recs = ops.map { op =>
        opId += 1
        op.prepare()
        flush()
        val ev0 = recorder.evicted
        recorder.countEvictions = trace
        val cpu0 = cpuSeconds
        val (err, lat) = timed {
          try {
            tracer.span("op", Map("op" -> opId, "pass" -> idx, "name" -> op.name, "layer" -> op.layer)) {
              op.run(tracer)
            }
            flush()
            None
          } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        }
        val opCpu = cpuSeconds - cpu0
        cpu += opCpu
        recorder.countEvictions = false
        System.err.println(f"[perfbench] pass $idx%d ${op.name}%s $lat%.3f s at ${(System.nanoTime() - jvmStart) / 1e9}%.1f")
        val evicted = recorder.evicted - ev0
        val bad = err.orElse(try op.check(expected) catch {
          case NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}")
        })
        bad.foreach { b => failed += 1; if (errors.size < 20) errors += s"${op.name}: ${b.take(300)}" }
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        flush()
        Map("op" -> opId, "name" -> op.name, "layer" -> op.layer, "lat_s" -> lat, "cpu_s" -> opCpu,
          "ok" -> bad.isEmpty, "evicted" -> evicted) ++ op.attrs
      }
      tracer.enabled = false
      val wall = recs.map(_("lat_s").asInstanceOf[Double]).sum
      passes += Map("pass" -> idx, "kind" -> kind, "traced" -> trace, "wall_s" -> wall, "cpu_s" -> cpu,
        "ops" -> recs)
      wall
    }

    pass(0, "cold", traced)
    // warm passes for `seconds`. A traced run alternates traced and
    // untraced passes after the first warm one (at least one of each), so
    // the gap between them is the tracing overhead measured in one JVM; the
    // first warm pass still finishes JIT warm-up and is left out of it.
    val minPasses = if (traced) 3 else 1
    val t0 = System.nanoTime()
    var idx = 1
    while (idx <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(idx, "warm", traced && idx % 2 == 0)
      idx += 1
    }

    System.err.println(f"[perfbench] passes done at ${(System.nanoTime() - jvmStart) / 1e9}%.1f")
    val stored = storedBytes(spark, tmp)
    val record = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cpus" -> cpus, "sf" -> w.sf, "spark_version" -> spark.version,
      "serve_queries" -> w.queries.filter(Workloads.serve.contains),
      "envelope" -> envelope(cpus, "<tmp>").toMap,
      "setups" -> setups, "passes" -> passes.toSeq,
      "failed" -> failed, "errors" -> errors.toSeq,
      "stored_bytes" -> stored._1, "stored_row_bytes" -> stored._2,
      "rss_peak_mb" -> rssPeakMb())
    write(new File(out, "record.json"), Json(record))
    // the queries without oracle SQL are checked by row count only
    val rowsOnly = (n: String) => SparkEntry.queries.contains(n) && !SparkEntry.oracleSql.contains(n)
    write(new File(out, "digests.json"), expected.observed.toSeq.sortBy(_._1).map { case (k, r) =>
      Json(k) + ":" + Json(if (rowsOnly(k)) Map("rows" -> r.rows) else Map("rows" -> r.rows, "digest" -> r.digest))
    }.mkString("{\n", ",\n", "\n}\n"))
    if (traced) {
      val all = tracer.spans.toSeq ++ recorder.spans(tracer.lastId + 1)
      val pw = new PrintWriter(new File(out, "spans.jsonl"), UTF_8)
      try all.foreach(s => pw.println(Json(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs))))
      finally pw.close()
    }
    spark.stop()
    System.err.println(f"[perfbench] stopped at ${(System.nanoTime() - jvmStart) / 1e9}%.1f")
  }

  private def readExpected(f: File): Expected = {
    if (!f.exists()) return new Expected(Map.empty, Set.empty)
    val txt = new String(Files.readAllBytes(f.toPath), UTF_8)
    val entry = "\"([a-z0-9_.]+)\":\\s*\\{\"rows\":\\s*(\\d+)(?:,\\s*\"digest\":\\s*\"([0-9a-f]+)\")?".r
    val parsed = entry.findAllMatchIn(txt).map(m => (m.group(1), m.group(2).toLong, Option(m.group(3)))).toSeq
    new Expected(parsed.map { case (n, r, d) => n -> Digest.Result(r, d.getOrElse("")) }.toMap,
      parsed.collect { case (n, _, None) => n }.toSet)
  }

  /** Bytes of one row of `schema` in a fixed encoding: fixed-width values
    * at their width, strings and binaries at their byte length, arrays of
    * fixed-width values at length × width, anything else as JSON text. */
  def rowBytes(schema: StructType): Column = schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    val v: Column = f.dataType match {
      case StringType | BinaryType => octet_length(c)
      case ArrayType(et, _) if et.isInstanceOf[NumericType] => size(c) * lit(et.defaultSize)
      case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType =>
        lit(f.dataType.defaultSize)
      case _ => octet_length(to_json(struct(c)))
    }
    when(c.isNull, lit(0L)).otherwise(v.cast("long"))
  }.foldLeft(lit(0L))(_ + _)

  /** Row count and row bytes of `df`, in one job. */
  def countAndBytes(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowBytes(df.schema)), lit(0L))).head
    Seq(r.getLong(0), r.getLong(1))
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length()

  def dataFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.startsWith("part-")) 1L else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  /** On-disk bytes, and row bytes, of every table the run wrote: the ACID
    * table and the serving-index tables (`Sources.writeBucketed` puts them
    * under java.io.tmpdir as graft_graft_*). */
  private def storedBytes(spark: SparkSession, tmp: String): (Long, Long) = {
    val acid = new File(tmp, "acid/orders")
    val index = Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_graft_"))
    val tables = (if (acid.isDirectory) Seq(acid) else Nil) ++ index
    tables.foldLeft((0L, 0L)) { case ((disk, rows), t) =>
      (disk + treeBytes(t), rows + countAndBytes(spark.read.parquet(t.getPath))(1))
    }
  }

  private def rssPeakMb(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath), UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024).getOrElse(0.0)
  }

  private def write(f: File, s: String): Unit = Files.write(f.toPath, s.getBytes(UTF_8)): Unit

  /** Minimal JSON encoder for the record types above. */
  object Json {
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
      case n: Number => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }
}
