package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload hands back: operations attempted and failed
  * (failed output checks included) and every metric it measured. */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double])

/** Shared state of one run. `markStart()` is called once, at the start
  * of the first timed operation; everything before it is set-up. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val counters: Option[SparkCounters], val seed: Long,
                val seconds: Int, val work: String, t0Ms: Long) {
  private var setupS = -1.0
  private val repeats = mutable.Buffer.empty[Double]
  /** Set-up time: JVM launch to the first timed operation, with a
    * repeated set-up step counted once, at its median. */
  def markStart(): Unit =
    if (setupS < 0) setupS = (System.currentTimeMillis() - t0Ms) / 1e3 -
      repeats.sum + Stats.median(repeats.toSeq)
  def setupSeconds: Double = setupS
  /** Run a set-up step `n` times and keep the last result. Set-up time
    * counts the step once, at the median of its passes. */
  def repeatedSetup[T](n: Int)(body: => T): T =
    (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val r = body
      repeats += (System.nanoTime() - t0) / 1e9
      r
    }.last
  /** Progress line on stderr, stamped with seconds since JVM launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - t0Ms) / 1e3}%.1fs $msg")
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Entry point of one benchmark run (see perfbench/NOTES.md):
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *  --out FILE --spans FILE --t0 EPOCH_MS`.
  * Writes every metric the workload measured to `--out` as one JSON
  * object; `run.py` selects and prints the ones the trace mode asks
  * for. With tracing on, the spans go to `--spans`. */
object Main {

  /** Every per-layer metric name; a workload fills what it exercises
    * and the rest read 0 (no work done in that layer). */
  val LayerMetrics: Seq[String] = Seq(
    "fail_frac", "sim.render_s", "gen.late_s.max",
    "streaming.batches", "streaming.rows_per_batch.p50", "streaming.trigger_s.p50",
    "streaming.add_batch_s.p50", "streaming.wal_commit_s.p50",
    "streaming.query_planning_s.p50", "streaming.queue_wait_s.p50",
    "streaming.busy_frac", "streaming.backlog_files.max",
    "tx.catchup_cpu_s_per_kevent", "dash.tx.cold_s", "dash.tx.p50_s",
    "rates.lookups", "rates.cache_hits",
    "sync.store_files", "sync.store_segments", "sync.verify_read_s",
    "sync.ann_deltas", "sync.lex_deltas",
    "dash.ea.cold_s", "dash.ea.p50_s", "dash.q.cold_s", "dash.q.p50_s",
    "dash.build_s.p50", "dash.plan_s.p50", "dash.exec_s.p50", "dash.driver_idle_s",
    "ingest.bootstrap_s", "ingest.stage.classify_s.p50", "ingest.stage.keepers_s.p50",
    "ingest.stage.corpus_s.p50", "ingest.stage.lex_s.p50", "ingest.stage.ann_s.p50",
    "ingest.stage.gates_s.p50", "ingest.maintain_s.p50", "ingest.kept_frac",
    "ingest.url_dup_frac", "ingest.gate_cand_per_doc", "ingest.compactions",
    "ingest.ann_delta_fraction.end",
    "serve.ann_open_s.p50", "serve.ann_scan_s.p50", "serve.lex_open_s.p50", "serve.bm25_s.p50",
    "spark.codegen_compiles", "spark.codegen_compile_s",
    "host.calib_s", "jvm.heap_peak_mb", "jvm.gc_s") ++
    Seq("sim", "streaming", "tx", "rates", "sync", "queries", "llmdata").map(l => s"layer.$l.self_s") ++
    new SparkCounters().metrics.map(_._1)

  def main(args: Array[String]): Unit = {
    // Spark's own threads would keep a failed JVM alive: exit explicitly
    val code = try { runOnce(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runOnce(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val work = opt("work")
    val spark = session(workload, work)
    val counters = if (trace) Some(new SparkCounters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, new Tracer(trace, spark.sparkContext), counters,
      opt("seed").toLong, opt("seconds").toInt, work, opt("t0").toLong)
    val compiles0 = codegen()
    ctx.log("session ready")
    val out = workload match {
      case "pos_stream" => PosStream.run(ctx)
      case "bi_dashboard" => BiDashboard.run(ctx)
      case "corpus_ingest" => CorpusIngest.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.log("workload done")
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    LayerMetrics.foreach(metrics(_) = 0.0)
    metrics ++= out.metrics
    metrics("setup_s") = ctx.setupSeconds
    metrics("fail_frac") = out.failed.toDouble / math.max(1L, out.attempted)
    val compiles1 = codegen()
    metrics("spark.codegen_compiles") = (compiles1._1 - compiles0._1).toDouble
    metrics("spark.codegen_compile_s") = compiles1._2 - compiles0._2
    metrics("host.calib_s") = calibSec(spark)
    metrics("jvm.heap_peak_mb") = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    metrics("jvm.gc_s") = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3
    // stopping drains the listener bus, so the counters are complete
    spark.stop()
    if (trace) {
      counters.foreach(c => metrics ++= c.metrics)
      ctx.tracer.selfSeconds.foreach { case (l, s) =>
        if (metrics.contains(s"layer.$l.self_s")) metrics(s"layer.$l.self_s") = s
      }
      writeSpans(Paths.get(opt("spans")), ctx.tracer.all)
    }
    val json = metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(",\n  ")
    Files.write(Paths.get(opt("out")), (s"""{"attempted": ${out.attempted}, "failed": ${out.failed},
  "metrics": {
  $json}}
""").getBytes("UTF-8"))
  }

  /** The run's session: `local[<all cores>]`, every directory under `work`. */
  def session(name: String, work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** (compilations, total compile seconds) from Spark's codegen
    * histogram; the seconds are count × reservoir mean, an estimate. */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }

  /** Host calibration in the style of graft.Bench.calibSec: a fixed,
    * data-free, CPU-bound aggregate whose seconds measure the host,
    * not the engine (min of two passes). Recorded, never gated. */
  def calibSec(spark: SparkSession): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L)
        .selectExpr("avg(xxhash64(id) % 1000000) AS h", "sum(id % 97) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(pass(), pass())
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": "${esc(s.op)}", "layer": "${s.layer}", """ +
        s""""name": "${esc(s.name)}", "start_ns": ${s.start}, "end_ns": ${s.end}}""")
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }

  /** Every regular file under `dir` (none when it is absent). */
  def filesUnder(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def bytesUnder(dir: String): Long = filesUnder(dir).map(Files.size).sum
}
