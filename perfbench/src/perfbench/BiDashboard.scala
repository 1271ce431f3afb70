package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.queries.{EventAnalytics, Relational}
import graft.tx.{ProcessedStore, TxQueries}

/** `bi_dashboard`: the analytical surface the dashboards read, as a
  * closed loop with one client.
  *
  * Input: every fifteenth entry (by name) of `TxQueries.queries`,
  * `EventAnalytics.queries` and `Relational.queries` — 5 of the 74 —
  * over the star schema + events at sf 0.01, written once in set-up
  * from a fixed data seed. The run seed permutes the order of every
  * pass. One cold pass in the fresh session (it builds the
  * `ProcessedStore` and every memo the entries keep), then complete warm
  * passes while another one fits in the run's seconds (at least
  * `MinWarmPasses`). Each call
  * is split into build (`fn(spark, dir)`, eager driver jobs included),
  * plan (forcing `executedPlan`) and execute (`queryExecution.toRdd`,
  * the materialization graft.Bench uses). Every result is checked
  * against `expected_hashes.tsv`. The latency tail is the slowest
  * tile: the largest per-entry median of the warm calls. */
object BiDashboard {
  val Scale = 0.01
  val Stride = 15
  val MinWarmPasses = 3

  type Fn = (SparkSession, String) => DataFrame

  def entries: Seq[(String, String, Fn)] =
    (TxQueries.queries.map { case (n, f) => ("tx", n, f) } ++
      EventAnalytics.queries.map { case (n, f) => ("ea", n, f) } ++
      Relational.queries.map { case (n, f) => ("q", n, f) })
      .toSeq.sortBy(_._2).zipWithIndex.collect { case (e, i) if i % Stride == 0 => e }

  final case class Call(family: String, name: String, buildS: Double, planS: Double,
                        execS: Double, ok: Boolean) {
    def totalS: Double = buildS + planS + execS
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val data = ctx.dir("data")
    new Gen(spark, 42L).writeStar(data, Scale)
    ctx.log("tables generated")
    val expected = expectedHashes
    val qs = entries
    val rnd = new scala.util.Random(ctx.seed)
    var opN = 0
    val coldResults = scala.collection.mutable.Map.empty[String, DataFrame]

    def call(family: String, name: String, fn: Fn): Call = {
      opN += 1
      val layer = if (family == "tx") "tx" else "queries"
      try tr.operation(s"query-$opN", layer, name) {
        val (df, b) = tr.timed(layer, s"$name.build")(fn(spark, data))
        val (_, p) = tr.timed(layer, s"$name.plan")(df.queryExecution.executedPlan)
        val (_, e) = tr.timed(layer, s"$name.exec")(df.queryExecution.toRdd.foreach(_ => ()))
        if (!coldResults.contains(name)) coldResults(name) = df
        Call(family, name, b, p, e, ok = true)
      }._1
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name FAILED: $e")
        Call(family, name, 0, 0, 0, ok = false)
      }
    }
    def pass(): Seq[Call] = rnd.shuffle(qs).map { case (f, n, fn) => call(f, n, fn) }

    ctx.markStart()
    val t0 = System.nanoTime()
    val (_, storeS) = tr.operation("query-store", "tx", "ProcessedStore.processedTable") {
      ProcessedStore.processedTable(spark, data).count()
    }
    val cold = pass()
    val coldS = (System.nanoTime() - t0) / 1e9
    ctx.log(f"cold pass in $coldS%.1fs")
    val warmT0 = System.nanoTime()
    val warmT0Ms = System.currentTimeMillis()
    // complete passes only, so every entry is sampled equally often
    var warm = Seq.empty[Call]
    var passes = 0
    var lastPassS = 0.0
    def elapsed = (System.nanoTime() - warmT0) / 1e9
    while (passes < MinWarmPasses || elapsed + lastPassS <= ctx.seconds) {
      val p0 = elapsed
      warm ++= pass()
      lastPassS = elapsed - p0
      passes += 1
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val idleS = ctx.counters.map(_.idleSeconds(warmT0Ms, System.currentTimeMillis())).getOrElse(0.0)

    // output check: each entry's cold-pass result against its pinned hash
    val hashes = coldResults.map { case (n, df) => n -> resultHash(df) }
    val wrong = hashes.filter { case (n, h) => !expected.get(n).contains(h) }
    wrong.foreach { case (n, h) => System.err.println(
      s"[perfbench] $n result $h != expected ${expected.getOrElse(n, "(none)")}") }

    val ok = warm.filter(_.ok)
    val lat = ok.map(_.totalS)
    def fam(f: String): (Double, Double) =
      (cold.filter(c => c.family == f && c.ok).map(_.totalS).sum,
        Stats.median(ok.filter(_.family == f).map(_.totalS)))
    val (txCold, txP50) = fam("tx")
    val (eaCold, eaP50) = fam("ea")
    val (qCold, qP50) = fam("q")
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val storeBytes = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-processed-")).map(f => Main.bytesUnder(f.getPath)).sum
    Outcome(
      attempted = (cold ++ warm).size.toLong,
      failed = (cold ++ warm).count(!_.ok) + wrong.size,
      metrics = Map(
        "latency_p50_s" -> Stats.median(lat),
        // the slowest tile: the entry whose median warm call is longest
        "latency_tail_s" -> ok.groupBy(_.name).values.map(cs => Stats.median(cs.map(_.totalS)))
          .maxOption.getOrElse(0.0),
        "throughput_per_s" -> ok.size / warmS,
        "cold_s" -> coldS,
        "write_s" -> storeS,
        "store_amp" -> storeBytes.toDouble / Main.bytesUnder(s"$data/events.parquet"),
        "dash.tx.cold_s" -> (txCold + storeS), "dash.tx.p50_s" -> txP50,
        "dash.ea.cold_s" -> eaCold, "dash.ea.p50_s" -> eaP50,
        "dash.q.cold_s" -> qCold, "dash.q.p50_s" -> qP50,
        "dash.build_s.p50" -> Stats.median(ok.map(_.buildS)),
        "dash.plan_s.p50" -> Stats.median(ok.map(_.planS)),
        "dash.exec_s.p50" -> Stats.median(ok.map(_.execS)),
        "dash.driver_idle_s" -> idleS))
  }

  /** Expected result hash per entry, taken from a run whose results
    * matched the DuckDB oracle (tools/check_oracle.py) on the same
    * generated tables; entries without an oracle are pinned by the
    * same hash of their own verified run. */
  private def expectedHashes: Map[String, String] =
    Files.readAllLines(Paths.get(sys.props("perfbench.dir"), "expected_hashes.tsv")).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank).map(_.split('\t'))
      .map(a => a(0) -> a(1)).toMap

  /** Order-free hash of a result: columns sorted by name, every value
    * rendered canonically (doubles to 9 significant digits, so the low
    * bits a different summation order leaves cannot flip it), rows
    * sorted, SHA-256 of the lines. */
  def resultHash(df: DataFrame): String = {
    val cols = df.columns.zipWithIndex.sortBy(_._1)
    val lines = df.collect().map(r => cols.map { case (_, i) => render(r.get(i)) }.mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    s"${lines.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => render(b.bigDecimal)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
