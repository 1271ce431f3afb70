package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.rates.RateService
import graft.sim.Replay
import graft.streaming.{Pipeline, TransactionParser}
import graft.sync.ManifestStore
import graft.tx.{Enrichment, RawTransactions, Splitter}

/** `pos_stream`: the POS pipeline as an open loop.
  *
  * The `events` table is rendered once, in set-up, into POS JSON
  * messages (`RawTransactions.fromEvents` + `Replay.toMessages` with a
  * fixed send date); the seed shuffles them and decides which go into
  * the pre-staged backlog. A plain JVM thread then drops files into the
  * source directory of `Pipeline.startFanOutCommitted(jsonFileSource,
  * …, Trigger.ProcessingTime(0))`, each written under a temporary name
  * and atomically renamed in:
  *  - phase 1 (catch-up): the backlog is there before the query starts
  *    and drains under the files-per-trigger cap — the restart after
  *    downtime;
  *  - phase 2 (live): once the backlog is committed, the rest arrive
  *    one file every `FileEvery` seconds, `LiveRate` events/s, for the
  *    run's seconds.
  * A file's latency runs from when it was due to the commit of the
  * micro-batch that read it, so queue wait counts. */
object PosStream {
  val EventsPerFile = 100
  val FilesPerTrigger = 15
  val BacklogFiles = 30
  val LiveRate = 300.0
  val FileEvery: Double = EventsPerFile / LiveRate
  /** The latency tail is p95 of the live events. */
  val TailPct = 95.0
  val SendDate = "2024-03-01"
  /** Set-up renders the messages this many times and counts the median. */
  val RenderPasses = 3

  private final case class Progress(queryId: String, batchId: Long, startNs: Long,
                                    commitNs: Long, rows: Long, logOffset: Long,
                                    durations: Map[String, Double])

  private final case class Sent(name: String, events: Int, dueNs: Long, writtenNs: Long,
                                live: Boolean)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val maxLive = math.ceil(LiveRate * ctx.seconds / EventsPerFile).toInt + 1
    val nEvents = (BacklogFiles + maxLive + 2) * EventsPerFile
    val gen = new Gen(spark, 42L)
    val data = ctx.dir("data")
    gen.write(gen.events(nEvents, 1500), data, "events")
    val renders = scala.collection.mutable.Buffer.empty[Double]
    val messages = ctx.repeatedSetup(RenderPasses) {
      val (m, s) = tr.timed("sim", "Replay.toMessages") {
        Replay.toMessages(RawTransactions.fromEvents(spark, data),
          to_date(lit(SendDate))).select("value").collect().map(_.getString(0))
      }
      renders += s
      m
    }
    ctx.log(s"render passes: ${renders.map(r => f"$r%.2f").mkString(" ")} s")
    ctx.log(s"rendered ${messages.length} messages")
    val shuffled = new scala.util.Random(ctx.seed).shuffle(messages.toSeq)
    val files = shuffled.grouped(EventsPerFile).toIndexedSeq
    val backlog = files.take(BacklogFiles)
    val live = files.drop(BacklogFiles)

    val progress = new ConcurrentLinkedQueue[Progress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val off = """"logOffset"\s*:\s*(\d+)""".r
            .findFirstMatchIn(p.sources.head.endOffset).map(_.group(1).toLong).getOrElse(-1L)
          progress.add(Progress(p.id.toString, p.batchId,
            java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L, tr.now(),
            p.numInputRows, off, p.durationMs.asScala.map { case (k, v) => k -> v / 1e3 }.toMap))
        }
      }
    }
    spark.streams.addListener(listener)

    val rates = new RateService()
    var lookups, hits = 0L
    def rateFor(d: java.time.LocalDate): Double = tr.span("rates", "RateService.rateFor") {
      lookups += 1
      if (rates.cachedRates.contains(d.toString)) hits += 1
      rates.rateFor(d.toString)
    }
    val clock = to_timestamp(lit(s"$SendDate 12:00:00"))
    def start(src: String, root: String) = Pipeline.startFanOutCommitted(
      Pipeline.jsonFileSource(spark, src, Some(FilesPerTrigger)),
      Pipeline.StoreLayout(root), rateFor _, Trigger.ProcessingTime(0L), clock)

    def drop(dir: String, name: String, lines: Seq[String]): Unit = {
      val tmp = Paths.get(ctx.dir("staging"), name)
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    }

    // warm-up on a throwaway layout: without it the JIT is still compiling
    // the stream's hot paths during the live phase, and its batch times
    // (so its latencies) spread about twice as wide from run to run
    locally {
      val src = ctx.dir("warm-src")
      drop(src, "w-000000.json", files.last)
      val q = start(src, ctx.dir("warm-stores"))
      q.processAllAvailable()
      q.stop()
    }
    lookups = 0
    hits = 0
    ctx.counters.foreach(_.reset())
    ctx.log("warm-up stream done")

    val src = ctx.dir("src")
    val root = ctx.dir("stores")
    val sent = new ConcurrentLinkedQueue[Sent]
    backlog.zipWithIndex.foreach { case (f, i) =>
      val name = f"b-$i%06d.json"
      drop(src, name, f)
      sent.add(Sent(name, f.size, 0L, 0L, live = false))
    }
    val backlogEvents = backlog.map(_.size).sum.toLong

    ctx.markStart()
    val q = tr.span("streaming", "Pipeline.startFanOutCommitted")(start(src, root))
    val t0 = tr.now()
    def ours = progress.asScala.filter(_.queryId == q.id.toString).toSeq
    while (ours.map(_.rows).sum < backlogEvents && q.isActive && tr.now() < t0 + 60000000000L)
      Thread.sleep(2)
    val catchupEndNs = ours.map(_.commitNs).maxOption.getOrElse(tr.now())
    ctx.log(f"backlog of $backlogEvents events drained in ${(catchupEndNs - t0) / 1e9}%.1fs")

    // phase 2: the generator thread, on a fixed schedule that does not
    // slow down when the pipeline does
    val liveStart = tr.now()
    val deadline = liveStart + ctx.seconds * 1000000000L
    val generator = new Thread(() => {
      var i = 0
      while (i < live.size && liveStart + ((i + 1) * FileEvery * 1e9).toLong <= deadline) {
        val due = liveStart + (i * FileEvery * 1e9).toLong
        val wait = due - tr.now()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val name = f"l-$i%06d.json"
        drop(src, name, live(i))
        sent.add(Sent(name, live(i).size, due, tr.now(), live = true))
        i += 1
      }
    }, "perfbench-pos-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    val totalEvents = sent.asScala.map(_.events.toLong).sum
    val drainDeadline = System.nanoTime() + 60000000000L
    while (ours.map(_.rows).sum < totalEvents && q.isActive && System.nanoTime() < drainDeadline)
      Thread.sleep(5)
    val failedQuery = q.exception.isDefined || !q.isActive
    q.stop()
    spark.streams.removeListener(listener)

    ctx.log(s"stream stopped after ${ours.size} micro-batches")
    val batches = ours.sortBy(_.batchId)
    val checkpoint = Pipeline.StoreLayout(root).checkpoint
    val fileBatch = sourceLog(s"$checkpoint/sources/0")
    val commitByLog = batches.map(b => b.logOffset -> b).toMap
    val all = sent.asScala.toSeq
    val liveSent = all.filter(_.live)
    val committed = all.flatMap(s => fileBatch.get(s.name).flatMap(commitByLog.get).map(s -> _))
    val uncommitted = all.size - committed.size
    val liveLat = committed.filter(_._1.live).flatMap { case (s, b) =>
      Seq.fill(s.events)((b.commitNs - s.dueNs) / 1e9)
    }
    val queueWait = committed.filter(_._1.live).map { case (s, b) => (b.startNs - s.dueNs) / 1e9 }
    val catchupS = (catchupEndNs - t0) / 1e9
    val liveBatches = batches.filter(_.startNs >= catchupEndNs)
    val liveEnd = liveSent.map(_.dueNs).maxOption.getOrElse(liveStart) + (FileEvery * 1e9).toLong
    val busyS = Stats.unionLength(batches.map(b =>
      (math.max(b.startNs, liveStart), math.min(b.commitNs, liveEnd)))) / 1e9
    val backlogMax = batches.map { b =>
      committed.count { case (s, cb) => s.live && s.dueNs <= b.startNs && cb.batchId >= b.batchId }
    }.maxOption.getOrElse(0)

    // output check: the four bucket stores hold exactly what one batch
    // enrichment + split of the same messages gives
    val layout = Pipeline.StoreLayout(root)
    val (stored, verifyS) = tr.timed("sync", "ManifestStore.readStore+count") {
      layout.all.map(d => ManifestStore.readStore(spark, d).map(_.count()).getOrElse(0L))
    }
    val expected = tr.span("tx", "Enrichment.enrich+Splitter (batch check)") {
      val enriched = Enrichment.enrich(TransactionParser.fromJsonValue(spark.read.text(src)),
        Enrichment.DefaultRate, clock).persist()
      try Seq(Splitter.valid(enriched), Splitter.fraud(enriched),
        Splitter.errors(enriched), Splitter.invalid(enriched)).map(_.count())
      finally enriched.unpersist()
    }
    ctx.log(f"output check read the stores in $verifyS%.1fs")
    val checkOk = stored == expected && !failedQuery
    if (!checkOk)
      System.err.println(s"[perfbench] pos_stream check FAILED: stored=$stored expected=$expected " +
        s"queryFailed=$failedQuery")

    def op(b: Progress) = s"batch-${q.runId}-${b.batchId}"
    val catchupOps = batches.filter(_.startNs < catchupEndNs).map(op)
    val inputBytes = Main.bytesUnder(src)
    val storeBytes = layout.all.map(Main.bytesUnder(_)).sum
    batches.foreach { b =>
      val id = tr.record("streaming", "microbatch", op(b), 0, b.startNs, b.commitNs)
      var at = b.startNs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = (b.durations.getOrElse(k, 0.0) * 1e9).toLong
          tr.record("streaming", k, op(b), id, at, at + d)
          at += d
        }
    }
    val d = (k: String) => Stats.median(liveBatches.map(_.durations.getOrElse(k, 0.0)))
    Outcome(
      attempted = all.size + 1L,
      failed = uncommitted + (if (checkOk) 0L else 1L),
      metrics = Map(
        "latency_p50_s" -> Stats.median(liveLat),
        "latency_tail_s" -> Stats.pct(liveLat, TailPct),
        "throughput_per_s" -> backlogEvents / catchupS,
        "cold_s" -> catchupS,
        "write_s" -> d("triggerExecution"),
        "store_amp" -> storeBytes.toDouble / inputBytes,
        "sim.render_s" -> Stats.median(renders.toSeq),
        "gen.late_s.max" -> liveSent.map(s => (s.writtenNs - s.dueNs) / 1e9).maxOption.getOrElse(0.0),
        "streaming.batches" -> batches.size.toDouble,
        "streaming.rows_per_batch.p50" -> Stats.median(batches.map(_.rows.toDouble)),
        "streaming.trigger_s.p50" -> d("triggerExecution"),
        "streaming.add_batch_s.p50" -> d("addBatch"),
        "streaming.wal_commit_s.p50" -> d("walCommit"),
        "streaming.query_planning_s.p50" -> d("queryPlanning"),
        "streaming.queue_wait_s.p50" -> Stats.median(queueWait),
        "streaming.busy_frac" -> busyS / ((liveEnd - liveStart) / 1e9),
        "streaming.backlog_files.max" -> backlogMax.toDouble,
        "tx.catchup_cpu_s_per_kevent" -> ctx.counters.map(c =>
          catchupOps.map(c.cpuSeconds).sum / (backlogEvents / 1000.0)).getOrElse(0.0),
        "rates.lookups" -> lookups.toDouble,
        "rates.cache_hits" -> hits.toDouble,
        "sync.store_files" -> layout.all.map(Main.filesUnder(_).size).sum.toDouble,
        "sync.store_segments" -> layout.all.map(ManifestStore.dataSegments(spark, _)).sum.toDouble,
        "sync.verify_read_s" -> verifyS))
  }

  /** file name → source-log batch of the file stream source, from its
    * metadata log (`N` and compacted `N.compact` files, one JSON entry
    * per line after the version header). */
  private def sourceLog(dir: String): Map[String, Long] = {
    val entry = """"path"\s*:\s*"([^"]+)".*?"batchId"\s*:\s*(\d+)""".r
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.toSeq.filter(_.getFileName.toString.matches("""\d+(\.compact)?""")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).split('/').last -> m.group(2).toLong))
    }.toMap
    finally s.close()
  }
}
