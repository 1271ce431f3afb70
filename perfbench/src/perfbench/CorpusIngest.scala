package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import graft.Tables
import graft.llmdata.{AnnIndex, Ingest, LexStore, TextAnalysis}
import graft.sync.{GenDir, ManifestStore}

/** `corpus_ingest`: one maintainer growing an LLM-data corpus while it
  * serves reads from the same artifacts, as a closed loop.
  *
  * Input: `Docs` documents + embeddings from a fixed data seed, with a
  * crawl `url` column of which `Refetch` are re-fetches of an earlier
  * page in another surface form (passed to the program as `rawUrl`).
  * Set-up runs `Ingest.bootstrap` over everything but the held-out
  * slice `doc_id % HeldOutMod == seed % HeldOutMod`. The run then
  * ingests the slice as `Shards` sequential `Ingest.run` shards (the
  * seed splits it), and after each shard issues `ReadsPerShard` serving
  * reads against the deployment's own `annDir` / `lexDir`. A read is one
  * hybrid request: an ANN top-k (`AnnIndex.open` + `topKAt`, the
  * pinned-handle serving path) and a BM25 top-k
  * (`TextAnalysis.bm25TopKFromStore`) over seed-chosen terms, so every
  * latency sample has the same make-up. It stops after the shard round
  * during which the run's seconds ran out, or when the slice is used up. */
object CorpusIngest {
  val Docs = 400L
  val Refetch = 0.15
  val HeldOutMod = 4
  val Shards = 4
  val MinShards = 1
  val ReadsPerShard = 3
  val AnnQueries = 8
  val K = 10
  /** The serving-read tail is p75 of a run's reads. A run usually makes
    * `MinShards × ReadsPerShard` = 3 of them, so this is its slowest
    * read, not a percentile with ten samples beyond it. */
  val TailPct = 75.0
  private val Terms = Seq("data", "table", "row", "value", "spark", "query", "scan",
    "join", "hash", "sort", "merge", "group", "filter", "key", "window", "vector")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val data = ctx.dir("corpus")
    val gen = new Gen(spark, 42L)
    gen.write(gen.documents(Docs, Refetch), data, "documents")
    gen.write(gen.embeddings(Docs), data, "embeddings")
    ctx.log("corpus generated")
    val rnd = new scala.util.Random(ctx.seed)
    val rem = (ctx.seed % HeldOutMod).toInt
    val dirs = Ingest.dirsUnder(ctx.dir("deploy"))
    val rawUrl = col("url")
    val (_, bootstrapS) = tr.timed("llmdata", "Ingest.bootstrap") {
      Ingest.bootstrap(spark, data, dirs, HeldOutMod, rem, rawUrl)
    }
    ctx.log(f"bootstrapped in $bootstrapS%.1fs")
    val docs = Tables.documents(spark, data)
    val emb = Tables.embeddings(spark, data).select(col("vec_id"), col("embedding"))
    val held = col("doc_id") % HeldOutMod === rem
    val baseDocs = docs.filter(!held)
    val baseN = baseDocs.count()
    // the seed's split of the held-out slice into shards
    val heldIds = docs.filter(held).select("doc_id").collect().map(_.getLong(0))
    val shardOf = rnd.shuffle(heldIds.toSeq).zipWithIndex
      .map { case (id, i) => id -> (i % Shards) }.toMap
    val shardIds = (0 until Shards).map(s => shardOf.collect { case (id, `s`) => id }.toSeq.sorted)

    val stageTimes = mutable.Map.empty[String, mutable.Buffer[Double]]
    val shardS, maintainS, annOpenS, annScanS, lexOpenS, bm25S, readS =
      mutable.Buffer.empty[Double]
    val statuses = mutable.Buffer.empty[Ingest.Status]
    var attempted, failed = 0L
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] corpus_ingest check FAILED: $what")
      }
    }

    ctx.markStart()
    val t0 = System.nanoTime()
    var shard = 0
    var reads = 0
    while (shard < Shards && (shard < MinShards || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val ids = shardIds(shard)
      val inShard = col("doc_id").isin(ids: _*)
      var stageSum = 0.0
      val (st, secs) = tr.operation(s"shard-$shard", "llmdata", "Ingest.run") {
        Ingest.run(spark, dirs, baseDocs, docs.filter(inShard),
          emb.filter(col("vec_id").isin(ids: _*)), shard.toLong, rawUrl = rawUrl,
          onStage = (stage, s) => {
            stageTimes.getOrElseUpdate(stage, mutable.Buffer.empty) += s
            stageSum += s
            val end = tr.now()
            tr.record("llmdata", s"Ingest.$stage", tr.currentOp, tr.currentSpan,
              end - (s * 1e9).toLong, end)
          })
      }
      ctx.log(f"shard $shard ingested in $secs%.1fs: ${st.json}")
      shardS += secs
      maintainS += secs - stageSum
      statuses += st
      check(st.nRaw == ids.size && st.fates.values.sum == ids.size,
        s"shard $shard fates ${st.fates} do not sum to its ${ids.size} docs")
      check(st.lexDocs == st.fates.getOrElse("kept", 0L),
        s"shard $shard lex_docs ${st.lexDocs} != kept ${st.fates.get("kept")}")
      lexOpenS += tr.timed("llmdata", "LexStore.open")(LexStore.open(spark, dirs.lexDir))._2
      for (_ <- 0 until ReadsPerShard) {
        reads += 1
        val terms = rnd.shuffle(Terms).take(3)
        val ((annRows, lexRows), secs) = tr.operation(s"read-$reads", "llmdata", "serving read") {
          val (h, o) = tr.timed("llmdata", "AnnIndex.open")(AnnIndex.open(spark, dirs.annDir))
          val (a, s) = tr.timed("llmdata", "AnnIndex.topKAt") {
            AnnIndex.topKAt(spark, h, data, AnnQueries, K).collect().length
          }
          val (b, s2) = tr.timed("llmdata", "TextAnalysis.bm25TopKFromStore") {
            TextAnalysis.bm25TopKFromStore(spark, dirs.lexDir, terms, K).collect().length
          }
          annOpenS += o
          annScanS += s
          bm25S += s2
          (a, b)
        }
        readS += secs
        check(annRows == AnnQueries * K && lexRows == K,
          s"serving read $reads returned $annRows ANN and $lexRows BM25 rows, " +
            s"not ${AnnQueries * K} and $K")
      }
      shard += 1
    }
    ctx.log(s"$shard shards and $reads serving reads done")
    val kept = statuses.map(_.fates.getOrElse("kept", 0L)).sum
    val raw = statuses.map(_.nRaw).sum
    val corpusRows = tr.span("sync", "ManifestStore.readStore+count") {
      ManifestStore.readStore(spark, dirs.corpusDocsDir).map(_.count()).getOrElse(0L)
    }
    check(corpusRows == baseN + kept, s"corpus store holds $corpusRows rows, not $baseN + $kept")
    def deltas(root: String) = tr.span("sync", "GenDir.deltas") {
      GenDir.newest(spark, root).map { case (_, g) => GenDir.deltas(spark, g).size }.getOrElse(0)
    }
    val inputBytes = Main.bytesUnder(s"$data/documents.parquet") + Main.bytesUnder(s"$data/embeddings.parquet")
    val med = (xs: Seq[Double]) => Stats.median(xs)
    val stage = (s: String) => med(stageTimes.getOrElse(s, mutable.Buffer.empty[Double]).toSeq)
    Outcome(attempted, failed, Map(
      "latency_p50_s" -> med(readS.toSeq),
      "latency_tail_s" -> Stats.pct(readS.toSeq, TailPct),
      "throughput_per_s" -> raw / shardS.sum,
      "cold_s" -> bootstrapS,
      "write_s" -> med(shardS.toSeq),
      "store_amp" -> Main.bytesUnder(ctx.work + "/deploy").toDouble / inputBytes,
      "ingest.bootstrap_s" -> bootstrapS,
      "ingest.stage.classify_s.p50" -> stage("classify"),
      "ingest.stage.keepers_s.p50" -> stage("keepers"),
      "ingest.stage.corpus_s.p50" -> stage("corpus"),
      "ingest.stage.lex_s.p50" -> stage("lex"),
      "ingest.stage.ann_s.p50" -> stage("ann"),
      "ingest.stage.gates_s.p50" -> stage("gates"),
      "ingest.maintain_s.p50" -> med(maintainS.toSeq),
      "ingest.kept_frac" -> kept.toDouble / raw,
      "ingest.url_dup_frac" -> statuses.map(_.fates.getOrElse("url_dup", 0L)).sum.toDouble / raw,
      "ingest.gate_cand_per_doc" -> med(statuses.flatMap(_.gateCandPerDoc).toSeq),
      "ingest.compactions" -> statuses.count(_.compacted).toDouble,
      "ingest.ann_delta_fraction.end" -> statuses.last.deltaFraction,
      "serve.ann_open_s.p50" -> med(annOpenS.toSeq),
      "serve.ann_scan_s.p50" -> med(annScanS.toSeq),
      "serve.lex_open_s.p50" -> med(lexOpenS.toSeq),
      "serve.bm25_s.p50" -> med(bm25S.toSeq),
      "sync.ann_deltas" -> deltas(dirs.annDir).toDouble,
      "sync.lex_deltas" -> deltas(dirs.lexDir).toDouble))
  }
}
