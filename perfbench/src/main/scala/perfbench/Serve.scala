package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import graft.index.IndexBuilder
import graft.query.{NaiveBm25, Searcher}

/** Serving: one prebuilt index with cached postings; each cycle is one
  * `topKBatch` batch followed by a run of ad-hoc `topKLocal` queries.
  * Drives `query.Searcher`, `BlockMaxWand` and `Codec` decode; leaves
  * `index/` idle. The index is the workload's input (built once by
  * `prepare`); set-up is what a server does at start: open the index,
  * fill the posting cache and warm the query path.
  */
final class Serve(ctx: Ctx, tag: String, nDocs: Int, salt: Int) extends Workload(ctx, tag) {
  import ctx.spark
  import spark.implicits._

  /** A batch is one whole rotation (`graft.Bench`'s 280-query batch), so
    * every batch holds the same mix whatever round it starts at; three
    * rounds of ad-hoc queries per cycle give a 15 s window over 100.
    */
  val BatchSize = QueryGen.Rounds * QueryGen.Base.length
  val AdhocPerCycle = 3 * QueryGen.Base.length
  val K = 10

  private var indexDir: String = _
  private var searcher: Searcher = _
  private var bytesRatio = Double.NaN
  private var gen: QueryGen = _
  private var nextQid = 0L
  private val batchS = new Samples
  private val adhocS = new Samples

  override def prepare(): Unit = {
    val (pages, corpus) = ctx.stagePages(nDocs, salt)
    val text = ctx.textBytes(pages)
    indexDir = ctx.freshDir("serve-index")
    IndexBuilder.build(spark, pages, indexDir, ctx.buildCfg)
    ctx.reap(corpus)
    bytesRatio = ctx.dirBytes(indexDir).toDouble / text
  }

  def setup(): Unit = {
    searcher = new Searcher(spark, indexDir, cachePostings = true)
    gen = new QueryGen(ctx.seed)
    // fill the posting cache and warm the code paths before timing
    val warm = new QueryGen(ctx.seed ^ 0x5eed)
    searcher.topKBatch((1 to BatchSize).map(i => toBatch(i, warm.query())), K).collect()
    (1 to 4).foreach { _ => val (t, m) = warm.query(); searcher.topKLocal(t, m, K) }
  }

  private def toBatch(qid: Long, q: (Seq[String], String)) = Searcher.BatchQuery(qid, q._1, q._2)

  def step(): Unit = {
    val op = ctx.tracer.newOp()
    val batch = (1 to BatchSize).map { _ => nextQid += 1; toBatch(nextQid, gen.query()) }
    ctx.op("batch") {
      val (rows, s) = Stats.time(ctx.call(group("batch"), "Searcher.topKBatch", op)(
        searcher.topKBatch(batch, K).select("qid", "rank").as[(Long, Long)].collect()))
      batchS += s
      ctx.log(f"$tag batch ${batchS.xs.length}: $s%.3f s")
      ctx.check(rows.forall { case (q, r) => r >= 1 && r <= K && q > batch.head.qid - 1 && q <= batch.last.qid },
        "batch returned a rank or qid out of range")
    }
    (1 to AdhocPerCycle).foreach { _ =>
      val (terms, mode) = gen.query()
      val aop = ctx.tracer.newOp()
      ctx.op("adhoc") {
        val (hits, s) = Stats.time(ctx.call(group("adhoc"), "Searcher.topKLocal", aop)(
          searcher.topKLocal(terms, mode, K)))
        adhocS += s
        ctx.check(hits.length <= K && hits.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
          s"ad-hoc result not a ranked top-$K")
      }
    }
  }

  def reset(): Unit = { batchS.clear(); adhocS.clear() }

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> BatchSize / batchS.p50,
    "latency_p50_ms" -> adhocS.p50 * 1e3,
    "latency_p90_ms" -> adhocS.p90 * 1e3,
    "index_bytes_per_text_byte" -> bytesRatio)

  def named: Seq[(String, Double, String)] = Seq(
    ("batch_qps", BatchSize / batchS.p50, "1/s"),
    ("adhoc_p50_ms", adhocS.p50 * 1e3, "ms"),
    ("adhoc_p90_ms", adhocS.p90 * 1e3, "ms"),
    ("adhoc_samples", adhocS.xs.length.toDouble, "count"),
    ("batch_samples", batchS.xs.length.toDouble, "count"))

  def layers: Map[String, Double] = {
    val b = snap("batch")
    val a = snap("adhoc")
    val nb = math.max(1L, b.calls).toDouble
    val na = math.max(1L, a.calls).toDouble
    val probeQs = {
      val g = new QueryGen(ctx.seed ^ 0x9e37)
      Seq.fill(3 * QueryGen.Base.length)(g.query())
    }
    val dfofMs = probeQs.map { case (t, _) =>
      Stats.time(ctx.call(group("dfof"), "Searcher.dfOf", ctx.tracer.newOp())(searcher.dfOf(t)))._2 * 1e3
    }
    val w = Probes.codecWand(ctx, searcher, indexDir, probeQs, K)
    Map(
      "functions.codec_decode_mb_per_s" -> w.decodeMbPerS,
      "query.dfof_ms" -> Stats.median(dfofMs),
      "query.jobs_per_adhoc" -> a.jobs / na,
      "query.tasks_per_adhoc" -> a.tasks / na,
      "query.batch_task_s" -> b.taskS / nb,
      "query.batch_shuffle_mb" -> (b.shuffleWriteMb + b.shuffleReadMb) / nb,
      "query.batch_skew" -> b.widestSkew,
      "query.wand_us_per_query" -> w.wandUsPerQuery,
      "query.postings_per_hit" -> w.postingsPerHit)
  }

  /** Fixed query sample: engine top-10 ≡ exhaustive BM25, and the
    * driver-local path ≡ the batch path, query by query.
    */
  def verify(): Unit = {
    val g = new java.util.SplittableRandom(ctx.seed ^ 0x7a11)
    val sample = Seq(
      (Seq(s"w${20 + g.nextInt(200)}", s"w${500 + g.nextInt(2000)}"), "or"),
      (Seq(s"w${200 + g.nextInt(300)}", s"rareterm${g.nextInt(1009)}"), "or"),
      (Seq(s"w${g.nextInt(10)}", s"w${20 + g.nextInt(100)}"), "and"),
      (Seq(s"w${g.nextInt(20)}", s"w${20 + g.nextInt(50)}", s"w${70 + g.nextInt(100)}"), "and"))
    val corpus = spark.read.parquet(s"$indexDir/docs").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val oracle = sample.map { case (t, m) => Future(NaiveBm25.topK(corpus, t, m, K)) }
    val batch = searcher.topKBatch(sample.zipWithIndex.map { case (q, i) => toBatch(i, q) }, K)
      .select("qid", "doc_id", "score", "rank").as[(Long, Long, Double, Long)].collect()
    sample.zipWithIndex.foreach { case ((t, m), i) =>
      val b = batch.filter(_._1 == i).sortBy(_._4).map(r => (r._2, r._3)).toSeq
      val l = searcher.topKLocal(t, m, K)
      val o = Await.result(oracle(i), Duration.Inf).map(s => (s.docId, s.score))
      ctx.check(same(l, b), s"topKLocal ≠ topKBatch for $m$t: $l vs $b")
      ctx.check(same(b, o), s"topKBatch ≠ NaiveBm25 for $m$t: $b vs $o")
    }
  }

  private def same(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s1))
    }

  def teardown(): Unit = { spark.catalog.clearCache(); searcher = null }
}
