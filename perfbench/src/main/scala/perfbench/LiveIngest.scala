package perfbench

import scala.collection.mutable
import graft.Page
import graft.index.{SegmentFamily, Tombstones}
import graft.sources.{HtmlText, PagesGen}

/** Live ingest: seeded micro-batches upserted into a `SegmentFamily`,
  * half new urls and half new versions of earlier ones. Each upsert is
  * followed by a visibility check, `maybeCompact`, and a fixed number of
  * `MultiSearcher.topK` queries. One `step` is one whole compaction cycle
  * (`MergeFactor` upserts), so a run always ends on a cycle boundary.
  *
  * Every doc version carries a unique marker token, so a query for
  * markers proves which versions the family returns.
  */
final class LiveIngest(ctx: Ctx, tag: String, batchDocs: Int, salt: Int) extends Workload(ctx, tag) {
  import ctx.spark
  import spark.implicits._

  val MergeFactor = 4
  val QueriesPerUpsert = 2
  val Checked = 3
  val K = 10

  private var root: String = _
  private var rnd: java.util.SplittableRandom = _
  private var gen: QueryGen = _
  private val version = mutable.LinkedHashMap.empty[Long, Int]
  private var ids: mutable.ArrayBuffer[Long] = _
  private var nextNew = 0L
  private var batchNo = 0
  private val knownDirs = mutable.HashSet.empty[String]

  private val upsertS = new Samples
  private val compactS = new Samples
  private val visibleS = new Samples
  private val queryS = new Samples
  private val segsAtQuery = new Samples
  private var upsertDocs = 0L
  private var newSegBytes = 0L
  private var newSegText = 0L
  private var mergedBytes = 0L
  private var merges = 0

  private def marker(id: Long, v: Int) = s"mk${id}v$v"

  private def pageOf(id: Long, v: Int): Page = {
    val p = PagesGen.pageFor(id)
    val text = p.text + " " + marker(id, v)
    Page(p.url, p.warc_ts, HtmlText.wrap(p.url, text), text, p.lang)
  }

  private def upsert(pages: Seq[Page], op: Long): Double = {
    batchNo += 1
    val seg = s"seg-$batchNo"
    val ds = spark.createDataset(pages)
    val s = Stats.time(ctx.call(group("upsert"), "SegmentFamily.upsert", op)(
      SegmentFamily.upsert(spark, root, ds, seg, ctx.segmentCfg)))._2
    knownDirs += s"$root/$seg"
    newSegBytes += ctx.dirBytes(s"$root/$seg")
    newSegText += pages.map(_.text.getBytes("UTF-8").length.toLong).sum
    s
  }

  def setup(): Unit = {
    root = ctx.freshDir("family")
    rnd = new java.util.SplittableRandom(ctx.seed)
    gen = new QueryGen(ctx.seed ^ 0x11fe)
    version.clear(); knownDirs.clear(); batchNo = 0
    nextNew = ctx.rowOffset(salt)
    // base segment: the urls the first updates replace; as large as one
    // cycle's merge output, so it never joins a first-tier merge
    val base = (0 until MergeFactor * batchDocs).map { _ => nextNew += 1; nextNew }
    base.foreach(version(_) = 1)
    ids = mutable.ArrayBuffer.from(base)
    upsert(base.map(pageOf(_, 1)), ctx.tracer.newOp())
    SegmentFamily.maybeCompact(spark, root, MergeFactor)
    newSegBytes = 0L; newSegText = 0L
  }

  /** OR-query the markers; the family must return exactly the `want` ones. */
  private def checkMarkers(want: Seq[String], gone: Seq[String], op: Long, when: String): Boolean = {
    val fam = SegmentFamily.searcher(spark, root)
    val hits = ctx.call(group("check"), "MultiSearcher.topK", op)(
      fam.topK(want ++ gone, "or", K).collect())
    ctx.check(hits.length == want.length,
      s"$when: ${hits.length} hits for ${want.length} new versions (old versions must be tombstoned)")
  }

  def step(): Unit = (1 to MergeFactor).foreach(_ => upsertCycle(QueriesPerUpsert))

  override def warmup(): Unit = upsertCycle(1)

  /** One upsert, its visibility check, compaction and `queries` reads. */
  private def upsertCycle(queries: Int): Unit = {
    val op = ctx.tracer.newOp()
    val nUpd = batchDocs / 2
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < nUpd) upd += ids(rnd.nextInt(ids.length))
    val fresh = (0 until batchDocs - nUpd).map { _ => nextNew += 1; nextNew }
    val old = upd.toSeq.map(id => id -> version(id))
    upd.foreach(id => version(id) += 1)
    fresh.foreach(version(_) = 1)
    ids ++= fresh
    val pages = (upd.toSeq ++ fresh).map(id => pageOf(id, version(id)))
    val checked = old.take(Checked)
    val want = checked.map { case (id, v) => marker(id, v + 1) }
    val gone = checked.map { case (id, v) => marker(id, v) }

    ctx.op("upsert") {
      val t0 = System.nanoTime()
      upsertS += upsert(pages, op)
      upsertDocs += pages.length
      if (checkMarkers(want, gone, op, "after upsert")) visibleS += (System.nanoTime() - t0) / 1e9
    }
    var merged = false
    ctx.op("compact") {
      val before = SegmentFamily.read(root).length
      compactS += Stats.time(ctx.call(group("compact"), "SegmentFamily.maybeCompact", op)(
        SegmentFamily.maybeCompact(spark, root, MergeFactor)))._2
      val segs = SegmentFamily.read(root)
      val made = segs.map(_.dir).filterNot(knownDirs)
      merges += made.length
      made.foreach { d => knownDirs += d; mergedBytes += ctx.dirBytes(d) }
      merged = made.nonEmpty
      ctx.check(made.isEmpty == (segs.length == before), "manifest changed without a merge output")
    }
    val fam = SegmentFamily.searcher(spark, root)
    val nSegs = SegmentFamily.read(root).length
    (1 to queries).foreach { _ =>
      val (terms, mode) = gen.query()
      val qop = ctx.tracer.newOp()
      ctx.op("family query") {
        val (hits, s) = Stats.time(ctx.call(group("query"), "MultiSearcher.topK", qop)(
          fam.topK(terms, mode, K).collect()))
        queryS += s
        segsAtQuery += nSegs
        ctx.check(hits.length <= K, "family query returned more than k hits")
      }
    }
    if (merged) checkMarkers(want, gone, op, "after compaction")
    ctx.log(f"$tag batch $batchNo: upsert ${upsertS.xs.lastOption.getOrElse(0.0)}%.2f s, " +
      f"compact ${compactS.xs.lastOption.getOrElse(0.0)}%.2f s, $nSegs segs, query p50 ${queryS.p50 * 1e3}%.0f ms")
  }

  def reset(): Unit = {
    Seq(upsertS, compactS, visibleS, queryS, segsAtQuery).foreach(_.clear())
    upsertDocs = 0; newSegBytes = 0; newSegText = 0; mergedBytes = 0; merges = 0
  }

  private def ingestRate = upsertDocs / (upsertS.xs.sum + compactS.xs.sum)

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> ingestRate,
    "latency_p50_ms" -> queryS.p50 * 1e3,
    "latency_p90_ms" -> queryS.p90 * 1e3,
    "index_bytes_per_text_byte" -> newSegBytes.toDouble / newSegText)

  def named: Seq[(String, Double, String)] = Seq(
    ("ingest_docs_per_s", ingestRate, "1/s"),
    ("visible_p50_s", visibleS.p50, "s"),
    ("fresh_query_p50_ms", queryS.p50 * 1e3, "ms"),
    ("fresh_query_p90_ms", queryS.p90 * 1e3, "ms"),
    ("fresh_query_samples", queryS.xs.length.toDouble, "count"),
    ("upserts", upsertS.xs.length.toDouble, "count"))

  def layers: Map[String, Double] = {
    val u = snap("upsert")
    val q = snap("query")
    val nq = math.max(1L, q.calls).toDouble
    Map(
      "family.upsert_s" -> upsertS.p50,
      "family.compact_s" -> compactS.xs.sum / math.max(1, merges),
      "family.compactions" -> merges.toDouble,
      "family.write_amp" -> mergedBytes.toDouble / math.max(1L, newSegBytes),
      "family.jobs_per_upsert" -> u.jobs / math.max(1L, u.calls).toDouble,
      "family.tombstoned_docs" -> SegmentFamily.read(root).map(s => Tombstones.count(s.dir)).sum.toDouble,
      "family.segments_at_query" -> Stats.mean(segsAtQuery.xs.toSeq),
      "query.ms_per_segment" -> Stats.mean(queryS.xs.zip(segsAtQuery.xs).map { case (s, n) => s * 1e3 / n }.toSeq),
      "query.jobs_per_family_query" -> q.jobs / nq)
  }

  /** The gates run inside every cycle; at the end, every live url must
    * resolve to its latest version only.
    */
  def verify(): Unit = {
    val fam = SegmentFamily.searcher(spark, root)
    val sample = version.iterator.filter(_._2 > 1).take(8).toSeq
    if (sample.nonEmpty) {
      val hits = fam.topK(sample.map { case (id, v) => marker(id, v) } ++
        sample.map { case (id, v) => marker(id, v - 1) }, "or", K).collect()
      ctx.check(hits.length == sample.length, s"final family returns ${hits.length} of ${sample.length} latest versions")
    }
  }

  def teardown(): Unit = { ctx.reap(root); root = null }
}
