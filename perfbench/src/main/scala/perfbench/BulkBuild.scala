package perfbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.Page
import graft.index.IndexBuilder

/** Bulk build: one index from a staged parquet corpus per cycle. Drives
  * `sources` (html extract), `functions` (analyzer, codec encode) and
  * `index.IndexBuilder`; leaves `query/` idle.
  */
final class BulkBuild(ctx: Ctx, tag: String, nDocs: Int, salt: Int) extends Workload(ctx, tag) {
  import ctx.spark

  private var pages: Dataset[Page] = _
  private var corpusDir: String = _
  private var textBytes = 0L
  private val buildS = new Samples
  private var bytesRatio = Double.NaN
  private var postingsMb = 0.0
  private val hashes = scala.collection.mutable.LinkedHashSet.empty[String]

  def setup(): Unit = {
    val (p, dir) = ctx.stagePages(nDocs, salt)
    pages = p; corpusDir = dir
    textBytes = ctx.textBytes(p)
  }

  /** Untimed builds, so the window's builds run JIT-compiled code. */
  override def warmup(): Unit = (1 to 2).foreach { _ =>
    val dir = ctx.freshDir("index")
    try IndexBuilder.build(spark, pages, dir, ctx.buildCfg) finally ctx.reap(dir)
  }

  def step(): Unit = {
    val op = ctx.tracer.newOp()
    val dir = ctx.freshDir("index")
    try {
      val built = ctx.op("build") {
        Stats.time(ctx.call(group("build"), "IndexBuilder.build", op)(
          IndexBuilder.build(spark, pages, dir, ctx.buildCfg)))._2
      }
      built.foreach { s =>
        buildS += s
        ctx.log(f"$tag build ${buildS.xs.length}: $s%.2f s")
        // gates (untimed): corpus size, and identical postings bytes
        // for every build of this seed
        val st = IndexBuilder.readStats(spark, dir)
        ctx.check(st.n_docs == nDocs, s"n_docs ${st.n_docs} != corpus size $nDocs")
        hashes += ctx.postingsHash(dir)
        ctx.check(hashes.size == 1, s"postings hash differs between builds: $hashes")
        bytesRatio = ctx.dirBytes(dir).toDouble / textBytes
        if (ctx.listener != null)
          postingsMb += IndexBuilder.readMetrics(spark, dir).agg(sum(col("bytes"))).head().getLong(0) / 1048576.0
      }
    } finally ctx.reap(dir)
  }

  def reset(): Unit = { buildS.clear(); postingsMb = 0.0 }

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> Stats.median(buildS.xs.map(nDocs / _).toSeq),
    "latency_p50_ms" -> buildS.p50 * 1e3,
    "latency_p90_ms" -> buildS.p90 * 1e3,
    "index_bytes_per_text_byte" -> bytesRatio)

  def named: Seq[(String, Double, String)] = Seq(
    ("build_docs_per_s", endToEnd("throughput_per_s"), "1/s"),
    ("index_bytes_per_text_byte", bytesRatio, "B/B"),
    ("build_samples", buildS.xs.length.toDouble, "count"))

  def layers: Map[String, Double] = {
    val b = snap("build")
    val n = math.max(1L, b.calls).toDouble
    val sample = pages.select("html", "text").limit(2000).collect().map(r => (r.getAs[Array[Byte]](0), r.getString(1)))
    val (extractUs, analyzerUs) = Probes.extractAnalyze(ctx, sample)
    Map(
      "sources.extract_us_per_doc" -> extractUs,
      "functions.analyzer_us_per_doc" -> analyzerUs,
      "index.build_s" -> buildS.p50,
      "index.task_s" -> b.taskS / n,
      "index.cpu_s" -> b.cpuS / n,
      "index.gc_s" -> b.gcS / n,
      "index.shuffle_write_mb" -> b.shuffleWriteMb / n,
      "index.spill_mb" -> b.spillMb / n,
      "index.stage_skew" -> b.widestSkew,
      "index.denseid_task_s" -> b.denseIdTaskS / n,
      "index.postings_task_s" -> b.postingsTaskS / n,
      "index.jobs" -> b.jobs / n,
      "index.tasks" -> b.tasks / n,
      "index.postings_mb" -> postingsMb / n)
  }

  def verify(): Unit = ctx.checkStamp(s"$tag-postings-$nDocs", hashes.headOption.getOrElse("none"))

  def teardown(): Unit = { ctx.reap(corpusDir); corpusDir = null }
}
