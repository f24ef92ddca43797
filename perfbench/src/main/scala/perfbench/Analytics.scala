package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import graft.SparkEntry
import graft.index.IndexBuilder

/** Analytics: one sweep of the engine's gate queries (`SparkEntry.queries`)
  * per cycle, in seed-permuted order, over the fixture tables in
  * `perfbench/fixtures/sf0.001`. Drives `operators/`, `query.Facets`, the
  * `QueryString` front end and `Search`; each query's result is written
  * as parquet, and `run.py` compares it with the query's `oracleSql`
  * text in DuckDB after the run (untimed).
  *
  * The sweep is a fixed list of queries (`Sweep`, or a third of each kind
  * of it for the small instance), so its timings compare like for like
  * across commits. It holds the queries whose inputs are
  * the fixture tables and the main gate index. `SparkEntry` caches that
  * index under a fixed path outside the checkout; set-up builds it here
  * with the gate's own build config and registers it in `SparkEntry`'s
  * index cache, so no query writes outside the run's scratch root.
  */
final class Analytics(ctx: Ctx, tag: String, fixtures: String, small: Boolean) extends Workload(ctx, tag) {
  import ctx.spark

  val sweep: Seq[String] =
    if (!small) Analytics.Sweep
    else Analytics.Sweep.groupBy(Analytics.kind).values.flatMap(_.zipWithIndex.collect {
      case (n, i) if i % 3 == 0 => n
    }).toSeq.sorted

  private var indexDir: String = _
  private var outDir: String = _
  private var bytesRatio = Double.NaN
  private var order: Seq[String] = _
  private val sweepS = new Samples
  private val queryS = new Samples
  private val byKind = mutable.Map.empty[String, Samples]

  private def gateIndexCache: TrieMap[String, String] = Analytics.field("indexDirs")

  def setup(): Unit = {
    indexDir = ctx.freshDir("analytics-index")
    val pages = SparkEntry.documentsAsPages(spark, fixtures)
    IndexBuilder.build(spark, pages, indexDir, Analytics.field[IndexBuilder.BuildConfig]("GateConfig"))
    gateIndexCache.put(fixtures, indexDir)
    bytesRatio = ctx.dirBytes(indexDir).toDouble / ctx.textBytes(pages)
    // the tables the sweep reads, opened once so the first query of each
    // does not pay the file listing and footer reads
    Seq("documents", "embeddings", "events", "customer", "orders")
      .foreach(t => spark.read.parquet(s"$fixtures/$t.parquet").count())
    val rnd = new scala.util.Random(ctx.seed)
    order = rnd.shuffle(sweep)
  }

  def step(): Unit = {
    ctx.reap(outDir)
    outDir = ctx.freshDir("analytics-out")
    val queries = SparkEntry.queries
    val kinds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val t0 = System.nanoTime()
    order.foreach { name =>
      val op = ctx.tracer.newOp()
      ctx.op(name) {
        val s = Stats.time(ctx.call(group("query"), s"SparkEntry.$name", op)(
          queries(name)(spark, fixtures).coalesce(1).write.parquet(s"$outDir/$name")))._2
        queryS += s
        kinds(Analytics.kind(name)) += s
      }
    }
    sweepS += (System.nanoTime() - t0) / 1e9
    kinds.foreach { case (k, s) => byKind.getOrElseUpdate(k, new Samples) += s }
    ctx.log(f"$tag sweep ${sweepS.xs.length}: ${sweepS.xs.last}%.2f s")
  }

  def reset(): Unit = { sweepS.clear(); queryS.clear(); byKind.clear() }

  def endToEnd: Map[String, Double] = Map(
    "throughput_per_s" -> sweep.length / sweepS.p50,
    "latency_p50_ms" -> queryS.p50 * 1e3,
    "latency_p90_ms" -> queryS.p90 * 1e3,
    "index_bytes_per_text_byte" -> bytesRatio)

  def named: Seq[(String, Double, String)] = Seq(
    ("gate_total_s", sweepS.p50, "s"),
    ("sweeps", sweepS.xs.length.toDouble, "count"))

  def layers: Map[String, Double] = {
    val q = snap("query")
    val n = math.max(1.0, q.calls.toDouble / sweep.length)
    Analytics.Kinds.map(k => s"analytics.${k}_s" -> byKind.get(k).map(_.p50).getOrElse(0.0)).toMap ++ Map(
      "analytics.gate_total_s" -> sweepS.p50,
      "analytics.jobs" -> q.jobs / n,
      "analytics.tasks" -> q.tasks / n)
  }

  /** The oracle texts of the last sweep's queries go next to their
    * outputs; `run.py` runs them in DuckDB over the same fixture tables.
    */
  def verify(): Unit = if (outDir != null) {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(sweep.map(n => n -> sql(n))))
    ctx.oracleChecks += outDir
  }

  def teardown(): Unit = {
    gateIndexCache.remove(fixtures)
    ctx.reap(indexDir); indexDir = null
  }
}

object Analytics {
  val Kinds = Seq("bm25", "qs", "facet", "dedup", "ann", "other")

  def kind(name: String): String =
    if (name.startsWith("q_bm25_")) "bm25"
    else if (name.startsWith("q_qs_")) "qs"
    else if (name.startsWith("q_facet_") || name.startsWith("q_significant_")) "facet"
    else if (name.contains("dedup")) "dedup"
    else if (name.startsWith("q_ann_")) "ann"
    else "other"

  /** A private field of `SparkEntry` (its gate index cache and build config). */
  private def field[T](name: String): T = {
    val f = Class.forName("graft.SparkEntry$").getDeclaredField(name)
    f.setAccessible(true)
    f.get(null).asInstanceOf[T]
  }

  /** Every gate query whose inputs are the fixture tables and the main
    * gate index. Left out: the ones over other prebuilt fixtures
    * (segment splits, the title field, upsert/deleted/purged/compacted
    * families, IVF indexes), which `SparkEntry` caches outside the run's
    * scratch root.
    */
  val Sweep: Seq[String] = Seq(
    // fulltext over the gate index
    "q_doc_stats", "q_corpus_stats", "q_term_stats", "q_posting_decode",
    "q_bm25_topk_or", "q_bm25_topk_and", "q_bm25_filtered_kw", "q_bm25_filtered_adhoc",
    "q_bm25_filtered_src", "q_bm25_filtered_num", "q_bm25_filtered_date", "q_bm25_rescore",
    "q_bm25_collapse", "q_bm25_phrase_prefix", "q_bm25_synonym", "q_bm25_boost",
    "q_bm25_dismax", "q_bm25_scan", "q_bm25_batch", "q_bm25_msm", "q_bm25_terms_set",
    "q_bm25_page2", "q_bm25_explain", "q_bm25_fuzzy", "q_bm25_prefix", "q_bm25_wildcard",
    "q_bm25_must_not", "q_bm25_phrase", "q_bm25_slop", "q_bm25_slop3",
    "q_sort_ts", "q_match_count", "q_suggest", "q_phrase_suggest", "q_mlt", "q_top_hits",
    "q_top_metrics", "q_hybrid_rrf", "q_hybrid_linear",
    "q_qs_bool", "q_qs_nested", "q_qs_filter",
    "q_facet_hist", "q_facet_lang", "q_facet_src", "q_facet_len", "q_facet_src_day",
    "q_facet_qs", "q_facet_stats", "q_facet_sampler", "q_facet_rare", "q_facet_wavg",
    "q_facet_mad", "q_facet_date_range", "q_facet_bucket_sel", "q_facet_matrix",
    "q_facet_extstats", "q_facet_autohist", "q_facet_pct_ranks", "q_facet_pct",
    "q_facet_pct_log", "q_facet_range", "q_facet_cardinality", "q_facet_cumsum",
    "q_facet_deriv", "q_facet_multi_terms", "q_facet_terms_stats", "q_facet_filters",
    "q_facet_adjacency", "q_facet_day_stats", "q_facet_terms_card", "q_facet_movavg",
    "q_facet_composite_page", "q_significant_src", "q_significant_text",
    // table operators
    "q_sample_split", "q_sample_strat", "q_pack_shards", "q_decontaminate", "q_dict_join",
    "q_lww_dedup", "q_anti_join", "q_set_except", "q_time_bucket", "q_checkpoint_top1",
    "q_enum_decode", "q_ts_parse", "q_date_filter", "q_hex_roundtrip", "q_connstr_parse",
    "q_normalize", "q_monotonic_id", "q_window_rank",
    // training-data operators
    "q_pii_redact", "q_quality_repetition", "q_dedup_chunks", "q_dedup_spans",
    "q_dedup_spans_clean", "q_percolate", "q_lm_score", "q_url_dedup", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_components", "q_dedup_simhash",
    "q_dedup_embed", "q_quantize_roundtrip", "q_ann_bruteforce", "q_lang_id",
    "q_text_quality", "q_fingerprint", "q_cosine_expr", "q_variant_render",
    "q_epoch_decode", "q_template_expand", "q_media_meta", "q_media_pixels", "q_media_frames")
}
