package perfbench

import org.apache.spark.sql.functions._
import graft.functions.{Analyzer, Codec}
import graft.index.IndexBuilder
import graft.query.{BlockMaxWand, NaiveBm25, Searcher}
import graft.query.BlockMaxWand.{BlockRef, PostingIter}
import graft.sources.HtmlText

/** Timings of single engine functions, called on the Spark driver with
  * inputs the workloads produced. Each probe repeats its pass until it
  * has run for at least `MinSecs`, so the per-item time is a mean over
  * many calls.
  */
object Probes {
  val MinSecs = 0.3

  private def repeat(body: => Unit): (Int, Double) = {
    var passes = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (passes == 0 || el < MinSecs) {
      body
      passes += 1
      el = (System.nanoTime() - t0) / 1e9
    }
    (passes, el)
  }

  /** µs per doc of `HtmlText.extract` and of `Analyzer.termPositions`. */
  def extractAnalyze(ctx: Ctx, sample: Array[(Array[Byte], String)]): (Double, Double) = {
    var sink = 0L
    ctx.check(sample.forall { case (h, t) => HtmlText.extract(h) == t }, "html extract ≠ stored text")
    val op = ctx.tracer.newOp()
    val (pe, se) = ctx.tracer.span("HtmlText.extract", op)(repeat {
      sample.foreach { case (h, _) => sink += HtmlText.extract(h).length }
    })
    val (pa, sa) = ctx.tracer.span("Analyzer.termPositions", op)(repeat {
      sample.foreach { case (_, t) => sink += Analyzer.termPositions(t)._1 }
    })
    if (sink == 42) println() // keep the results live
    (se / pe / sample.length * 1e6, sa / pa / sample.length * 1e6)
  }

  final case class WandProbe(decodeMbPerS: Double, wandUsPerQuery: Double, postingsPerHit: Double)

  /** Reads the posting blocks of `queries` with `IndexBuilder.readPostings`,
    * then times `Codec` decoding of those blocks and the `BlockMaxWand`
    * walk of each query over them.
    */
  def codecWand(ctx: Ctx, searcher: Searcher, indexDir: String,
      queries: Seq[(Seq[String], String)], k: Int): WandProbe = {
    val spark = ctx.spark
    val terms = queries.flatMap(_._1).distinct
    val dfs = searcher.dfOf(terms)
    val n = searcher.stats.n_docs
    val avgDl = if (searcher.stats.avg_dl > 0) searcher.stats.avg_dl else 1.0
    val rows = IndexBuilder.readPostings(spark, indexDir)
      .where(col("term").isin(terms: _*))
      .select("slice", "term", "block_id", "doc_id_min", "doc_id_max", "count",
        "deltas", "tfs", "dls", "poss", "max_impact")
      .collect()
    // term → slice → blocks in doc order
    val blocks: Map[String, Map[Int, Array[BlockRef]]] =
      rows.groupBy(_.getString(1)).map { case (t, rs) =>
        t -> rs.groupBy(_.getInt(0)).map { case (s, srs) =>
          s -> srs.sortBy(r => (r.getLong(3), r.getInt(2))).map(r => BlockRef(
            r.getLong(3), r.getLong(4), r.getInt(5), r.getAs[Array[Byte]](6),
            r.getAs[Array[Byte]](7), r.getAs[Array[Byte]](8), r.getAs[Array[Byte]](9), r.getDouble(10)))
        }
      }
    val all = blocks.values.flatMap(_.values.flatten).toArray
    val op = ctx.tracer.newOp()

    var sink = 0L
    val bytes = all.map(b => b.deltas.length.toLong + b.tfs.length + b.dls.length).sum
    val (pd, sd) = ctx.tracer.span("Codec.decode", op)(repeat {
      all.foreach { b =>
        sink += Codec.decodeGapsFromBase(b.docIdMin, b.deltas, b.count).length
        sink += Codec.decodeIntsAuto(b.tfs, b.count).length
        sink += Codec.decodeIntsAuto(b.dls, b.count).length
      }
    })

    def walk(ts: Seq[String], mode: String): Array[BlockMaxWand.Hit] = {
      val qt = ts.distinct
      val idfs = qt.map(t => NaiveBm25.idf(n, dfs.getOrElse(t, 0L)))
      val slices = qt.flatMap(t => blocks.get(t).toSeq.flatMap(_.keys)).distinct
      slices.flatMap { s =>
        val iters = qt.zipWithIndex.flatMap { case (t, i) =>
          blocks.get(t).flatMap(_.get(s)).map(refs => new PostingIter(i, idfs(i), refs, avgDl))
        }.toArray
        if (mode == "and") {
          if (iters.length < qt.length) Nil else BlockMaxWand.and(iters, k).toSeq
        } else BlockMaxWand.or(iters, k).toSeq
      }.sortBy(h => (-h.score, h.docId)).take(k).toArray
    }
    val hits = queries.map { case (t, m) => walk(t, m).length }.sum
    val examined = queries.map { case (t, _) =>
      t.distinct.flatMap(x => blocks.get(x).toSeq.flatMap(_.values.flatten)).map(_.count.toLong).sum
    }.sum
    val (pw, sw) = ctx.tracer.span("BlockMaxWand.walk", op)(repeat {
      queries.foreach { case (t, m) => sink += walk(t, m).length }
    })
    if (sink == 42) println()
    WandProbe(
      bytes * pd / sd / 1048576.0,
      sw / pw / queries.length * 1e6,
      examined.toDouble / math.max(1, hits))
  }
}
