package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, IndexBuilder}
import graft.query.BlockMaxWand.PostingIter
import graft.query.Search.QueryHit

/** Every retrieval walk shape, written ONCE over a [[PostingSource]] — a
  * single index (one segment at base 0), a segment family, or (fielded
  * shapes) one source per field. [[Search]], [[MultiSearcher]],
  * [[FieldedSearch]] and [[QueryString]] are thin front-ends onto these.
  *
  * Common plan (scale-first — nothing term-sized reaches the driver):
  * dictionary lookup of the ≤ few query terms (memoized per source),
  * pushdown-filtered posting scan, ONE exchange of the matched blocks by
  * (segment, slice), a per-slice walk, and an nSlices·k merge (or a full
  * streamed match set for exports). Scores are corpus-global BM25;
  * filter context, must_not and tombstones compose the same way in every
  * shape ([[PostingSource.Slice.filter]]).
  */
object Walks {

  private def noHits(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[QueryHit].toDF()
  }

  private def ranked(hits: Dataset[QueryHit], k: Int): DataFrame =
    hits.toDF().orderBy(desc("score"), asc("doc_id")).limit(k)

  /** Phrase → (distinct terms in first-occurrence order, per-distinct
    * term its phrase positions).
    */
  private def offsetsOf(phrase: Seq[String]): (Array[String], Array[Array[Int]]) = {
    val distinct = phrase.distinct
    (distinct.toArray, distinct.map { t =>
      phrase.zipWithIndex.collect { case (pt, i) if pt == t => i }.toArray
    }.toArray)
  }

  /** OR/AND block-max WAND top-k. See [[Search.topK]] for the option
    * contract (filter context, must_not, msm, search_after, boosts,
    * terms_set). `searchAfter` is a GLOBAL (score, doc_id) cursor.
    */
  def topK(
      src: PostingSource,
      queryTerms: Seq[String],
      mode: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      searchAfter: (Double, Long) = null,
      boosts: Seq[Double] = null,
      msmField: String = null
  ): DataFrame = {
    require(msmField == null || mode != "and", "terms_set (msmField) is OR-mode only")
    require(boosts == null || boosts.size == queryTerms.size,
      "boosts must align 1:1 with queryTerms")
    require(boosts == null || boosts.forall(_ > 0.0), "boosts must be positive")
    val spark = src.spark
    import spark.implicits._
    // ES term boost multiplies the term's whole score contribution —
    // folded into the per-term idf so block-max bounds scale with it
    val boostOf: Map[String, Double] =
      if (boosts == null) Map.empty.withDefaultValue(1.0)
      else queryTerms.zip(boosts).toMap.withDefaultValue(1.0)
    val terms = queryTerms.distinct
    val dfs = src.dfOf(terms)
    val isAnd = mode == "and"
    val present = terms.filter(dfs.contains)
    if ((isAnd && present.size < terms.size) || present.isEmpty || present.size < minShouldMatch)
      return noHits(spark)
    val qTerms = terms.toArray
    val idfs = terms.map(t => boostOf(t) * src.idf(dfs.getOrElse(t, 0L))).toArray
    // a term in BOTH must and must_not excludes its own matches (ES bool
    // semantics): the exclusion cursor is separate, over the same blocks
    val exTerms = mustNot.distinct
    val msm = minShouldMatch
    val msmF = msmField
    val after = searchAfter
    ranked(src.walk(present ++ exTerms, attrFilter, docFilter) { s =>
      val iters = s.iters(qTerms, idfs, all = isAnd)
      if (iters.isEmpty) Iterator.empty
      else {
        val filter = s.filter(exTerms)
        val afterHit =
          if (after == null) null else BlockMaxWand.Hit(after._2 - s.docBase, after._1)
        // terms_set: per-doc required count streams from the slice's own
        // sidecar (monotone cursor — scored pivots strictly increase)
        val msmOf: Long => Int =
          if (msmF == null) null
          else {
            val r = s.reader()
            val fi = r.numIndex(msmF) // loud on undeclared
            id =>
              if (r.seek(id)) {
                // a required count above Int.MaxValue must clamp, not wrap
                // negative (that would turn "required" into "any one term")
                val v = r.numValue(fi)
                if (v < 0L || v > Int.MaxValue.toLong) Int.MaxValue else v.toInt
              } else Int.MaxValue
          }
        val hits =
          if (isAnd) BlockMaxWand.and(iters, k, filter, afterHit)
          else BlockMaxWand.or(iters, k, filter, msm, afterHit, msmOf)
        hits.iterator.map(h => QueryHit(s.docBase + h.docId, h.score))
      }
    }, k)
  }

  /** Dictionary rewrite (prefix/fuzzy/wildcard/regexp `where`, df-desc
    * cap) then the OR WAND over the expansions — per-expansion idf (ES
    * scoring_boolean); the whole bool vocabulary composes because the
    * rewrite IS a bool query.
    */
  def rewriteTopK(
      src: PostingSource,
      where: Column,
      maxExpansions: Int,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    val exps = src.expand(where, maxExpansions)
    if (exps.isEmpty) noHits(src.spark)
    else topK(src, exps, "or", k, docFilter, attrFilter, mustNot)
  }

  /** Exact (slop 0) or sloppy phrase top-k — BlockMaxWand.phrase /
    * phraseSlop contract; idf summed over every phrase POSITION.
    */
  def phraseTopK(
      src: PostingSource,
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      slop: Int = 0
  ): DataFrame = {
    require(phraseTerms.nonEmpty, "empty phrase")
    require(slop >= 0, "negative slop")
    val spark = src.spark
    import spark.implicits._
    val (qTerms, offs) = offsetsOf(phraseTerms)
    // phrase position j → distinct-term index (slop > 0 path)
    val chain = phraseTerms.map(qTerms.indexOf(_)).toArray
    val dfs = src.dfOf(qTerms.toSeq)
    if (qTerms.exists(t => !dfs.contains(t))) return noHits(spark)
    val idfSum = phraseTerms.map(t => src.idf(dfs(t))).sum
    val exTerms = mustNot.distinct
    ranked(src.walk(qTerms.toSeq ++ exTerms, attrFilter, docFilter) { s =>
      val iters = s.iters(qTerms, all = true)
      if (iters.isEmpty) Iterator.empty
      else {
        val filter = s.filter(exTerms)
        val hits =
          if (slop == 0) BlockMaxWand.phrase(iters, offs, idfSum, k, filter)
          else BlockMaxWand.phraseSlop(iters, chain, slop, idfSum, k, filter)
        hits.iterator.map(h => QueryHit(s.docBase + h.docId, h.score))
      }
    }, k)
  }

  /** `match_phrase_prefix`: the last term expands in TERM order (Lucene
    * MultiPhraseQuery), one phrase walk per expansion over ONE scan and
    * exchange, each doc keeps its best expansion score.
    */
  def phrasePrefixTopK(
      src: PostingSource,
      phraseTerms: Seq[String],
      k: Int,
      maxExpansions: Int = 8,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(phraseTerms.nonEmpty, "empty phrase")
    require(maxExpansions >= 1, "maxExpansions must be positive")
    val spark = src.spark
    import spark.implicits._
    val exps = src.expand(PostingSource.prefix(phraseTerms.last), maxExpansions, termOrder = true)
    if (exps.isEmpty) return noHits(spark)
    val init = phraseTerms.init
    val dfs = src.dfOf(init ++ exps)
    // a missing non-last term empties every expansion
    if (init.exists(t => !dfs.contains(t))) return noHits(spark)
    val ctxs = exps.map { e =>
      val terms = init :+ e
      val (dt, offs) = offsetsOf(terms)
      (dt, offs, terms.map(t => src.idf(dfs(t))).sum)
    }.toArray
    val exTerms = mustNot.distinct
    src.walk((init ++ exps).distinct ++ exTerms, attrFilter, docFilter) { s =>
      ctxs.iterator.flatMap { case (qTerms, offs, idfS) =>
        val iters = s.iters(qTerms, all = true)
        if (iters.isEmpty) Iterator.empty
        else BlockMaxWand.phrase(iters, offs, idfS, k, s.filter(exTerms))
          .iterator.map(h => QueryHit(s.docBase + h.docId, h.score))
      }
    }.toDF()
      .groupBy($"doc_id")
      .agg(max($"score").as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** `dis_max` over term queries: best sub-score + tieBreaker · the rest.
    * Document-at-a-time (a max-combiner has no additive block bound).
    */
  def disMaxTopK(
      src: PostingSource,
      queryTerms: Seq[String],
      k: Int,
      tieBreaker: Double = 0.0,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, "tie_breaker in [0,1]")
    val spark = src.spark
    import spark.implicits._
    val terms = queryTerms.distinct
    val dfs = src.dfOf(terms)
    val present = terms.filter(dfs.contains)
    if (present.isEmpty) return noHits(spark)
    val qTerms = terms.toArray
    val idfs = terms.map(t => src.idf(dfs.getOrElse(t, 0L))).toArray
    val exTerms = mustNot.distinct
    val tb = tieBreaker
    ranked(src.walk(present ++ exTerms, attrFilter) { s =>
      val iters = s.iters(qTerms, idfs)
      if (iters.isEmpty) Iterator.empty
      else docAtATime(iters, s.filter(exTerms), k) { d =>
        var best = 0.0
        var total = 0.0
        iters.foreach { it =>
          if (!it.exhausted && it.doc == d) {
            val sc = it.score // idf · impact (idf carried per iter)
            total += sc
            if (sc > best) best = sc
          }
        }
        best + tb * (total - best)
      }.iterator.map(h => QueryHit(s.docBase + h.docId, h.score))
    }, k)
  }

  /** Query-time synonyms (Lucene SynonymQuery): each group scores as ONE
    * term — tf = Σ member tfs, df = MAX member df. Document-at-a-time;
    * `minShouldMatch` counts matched GROUPS.
    */
  def synonymTopK(
      src: PostingSource,
      groups: Seq[Seq[String]],
      mode: String,
      k: Int,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "empty synonym group")
    val spark = src.spark
    import spark.implicits._
    val gs = groups.map(_.distinct)
    val allTerms = gs.flatten.distinct
    val dfs = src.dfOf(allTerms)
    val isAnd = mode == "and"
    // a group is PRESENT if any member is; AND needs every group present
    val present = gs.map(_.exists(dfs.contains))
    if ((isAnd && !present.forall(identity)) || present.count(identity) < minShouldMatch)
      return noHits(spark)
    // max member df: members co-occur, a union would overstate rarity
    val idfs = gs.map(g => src.idf(g.map(dfs.getOrElse(_, 0L)).max)).toArray
    val qGroups = gs.map(_.toArray).toArray
    val exTerms = mustNot.distinct
    val msm = minShouldMatch
    val avgDl = src.avgDl
    ranked(src.walk(allTerms ++ exTerms, attrFilter) { s =>
      val members = qGroups.map(_.flatMap(t => s.iter(t)))
      if (members.forall(_.isEmpty) || (isAnd && members.exists(_.isEmpty))) Iterator.empty
      else docAtATime(members.flatten, s.filter(exTerms), k) { d =>
        var score = 0.0
        var matched = 0
        var g = 0
        while (g < members.length) {
          var tfSum = 0
          var dl = 0
          members(g).foreach { it =>
            if (!it.exhausted && it.doc == d) { tfSum += it.tf; dl = it.docLen }
          }
          if (tfSum > 0) {
            matched += 1
            score += idfs(g) * IndexBuilder.impact(tfSum, dl, avgDl)
          }
          g += 1
        }
        if (if (isAnd) matched == members.length else matched >= msm) score else Double.NaN
      }.iterator.map(h => QueryHit(s.docBase + h.docId, h.score))
    }, k)
  }

  /** Document-at-a-time walk with a k-heap and no block-max gate (for
    * combiners without a per-term additive bound): every allowed doc
    * some cursor sits on is scored by `scoreOf` while the cursors are
    * positioned on it; NaN rejects the doc.
    */
  private def docAtATime(iters: Array[PostingIter], filter: DocFilter, k: Int)(
      scoreOf: Long => Double): Array[BlockMaxWand.Hit] = {
    val top = new BlockMaxWand.TopK(k)
    def minDoc: Long = iters.foldLeft(Long.MaxValue)((m, it) => if (!it.exhausted && it.doc < m) it.doc else m)
    var d = minDoc
    while (d != Long.MaxValue) {
      if (filter == null || filter.contains(d)) {
        val sc = scoreOf(d)
        if (!sc.isNaN) top.offer(BlockMaxWand.Hit(d, sc))
      }
      iters.foreach(it => if (!it.exhausted && it.doc == d) it.next())
      d = minDoc
    }
    top.result
  }

  /** Field collapsing: top-k hits with at most ONE hit per value of a
    * declared keyword attr, exact (every group's best is found over the
    * FULL scored match set). Each task keeps one best hit per value — a
    * combiner capped at `valueCap` distinct values, beyond which NEW
    * values stream straight to the global winner-per-value window
    * (results identical; only the exchange grows).
    */
  def collapseTopK(
      src: PostingSource,
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      valueCap: Int = 1 << 20
  ): DataFrame = {
    require(valueCap > 0, "valueCap must be positive")
    val spark = src.spark
    import spark.implicits._
    val terms = queryTerms.distinct
    val dfs = src.dfOf(terms)
    val isAnd = mode == "and"
    val present = terms.filter(dfs.contains)
    if ((isAnd && present.size < terms.size) || present.isEmpty || present.size < minShouldMatch)
      return spark.emptyDataset[(String, Long, Double)].toDF(kwField, "doc_id", "score")
    val qTerms = terms.toArray
    val idfs = terms.map(t => src.idf(dfs.getOrElse(t, 0L))).toArray
    val exTerms = mustNot.distinct
    val msm = minShouldMatch
    val fld = kwField
    val vCap = valueCap
    val perSlice = src.walk(present ++ exTerms, attrFilter, docFilter) { s =>
      s.scoredMatches(qTerms, idfs, isAnd, msm, exTerms) match {
        case None => Iterator.empty
        case Some(matches) =>
          val reader = s.reader()
          val kwIdx = reader.kwIndex(fld)
          val best = scala.collection.mutable.HashMap.empty[String, (Long, Double)]
          val streamed = matches.flatMap { case (id, sc) =>
            if (!reader.seek(id)) Nil
            else {
              val v = reader.kwValue(kwIdx)
              val gid = s.docBase + id
              best.get(v) match {
                case Some((bid, bs)) =>
                  if (sc > bs || (sc == bs && gid < bid)) best.update(v, (gid, sc))
                  Nil
                case None =>
                  if (best.size < vCap) { best.update(v, (gid, sc)); Nil }
                  else (v, gid, sc) :: Nil
              }
            }
          }
          // the map drains only AFTER the match stream exhausts (++ is lazy)
          streamed ++ Iterator.single(()).flatMap(_ =>
            best.iterator.map { case (v, (id, sc)) => (v, id, sc) })
      }
    }.toDF(fld, "doc_id", "score")
    // global: one winner per value, then top-k groups by their winner
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(fld)).orderBy(desc("score"), asc("doc_id"))
    perSlice
      .withColumn("rn", row_number().over(w))
      .where($"rn" === 1)
      .drop("rn")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** The query's FULL match set as (doc_id, score) — ES scroll/export:
    * no top-k, no driver materialization, each slice's walk STREAMED.
    */
  def exportMatches(
      src: PostingSource,
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame = {
    val spark = src.spark
    import spark.implicits._
    val terms = queryTerms.distinct
    val dfs = src.dfOf(terms)
    val isAnd = mode == "and"
    val present = terms.filter(dfs.contains)
    if ((isAnd && present.size < terms.size) || present.isEmpty || present.size < minShouldMatch)
      return noHits(spark)
    val qTerms = terms.toArray
    val idfs = terms.map(t => src.idf(dfs.getOrElse(t, 0L))).toArray
    val exTerms = mustNot.distinct
    val msm = minShouldMatch
    src.walk(present ++ exTerms, attrFilter) { s =>
      s.scoredMatches(qTerms, idfs, isAnd, msm, exTerms) match {
        case None => Iterator.empty
        case Some(m) => m.map { case (id, sc) => QueryHit(s.docBase + id, sc) }
      }
    }.toDF()
  }

  /** FULL exact-phrase match set (global ids, BM25 phrase-freq scores) —
    * the streaming dual of [[phraseTopK]] a composed bool needs.
    */
  def exportPhrase(src: PostingSource, phraseTerms: Seq[String],
                   attrFilter: AttrPred = null): DataFrame = {
    val spark = src.spark
    import spark.implicits._
    val (qTerms, offs) = offsetsOf(phraseTerms)
    val dfs = src.dfOf(qTerms.toSeq)
    if (qTerms.exists(t => !dfs.contains(t))) return noHits(spark)
    val idfSum = phraseTerms.map(t => src.idf(dfs(t))).sum
    val avgDl = src.avgDl
    src.walk(qTerms.toSeq, attrFilter) { s =>
      val iters = s.iters(qTerms, all = true)
      if (iters.isEmpty) Iterator.empty
      else BlockMaxWand.phraseMatches(iters, offs, s.filter()).map { case (id, freq, dl) =>
        QueryHit(s.docBase + id, idfSum * IndexBuilder.impact(freq, dl, avgDl))
      }
    }.toDF()
  }

  /** Corpus-wide exact-phrase occurrence counts (Σ per-doc phrase freq,
    * tombstoned docs excluded) for a SET of phrases in ONE job: one scan
    * over the union of their terms, each slice task runs every phrase's
    * positional walk over shared refs. Aligned with `phrases`.
    */
  def phraseCounts(src: PostingSource, phrases: Seq[Seq[String]]): Array[Long] = {
    val spark = src.spark
    import spark.implicits._
    require(phrases.forall(_.nonEmpty), "empty phrase")
    val ctxs = phrases.map(offsetsOf).toArray
    val counts = new Array[Long](ctxs.length)
    if (ctxs.nonEmpty)
      src.walk(phrases.flatten.distinct, scored = false) { s =>
        ctxs.indices.iterator.flatMap { pi =>
          val (qTerms, offs) = ctxs(pi)
          val iters = s.iters(qTerms, all = true)
          if (iters.isEmpty) None
          else Some((pi, BlockMaxWand.phraseMatches(iters, offs, s.filter()).map(_._2.toLong).sum))
        }
      }.collect().foreach { case (pi, c) => counts(pi) += c } // ≤ nSlices × |phrases| rows
    counts
  }

  // -------------------------------------------------------------- fielded
  /** The fielded shapes' shared doc space: every source has the same
    * segmentation (per-segment n_docs) and slice layout, so one (segment,
    * slice) task sees every field of its doc range.
    */
  private[query] def requireSharedDocSpace(fields: Seq[PostingSource]): Unit = {
    require(fields.nonEmpty, "no fields")
    val nSegs = fields.head.segmentDirs.size
    require(fields.forall(_.segmentDirs.size == nSegs),
      "every field family must have the same number of segments")
    require(fields.map(f => f.segmentDirs.map(IndexBuilder.readStats(f.spark, _).n_docs)).distinct.size == 1,
      "field indexes must share the docID space (same corpus, same urls)")
    require(fields.map(_.sliceLayout).distinct.size == 1,
      "field indexes must share the slice layout")
  }

  /** Fielded most_fields top-k: score(d) = Σ_f boost_f · Σ_t
    * idf_f(t)·impact(tf, dl_f, avgdl_f), fields-outer × terms-inner (the
    * scoring contract NaiveBm25.fieldedTopK mirrors). Filter context and
    * tombstones come from the FIRST field (shared doc space).
    * `perFieldTerms` (nullable): per-field allowed term subset — masked
    * (field, term) pairs neither score nor make docs candidates.
    */
  def fieldedTopK(
      fields: Seq[(PostingSource, Double)],
      queryTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      perFieldTerms: Seq[Set[String]] = null
  ): DataFrame = {
    require(perFieldTerms == null || perFieldTerms.size == fields.size,
      "perFieldTerms must align with fields")
    val sources = fields.map(_._1)
    requireSharedDocSpace(sources)
    val spark = sources.head.spark
    import spark.implicits._
    val terms = queryTerms.distinct
    val dfs = sources.map(_.dfOf(terms))
    if (!dfs.exists(_.nonEmpty)) return noHits(spark)
    val qTerms = terms.toArray
    val nT = qTerms.length
    // weight per (field, term) = boost · idf_field(term)
    val weights: Array[Array[Double]] = fields.indices.map { fi =>
      qTerms.map(t => fields(fi)._2 * sources(fi).idf(dfs(fi).getOrElse(t, 0L)))
    }.toArray
    val fTerms = fields.indices.map(fi =>
      if (perFieldTerms == null) terms else terms.filter(perFieldTerms(fi)))
    val masks = fTerms.map(_.toSet).toArray
    ranked(PostingSource.walk(sources.zip(fTerms), attrFilter, docFilter) { s =>
      val iters = (for {
        fi <- weights.indices.iterator
        ti <- qTerms.indices.iterator
        if masks(fi).contains(qTerms(ti))
        it <- s.iter(qTerms(ti), fi * nT + ti, weights(fi)(ti), fi).iterator
      } yield it).toArray
      BlockMaxWand.or(iters, k, s.filter())
        .iterator.map(h => QueryHit(s.docBase + h.docId, h.score))
    }, k)
  }

  /** Fielded ES rewrite: the dictionary `where` expands against EACH
    * field's own dictionary (df-desc cap per field — a term hot in the
    * title need not make the body's cap), then one masked
    * [[fieldedTopK]] over the union.
    */
  def fieldedRewriteTopK(
      fields: Seq[(PostingSource, Double)],
      where: Column,
      maxExpansions: Int,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame = {
    val perField = fields.map(_._1.expand(where, maxExpansions).toSet)
    val union = perField.reduce(_ ++ _).toSeq.sorted
    if (union.isEmpty) noHits(fields.head._1.spark)
    else fieldedTopK(fields, union, k, docFilter, attrFilter, perFieldTerms = perField)
  }

  /** Fielded EXACT-PHRASE top-k (most_fields over match_phrase):
    * score(d) = Σ_f boost_f · idfSum_f · impact(freq_f, dl_f, avgdl_f) in
    * field order; a field missing any phrase term contributes nothing.
    */
  def fieldedPhraseTopK(
      fields: Seq[(PostingSource, Double)],
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame = {
    require(phraseTerms.nonEmpty, "empty phrase")
    val sources = fields.map(_._1)
    requireSharedDocSpace(sources)
    val spark = sources.head.spark
    import spark.implicits._
    val (qTerms, offs) = offsetsOf(phraseTerms)
    // per-field idfSum over phrase POSITIONS; 0 when the field lacks a term
    val idfSums = sources.map { src =>
      val dfs = src.dfOf(qTerms.toSeq)
      if (qTerms.exists(t => !dfs.contains(t))) 0.0
      else phraseTerms.map(t => src.idf(dfs(t))).sum
    }.toArray
    if (idfSums.forall(_ == 0.0)) return noHits(spark)
    val boosts = fields.map(_._2).toArray
    val avgDls = sources.map(_.avgDl).toArray
    val scans = sources.zipWithIndex.map { case (src, fi) =>
      src -> (if (idfSums(fi) > 0.0) qTerms.toSeq else Nil)
    }
    ranked(PostingSource.walk(scans, attrFilter, docFilter) { s =>
      // per-doc sums accumulate in FIELD ORDER (the scoring contract)
      val acc = new scala.collection.mutable.LongMap[Double]
      idfSums.indices.foreach { fi =>
        val iters = if (idfSums(fi) > 0.0) s.iters(qTerms, all = true, src = fi) else Array.empty[PostingIter]
        if (iters.nonEmpty)
          BlockMaxWand.phraseMatches(iters, offs, s.filter()).foreach { case (doc, freq, dl) =>
            val sc = boosts(fi) * idfSums(fi) * IndexBuilder.impact(freq, dl, avgDls(fi))
            acc.update(doc, acc.getOrElse(doc, 0.0) + sc)
          }
      }
      acc.toArray.sortBy { case (doc, sc) => (-sc, doc) }.take(k)
        .iterator.map { case (doc, sc) => QueryHit(s.docBase + doc, sc) }
    }, k)
  }
}
