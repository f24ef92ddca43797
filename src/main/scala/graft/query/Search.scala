package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, IndexBuilder}

/** Distributed BM25 over ONE on-disk index — the single-index front-end.
  * The index is a one-segment [[PostingSource]] at base 0, and every
  * query shape below delegates to its one walk in [[Walks]] (the same
  * walk [[MultiSearcher]] runs over a segment family).
  *
  * Plan (scale-first — nothing term-sized ever reaches the driver):
  *   1. dictionary lookup: `terms` table filtered to the ≤ few query
  *      terms (parquet predicate pushdown on the term-sorted files) —
  *      yields df per term → idf (collect of ≤ |q| rows);
  *   2. posting scan: postings filtered to query terms (pushdown again;
  *      files are sorted by term within partitions so row-group min/max
  *      skips almost everything);
  *   3. shuffle the surviving blocks by doc-range `slice` — all query
  *      terms' postings for one doc range land in one task (the only
  *      shuffle, and it moves just the query terms' blocks);
  *   4. per-slice walk (block-max WAND, phrase, …) → slice-local top-k;
  *   5. global top-k = sort (score desc, doc_id asc) + limit over
  *      nSlices·k rows.
  *
  * Slices are disjoint doc ranges, so slice-local top-k union ⊇ global
  * top-k — the merge is exact. Many queries in one job: [[Searcher.topKBatch]].
  */
object Search {

  final case class QueryHit(doc_id: Long, score: Double)

  /** Filter context, two renditions (ES semantics for both: scores are
    * corpus-global and unchanged; the filter only gates candidates inside
    * WAND — `ElasticSearchStorage.cs:208-233` provisions keyword + date
    * fields next to the text fields for exactly this):
    *
    *   - `attrFilter` ([[graft.index.AttrPred]], PREFERRED): evaluated by
    *     each WAND task against its own slice's attribute sidecar
    *     ([[graft.index.AttrSidecar]] — the ES doc-values analog). The
    *     plan is IDENTICAL to an unfiltered search: one exchange of
    *     matched posting blocks; no doc-id ever crosses the network, at
    *     ANY selectivity (PlanSpec asserts the docs table is absent from
    *     the plan).
    *   - `docFilter` (nullable Column over the docs table): the ad-hoc
    *     escape hatch for predicates the sidecar doesn't carry (e.g.
    *     url rlike ...). Matching (slice, doc_id) pairs — 12 bytes each,
    *     column-pruned — co-shuffle with the blocks. Fine for selective
    *     predicates; a 10%-selectivity filter at 10^12 docs would ship
    *     ~10^11 ids, which is why typed predicates get the sidecar.
    *
    * For low-selectivity DATE ranges also consider time-bucketed segments
    * ([[graft.index.TimeBuckets]]): whole-segment pruning first, sidecar
    * as the residual intra-bucket cut.
    *
    * `mustNot`: ES `bool.must_not` terms — docs containing ANY of them
    * are excluded (non-scoring, like filter context). The excluded
    * terms' posting blocks ride the same single exchange as the query
    * terms'; each slice task walks them as a monotone exclusion cursor
    * (block skip + binary search — untouched blocks never decode).
    *
    * Tombstoned docs ([[graft.index.Tombstones]]) are ALWAYS excluded:
    * the live generation is resolved once driver-side, each slice task
    * reads its own slice's deleted-id file node-locally.
    *
    * `minShouldMatch` (OR mode only): candidates must match ≥ this many
    * distinct query terms — ES bool.should minimum_should_match. Scores
    * are unchanged (still summed over every matched term).
    *
    * `searchAfter` — ES search_after deep pagination: pass the LAST hit
    * of the previous page as (score, doc_id); only hits ranking strictly
    * after it return. Unlike from+size, per-slice heaps stay k-sized at
    * any depth (page 10^5 of a 10^12-doc result set still moves only
    * nSlices·k rows).
    *
    * `boosts`: per-term ^boost (ES query_string `term^2.5`), folded into
    * the term's idf so block-max bounds stay exact. `msmField`: ES
    * terms_set — a per-doc required-match count from a declared numeric
    * attr (OR mode only).
    */
  def topK(
      spark: SparkSession,
      indexDir: String,
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
  ): DataFrame =
    Walks.topK(PostingSource(spark, indexDir), queryTerms, mode, k, docFilter, attrFilter,
      mustNot, minShouldMatch, searchAfter, boosts, msmField)

  /** ES `_explain`: per-term score decomposition for specific docs —
    * the relevance-debugging surface (why did doc d rank where it did?).
    * Returns one row per (doc, matching query term):
    * (doc_id, term, tf, doc_len, doc_freq, contrib) with
    * contrib = idf(df) · impact(tf, dl, avgdl); Σ contrib over a doc's
    * rows = its topK score exactly (same float pipeline).
    *
    * Scale shape: posting scan pushdown-filtered to the query terms AND
    * the docs' id range (doc_id_min/max block metadata prune to the few
    * touched blocks); decode only blocks overlapping the requested ids.
    */
  def explain(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      docIds: Seq[Long]
  ): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "explain needs at least one doc id")
    val src = PostingSource(spark, indexDir)
    val terms = queryTerms.distinct
    val avgDl = src.avgDl
    val dfs = src.dfOf(terms)
    val idfs = dfs.map { case (t, df) => t -> src.idf(df) }
    val bIds = spark.sparkContext.broadcast(docIds.toSet)
    val lo = docIds.min
    val hi = docIds.max
    src.blocks(terms, $"doc_id_max" >= lo && $"doc_id_min" <= hi)
      .select($"term", $"count", $"doc_id_min", $"deltas", $"tfs", $"dls")
      .as[(String, Int, Long, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (term, cnt, idMin, deltas, tfs, dls) =>
        val wanted = bIds.value
        val ids = graft.functions.Codec.decodeGapsFromBase(idMin, deltas, cnt)
        lazy val tf = graft.functions.Codec.decodeIntsAuto(tfs, cnt)
        lazy val dl = graft.functions.Codec.decodeIntsAuto(dls, cnt)
        Iterator.range(0, cnt).filter(i => wanted.contains(ids(i))).map { i =>
          val contrib = idfs(term) * IndexBuilder.impact(tf(i), dl(i), avgDl)
          (ids(i), term, tf(i).toLong, dl(i).toLong, dfs(term), contrib)
        }
      }
      .toDF("doc_id", "term", "tf", "doc_len", "doc_freq", "contrib")
  }

  /** ES prefix query (`{"prefix": {"text": "..."}}`): expand the prefix
    * against the term dictionary — a RANGE read of the term-sorted
    * parquet (StringStartsWith pushes to the scan) — capped at
    * `maxExpansions` by descending df then term (ES's top_terms rewrite),
    * then the standard OR WAND over the expansions with per-expansion idf
    * (ES scoring_boolean rewrite). The whole bool vocabulary composes,
    * because the rewrite IS a bool query.
    */
  def prefixTopK(
      spark: SparkSession,
      indexDir: String,
      prefix: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.rewriteTopK(PostingSource(spark, indexDir), PostingSource.prefix(prefix),
      maxExpansions, k, docFilter, attrFilter, mustNot)

  /** ES fuzzy query: expand to dictionary terms within `maxEdits`
    * Levenshtein distance (a distributed codegen `levenshtein` filter with
    * a length pre-cut — the terms table is orders of magnitude smaller
    * than the postings), capped by (df desc, term), then the OR WAND.
    */
  def fuzzyTopK(
      spark: SparkSession,
      indexDir: String,
      term: String,
      k: Int,
      maxEdits: Int = 1,
      maxExpansions: Int = 64,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.rewriteTopK(PostingSource(spark, indexDir), PostingSource.fuzzy(term, maxEdits),
      maxExpansions, k, docFilter, attrFilter, mustNot)

  /** ES field collapsing (`collapse: {field: …}`): top-k hits with at
    * most ONE hit per value of a declared keyword attr — the "one event
    * per server" view. Exact (unlike a post-filtered top-k, which can
    * starve a group whose best hit ranks below k): each slice scores its
    * FULL match set and keeps one best (score desc, docId asc) hit per
    * value — per-task memory ∝ distinct values, network = nSlices ×
    * |values| rows, independent of match count.
    */
  def collapseTopK(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      valueCap: Int = 1 << 20
  ): DataFrame =
    Walks.collapseTopK(PostingSource(spark, indexDir), queryTerms, mode, kwField, k,
      docFilter, attrFilter, mustNot, minShouldMatch, valueCap)

  /** [[collapseTopK]] over a SEGMENT FAMILY (streaming ingest serves the
    * collapsed view directly, no merge): global stats/df, family-global
    * ids, global winner per value.
    */
  def collapseTopKMulti(
      spark: SparkSession,
      segmentDirs: Seq[String],
      queryTerms: Seq[String],
      mode: String,
      kwField: String,
      k: Int,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      valueCap: Int = 1 << 20
  ): DataFrame =
    Walks.collapseTopK(new PostingSource(spark, segmentDirs), queryTerms, mode, kwField, k,
      null, attrFilter, mustNot, minShouldMatch, valueCap)

  /** ES wildcard query (`{"wildcard": {"text": "s?a*"}}`): `*` = any run,
    * `?` = one char, anything else literal; rides the regexp expansion
    * with the literal prefix as a pushdown pre-cut.
    */
  def wildcardTopK(
      spark: SparkSession,
      indexDir: String,
      pattern: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.rewriteTopK(PostingSource(spark, indexDir), PostingSource.wildcard(pattern),
      maxExpansions, k, docFilter, attrFilter, mustNot)

  /** ES regexp query: expand the ANCHORED regex (Java syntax) against the
    * term dictionary (codegen `rlike`, `prefixHint` as a pushdown range
    * pre-cut), then the OR WAND over the ≤ `maxExpansions` rewrites.
    */
  def regexpTopK(
      spark: SparkSession,
      indexDir: String,
      regex: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      prefixHint: String = ""
  ): DataFrame =
    Walks.rewriteTopK(PostingSource(spark, indexDir), PostingSource.regexp(regex, prefixHint),
      maxExpansions, k, docFilter, attrFilter, mustNot)

  /** ES term suggester ("did you mean") — the SEARCH-AS-YOU-TYPE side of
    * the reference's Kibana surface: candidate corrections for a (likely
    * misspelled) term from the term dictionary within `maxEdits`
    * Levenshtein, ranked by document frequency (ES `suggest_mode:
    * popular` ordering), the input term itself excluded. Pure dictionary
    * read: the codegen `levenshtein` scan with the length pre-cut is the
    * same pushdown shape as the fuzzy rewrite — postings are never
    * touched. Returns (suggestion, doc_freq), df desc then term asc.
    */
  def suggest(
      spark: SparkSession,
      indexDir: String,
      term: String,
      size: Int = 5,
      maxEdits: Int = 1
  ): DataFrame = {
    import spark.implicits._
    require(maxEdits >= 1 && maxEdits <= 2, "ES caps suggester fuzziness at 2 edits")
    IndexBuilder.readTerms(spark, indexDir)
      .where(PostingSource.fuzzy(term, maxEdits) && $"term" =!= term)
      .orderBy(desc("doc_freq"), asc("term"))
      .limit(size)
      .select($"term".as("suggestion"), $"doc_freq")
  }

  /** ES `more_like_this` ("find documents like this one"): selects the
    * source doc's most characteristic terms by tf·idf (ES's MLT term
    * selection — tf from the doc, idf corpus-global, top
    * `maxQueryTerms`, ties by term asc for determinism; `minTermFreq` /
    * `minDocFreq` prune noise terms), then runs them as a bool-should
    * BM25 query, the source doc itself excluded (k+1 fetch, filter,
    * cut — no allow-list materialization for a single exclusion).
    * Scale shape: the doc fetch is a pushdown point-read on the docs
    * store; term selection touches ≤ |doc's distinct terms| dictionary
    * rows; retrieval is the plain WAND path.
    */
  def moreLikeThis(
      spark: SparkSession,
      indexDir: String,
      docId: Long,
      k: Int = 10,
      maxQueryTerms: Int = 25,
      minTermFreq: Int = 1,
      minDocFreq: Int = 1,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame = {
    import spark.implicits._
    require(maxQueryTerms > 0, "maxQueryTerms must be positive")
    val srcRows = spark.read.parquet(s"$indexDir/docs")
      .where($"doc_id" === docId) // pushdown: row-group skip on doc_id
      .select($"text").collect()
    require(srcRows.nonEmpty, s"more_like_this: doc $docId not found")
    val tf: Map[String, Int] = graft.functions.Analyzer.tokenize(srcRows.head.getString(0))
      .groupBy(identity).map { case (t, occ) => t -> occ.size }
    val cand = tf.filter(_._2 >= minTermFreq).keys.toSeq.sorted
    if (cand.isEmpty) return spark.emptyDataset[QueryHit].toDF()
    // one source for selection AND retrieval: the walk reuses the memo
    val src = PostingSource(spark, indexDir)
    val dfs = src.dfOf(cand)
    val selected = cand
      .filter(t => dfs.getOrElse(t, 0L) >= minDocFreq)
      .map(t => (t, tf(t) * src.idf(dfs(t))))
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms)
      .map(_._1)
    if (selected.isEmpty) return spark.emptyDataset[QueryHit].toDF()
    Walks.topK(src, selected, "or", k + 1, attrFilter = attrFilter, mustNot = mustNot)
      .where($"doc_id" =!= docId)
      .limit(k)
  }

  /** ES "fetch phase": join top-k hits back to their stored doc fields
    * (url, warc_ts, lang, doc_len — never `text` unless asked: the docs
    * scan is column-pruned). Hits are ≤ k rows → broadcast side of the
    * join; the docs scan is pushdown-filtered by the id set, so at
    * 10^12 docs this opens only the row groups containing the k ids.
    */
  def hydrate(
      spark: SparkSession,
      indexDir: String,
      hits: DataFrame,
      withText: Boolean = false
  ): DataFrame = {
    import spark.implicits._
    val ids = hits.select($"doc_id").as[Long].collect() // ≤ k by contract
    val cols =
      if (withText) Seq($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len", $"text")
      else Seq($"doc_id", $"url", $"warc_ts", $"lang", $"doc_len")
    val docs = spark.read.parquet(s"$indexDir/docs")
      .where($"doc_id".isin(ids: _*)) // pushdown: row-group skip on doc_id
      .select(cols: _*)
    hits.join(broadcast(docs), Seq("doc_id"), "left")
  }

  /** Exact-phrase top-k (ES `match_phrase`; `slop` > 0 = sloppy phrase);
    * see BlockMaxWand.phrase for the scoring contract. Same scale shape
    * as topK: pushdown on the ≤ few distinct terms, one shuffle of
    * matched blocks by slice, per-slice leapfrog + positional verify.
    */
  def phraseTopK(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      slop: Int = 0
  ): DataFrame =
    Walks.phraseTopK(PostingSource(spark, indexDir), phraseTerms, k, docFilter, attrFilter,
      mustNot, slop)

  /** Corpus-wide exact-phrase occurrence count (Σ over docs of the
    * per-doc phrase freq, tombstoned docs excluded) — the bigram-count
    * primitive under [[phraseSuggest]]'s language model.
    */
  def phraseCount(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String]
  ): Long = {
    require(phraseTerms.nonEmpty, "empty phrase")
    Walks.phraseCounts(PostingSource(spark, indexDir), Seq(phraseTerms)).head
  }

  /** ES `phrase` suggester ("did you mean") over the index's own
    * statistics: per-position candidate terms come from the dictionary
    * (edit distance ≤ `maxEdits`, top `perTermCandidates` by df — the
    * term suggester's rewrite), candidate PHRASES differ from the input
    * in at most ONE position (ES's default max_errors=1), and each
    * candidate is scored by a bigram language model with stupid backoff
    * (ES's default smoothing):
    *
    *   score = ln P(t₁) + Σⱼ ln P(tⱼ₊₁ | tⱼ)
    *   P(t)      = ttf(t) / T
    *   P(b | a)  = count(a b) / ttf(a)      when the bigram occurs,
    *             = backoff · ttf(b) / T      otherwise
    *
    * Bigram counts are positional [[phraseCount]] walks over ONLY the
    * candidate pairs' postings, all pairs in one job — no corpus scan,
    * no forward index; the combination space is
    * |positions|·perTermCandidates phrases, never a cross product.
    * Returns (suggestion, score_e6) top `size`, the input itself excluded.
    */
  def phraseSuggest(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String],
      size: Int = 3,
      perTermCandidates: Int = 3,
      maxEdits: Int = 1,
      backoff: Double = 0.4
  ): DataFrame = {
    import spark.implicits._
    require(phraseTerms.size >= 2, "phrase suggester needs ≥ 2 tokens")
    require(maxEdits >= 1 && maxEdits <= 2, "ES caps suggester fuzziness at 2 edits")
    val stats = IndexBuilder.readStats(spark, indexDir)
    val bigT = stats.total_tokens.toDouble
    val dict = IndexBuilder.readTerms(spark, indexDir)
    val ttfOf = scala.collection.mutable.HashMap.empty[String, Long]
    // ONE dictionary job: the input terms' stats (pos = -1) and every
    // position's edit-distance candidates (df-desc top-N each) ride one
    // unioned plan
    val inputBranch = dict
      .where($"term".isin(phraseTerms.distinct: _*))
      .select(lit(-1).as("pos"), $"term", $"doc_freq", $"total_tf")
    val candBranches = phraseTerms.zipWithIndex.map { case (q, i) =>
      dict
        .where(PostingSource.fuzzy(q, maxEdits) && $"term" =!= q)
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(perTermCandidates)
        .select(lit(i).as("pos"), $"term", $"doc_freq", $"total_tf")
    }
    val allRows = candBranches.foldLeft(inputBranch)(_ unionByName _).collect()
    allRows.foreach(r => ttfOf(r.getString(1)) = r.getLong(3))
    val candsAt: Seq[Seq[String]] = phraseTerms.indices.map { i =>
      allRows.filter(_.getInt(0) == i)
        .sortBy(r => (-r.getLong(2), r.getString(1)))
        .map(_.getString(1)).toSeq
    }
    // candidate phrases: input + single-position substitutions, every
    // term must exist in the corpus (ttf > 0) to be LM-scorable
    val subs = phraseTerms.indices.flatMap { i =>
      candsAt(i).map(c => phraseTerms.updated(i, c))
    }
    val phrases = (phraseTerms +: subs).distinct
      .filter(p => p.forall(t => ttfOf.getOrElse(t, 0L) > 0L))
    if (phrases.isEmpty)
      return spark.emptyDataset[(String, Long)].toDF("suggestion", "score_e6")
    val bigrams = phrases.flatMap(_.sliding(2).map(w => (w(0), w(1)))).distinct
    val bcount: Map[(String, String), Long] = bigrams.zip(
      Walks.phraseCounts(PostingSource(spark, indexDir), bigrams.map { case (a, b) => Seq(a, b) })).toMap
    def lp(t: String): Double = math.log(ttfOf(t).toDouble / bigT)
    def lpb(a: String, b: String): Double = {
      val c = bcount((a, b))
      if (c > 0) math.log(c.toDouble / ttfOf(a).toDouble)
      else math.log(backoff * ttfOf(b).toDouble / bigT)
    }
    val scored = phrases
      .filter(_ != phraseTerms) // ES returns corrections, not the input
      .map { p =>
        val s = p.sliding(2).foldLeft(lp(p.head)) { case (acc, w) => acc + lpb(w(0), w(1)) }
        (p.mkString(" "), math.round(s * 1e6))
      }
      .sortBy { case (sug, s) => (-s, sug) }
      .take(size)
    scored.toDF("suggestion", "score_e6")
  }

  /** ES `match_phrase_prefix`: a phrase whose LAST term is a prefix —
    * the search-as-you-type query. Lucene rewrites it to a
    * MultiPhraseQuery over the first `maxExpansions` dictionary terms in
    * TERM ORDER (alphabetical — not df order like `prefix`'s rewrite);
    * each doc keeps its BEST expansion score (the deterministic,
    * oracle-exact reading of ES's blended multi-phrase scoring). One
    * dictionary job, one scan, one exchange; the non-last terms'
    * postings are re-walked per expansion.
    */
  def phrasePrefixTopK(
      spark: SparkSession,
      indexDir: String,
      phraseTerms: Seq[String],
      k: Int,
      maxExpansions: Int = 8,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.phrasePrefixTopK(PostingSource(spark, indexDir), phraseTerms, k, maxExpansions,
      docFilter, attrFilter, mustNot)

  /** ES `dis_max` over term queries: score = best sub-score +
    * tieBreaker · (sum of the others) — "take the best field/term, don't
    * reward redundancy" (tieBreaker 0 = pure max; 1 ≡ bool.should sum).
    * Candidates = docs matching ANY term; per-slice k-heaps.
    */
  def disMaxTopK(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      k: Int,
      tieBreaker: Double = 0.0,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.disMaxTopK(PostingSource(spark, indexDir), queryTerms, k, tieBreaker, attrFilter, mustNot)

  /** ES scroll / point-in-time EXPORT: the query's FULL match set as a
    * distributed DataFrame (doc_id, score) — no top-k, no driver
    * materialization; the 10^9-row result of a selective query at
    * 10^12 docs streams straight to the caller's sink. Output stays
    * partitioned by slice until the caller repartitions/writes.
    */
  def exportMatches(
      spark: SparkSession,
      indexDir: String,
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    Walks.exportMatches(PostingSource(spark, indexDir), queryTerms, mode, attrFilter, mustNot,
      minShouldMatch)

  /** Query-time synonyms (ES `synonym_graph` at search time): each query
    * position is a GROUP of interchangeable terms, scored as ONE term —
    * Lucene SynonymQuery: tf = Σ member tfs in the doc, df = MAX member
    * df (not the union size — members co-occur), one idf·impact per
    * group. This is NOT OR-expansion (which would double-count a doc
    * containing two spellings and inflate idf of rare variants).
    * `minShouldMatch` counts matched GROUPS (ES: each group is one
    * bool.should clause).
    */
  def synonymTopK(
      spark: SparkSession,
      indexDir: String,
      groups: Seq[Seq[String]],
      mode: String,
      k: Int,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    Walks.synonymTopK(PostingSource(spark, indexDir), groups, mode, k, attrFilter, mustNot,
      minShouldMatch)
}
