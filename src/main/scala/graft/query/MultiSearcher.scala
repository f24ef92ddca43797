package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.index.AttrPred

/** Query N immutable index segments as ONE logical index — no physical
  * merge (≙ Elasticsearch serving a search across its `{prefix}-yyyyMMdd`
  * indices, `ElasticSearchStorage.cs:293-320`; streaming micro-batch
  * segments become queryable the moment they commit).
  *
  * The family front-end: one [[PostingSource]] over `segmentDirs`, and
  * every method delegates to the same walk [[Search]] runs for a single
  * index ([[Walks]]). Answers are rank-identical to searching the
  * physically merged index — global stats, global df, global docIDs
  * (segment base + local id, the remap [[graft.index.SegmentMerge]]
  * applies); see [[PostingSource]] for the bound rule.
  *
  * Scale shape: one job; the only shuffle moves the matched posting
  * blocks (and filter ids) of all segments keyed by (segment, slice) —
  * disjoint doc ranges, so per-key local top-k union ⊇ global top-k and
  * the final merge is exact over (Σ nSlices)·k rows.
  *
  * Segments are IMMUTABLE for the searcher's lifetime: stats, bases and
  * the shared df memo are read once, so a segment dir rebuilt in place
  * under a live searcher serves stale statistics. One searcher is safe
  * to share across concurrent queries (the memo lock is never held
  * across a Spark job).
  *
  * `explicitBases`: global docID base per segment. Defaults to cumulative
  * n_docs in `segmentDirs` order; pass absolute bases when querying a
  * SUBSET of a larger segment family (e.g. time-bucket pruning) so global
  * ids stay stable across selections.
  *
  * `statsFamily`: the FULL segment family to compute N/avgdl/df over when
  * `segmentDirs` is a pruned subset — pruning must be a pure I/O
  * optimization, so scores must equal the unpruned family's. Defaults to
  * `segmentDirs`.
  */
final class MultiSearcher(
    val spark: SparkSession,
    segmentDirs: Seq[String],
    explicitBases: Option[Seq[Long]] = None,
    statsFamily: Option[Seq[String]] = None
) {
  private[query] val source = new PostingSource(spark, segmentDirs, explicitBases, statsFamily)
  val bases: Seq[Long] = source.bases
  val nDocs: Long = source.nDocs
  val avgDl: Double = source.avgDl

  /** Global df per query term: Σ over the stats family, memoized. */
  def dfOf(queryTerms: Seq[String]): Map[String, Long] = source.dfOf(queryTerms)

  /** BM25 top-k over all segments; filter context applies per segment
    * (scores unchanged).
    */
  def topK(
      queryTerms: Seq[String],
      mode: String,
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    Walks.topK(source, queryTerms, mode, k, docFilter, attrFilter, mustNot, minShouldMatch)

  /** ES prefix query over the family (global-df expansion cap). */
  def prefixTopK(
      prefix: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.rewriteTopK(source, PostingSource.prefix(prefix), maxExpansions, k,
      docFilter, attrFilter, mustNot)

  /** ES fuzzy query over the family (global-df expansion cap). */
  def fuzzyTopK(
      term: String, k: Int, maxEdits: Int = 1, maxExpansions: Int = 64,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.rewriteTopK(source, PostingSource.fuzzy(term, maxEdits), maxExpansions, k,
      docFilter, attrFilter, mustNot)

  /** ES wildcard query over the family (`*`/`?`; literal-prefix cut). */
  def wildcardTopK(
      pattern: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.rewriteTopK(source, PostingSource.wildcard(pattern), maxExpansions, k,
      docFilter, attrFilter, mustNot)

  /** ES regexp query over the family (anchored Java regex). */
  def regexpTopK(
      regex: String, k: Int, maxExpansions: Int = 128,
      docFilter: Column = null, attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil, prefixHint: String = ""
  ): DataFrame =
    Walks.rewriteTopK(source, PostingSource.regexp(regex, prefixHint), maxExpansions, k,
      docFilter, attrFilter, mustNot)

  /** Exact-phrase top-k across segments (BlockMaxWand.phrase contract). */
  def phraseTopK(
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil
  ): DataFrame =
    Walks.phraseTopK(source, phraseTerms, k, docFilter, attrFilter, mustNot)

  /** Declared attribute schema (name → kind) of the family. */
  def attrSchema: Map[String, String] = source.attrSchema

  /** Expansion lists for the composed-query layer (the global-df order
    * of the family rewrites above).
    */
  def expandPatternTerms(pattern: String, maxExpansions: Int): Seq[String] =
    source.expand(PostingSource.wildcard(pattern), maxExpansions)

  def expandFuzzyTerms(term: String, maxEdits: Int, maxExpansions: Int): Seq[String] =
    source.expand(PostingSource.fuzzy(term, maxEdits), maxExpansions)

  /** FULL match set (global doc_id, exact BM25 score), streamed. */
  def exportMatches(
      queryTerms: Seq[String],
      mode: String,
      attrFilter: AttrPred = null,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1
  ): DataFrame =
    Walks.exportMatches(source, queryTerms, mode, attrFilter, mustNot, minShouldMatch)

  /** FULL exact-phrase match set over the family (global ids, BM25
    * phrase-freq scores at the GLOBAL avgdl).
    */
  def exportPhrase(phraseTerms: Seq[String], attrFilter: AttrPred = null): DataFrame =
    Walks.exportPhrase(source, phraseTerms, attrFilter)

  /** Global doc ids admitted by a pure filter, score 0. */
  def filterDocIds(pred: AttrPred): DataFrame = source.filterIds(pred)
}
