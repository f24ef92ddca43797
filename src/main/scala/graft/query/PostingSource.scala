package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, AttrSidecar, IndexBuilder, Tombstones}
import graft.query.BlockMaxWand.{BlockRef, FilterIter, PostingIter}

/** The posting side of every query walk: N immutable index segments
  * queried as ONE logical index — no physical merge (≙ Elasticsearch
  * serving a search across its `{prefix}-yyyyMMdd` indices,
  * `ElasticSearchStorage.cs:293-320`). A plain index is the one-segment
  * family at base 0; streaming micro-batch segments become queryable the
  * moment they commit.
  *
  * Semantics (rank-identical to searching the physically merged index):
  *   - global stats: N = Σ n_docs, avgdl = Σ tokens / N over the stats
  *     family (a single segment that is its own stats family keeps its
  *     stored avg_dl);
  *   - global df(t) = Σ per-segment df(t) → one idf per term;
  *   - output docIDs are global: segment base offset + local id — the
  *     SAME remap [[graft.index.SegmentMerge]] applies;
  *   - WAND bounds: stored per-block `max_impact` is exact only at the
  *     segment's own avgdl, so unless the global stats ARE the segment's
  *     own, bounds are re-derived from the avgdl-independent
  *     `max_tf`/`min_dl` block columns (impact is monotone ↑tf ↓dl ⇒
  *     impact(max_tf, min_dl, globalAvgdl) bounds every posting). Bounds
  *     only gate skips — scores are always exact.
  *
  * The source owns the four jobs every walk needs, each done once here:
  * the dictionary ([[dfOf]], memoized), term expansion ([[expand]]), the
  * block scan (one row shape keyed by (segment, slice)) and the per-task
  * context ([[PostingSource.Slice]]: sorted block refs, posting cursors,
  * the composed filter, local→global ids).
  *
  * Segments are IMMUTABLE for the source's lifetime: stats, bases and
  * the df memo are read once and never revalidated, so a segment dir
  * rebuilt in place under a live source serves stale statistics.
  *
  * `explicitBases`: global docID base per segment. Defaults to cumulative
  * n_docs in `segmentDirs` order; pass absolute bases when querying a
  * SUBSET of a larger family (time-bucket pruning) so ids stay stable.
  *
  * `statsFamily`: the FULL family to compute N/avgdl/df over when
  * `segmentDirs` is a pruned subset — pruning must be a pure I/O
  * optimization, so scores equal the unpruned family's. Defaults to
  * `segmentDirs`.
  */
final class PostingSource(
    val spark: SparkSession,
    val segmentDirs: Seq[String],
    explicitBases: Option[Seq[Long]] = None,
    statsFamily: Option[Seq[String]] = None
) {
  import spark.implicits._
  require(segmentDirs.nonEmpty, "no segments")
  require(explicitBases.forall(_.size == segmentDirs.size), "bases must align with segments")

  private val familyDirs = statsFamily.getOrElse(segmentDirs)
  /** The global stats are the single segment's own: its stored avg_dl
    * and `max_impact` bounds are exact as they stand.
    */
  private val ownStats = segmentDirs.size == 1 && familyDirs == segmentDirs

  lazy val bases: Seq[Long] = explicitBases.getOrElse(
    if (segmentDirs.size == 1) Seq(0L)
    else segmentDirs.map(IndexBuilder.readStats(spark, _).n_docs).scanLeft(0L)(_ + _).init)
  private lazy val familyStats = familyDirs.map(IndexBuilder.readStats(spark, _))
  lazy val nDocs: Long = familyStats.map(_.n_docs).sum
  lazy val avgDl: Double =
    if (ownStats) { val a = familyStats.head.avg_dl; if (a > 0) a else 1.0 }
    else {
      val tok = familyStats.map(_.total_tokens).sum
      if (nDocs > 0 && tok > 0) tok.toDouble / nDocs else 1.0
    }

  def idf(df: Long): Double = NaiveBm25.idf(nDocs, df)

  // Dictionary memo: a composed query (query_string tree) resolves term
  // stats leaf by leaf — without it a Q-leaf tree runs Q dictionary
  // jobs. Absent terms memo as None so repeated misses cost nothing.
  private val dfMemo = scala.collection.mutable.HashMap.empty[String, Option[Long]]

  /** Global df of the present query terms. The dictionary job runs
    * OUTSIDE the memo lock: concurrent queries on one source snapshot
    * their missing terms under the lock, look them up in parallel, and
    * re-acquire it only to publish.
    */
  def dfOf(queryTerms: Seq[String]): Map[String, Long] = {
    val t = queryTerms.distinct
    val missing = dfMemo.synchronized(t.filterNot(dfMemo.contains))
    if (missing.nonEmpty) {
      val got = lookupDf(missing)
      dfMemo.synchronized(missing.foreach(m => dfMemo(m) = got.get(m)))
    }
    dfMemo.synchronized(t.flatMap(x => dfMemo(x).map(x -> _)).toMap)
  }

  // one segment: a direct pushdown lookup; a family: Σ per segment
  private def lookupDf(terms: Seq[String]): Map[String, Long] =
    if (familyDirs.size == 1)
      IndexBuilder.readTerms(spark, familyDirs.head).where($"term".isin(terms: _*))
        .collect().map(r => r.term -> r.doc_freq).toMap
    else familyTerms($"term".isin(terms: _*)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def familyTerms(where: Column): DataFrame =
    familyDirs
      .map(d => IndexBuilder.readTerms(spark, d).where(where).toDF())
      .reduce(_ unionByName _)
      .groupBy($"term").agg(sum($"doc_freq").as("doc_freq"))

  /** Dictionary rewrite (prefix/fuzzy/wildcard/regexp — the `where` from
    * [[PostingSource.prefix]] and friends): candidates come from each
    * segment's term-sorted parquet (pushdown range/regex cut), capped at
    * `maxExpansions` by (global df desc, term) — ES's top_terms rewrite,
    * and exactly the expansion the merged index would produce — or by
    * term alone when `termOrder` (Lucene's MultiPhraseQuery prefix
    * rewrite). The expansions' dfs seed the dictionary memo, so the walk
    * that follows runs no second dictionary job.
    */
  def expand(where: Column, maxExpansions: Int, termOrder: Boolean = false): Seq[String] = {
    val cands =
      if (familyDirs.size == 1) IndexBuilder.readTerms(spark, familyDirs.head).where(where).toDF()
      else familyTerms(where)
    val rows = (if (termOrder) cands.orderBy(asc("term"))
                else cands.orderBy(desc("doc_freq"), asc("term")))
      .limit(maxExpansions)
      .select($"term", $"doc_freq").as[(String, Long)].collect()
    dfMemo.synchronized(rows.foreach { case (t, df) => dfMemo(t) = Some(df) })
    rows.map(_._1).toSeq
  }

  /** Declared attribute schema (name → kind) — segments of one family
    * share it by construction, so the head segment's meta is
    * authoritative.
    */
  def attrSchema: Map[String, String] =
    IndexBuilder.readMeta(segmentDirs.head).attrs.map(a => a.name -> a.kind).toMap

  /** Per-segment slice counts (the shared-doc-space check of fielded walks). */
  private[query] def sliceLayout: Seq[Int] = segmentDirs.map(IndexBuilder.readMeta(_).nSlices)

  /** Matched blocks of `terms` in every segment as [[PostingSource.Block]]
    * rows of source index `src`. The bound column is the stored
    * `max_impact` when the global stats are the segment's own, else
    * impact(max_tf, min_dl, globalAvgdl); unscored walks read neither.
    * `extra` is an additional pushdown predicate on block metadata.
    */
  private[query] def scan(src: Int, terms: Seq[String], scored: Boolean,
                          extra: Column = null): Seq[DataFrame] = {
    val bound =
      if (!scored) lit(0.0)
      else if (ownStats) $"max_impact"
      else {
        // IndexBuilder.impact, term for term (same float op order)
        val tf = $"max_tf".cast("double")
        tf / (tf + lit(IndexBuilder.K1) *
          (lit(1 - IndexBuilder.B) + lit(IndexBuilder.B) * $"min_dl".cast("double") / lit(avgDl)))
      }
    segmentDirs.zipWithIndex.map { case (d, i) =>
      val p = IndexBuilder.readPostings(spark, d).where($"term".isin(terms: _*))
      (if (extra == null) p else p.where(extra)).select(
        lit(src).as("src"), lit(i).as("seg"), $"slice", $"term", $"block_id",
        $"doc_id_min", $"doc_id_max", $"count", $"deltas", $"tfs", $"dls", $"poss",
        bound.as("bound"))
    }
  }

  /** The matched blocks themselves (non-grouped reads, e.g. explain). */
  def blocks(terms: Seq[String], extra: Column = null): DataFrame =
    scan(0, terms, scored = true, extra).reduce(_ unionByName _)

  /** One walk over this source: see [[PostingSource.walk]]. */
  def walk[T: Encoder](terms: Seq[String], attrFilter: AttrPred = null,
                       docFilter: Column = null, scored: Boolean = true)(
      f: PostingSource.Slice => Iterator[T]): Dataset[T] =
    PostingSource.walk(Seq(this -> terms), attrFilter, docFilter, scored)(f)

  /** Global doc ids admitted by a pure filter (score 0): each (segment,
    * slice) enumerates its sidecar, tombstones composed, STREAMED (a broad
    * filter admits most of a slice).
    */
  def filterIds(pred: AttrPred): DataFrame = {
    val tasks = segmentDirs.indices.flatMap(s => (0 until sliceLayout(s)).map(sl => (s, sl))).toArray
    val ctx = PostingSource.tasks(this, Array(1.0), pred)
    spark.range(tasks.length.toLong).as[Long].flatMap { i =>
      val (seg, slice) = tasks(i.toInt)
      val s = new PostingSource.Slice(seg, slice, Array.empty, ctx, null)
      s.run(_ => Filters.enumerate(s.filter(), 0L, () => ()).map(id => Search.QueryHit(s.docBase + id, 0.0)))
    }.toDF()
  }
}

object PostingSource {

  /** A single index: the one-segment family at base 0. */
  def apply(spark: SparkSession, indexDir: String): PostingSource =
    new PostingSource(spark, Seq(indexDir))

  /** One posting block of a walk's scan, keyed by (seg, slice); `src`
    * tells the sources of a multi-source (fielded) walk apart.
    */
  final case class Block(
      src: Int, seg: Int, slice: Int, term: String, block_id: Int,
      doc_id_min: Long, doc_id_max: Long, count: Int,
      deltas: Array[Byte], tfs: Array[Byte], dls: Array[Byte], poss: Array[Byte],
      bound: Double)

  // ------------------------------------------------------------ rewrites
  def prefix(p: String): Column = {
    require(p.nonEmpty, "empty prefix")
    col("term").startsWith(p)
  }

  /** Levenshtein ≤ maxEdits with a length pre-cut (|len−|q|| ≤ maxEdits). */
  def fuzzy(term: String, maxEdits: Int): Column = {
    require(term.nonEmpty, "empty term")
    require(maxEdits >= 0 && maxEdits <= 2, "ES caps fuzziness at 2 edits")
    abs(length(col("term")) - lit(term.length)) <= maxEdits &&
      levenshtein(col("term"), lit(term)) <= maxEdits
  }

  /** Anchored Java regex; `prefixHint` becomes a pushdown range pre-cut. */
  def regexp(regex: String, prefixHint: String = ""): Column = {
    require(regex.nonEmpty, "empty regex")
    val re = col("term").rlike(s"^(?:$regex)$$")
    if (prefixHint.isEmpty) re else col("term").startsWith(prefixHint) && re
  }

  /** `*` = any run, `?` = one char, anything else literal; the literal
    * prefix before the first wildcard is the pushdown pre-cut (a LEADING
    * wildcard scans the whole dictionary, exactly as in ES).
    */
  def wildcard(pattern: String): Column = {
    require(pattern.nonEmpty, "empty wildcard pattern")
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c   => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    regexp(sb.toString(), pattern.takeWhile(c => c != '*' && c != '?'))
  }

  // ---------------------------------------------------------- task side
  /** What a (segment, slice) task needs, shipped in the closure: segment
    * dirs, global bases and tombstones of the HEAD source (fielded
    * sources share its doc space and attributes), the avgdl per source,
    * and the filter-context predicate.
    */
  private[query] final case class Tasks(
      dirs: Array[String],
      bases: Array[Long],
      tombs: Array[Tombstones.Handle],
      avgDls: Array[Double],
      attr: AttrPred)

  private[query] def tasks(head: PostingSource, avgDls: Array[Double], attr: AttrPred): Tasks =
    Tasks(head.segmentDirs.toArray, head.bases.toArray,
      head.segmentDirs.map(Tombstones.handle).toArray, avgDls, attr)

  /** One walk: every source's blocks of its terms (Nil skips a source),
    * ONE exchange keyed by (segment, slice), `f` run once per key with
    * the task's [[Slice]]. Filter context: `attrFilter` is evaluated by
    * each task against its own slice sidecar (plan identical to an
    * unfiltered walk — no doc-id exchange at any selectivity);
    * `docFilter` (an ad-hoc Column over the docs table) co-shuffles the
    * matching (slice, doc_id) pairs with the blocks. Slices are disjoint
    * doc ranges, so per-key results union to the exact global answer.
    * Cursors the walk opens close when its output is exhausted or the
    * task ends, whichever comes first.
    */
  def walk[T: Encoder](scans: Seq[(PostingSource, Seq[String])], attrFilter: AttrPred = null,
                       docFilter: Column = null, scored: Boolean = true)(
      f: Slice => Iterator[T]): Dataset[T] = {
    require(docFilter == null || attrFilter == null,
      "pass docFilter (ad-hoc Column) or attrFilter (typed sidecar predicate), not both")
    val head = scans.head._1
    val spark = head.spark
    import spark.implicits._
    val parts = scans.zipWithIndex.collect {
      case ((src, terms), i) if terms.nonEmpty => src.scan(i, terms, scored)
    }.flatten
    if (parts.isEmpty) return spark.emptyDataset[T]
    val ctx = tasks(head, scans.map(s => if (scored) s._1.avgDl else 1.0).toArray, attrFilter)
    val keyed = parts.reduce(_ unionByName _).as[Block].groupByKey(b => (b.seg, b.slice))
    if (docFilter == null)
      keyed.flatMapGroups { (key, rows) =>
        new Slice(key._1, key._2, rows.toArray, ctx, null).run(f)
      }
    else {
      val allowIds = head.segmentDirs.zipWithIndex
        .map { case (d, i) =>
          spark.read.parquet(s"$d/docs").where(docFilter)
            .select(lit(i).as("seg"), $"slice".cast("int"), $"doc_id")
        }
        .reduce(_ unionByName _)
        .as[(Int, Int, Long)]
      keyed.cogroup(allowIds.groupByKey(r => (r._1, r._2))) { (key, rows, ids) =>
        val allow = ids.map(_._3).toArray
        if (allow.isEmpty) Iterator.empty
        else {
          java.util.Arrays.sort(allow)
          new Slice(key._1, key._2, rows.toArray, ctx, allow).run(f)
        }
      }
    }
  }

  /** One (segment, slice) task's view of a walk: block refs and posting
    * cursors per (source, term), the composed filter, local→global ids,
    * and the lifecycle of every cursor the walk opens.
    */
  final class Slice private[query] (
      seg: Int, slice: Int, rows: Array[Block], t: Tasks, allow: Array[Long]) {
    /** Global id of local doc 0 in this segment. */
    val docBase: Long = t.bases(seg)
    private def segDir: String = t.dirs(seg)

    private val byTerm = rows.groupBy(r => (r.src, r.term))
    private val refCache = scala.collection.mutable.HashMap.empty[(Int, String), Array[BlockRef]]

    private def has(term: String, src: Int): Boolean = byTerm.contains((src, term))

    /** The term's blocks in doc order — built once, shared by every
      * cursor over them.
      */
    private def refs(term: String, src: Int): Array[BlockRef] =
      refCache.getOrElseUpdate((src, term), byTerm((src, term))
        .sortBy(r => (r.doc_id_min, r.block_id))
        .map(r => BlockRef(r.doc_id_min, r.doc_id_max, r.count, r.deltas, r.tfs, r.dls, r.poss, r.bound)))

    /** A fresh cursor over the term's blocks (None: absent in this slice). */
    def iter(term: String, termIdx: Int = 0, idf: Double = 0.0, src: Int = 0): Option[PostingIter] =
      if (has(term, src)) Some(new PostingIter(termIdx, idf, refs(term, src), t.avgDls(src)))
      else None

    /** Cursors of the query terms present here, termIdx = query position;
      * empty when the slice cannot match (none present, or `all` and one
      * missing).
      */
    def iters(terms: Array[String], idfs: Array[Double] = null, all: Boolean = false,
              src: Int = 0): Array[PostingIter] = {
      val its = terms.indices.flatMap(i =>
        iter(terms(i), i, if (idfs == null) 0.0 else idfs(i), src)).toArray
      if (all && its.length < terms.length) Array.empty else its
    }

    /** A FRESH composed filter (filters are forward-only cursors, so every
      * independent walk pass needs its own): filter context (sidecar
      * cursor or co-shuffled allow-list) ∧ ¬must_not terms ∧ ¬tombstones.
      * Null when nothing filters.
      */
    def filter(mustNot: Seq[String] = Nil): DocFilter = {
      var f: DocFilter =
        if (t.attr != null) track(AttrSidecar.openCursor(segDir, slice, t.attr))
        else if (allow != null) new FilterIter(allow)
        else null
      val ex = mustNot.flatMap(iter(_)).toArray
      if (ex.nonEmpty) f = Filters.and(f, new NotFilter(new PostingSet(ex)))
      val tomb = t.tombs(seg)
      if (tomb != null) f = tomb.compose(slice, f)
      f
    }

    /** Value reader over this slice's attribute sidecar (closed with the walk). */
    def reader(): AttrSidecar.AttrReader = track(AttrSidecar.openReader(segDir, slice))

    /** Matching local ids (no scoring): AND leapfrog / counted OR over
      * the query terms of source `src`, gated by [[filter]] ∧ `also`.
      * None when the slice cannot match.
      */
    def matchingIds(terms: Array[String], isAnd: Boolean, msm: Int = 1,
                    mustNot: Seq[String] = Nil, src: Int = 0,
                    also: DocFilter = null): Option[Iterator[Long]] = {
      val its = iters(terms, all = isAnd, src = src)
      if (its.isEmpty) None
      else Some(BlockMaxWand.matchingDocIds(its, isAnd, msm, Filters.and(filter(mustNot), also)))
    }

    /** Every match with its exact BM25 score (local ids), streamed. */
    def scoredMatches(terms: Array[String], idfs: Array[Double], isAnd: Boolean, msm: Int = 1,
                      mustNot: Seq[String] = Nil): Option[Iterator[(Long, Double)]] = {
      val its = iters(terms, idfs, all = isAnd)
      if (its.isEmpty) None
      else Some(BlockMaxWand.scoredMatches(its, isAnd, msm, filter(mustNot)))
    }

    private var open: List[AutoCloseable] = Nil
    private var listening = false

    private def track[C <: AutoCloseable](c: C): C = {
      if (!listening) {
        listening = true
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => close())
      }
      open ::= c
      c
    }

    private def close(): Unit = {
      open.foreach(_.close())
      open = Nil
    }

    /** Run a walk; close what it opened once its output is exhausted. */
    private[query] def run[T](f: Slice => Iterator[T]): Iterator[T] = {
      val out = try f(this) catch { case e: Throwable => close(); throw e }
      new Iterator[T] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h) close()
          h
        }
        def next(): T = out.next()
      }
    }
  }
}
