package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{AttrPred, IndexBuilder}

/** Multi-field text search — the reference provisions THREE analyzed text
  * fields side by side (comment/data/dataPresentation,
  * `ElasticSearchStorage.cs:217,227,231`); ES queries them via
  * `multi_match` with per-field boosts. Engine rendition: a field is an
  * index over a column (Lucene likewise keeps per-field postings fully
  * separate — field is part of the term key). All field indexes share the
  * docID space (docIDs derive from the url sort rank, independent of
  * which column was analyzed) and the same slice layout, so one WAND task
  * can merge iterators from every field of its doc range.
  *
  * Scoring = ES `most_fields`: score(d) = Σ_f boost_f · Σ_t
  * idf_f(t)·impact(tf_{f,t,d}, dl_f(d), avgdl_f) — each field has its own
  * df/avgdl/doc_len (exactly what ES computes per field). A doc is a
  * candidate when ANY (field, term) matches (multi_match's default OR).
  * Sum order is fields-outer × terms-inner, mirrored by
  * NaiveBm25.fieldedTopK and the DuckDB oracle.
  *
  * Each field is one [[PostingSource]] (an index, or a segment family for
  * [[topKMulti]]); the walks are [[Walks.fieldedTopK]] /
  * [[Walks.fieldedPhraseTopK]]: per-field posting scans pushdown-filtered
  * to the query terms, ONE shuffle co-locating all fields' matched blocks
  * by (segment, slice), nSlices·k merge. Filter context (`attrFilter` on
  * the sidecar, or the ad-hoc `docFilter` Column) and tombstones are read
  * from the FIRST field's index — the shared-doc-space convention.
  */
object FieldedSearch {

  final case class Field(name: String, indexDir: String, boost: Double)

  private def sources(spark: SparkSession, fields: Seq[Field]): Seq[(PostingSource, Double)] =
    fields.map(f => PostingSource(spark, f.indexDir) -> f.boost)

  /** Fielded most_fields top-k. `perFieldTerms` (nullable): per-field
    * allowed term subset — the fielded rewrites expand PER FIELD
    * dictionary (ES multi_match rewrites each field against its own
    * terms), so a term may participate in one field and not another.
    */
  def topK(
      spark: SparkSession,
      fields: Seq[Field],
      queryTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      perFieldTerms: Seq[Set[String]] = null
  ): DataFrame =
    Walks.fieldedTopK(sources(spark, fields), queryTerms, k, docFilter, attrFilter, perFieldTerms)

  /** Fielded ES prefix query (`multi_match` carries term-level rewrites):
    * the prefix expands against EACH field's own dictionary (df-desc cap
    * per field), then one masked most_fields WAND over the union — a
    * rewrite participates only in the field whose dictionary produced it.
    */
  def prefixTopK(
      spark: SparkSession,
      fields: Seq[Field],
      prefix: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame =
    Walks.fieldedRewriteTopK(sources(spark, fields), PostingSource.prefix(prefix),
      maxExpansions, k, docFilter, attrFilter)

  /** Fielded ES fuzzy query — per-field edit-distance expansion, then the
    * same masked most_fields WAND as [[prefixTopK]].
    */
  def fuzzyTopK(
      spark: SparkSession,
      fields: Seq[Field],
      term: String,
      k: Int,
      maxEdits: Int = 1,
      maxExpansions: Int = 64,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame =
    Walks.fieldedRewriteTopK(sources(spark, fields), PostingSource.fuzzy(term, maxEdits),
      maxExpansions, k, docFilter, attrFilter)

  /** Fielded ES wildcard query — `query_string` over multiple fields
    * carries `*`/`?` patterns (`server:web-*` is a Kibana day-one query).
    */
  def wildcardTopK(
      spark: SparkSession,
      fields: Seq[Field],
      pattern: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame =
    Walks.fieldedRewriteTopK(sources(spark, fields), PostingSource.wildcard(pattern),
      maxExpansions, k, docFilter, attrFilter)

  /** Fielded ES regexp query (anchored regex per field dictionary). */
  def regexpTopK(
      spark: SparkSession,
      fields: Seq[Field],
      regex: String,
      k: Int,
      maxExpansions: Int = 128,
      docFilter: Column = null,
      attrFilter: AttrPred = null,
      prefixHint: String = ""
  ): DataFrame =
    Walks.fieldedRewriteTopK(sources(spark, fields), PostingSource.regexp(regex, prefixHint),
      maxExpansions, k, docFilter, attrFilter)

  /** Fielded EXACT-PHRASE top-k (ES `most_fields` over `match_phrase`
    * clauses): score(d) = Σ_f boost_f · idfSum_f · impact(freq_f(d),
    * dl_f(d), avgdl_f), summed in field order; a field missing any phrase
    * term corpus-wide contributes nothing (Lucene PhraseQuery semantics).
    * Mirrored exactly by NaiveBm25.fieldedPhraseTopK and the DuckDB oracle.
    */
  def phraseTopK(
      spark: SparkSession,
      fields: Seq[Field],
      phraseTerms: Seq[String],
      k: Int,
      docFilter: Column = null,
      attrFilter: AttrPred = null
  ): DataFrame =
    Walks.fieldedPhraseTopK(sources(spark, fields), phraseTerms, k, docFilter, attrFilter)

  /** One field = a SEGMENT FAMILY (multi-segment fielded search — ES
    * `multi_match` across its `{prefix}-*` indices in one query). All
    * families must share the segmentation of the doc space (segment i
    * holds the same docs in every field — per-segment n_docs asserted),
    * so one (seg, slice) task merges every field's iterators for its doc
    * range and global ids use one base sequence.
    */
  final case class FieldFamily(name: String, segmentDirs: Seq[String], boost: Double)

  /** Fielded most_fields top-k over segment families; per-field global
    * stats (N, avgdl_f, df_f summed over segments) — the
    * [[PostingSource]] bound rule per field.
    */
  def topKMulti(
      spark: SparkSession,
      fields: Seq[FieldFamily],
      queryTerms: Seq[String],
      k: Int,
      attrFilter: AttrPred = null
  ): DataFrame =
    Walks.fieldedTopK(fields.map(f => new PostingSource(spark, f.segmentDirs) -> f.boost),
      queryTerms, k, attrFilter = attrFilter)

  /** ES `combined_fields` (Lucene CombinedFieldQuery / BM25F): the fields
    * are scored as ONE virtual field — per-term combined
    * tf′(t,d) = Σ_f w_f·tf_f(t,d), combined length dl′(d) = Σ_f w_f·dl_f(d),
    * avgdl′ = Σ_f w_f·avgdl_f (means are linear), and ONE idf per term
    * from the merged stats (df′(t) = max_f df_f(t), Lucene's
    * CombinedFieldQuery term-stats merge, clamped to n) — unlike
    * most_fields ([[topK]]) a term hot in every field is NOT
    * double-idf-counted.
    *
    * Plan shape (deliberately DECLARATIVE, not WAND): the per-field
    * block-max bounds do not soundly bound a cross-field combined
    * impact, so instead of hand-pruning we decode ONLY the query terms'
    * posting blocks (scan pushdown), shuffle (doc, term, w·tf) rows —
    * the same magnitude as any scoring walk's candidate set — and let
    * Catalyst aggregate. The per-doc score folds in ASCENDING TERM
    * ORDER via aggregate(sort_array(collect_list(...))) so float sums
    * are deterministic and SQL-mirrorable (a bare sum() order is
    * partition-layout-dependent).
    */
  def combinedFieldsTopK(
      spark: SparkSession,
      fields: Seq[Field],
      queryTerms: Seq[String],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    require(fields.nonEmpty)
    val terms = queryTerms.distinct
    val stats = fields.map(f => IndexBuilder.readStats(spark, f.indexDir))
    val n = stats.head.n_docs
    require(stats.forall(_.n_docs == n),
      "field indexes must share the docID space (same corpus, same urls)")
    val avgdlC = fields.zip(stats).map { case (f, st) =>
      f.boost * (if (st.avg_dl > 0) st.avg_dl else 1.0)
    }.sum
    // merged term stats: one tiny pushdown dictionary read per field
    val perFieldDf: Seq[Map[String, Long]] = fields.map { f =>
      IndexBuilder.readTerms(spark, f.indexDir)
        .where($"term".isin(terms: _*))
        .collect().map(t => t.term -> t.doc_freq).toMap
    }
    val dfc: Map[String, Long] = terms
      .map(t => t -> perFieldDf.map(_.getOrElse(t, 0L)).max)
      .toMap.filter(_._2 > 0L)
    if (dfc.isEmpty) return spark.emptyDataset[Search.QueryHit].toDF()
    val present = terms.filter(dfc.contains)
    val idfs = present.map(t => t -> NaiveBm25.idf(n, math.min(dfc(t), n))).toDF("term", "idf")

    // decoded candidate postings: (doc_id, term, w_f·tf) — scan pushdown
    // reads only the query terms' blocks of each field
    val post = fields.map { f =>
      val w = f.boost
      IndexBuilder.readPostings(spark, f.indexDir)
        .where($"term".isin(present: _*))
        .select($"term", $"doc_id_min", $"count", $"deltas", $"tfs")
        .as[(String, Long, Int, Array[Byte], Array[Byte])]
        .flatMap { case (t, base, c, deltas, tfs) =>
          val ids = graft.functions.Codec.decodeGapsFromBase(base, deltas, c)
          val fr = graft.functions.Codec.decodeIntsAuto(tfs, c)
          ids.indices.iterator.map(i => (ids(i), t, w * fr(i)))
        }
        .toDF("doc_id", "term", "wtf")
    }.reduce(_ unionByName _)

    // tombstone composition (deletes live on the first field's index, the
    // convention every other FieldedSearch/Search path follows): deleted
    // docs are anti-joined out of the candidate set BEFORE scoring — the
    // declarative analog of the WAND paths' tomb.compose(slice, filter)
    val tombH = graft.index.Tombstones.handle(fields.head.indexDir)
    val candidates = {
      val agg = post.groupBy($"doc_id", $"term").agg(sum($"wtf").as("tfc"))
      if (tombH == null) agg
      else {
        val idxDir = fields.head.indexDir
        val gen = tombH.gen
        val nSlices = IndexBuilder.readMeta(idxDir).nSlices
        val deleted = spark.range(0, nSlices.toLong)
          .as[Long]
          .mapPartitions(_.flatMap(s =>
            graft.index.Tombstones.readSlice(idxDir, gen, s.toInt).iterator))
          .toDF("doc_id")
        agg.join(deleted, Seq("doc_id"), "left_anti")
      }
    }

    // combined per-field-weighted doc length from each field's stored
    // docs table (column-pruned: only doc_id + doc_len are read) —
    // restricted to CANDIDATE docs BEFORE the aggregation (r6, guide
    // §2.3): the unrestricted shape aggregated doc lengths over the
    // whole corpus just to inner-join ~candidate rows afterwards, a
    // full-corpus shuffle a top-k query must not pay at scale. The
    // candidate-id frame is bare 8-byte ids (bounded by the query
    // terms' postings), so AQE broadcasts it under the usual regimes.
    val candIds = candidates.select($"doc_id").distinct()
    val dlc = fields.map { f =>
      spark.read.parquet(s"${f.indexDir}/docs")
        .select($"doc_id", ($"doc_len".cast("double") * f.boost).as("wdl"))
    }.reduce(_ unionByName _)
      .join(candIds, Seq("doc_id"), "left_semi")
      .groupBy($"doc_id").agg(sum($"wdl").as("dlc"))

    candidates
      .join(dlc, Seq("doc_id"))
      .join(broadcast(idfs), Seq("term"))
      .withColumn("s",
        $"idf" * $"tfc" / ($"tfc" + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * $"dlc" / lit(avgdlC))))
      .groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"term", $"s"))),
        lit(0.0),
        (acc, x) => acc + x.getField("s")).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }
}
