package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Analyzer

/** Highlighted snippets for top-k hits — the ES highlight phase (the
  * reference's event logs are READ through Kibana, which highlights the
  * query terms inside the matching comment/data fields). Engine
  * rendition of the unified highlighter's re-analyze mode: ES, too,
  * re-analyzes the stored text when offsets aren't indexed — we never
  * index offsets, so this is the exact analog.
  *
  * Fragment choice (deterministic, mirrored by the tests): over the
  * token stream of the stored text, the window of `window` tokens whose
  * matched-term occurrences carry the highest idf sum wins (a rare term
  * beats repeats of a common one — Lucene's passage scoring shape);
  * ties go to the leftmost window. Matched tokens are wrapped
  * `pre`/`post` in the ORIGINAL text via the analyzer's offset variant —
  * normalization never leaks into the fragment.
  *
  * Scale shape: operates on the ≤ k hydrated hits only — one
  * pushdown-filtered docs read (the fetch phase), a per-row token walk,
  * zero shuffles beyond the broadcast hydrate join. The corpus is never
  * re-scanned.
  */
object Snippets {

  def highlight(
      spark: SparkSession,
      indexDir: String,
      hits: DataFrame,
      queryTerms: Seq[String],
      window: Int = 20,
      pre: String = "<em>",
      post: String = "</em>"
  ): DataFrame = {
    import spark.implicits._
    require(window > 0, "window must be positive")
    val terms = queryTerms.distinct
    // idf per query term (absent → df 0 → still highlighted, weight ln(1+(n+0.5)/0.5))
    val src = PostingSource(spark, indexDir)
    val dfs = src.dfOf(terms)
    val weights: Map[String, Double] = terms.map(t => t -> src.idf(dfs.getOrElse(t, 0L))).toMap
    val bCtx = spark.sparkContext.broadcast((weights, window, pre, post))

    val snippets = Search.hydrate(spark, indexDir, hits, withText = true)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, text) =>
        val (ws, win, p0, p1) = bCtx.value
        (id, snippetOf(text, ws, win, p0, p1))
      }
      .toDF("doc_id", "snippet")
    hits.join(broadcast(snippets), Seq("doc_id"), "left")
  }

  /** Highlight for PHRASE hits (ES unified highlighter on match_phrase):
    * the exact phrase is wrapped as ONE `pre`…`post` unit — a lone
    * occurrence of an individual phrase term is NOT highlighted, and the
    * winning fragment is the window containing the most complete phrase
    * occurrences (leftmost tie). Same hydrate shape as [[highlight]].
    */
  def highlightPhrase(
      spark: SparkSession,
      indexDir: String,
      hits: DataFrame,
      phraseTerms: Seq[String],
      window: Int = 20,
      pre: String = "<em>",
      post: String = "</em>"
  ): DataFrame = {
    import spark.implicits._
    require(window > 0, "window must be positive")
    require(phraseTerms.nonEmpty, "empty phrase")
    val bCtx = spark.sparkContext.broadcast((phraseTerms, window, pre, post))
    val snippets = Search.hydrate(spark, indexDir, hits, withText = true)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, text) =>
        val (ph, win, p0, p1) = bCtx.value
        (id, phraseSnippetOf(text, ph, win, p0, p1))
      }
      .toDF("doc_id", "snippet")
    hits.join(broadcast(snippets), Seq("doc_id"), "left")
  }

  /** Pure phrase-fragment builder (driver/test-callable). Occurrences are
    * matched greedily left-to-right without overlap; a window shorter
    * than the phrase is widened to fit it.
    */
  def phraseSnippetOf(
      text: String,
      phrase: Seq[String],
      window: Int,
      pre: String,
      post: String
  ): String = {
    val (toks, starts, ends) = Analyzer.tokenizeWithOffsets(text)
    if (toks.isEmpty) return ""
    val L = phrase.size
    val w = math.min(math.max(window, L), toks.length)
    // phrase occurrence start positions (greedy, non-overlapping)
    val occ = scala.collection.mutable.ArrayBuffer.empty[Int]
    var p = 0
    while (p + L <= toks.length) {
      var ok = true
      var j = 0
      while (ok && j < L) { if (toks(p + j) != phrase(j)) ok = false; j += 1 }
      if (ok) { occ += p; p += L } else p += 1
    }
    // best window = most complete occurrences inside [s, s+w), leftmost tie
    var best = 0
    var bestCount = -1
    var s = 0
    while (s + w <= toks.length || s == 0) {
      val cw = math.min(w, toks.length - s)
      val c = occ.count(o => o >= s && o + L <= s + cw)
      if (c > bestCount) { bestCount = c; best = s }
      s += 1
    }
    val inWin = occ.filter(o => o >= best && o + L <= best + w).toSet
    val sb = new StringBuilder
    var i = best
    var pos = starts(best)
    val until = math.min(best + w, toks.length)
    while (i < until) {
      sb.append(text.substring(pos, starts(i)))
      if (inWin(i)) {
        // the WHOLE phrase occurrence is one highlight unit, inner
        // separators preserved from the original text
        sb.append(pre).append(text.substring(starts(i), ends(i + L - 1))).append(post)
        pos = ends(i + L - 1)
        i += L
      } else {
        sb.append(text.substring(starts(i), ends(i)))
        pos = ends(i)
        i += 1
      }
    }
    sb.toString
  }

  /** Pure fragment builder (driver/test-callable). */
  def snippetOf(
      text: String,
      weights: Map[String, Double],
      window: Int,
      pre: String,
      post: String
  ): String = {
    val (toks, starts, ends) = Analyzer.tokenizeWithOffsets(text)
    if (toks.isEmpty) return ""
    val w = math.min(window, toks.length)
    val tokWeight = toks.map(weights.getOrElse(_, 0.0))
    // best window = max idf sum over matched occurrences, leftmost tie
    var best = 0
    var bestScore = tokWeight.take(w).sum
    var cur = bestScore
    var s = 1
    while (s + w <= toks.length) {
      cur += tokWeight(s + w - 1) - tokWeight(s - 1)
      if (cur > bestScore + 1e-12) { bestScore = cur; best = s }
      s += 1
    }
    // wrap matched tokens of [best, best+w) in the ORIGINAL char stream
    val sb = new StringBuilder
    val fragStart = starts(best)
    var i = best
    var pos = fragStart
    while (i < best + w) {
      sb.append(text.substring(pos, starts(i))) // NOT append(seq,a,b): that overload boxes a tuple
      val tokenText = text.substring(starts(i), ends(i))
      if (tokWeight(i) > 0.0) sb.append(pre).append(tokenText).append(post)
      else sb.append(tokenText)
      pos = ends(i)
      i += 1
    }
    sb.toString
  }
}
