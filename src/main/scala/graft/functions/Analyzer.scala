package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's ES "english" analyzer as column functions
  * (SURVEY.md §2 X-10): standard tokenizer → lowercase → english stop
  * filter → Porter stemmer (configs/elasticsearch_config.py:36-50,
  * 93-110; docker_startup.sh:82-84). Tokenize/lowercase/stop are all
  * native (codegen'd); only the stemmer is a UDF.
  */
object Analyzer {

  /** The Lucene/ES default english stopword set. */
  val StopWords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  private val stemArrayUdf = udf { (toks: Seq[String]) =>
    if (toks == null) null else toks.map(Porter.stem)
  }

  /** standard-ish tokenizer: split on non-alphanumerics, drop empties.
    *
    * `array_remove(..., "")` instead of a higher-order `filter`: the
    * split's `+` quantifier means empties only arise at the array
    * boundaries, so removing "" is exactly the drop-empties filter —
    * as ONE native codegen'd pass (HOFs are CodegenFallback; a
    * measured round-trip through regexp-strip-then-split and through
    * 32 chained array_removes both LOST to the interpreted filter,
    * so this is the only formulation that is both codegen'd and
    * single-pass — tools/CodegenAudit (last in b820d97) + bench,
    * SCALING.md). */
  def tokenize(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9']+"), "")

  /** EXACTLY the first `n` tokens of [[tokenize]], without scanning the
    * whole string: `split` with limit `n+2` stops the regex after n+1
    * matches and returns the raw remainder as its last element. When
    * the limit is hit, elements 1..n+1 are exact tokens (at most one
    * boundary "" — the `+` quantifier confines empties to the string's
    * edges), so dropping the remainder and the empties leaves ≥ n exact
    * leading tokens; when it isn't, the split IS the full tokenization.
    * Either way `slice(…, 1, n)` equals `slice(tokenize(text), 1, n)` —
    * a pure execution win for consumers that only need a title-sized
    * prefix of a document-sized string (measured: q80's tokenize pass
    * was its entire remaining wall time at sf0.1). */
  def tokenizePrefix(text: Column, n: Int): Column = {
    val lim = n + 2
    val s = split(lower(text), "[^a-z0-9']+", lim)
    slice(array_remove(
      when(size(s) === lim, slice(s, 1, lim - 1)).otherwise(s), ""),
      1, n)
  }

  /** tokenize → stop-filter. The HOF is CodegenFallback, but the
    * measured native alternative (a 32-deep array_remove fold) costs
    * 32 array copies per row and benches 2× WORSE than the
    * interpreted single pass — fallback is the right trade here. */
  def tokensNoStop(text: Column): Column = {
    val stop = typedLit(StopWords.toSeq)
    filter(tokenize(text), t => !array_contains(stop, t))
  }

  /** The full analyze chain: tokenize → stop → stem. */
  def analyze(text: Column): Column = stemArrayUdf(tokensNoStop(text))

  /** Q-2 fidelity: analyzed OR-of-terms match count — the relevance
    * score of an ES multi_match with the english analyzer. The query
    * string goes through the same chain (driver-side, tiny). */
  def analyzedMatchCount(text: Column, query: String): Column = {
    val qTerms = query.toLowerCase.split("[^a-z0-9']+").toSeq
      .filter(t => t.nonEmpty && !StopWords(t)).map(Porter.stem).distinct
    val qLit = typedLit(qTerms)
    size(array_intersect(array_distinct(analyze(text)), qLit))
  }
}
