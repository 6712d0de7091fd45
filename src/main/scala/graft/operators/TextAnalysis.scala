package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Analyzer

/** Text analysis for large-scale training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. Per-doc
  * signals over the corpus tokenizer (language, quality, repetition)
  * are hand-written single-pass kernels wrapped as UDFs: their Column
  * forms re-tokenize with a regex split per use and run per-token
  * lambdas interpreted, several times the kernels' cost
  * (SCALING.md round 17). The rest are native column expressions.
  */
object TextAnalysis {

  // ---- language identification (stopword-overlap heuristic) -----------

  /** Tiny per-language function-word profiles (public knowledge). An
    * n-gram model would live in a broadcast lookup the same way. */
  val Profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "pour"),
    "it" -> Seq("il", "di", "che", "la", "per", "con", "del", "una", "sono", "non"))

  /** A token of at most 10 chars packed into a Long, 6 bits a char
    * (`a-z` → 1..26, `0-9` → 27..36, `'` → 37; no char codes 0, so the
    * packing is injective across lengths); -1 for longer tokens. The
    * kernels below look short tokens up in a sorted `Long` table this
    * way, without building the token's string. */
  private def packedToken(s: String, a: Int, b: Int): Long = {
    if (b - a > 10) return -1L
    var k = 0L
    var i = a
    while (i < b) {
      val c = s.charAt(i)
      k = (k << 6) | (if (c >= 'a') c - 'a' + 1 else if (c >= '0') c - '0' + 27 else 37)
      i += 1
    }
    k
  }

  private def packed(word: String): Long = packedToken(word, 0, word.length)

  private val ProfileLangs: Array[String] = Profiles.keys.toArray.sorted

  /** Sorted packed profile words, and beside each one a bit per
    * (profile, word) it is: a doc's bit set is then the distinct
    * profile words it contains, and a profile's score the popcount of
    * its slice. */
  private val (profileKeys, profileBits, profileSlices) = {
    val words = ProfileLangs.map(l => Profiles(l).distinct)
    require(words.map(_.size).sum <= 64 && words.flatten.forall(_.length <= 10))
    val offsets = words.scanLeft(0)(_ + _.size)
    val bits = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((ws, p) <- words.zipWithIndex; (w, j) <- ws.zipWithIndex)
      bits(packed(w)) |= 1L << (offsets(p) + j)
    val keys = bits.keys.toArray.sorted
    (keys, keys.map(bits), words.indices.map(p =>
      ((1L << words(p).size) - 1) << offsets(p)).toArray)
  }

  /** The language kernel: `(score, lang)`, the `(score, lang)` maximum
    * over the profiles, where a profile's score is how many of its
    * words the doc's tokens contain (distinct words; the tokens are
    * [[DedupApprox.foreachToken]]'s). One token scan, no token
    * strings. Null for a null text. */
  private[graft] def langScoreOf(text: String): (Int, String) = {
    if (text == null) return null
    var seen = 0L
    DedupApprox.foreachToken(text) { (s, a, b) =>
      val k = java.util.Arrays.binarySearch(profileKeys, packedToken(s, a, b))
      if (k >= 0) seen |= profileBits(k)
    }
    var bestScore = -1
    var bestLang: String = null
    var p = 0
    while (p < ProfileLangs.length) {
      val score = java.lang.Long.bitCount(seen & profileSlices(p))
      // `>=`: the langs ascend, so a tie goes to the greater lang
      if (score >= bestScore) { bestScore = score; bestLang = ProfileLangs(p) }
      p += 1
    }
    (bestScore, bestLang)
  }

  private val langScoreUdf = udf { (text: String) => langScoreOf(text) }

  /** Scalar form of [[withLangId]] for the SQL registry: the same
    * kernel, "und" below score 1 and for a null text. */
  private[graft] def langIdOf(text: String): (String, Int) = {
    val best = langScoreOf(text)
    if (best == null) ("und", 0)
    else (if (best._1 > 0) best._2 else "und", best._1)
  }

  /** Column form of the language argmax, `struct(score, lang)` —
    * [[langScoreOf]], so [[withLangId]], [[Report.corpusCard]] and the
    * `lang_id` SQL function share one tie order (the order
    * `greatest(struct(score, lang))` over the profiles gives). */
  private[graft] def langBest(text: Column): Column = {
    val best = langScoreUdf(text)
    struct(best("_1").as("score"), best("_2").as("lang"))
  }

  /** Language-ID: argmax over stopword-overlap scores. Emits
    * (lang_pred, lang_score). Unknown → "und". */
  def withLangId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__l", langBest(col(textCol)))
      .withColumn("lang_pred",
        when(col("__l.score") > 0, col("__l.lang")).otherwise("und"))
      .withColumn("lang_score", col("__l.score"))
      .drop("__l")

  // ---- quality scoring -------------------------------------------------

  private val StopKeys: Array[Long] = Analyzer.StopWords.toArray.map(packed).sorted

  /** The quality kernel: `(n_tokens, stop_hits, token_chars, punct_cps,
    * cps)` from one token scan and one char scan. Tokens are
    * [[DedupApprox.foreachToken]]'s (= `Analyzer.tokenize`);
    * `cps` is Spark's `length()` (code points) and `punct_cps` the
    * code points outside `[a-zA-Z0-9\s]` (`\s` = the six ASCII
    * spaces `[ \t\n\x0B\f\r]`) — what
    * `length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))` counts. Null
    * for a null text. */
  private[graft] def qualityOf(text: String): (Int, Int, Int, Int, Int) = {
    if (text == null) return null
    var nToks = 0
    var stopHits = 0
    var tokChars = 0
    DedupApprox.foreachToken(text) { (s, a, b) =>
      nToks += 1
      tokChars += b - a
      if (java.util.Arrays.binarySearch(StopKeys, packedToken(s, a, b)) >= 0) stopHits += 1
    }
    // the class chars are single-char code points, so the rest of the
    // code points are the punct ones
    val cps = text.codePointCount(0, text.length)
    var kept = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
          c == ' ' || (c >= '\t' && c <= '\r')) kept += 1
      i += 1
    }
    (nToks, stopHits, tokChars, cps - kept, cps)
  }

  private val qualityUdf = udf { (text: String) => qualityOf(text) }

  /** Composite quality heuristics: length, alpha ratio, punct ratio,
    * stopword ratio, mean word length — the usual pretraining-corpus
    * filters, one pass. The counts come from [[qualityOf]]; each ratio
    * is one double division of two of its integer counts, so the x06
    * oracle replays it exactly. */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val nToks = col("__q._1").cast("double")
    val nChars = col("__q._5").cast("double")
    df.withColumn("__q", qualityUdf(col(textCol)))
      .withColumn("q_n_tokens", col("__q._1").cast("long"))
      .withColumn("q_punct_ratio",
        when(nChars > 0, col("__q._4").cast("double") / nChars).otherwise(0.0))
      .withColumn("q_stopword_ratio",
        when(nToks > 0, col("__q._2").cast("double") / nToks).otherwise(0.0))
      .withColumn("q_mean_word_len",
        when(nToks > 0, col("__q._3").cast("double") / nToks).otherwise(0.0))
      .withColumn("q_score",
        when(col("q_n_tokens") >= 5 && col("q_punct_ratio") < 0.3 &&
             col("q_mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.0))
      .drop("__q")
  }

  // ---- token counting --------------------------------------------------

  /** Whitespace token count + BPE-ish subword count (alpha runs, digit
    * runs, and single punctuation marks — a cheap proxy for tokenizer
    * budget estimation over a corpus). */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("tok_ws", size(split(trim(t), "\\s+")).cast("long"))
      .withColumn("tok_bpe",
        regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long"))
  }

  // ---- repetition (Gopher/C4-style quality filters) -------------------

  /** Single-pass kernel for [[repetitionStats]]: both signals are
    * PER-DOC statistics, so they belong in the scan, not in a
    * shuffle. Division order matches the original declarative form
    * (one double division of exact integer counts) so the q47 oracle
    * replays unchanged. */
  private[graft] def repetitionOf(text: String): (Double, Double) = {
    val toks = DedupApprox.tokensOf(text)
    if (toks.isEmpty) return (0.0, 0.0)
    val uni = new java.util.HashMap[String, Int](toks.length * 2)
    toks.foreach(t => uni.merge(t, 1, _ + _))
    val dupFrac = 1.0 - uni.size.toDouble / toks.length
    if (toks.length < 2) (dupFrac, 0.0)
    else {
      val bg = new java.util.HashMap[String, Int](toks.length * 2)
      var maxC = 0
      var i = 0
      while (i + 1 < toks.length) {
        val c = bg.merge(toks(i) + " " + toks(i + 1), 1, _ + _)
        if (c > maxC) maxC = c
        i += 1
      }
      (dupFrac, maxC.toDouble / (toks.length - 1).toDouble)
    }
  }

  private val repetitionUdf = udf { (text: String) => repetitionOf(text) }

  /** The repetition kernel as a bare column — `(dup_unigram_frac,
    * top_bigram_frac)` struct over any text column, for call sites
    * that gate inline instead of taking [[repetitionStats]]'
    * two-column projection (e.g. the streaming cleaning chain). */
  def repetitionColumn(text: Column): Column = repetitionUdf(text)

  /** Per-doc repetition signals used as pretraining quality filters
    * (Rae et al. 2021 "Gopher" §A1.1: fraction of duplicated n-grams;
    * Raffel et al. 2020 "C4" dedup rules):
    *   - `dup_unigram_frac`: 1 − |distinct tokens| / |tokens| — bulk
    *     token repetition;
    *   - `top_bigram_frac`: occurrences of the most frequent word
    *     bigram / all bigrams — templated-boilerplate detector.
    *
    * Both are PER-DOC stats, so the operator is one scan-local pass —
    * a single-pass UDF kernel (justified: the declarative form
    * explodes every bigram through TWO doc-id-keyed shuffles plus a
    * join; measured 1.7 s → 0.4 s at sf0.1, and at corpus scale it
    * removes a shuffle of ~|tokens| rows entirely. The kernel's
    * hash-map counting replaces the exploded aggregate exactly —
    * integer counts, one double division, bit-identical output, q47
    * oracle unchanged). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), repetitionUdf(col(textCol)).as("__r"))
      .select(col(idCol), col("__r._1").as("dup_unigram_frac"),
        col("__r._2").as("top_bigram_frac"))

  /** Compression-ratio quality signal — the catch-all redundancy
    * detector production corpus filters run beside the targeted
    * repetition stats (a doc that deflates to a tiny fraction of its
    * size is boilerplate/template/spam whatever n-gram it repeats;
    * conversely near-incompressible "text" is usually binary junk or
    * encoded blobs). DEFLATE at a fixed level via `java.util.zip`
    * (RFC 1951 — in every JVM): the encoder is deterministic for a
    * given input and level, so the per-doc output is bit-stable under
    * any partitioning. One Deflater per partition, reset per row —
    * scan-local, zero shuffles, no allocation churn.
    *
    * Emits `(id, raw_bytes, deflate_bytes, ratio_micro)` with
    * `ratio = deflate/raw` in micro-units (0 for empty docs). Typical
    * gates: ratio < ~0.2 → repetitive junk; > ~0.9 → non-text. */
  /** One DEFLATE kernel per (executor thread, level), reused across
    * rows AND tasks: a Deflater holds native memory, and the pool is
    * bounded by (#task threads × #distinct levels — in practice one),
    * so nothing needs per-task teardown. The round-16 column form
    * exists so the funnel's compression gate is a PROJECTION on the
    * verdict plan (the old mapPartitions form was a separate Dataset
    * that re-executed the whole upstream cleaning chain and joined
    * back on the id — one extra corpus pass plus a corpus-keyed
    * shuffle, for a scan-local signal). */
  private object DeflaterPool {
    private val tl =
      new ThreadLocal[scala.collection.mutable.Map[Int, (java.util.zip.Deflater, Array[Byte])]] {
        override def initialValue() = scala.collection.mutable.Map.empty
      }
    def get(level: Int): (java.util.zip.Deflater, Array[Byte]) =
      tl.get().getOrElseUpdate(level,
        (new java.util.zip.Deflater(level, false), new Array[Byte](1 << 16)))
  }

  /** `(raw_bytes, deflate_bytes, ratio_micro)` struct column — the
    * [[compressionStats]] kernel as a scan-local expression usable
    * inside an existing projection (zero extra passes, zero joins).
    * Bit-deterministic: java.util.zip DEFLATE at a fixed level. */
  def compressionColumn(text: Column, level: Int = 6): Column = {
    val u = udf { (s: String) =>
      val raw = (if (s == null) "" else s).getBytes("UTF-8")
      var out = 0L
      if (raw.nonEmpty) {
        val (defl, buf) = DeflaterPool.get(level)
        defl.reset(); defl.setInput(raw); defl.finish()
        while (!defl.finished()) out += defl.deflate(buf)
      }
      val ratio =
        if (raw.isEmpty) 0L
        else math.floor(out.toDouble / raw.length * 1e6 + 0.5).toLong
      (raw.length.toLong, out, ratio)
    }
    u(text)
  }

  def compressionStats(df: DataFrame, idCol: String, textCol: String,
                       level: Int = 6): DataFrame =
    df.select(col(idCol), compressionColumn(col(textCol), level).as("__c"))
      .select(col(idCol), col("__c._1").as("raw_bytes"),
        col("__c._2").as("deflate_bytes"), col("__c._3").as("ratio_micro"))

  /** Column-APPENDING twin of [[repetitionStats]] for pipeline
    * composition (same single-pass kernel, keeps the input columns). */
  def withRepetition(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__r", repetitionUdf(col(textCol)))
      .withColumn("dup_unigram_frac", col("__r._1"))
      .withColumn("top_bigram_frac", col("__r._2"))
      .drop("__r")

  /** The eight required stop words of the Gopher stop-word rule
    * (Rae et al. 2021 §A1.1) — a doc must contain at least two. */
  private[graft] val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher document-filter bundle (Rae et al. 2021 "Gopher"
    * §A1.1) as one verdict-columns projection — the named recipe the
    * MassiveText/RefinedWeb/Dolma pipelines all start from. Eight
    * rules, each its own boolean so funnels can count attrition per
    * rule (the [[graft.plans.CorpusPipeline]] verdict-columns
    * pattern):
    *
    *   - `g_word_count`:    `minWords <= |words| <= maxWords`
    *     (paper: 50..100,000; words = whitespace runs);
    *   - `g_mean_word_len`: mean word length in [3, 10] chars;
    *   - `g_symbol`:        (# + "..." + "…") to word ratio <= 0.1;
    *   - `g_bullet`:        <= 90% of lines start with a bullet;
    *   - `g_ellipsis`:      <= 30% of lines end with an ellipsis;
    *   - `g_alpha`:         >= 80% of words contain an alphabetic char;
    *   - `g_stopwords`:     >= 2 distinct [[GopherStops]] present;
    *   - `g_keep`:          conjunction of the seven.
    *
    * Every ratio gate compares SCALED INTEGERS (`10·symbols <= words`,
    * `5·alpha >= 4·words`, `3·n <= totalLen <= 10·n`, ...) — no float
    * division anywhere, so the verdicts replay bit-for-bit in any
    * engine (the q94 oracle) and are immune to ulp drift at any scale.
    * Line ratios count NON-EMPTY lines (trimmed); empty docs pass the
    * line/alpha/symbol gates vacuously and fail `g_word_count` and the
    * mean-length rule (which needs at least one word).
    *
    * Scale shape: pure projection over the scan — zero shuffles at any
    * corpus size; distinct from [[withQuality]] (heuristic score) and
    * [[repetitionStats]] (duplication fractions), which cover the
    * OTHER Gopher sections. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"need 0 <= minWords <= maxWords (got $minWords..$maxWords)")
    val t = coalesce(col(textCol), lit(""))
    val words = filter(split(t, "\\s+"), w => length(w) > 0)
    val nW = size(words).cast("long")
    val totLen = length(array_join(words, "")).cast("long")
    def gone(pat: String) = length(t) - length(regexp_replace(t, pat, ""))
    // "..." counts once per three removed chars; '#' and '…' per char
    val nSym = (gone("#") + gone("\\.\\.\\.") / lit(3) + gone("…")).cast("long")
    val lines = filter(transform(split(t, "\n"), l => trim(l)),
      l => length(l) > 0)
    val nL = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => substring(l, 1, 1).isin("•", "‣", "-", "*"))).cast("long")
    val nEll = size(filter(lines,
      l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val wl = transform(words, w => lower(w))
    val nStops = GopherStops.map(s =>
      when(array_contains(wl, s), 1L).otherwise(0L)).reduce(_ + _)
    val gWc = nW.between(minWords.toLong, maxWords.toLong)
    val gMean = lit(3L) * nW <= totLen && totLen <= lit(10L) * nW && nW > 0L
    val gSym = lit(10L) * nSym <= nW
    val gBul = lit(10L) * nBullet <= lit(9L) * nL
    val gEll = lit(10L) * nEll <= lit(3L) * nL
    val gAlpha = lit(5L) * nAlpha >= lit(4L) * nW
    val gStops = nStops >= 2L
    // one projection: every gate needs the text column, which a
    // select-then-withColumn split would have dropped
    df.select(col(idCol), nW.as("n_words"),
      gWc.as("g_word_count"), gMean.as("g_mean_word_len"),
      gSym.as("g_symbol"), gBul.as("g_bullet"), gEll.as("g_ellipsis"),
      gAlpha.as("g_alpha"), gStops.as("g_stopwords"),
      (gWc && gMean && gSym && gBul && gEll && gAlpha && gStops)
        .as("g_keep"))
  }

  // ---- sequence packing ------------------------------------------------

  /** Assigns each doc to a contiguous token-budget bin — the sequence-
    * packing step that turns a corpus into fixed-size training windows
    * (concatenate-and-split packing: a doc may straddle its bin
    * boundary; `bin` is where it starts). Sharded BY DESIGN: the
    * running token sum is a window cumsum, and a single global window
    * would serialize onto one partition at corpus scale — per-shard
    * packing keeps every shard's prefix sum independent and parallel,
    * which is how packed pretraining shards are actually laid out. */
  def packIntoBins(df: DataFrame, idCol: String, textCol: String,
                   budgetTokens: Int, shards: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
    df.select(col(idCol), pmod(col(idCol), lit(shards)).as("shard"),
        TextStats.wordCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum - n_tok) div $budgetTokens"))
  }

  /** Overlapping token-window chunker — the embedding/RAG prep step
    * (and the long-doc answer [[packIntoBins]] is not): each doc is
    * split into windows of `window` tokens advancing by `stride`
    * (overlap = window − stride carries context across cuts), with the
    * last window shortened rather than padded. Tokens are the same
    * whitespace split the packing path uses (TextStats.wordCount), so
    * the two layouts agree on token counts.
    *
    * Chunk count: 1 if n ≤ window, else ⌈(n − window)/stride⌉ + 1 —
    * every token lands in ≥ 1 chunk and starts are `i·stride + 1`.
    * `stride ≤ window` is required (a gap would silently drop tokens).
    *
    * Output: `(doc_id, chunk_id, start_tok, n_tok, chunk_md5)` — the
    * md5 makes the exact chunk text hash-checkable without shipping
    * it (the q152 surface trick); callers wanting the text swap the
    * md5 for `array_join`.
    *
    * Scale shape: pure scan-local projection + explode — zero
    * shuffles at any corpus size; output rows ≈ n_tokens/stride per
    * doc, and the token array lives only inside the per-row
    * expression (never wider than one doc). */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window]; got stride=$stride window=$window")
    val toks = split(trim(coalesce(col(textCol), lit(""))), "\\s+")
    val base = df
      .select(col(idCol), toks.as("__toks"), size(toks).cast("long").as("__n"))
      .withColumn("__k", when(col("__n") <= window.toLong, 1L)
        .otherwise(expr(s"(__n - $window + $stride - 1) div $stride") + 1L))
    val start = (col("chunk_id") * stride + 1L).cast("int")
    val len = least(lit(window.toLong), col("__n") - start + 1L).cast("int")
    base
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0L), col("__k") - 1L)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        start.cast("long").as("start_tok"),
        len.cast("long").as("n_tok"),
        md5(array_join(slice(col("__toks"), start, len), " ")
          .cast("binary")).as("chunk_md5"))
  }

  /** Corpus collocations by pointwise mutual information (Church &
    * Hanks 1990): adjacent token pairs WITH multiplicity (unlike
    * [[DedupApprox.shingles]]' per-doc sets — PMI needs raw counts),
    * PMI = ln(P(x,y) / (P(x)·P(y))) rewritten over exact counts as
    * ln((c_xy·Nu·Nu) / (Np·c_x·c_y)), the quotient formed in double
    * in a fixed multiplication order so both engines evaluate the
    * identical IEEE tree; the ln output rides the micro grid. Pairs
    * under `minCount` are dropped first (rare-pair PMI explodes — the
    * standard filter), then top-`k` by (pmi, pair) deterministically.
    *
    * Scale shape: tokenize + pair explode are scan-local; one shuffle
    * keys the pair counts, one the unigram counts; the two unigram
    * joins key on a term column each (vocabulary-sized, never
    * collected); totals broadcast as single rows; top-k is a
    * TakeOrdered, no global sort. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Int = 5, k: Int = 20): DataFrame = {
    val toks = graft.functions.Analyzer.tokenize(
      coalesce(col(textCol), lit("")))
    val base = df.select(toks.as("__toks")).filter(size(col("__toks")) >= 2)
    val pairs = base.select(explode(expr(
        """transform(sequence(1, size(__toks) - 1),
           i -> struct(element_at(__toks, i) AS t1,
                       element_at(__toks, i + 1) AS t2))""")).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
    // both count tables feed multiple consumers (totals + joins) —
    // materialize once or each consumer re-runs the corpus pass;
    // they are pair-/vocabulary-sized, orders smaller than the corpus
    val pairCnt = pairs.groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("c_xy")).localCheckpoint()
    val uni = df.select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c")).localCheckpoint()
    val totals = pairCnt.agg(sum(col("c_xy")).as("np"))
      .crossJoin(uni.agg(sum(col("c")).as("nu")))
    val arg = (col("c_xy").cast("double") * col("nu") * col("nu")) /
      (col("np").cast("double") * col("c_x") * col("c_y"))
    pairCnt.filter(col("c_xy") >= minCount.toLong)
      .join(uni.select(col("term").as("t1"), col("c").as("c_x")), Seq("t1"))
      .join(uni.select(col("term").as("t2"), col("c").as("c_y")), Seq("t2"))
      .crossJoin(broadcast(totals))
      .select(col("t1"), col("t2"), col("c_xy"), col("c_x"), col("c_y"),
        floor(log(arg) * 1000000.0 + 0.5).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("t1"), col("t2"))
      .limit(k)
  }

  // ---- line-level cleaning (C4 rules) ---------------------------------

  /** C4-style line cleaning (Raffel et al. 2020 §2.2): keep a line
    * only if it (a) ends in terminal punctuation, (b) has at least
    * `minWords` words, and (c) contains none of the blocklist
    * phrases (case-insensitive; C4 uses "javascript", "lorem ipsum",
    * "{"); reassemble the survivors. Emits per-doc
    * (n_lines, n_kept, cleaned_len, cleaned_md5) — the counts feed
    * corpus dashboards, the md5 makes the rewrite hash-checkable
    * without shipping text.
    *
    * Scale shape: one hand-written scan per doc in the projection
    * ([[c4CleanOf]]). Zero shuffles at any corpus size. */
  def c4LineClean(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 3,
                  blocklist: Seq[String] = Seq("javascript", "lorem ipsum", "{"))
      : DataFrame = {
    val c4 = udf(c4Kernel(minWords, blocklist, requireTerminalPunct = true)).asNonNullable()
    df.select(col(idCol), c4(col(textCol)).as("__c4"))
      .select(col(idCol),
        col("__c4._1").cast("long").as("n_lines"),
        col("__c4._2").cast("long").as("n_kept"),
        length(col("__c4._3")).cast("long").as("cleaned_len"),
        md5(col("__c4._3").cast("binary")).as("cleaned_md5"))
  }

  /** The REWRITE twin of [[c4LineClean]]: same keep rules, but emits
    * the cleaned text itself (plus the untouched input columns) so
    * downstream cleaning stages can chain on it — the form the
    * streaming corpus pipeline consumes. Still a pure projection:
    * zero shuffles, append-stream safe. ([[c4LineClean]]'s md5 digest
    * stays the oracle-checkable contract; this emits what the digest
    * summarizes.) */
  def c4LineCleanText(df: DataFrame, textCol: String,
                      outCol: String = "text_clean", minWords: Int = 3,
                      blocklist: Seq[String] = Seq("javascript", "lorem ipsum", "{"),
                      requireTerminalPunct: Boolean = true)
      : DataFrame = {
    val c4 = c4Kernel(minWords, blocklist, requireTerminalPunct)
    // non-nullable: a nullable column would store the shards in
    // another parquet layout
    df.withColumn(outCol, udf((t: String) => c4(t)._3).asNonNullable()(col(textCol)))
  }

  /** [[c4CleanOf]] with its rules bound, and Spark's `lower()` mode
    * read from the session the plan is built in. */
  private def c4Kernel(minWords: Int, blocklist: Seq[String],
                       requireTerminalPunct: Boolean): String => (Int, Int, String) = {
    val block = blocklist.toArray
    val icu = org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    t => c4CleanOf(t, minWords, block, requireTerminalPunct, icu)
  }

  /** The C4 line kernel, one scan per doc: `(n_lines, n_kept, kept)`,
    * the lines of `text` (a null text reads as "") split on '\n', and
    * the lines kept joined by '\n'. It keeps the lines the Column form
    * `filter(split(text, "\n"), ...)` kept (TextKernelsSpec holds that
    * form as the reference), with each of its steps done by hand:
    *   - `trim`: strips spaces (U+0020) only;
    *   - `rlike("[.!?]$")`: the trimmed line ends in `.`, `!` or `?`,
    *     or in one of them and then one line terminator (`\r`, U+0085,
    *     U+2028, U+2029), where `$` also matches;
    *   - `size(filter(split(t, " +"), nonEmpty))`: the runs of non-space
    *     chars, counted only up to `minWords`;
    *   - `contains(lower(t), p)`: `lower` as Spark's ([[sparkLower]]),
    *     run only on a line the other rules keep. A null phrase blocks
    *     every line, as its null test did. */
  private[graft] def c4CleanOf(text: String, minWords: Int, blocklist: Array[String],
                               requireTerminalPunct: Boolean,
                               icuLower: Boolean): (Int, Int, String) = {
    val s = if (text == null) "" else text
    val out = new java.lang.StringBuilder
    var lines = 0
    var kept = 0
    var from = 0
    while (from <= s.length) {
      val nl = s.indexOf('\n', from)
      val to = if (nl < 0) s.length else nl
      var a = from
      var b = to
      while (a < b && s.charAt(a) == ' ') a += 1
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      if ((!requireTerminalPunct || endsTerminal(s, a, b)) && hasWords(s, a, b, minWords) &&
          !blocked(s, a, b, blocklist, icuLower)) {
        if (kept > 0) out.append('\n')
        out.append(s, from, to)
        kept += 1
      }
      lines += 1
      from = to + 1
    }
    (lines, kept, out.toString)
  }

  private def isTerminalPunct(c: Char): Boolean = c == '.' || c == '!' || c == '?'

  private def endsTerminal(s: String, a: Int, b: Int): Boolean =
    b > a && (isTerminalPunct(s.charAt(b - 1)) || (b - a >= 2 && {
      val c = s.charAt(b - 1)
      (c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029') &&
        isTerminalPunct(s.charAt(b - 2))
    }))

  private def hasWords(s: String, a: Int, b: Int, minWords: Int): Boolean = {
    var words = 0
    var i = a
    while (i < b && words < minWords) {
      while (i < b && s.charAt(i) == ' ') i += 1
      if (i < b) words += 1
      while (i < b && s.charAt(i) != ' ') i += 1
    }
    words >= minWords
  }

  private def blocked(s: String, a: Int, b: Int, blocklist: Array[String],
                      icuLower: Boolean): Boolean =
    blocklist.nonEmpty && {
      val lower = sparkLower(s.substring(a, b), icuLower)
      blocklist.exists(p => p == null || lower.contains(p))
    }

  /** Spark's `lower()` on a valid string: an ASCII string by table,
    * any other by ICU's `UCharacter.toLowerCase` when
    * `spark.sql.icu.caseMappings.enabled` (the default) is on and by
    * the JVM's `toLowerCase` when it is off. */
  private[graft] def sparkLower(t: String, icu: Boolean): String = {
    var ascii = true
    var i = 0
    while (ascii && i < t.length) { ascii = t.charAt(i) < 0x80; i += 1 }
    if (ascii) t.toLowerCase(java.util.Locale.ROOT)
    else if (icu) com.ibm.icu.lang.UCharacter.toLowerCase(t)
    else t.toLowerCase
  }

  // ---- span-level cross-doc dedup (line-dedup analog) -----------------

  /** Span-level duplication signal — the fixed-width analog of the
    * line-level dedup pass in CCNet (Wenzek et al. 2020) and RefinedWeb
    * (Penedo et al. 2023): chop each doc into consecutive
    * `spanTokens`-token spans (ragged tail kept) and report, per doc,
    * how many of its spans also occur elsewhere in the corpus. High
    * `dup_span_frac` ⇒ boilerplate/mirror content even when full-doc
    * hashes differ.
    *
    * Scale shape: explode → count agg on the span (map-side combine
    * collapses repeats before the shuffle) → hash-join the span ids
    * back → per-doc agg. Three shuffles, each keyed on span or doc id;
    * the doc bodies themselves never move. At 100 TB the span STRING
    * would be replaced by its 64-bit rolling hash as the shuffle key
    * (same plan, ~10× narrower shuffle; collision odds ≈ n²/2⁶⁵) —
    * the string key here keeps the operator exactly oracle-replayable. */
  def spanDedupStats(df: DataFrame, idCol: String, textCol: String,
                     spanTokens: Int = 8): DataFrame = {
    val base = df.select(col(idCol), Analyzer.tokenize(col(textCol)).as("toks"))
      .withColumn("__nsp",
        expr(s"(size(toks) + ${spanTokens - 1}) div $spanTokens"))
    val spans = base.select(col(idCol),
      explode(when(col("__nsp") > 0,
        transform(sequence(lit(1), col("__nsp")),
          i => concat_ws(" ",
            slice(col("toks"), (i - 1) * spanTokens + 1, lit(spanTokens)))))
        .otherwise(array())).as("span"))
    val counts = spans.groupBy(col("span")).agg(count(lit(1)).as("__c"))
    spans.join(counts, Seq("span"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
  }

  /** Span-level dedup REWRITE — the transform [[spanDedupStats]] only
    * measures: every span instance that is not the corpus-wide FIRST
    * occurrence of its value (first = smallest (doc_id, span_idx)) is
    * removed, and each doc's surviving spans are reassembled in
    * order. This is the line-dedup pass of RefinedWeb §3.3 / CCNet at
    * span granularity: boilerplate repeated across docs survives in
    * exactly one place.
    *
    * Winner selection keys on `doc_id·2²⁰ + span_idx` — one BIGINT
    * min per span value (a plain min-agg, order-independent,
    * engine-portable; span_idx < 2²⁰ holds for any document whose
    * token count fits the corpus's own length filters, and doc ids up
    * to 2⁴³ stay overflow-free).
    *
    * Scale shape: posexplode → min-agg on the span value (map-side
    * combine) → join back on span → per-doc ordered reassembly (one
    * groupBy; sort_array over each doc's own spans only — no global
    * sort, no window). Four narrow shuffles; doc bodies shuffle once
    * (the reassembly carries only surviving span strings). */
  def spanDedupRewrite(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int = 8): DataFrame = {
    val base = df.select(col(idCol), Analyzer.tokenize(col(textCol)).as("toks"))
      .withColumn("__nsp",
        expr(s"(size(toks) + ${spanTokens - 1}) div $spanTokens"))
    val spans = base.select(col(idCol),
      posexplode(when(col("__nsp") > 0,
        transform(sequence(lit(1), col("__nsp")),
          i => concat_ws(" ",
            slice(col("toks"), (i - 1) * spanTokens + 1, lit(spanTokens)))))
        .otherwise(array())))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "span")
      .withColumn("__ord", col(idCol) * lit(1L << 20) + col("idx"))
    val winners = spans.groupBy(col("span")).agg(min(col("__ord")).as("__w"))
    val kept = spans.join(winners, Seq("span"))
      .withColumn("__keep", col("__ord") === col("__w"))
    val perDoc = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("total_spans"),
      sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_spans"),
      array_join(
        transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("idx"), col("span"))))),
          s => s.getField("span")),
        " ").as("text_dedup"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .withColumn("total_spans", coalesce(col("total_spans"), lit(0L)))
      .withColumn("kept_spans", coalesce(col("kept_spans"), lit(0L)))
      .withColumn("text_dedup", coalesce(col("text_dedup"), lit("")))
  }

  /** Exact-substring dedup over SLIDING k-token windows — the
    * ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better", §2.1) at word-token granularity:
    * any k-token window whose text occurs more than once in the corpus
    * is removed from every instance EXCEPT the corpus-wide first
    * occurrence (first = smallest `doc_id·2²⁰ + start`, the same
    * BIGINT order key as [[spanDedupRewrite]]; start < 2²⁰ assumed —
    * callers' own length filters enforce it). A token survives iff no
    * removed window covers its position; each doc's survivors are
    * reassembled in order. Unlike [[spanDedupRewrite]] (aligned,
    * non-overlapping spans) this catches duplicated passages at ANY
    * offset — the contract real pretraining dedup needs.
    *
    * Output: (id, n_tokens, n_removed, text_dedup), one row per input
    * doc (docs shorter than k tokens pass through untouched).
    *
    * Scale shape: three keyed shuffles, none global — (1) gram
    * min-agg keyed on the gram (map-side combine collapses repeats
    * first); (2) join instances→winners on the gram key; (3) per-doc
    * dup-START collapse keyed on id — payload one int per non-winner
    * instance. The reassembly itself is a scan-side projection over
    * the once-tokenized (checkpointed) arrays: the covered-position
    * array rides a doc-keyed left join (build side = docs WITH dups
    * only) and `array_except`/`element_at` re-slice each row's own
    * array — token bodies never cross an exchange; coverage is
    * O(dups·k), never O(n²).
    *
    * The DEFAULT gram key is the 64-bit xxhash of the window text —
    * the gram string never leaves the scan, so stages 1–2 shuffle
    * 8 bytes + two ints per window instead of ~k tokens of text (~k×
    * fewer stage-1 bytes; measured in SCALING.md). A collision would
    * merge two distinct grams' winner election (odds ≈ n²/2⁶⁵ —
    * vanishing below trillions of windows). `oracleReplayable = true`
    * keeps the window TEXT as the key, making every stage exactly
    * replayable in portable SQL — the mode q67 gates. `rollingKey =
    * true` keeps the 8-byte-key SHUFFLE SHAPE but swaps xxhash64 for
    * the wrapping-64 base-31 [[rollingHashOf]] — a weaker hash family,
    * but one an external engine can recompute, so the HASH-KEYED
    * election (collisions and all) replays bit-for-bit in SQL — the
    * mode x29 gates. All three modes are asserted output-identical on
    * the sf0.1 corpus in SubstringDedupSpec. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, oracleReplayable: Boolean = false,
                     rollingKey: Boolean = false): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens (got $k)")
    // null text ⇒ zero tokens, not size(null) = -1 (sibling operators'
    // contract; keeps n_tokens/n_removed non-negative and oracle-equal).
    // scanWide: the tokenize + per-window concat_ws expansion below is
    // the operator's CPU bulk and runs before any exchange — width must
    // not depend on input split count (SCALING.md round 8).
    // Tokenize ONCE (round 17): the gram expansion, the winner agg's
    // second gram read and the final reassembly all consume the same
    // token arrays, but as one plan tree Catalyst re-executed the
    // scan+tokenize for each subtree (four corpus scans in the r16
    // plan). An eager checkpoint of (id, toks) makes it one pass —
    // the dupRunRewrite precedent (measured 7.33 → 4.67 s there).
    val base = graft.sources.Tables.scanWide(df).select(col(idCol),
      Analyzer.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
      .localCheckpoint()
    val grams = base.filter(size(col("toks")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(k))))))
      .withColumnRenamed("pos", "s").withColumnRenamed("col", "gram")
      // project the key BEFORE the shuffle: hash mode drops the gram
      // text here, so stage 1-2 payloads are (key, id, s) only
      .withColumn("__gk",
        if (oracleReplayable) col("gram")
        else if (rollingKey) graft.functions.Hash64.hash64Col(col("gram"))
        else xxhash64(col("gram")))
      .select(col(idCol), col("s"), col("__gk"))
      .withColumn("__ord", col(idCol) * lit(1L << 20) + col("s"))
    val winners = grams.groupBy(col("__gk")).agg(min(col("__ord")).as("__w"))
    // Reassembly without moving the tokens (round 17 — the
    // SuffixArray.dupRunRewrite tail rewrite, same reasoning): the
    // non-winner window STARTS collapse to one covered-position array
    // per affected doc (dup-sized, the lightweight proxy); that array
    // left-joins onto the checkpointed base and the removal is a
    // scan-side projection — `array_except(sequence(0, n-1), cov)`
    // (hash-set based, linear) keeps positions in order, `element_at`
    // re-reads each kept token from the row's own array. The old tail
    // (posexplode → (id, p) anti-join → per-doc collect_list+sort →
    // join back) moved every token body through three exchanges.
    val covPerDoc = grams.join(winners, Seq("__gk"))
      .filter(col("__ord") =!= col("__w"))
      .groupBy(col(idCol))
      .agg(collect_list(col("s")).as("__ss"))
      .select(col(idCol),
        array_distinct(flatten(transform(col("__ss"),
          s => sequence(s, s + lit(k - 1))))).as("__cov"))
    base.join(covPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        when(col("__cov").isNull, array_join(col("toks"), " "))
          .otherwise(array_join(
            transform(
              array_except(sequence(lit(0), size(col("toks")) - 1),
                col("__cov")),
              p => element_at(col("toks"), p + 1)),
            " ")).as("text_dedup"))
  }

  // ---- fingerprinting --------------------------------------------------

  /** 64-bit wrapping polynomial hash, base 31 — the wide analog of
    * String.hashCode. Wrapping (not mod-prime) keeps the recurrence
    * exactly reproducible in any engine with 64-bit integers, which
    * is what lets the DuckDB oracle replay it. */
  private[graft] def rollingHashOf(s: String): Long = {
    if (s == null) return 0L
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = h * 31 + s.charAt(i)
      i += 1
    }
    h
  }

  /** Scalar form of [[fingerprint]] (same normalization + hash). */
  private[graft] def fingerprintOf(text: String): Long =
    if (text == null) 0L
    else rollingHashOf(text.replaceAll("\\s+", " ").toLowerCase)

  /** Rolling-hash fingerprint of whitespace-normalized lowercase text.
    * (The md5 variant is oracle-checked as q24; this long-valued hash
    * is the cheap shuffle key for exact dedup at scale.) Runs as the
    * native codegen'd [[graft.functions.Hash64]] expression — the
    * whole projection stays in one whole-stage-codegen span; the
    * coalesce preserves the old UDF's null → 0 contract (hash of ""
    * is 0). */
  def fingerprint(text: Column): Column =
    graft.functions.Hash64.hash64Col(
      lower(regexp_replace(coalesce(text, lit("")), "\\s+", " ")))

  /** Content-defined chunking (the Rabin/CDC policy behind storage
    * dedup, here over TOKENS): cut after a k-token gram whose
    * wrapping-64 hash has its low bits zero (`h & mask == 0`,
    * expected chunk ≈ mask+1 tokens). Because boundaries depend only
    * on local content, an insertion re-chunks ONLY the region it
    * touches — every chunk after the next surviving boundary keeps
    * its identity, which is what makes chunk-hash dedup shift-
    * resistant where [[tokenChunks]]' fixed grid re-keys everything
    * downstream of an edit (the CdcSpec shift-invariance property).
    *
    * Output: `(doc_id, chunk_id, start_tok, n_tok, chunk_md5,
    * shared)` — `shared` counts corpus-wide occurrences of the chunk
    * content (window over the md5), the repeated-chunk signal a CDC
    * dedup keeps. Docs shorter than k tokens form one chunk.
    *
    * Scale shape: gram hashing and cut selection are scan-local (one
    * pass per doc inside the documented UDF, the [[winnow]]
    * exception); the only shuffle keys the md5 window. The oracle
    * replays the whole policy exactly: the x08 HUGEINT wrapping fold
    * for the hash, `&` on the same wrapped BIGINT for the cut test. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                k: Int = 3, mask: Long = 15L): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(mask >= 0 && (mask & (mask + 1)) == 0,
      s"mask must be 2^b - 1 (got $mask)")
    val cutsUdf = udf { (toks: Seq[String]) =>
      val n = toks.length
      val starts = scala.collection.mutable.ArrayBuffer(1)
      if (n >= k) {
        var i = 0
        while (i + k <= n) { // gram at 1-based pos i+1 covers i+1..i+k
          val h = rollingHashOf(toks.slice(i, i + k).mkString(" "))
          val nextStart = i + k + 1 // cut after 1-based token i+k
          if ((h & mask) == 0L && nextStart <= n) starts += nextStart
          i += 1
        }
      }
      starts.toSeq.zipWithIndex.map { case (s, idx) =>
        val next = if (idx + 1 < starts.length) starts(idx + 1) else n + 1
        (idx.toLong, s.toLong, (next - s).toLong)
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_md5"))
    df.select(col(idCol),
        graft.functions.Analyzer.tokenize(coalesce(col(textCol), lit("")))
          .as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(cutsUdf(col("__toks"))).as("__c"))
      .select(col(idCol), col("__c._1").as("chunk_id"),
        col("__c._2").as("start_tok"), col("__c._3").as("n_tok"),
        md5(array_join(
          slice(col("__toks"), col("__c._2").cast("int"),
            col("__c._3").cast("int")), " ").cast("binary"))
          .as("chunk_md5"))
      .withColumn("shared", count(lit(1)).over(w))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS algorithm). Hash every k-token gram with the wrapping-64
    * [[rollingHashOf]], slide a window of `w` consecutive gram hashes,
    * and select each window's MINIMUM (ties → the RIGHTMOST minimum,
    * the paper's "robust winnowing" rule, §2.3). The guarantee: any
    * shared token run of length ≥ k + w − 1 between two documents
    * yields at least one shared selected fingerprint, while only
    * ~2/(w+1) of all gram hashes are kept — position-robust partial-
    * overlap detection at a fraction of the [[spanDedupStats]] /
    * shingle cost.
    *
    * Output: (idCol, pos, fp64) — DISTINCT selections (adjacent
    * windows usually re-select the same gram), pos 1-based over the
    * gram sequence. Docs with fewer than k tokens emit nothing.
    *
    * Everything is scan-local (a single pass per doc inside one
    * documented UDF — grams, hashes, and the window minima never
    * leave the task) and every value is a 64-bit integer, so the q85
    * oracle replays it exactly: the HUGEINT wrapping fold for the
    * hash (the x08 template) and an (h ASC, pos DESC) argmin per
    * window for the robust rule. Signed comparison agrees because
    * both engines compare the same wrapped BIGINT. */
  /** The winnow selection kernel: per doc, the DISTINCT (pos, fp64)
    * selections. Shared by [[winnow]] (exploded rows) and
    * [[winnowPairs]]' fingerprint-set form. */
  private def winnowSelUdf(k: Int, w: Int) = udf { (toks: Seq[String]) =>
    val n = toks.length
    if (n < k) Seq.empty[(Long, Long)]
    else {
      val m = n - k + 1
      val hs = Array.tabulate(m)(i =>
        rollingHashOf(toks.slice(i, i + k).mkString(" ")))
      val ww = math.min(w, m)
      val sel = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
      var j = 0
      while (j + ww <= m) {
        var best = j
        var t = j + 1
        while (t < j + ww) {
          if (hs(t) <= hs(best)) best = t // <=: rightmost minimum
          t += 1
        }
        sel += (((best + 1).toLong, hs(best)))
        j += 1
      }
      sel.toSeq
    }
  }

  def winnow(df: DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(w >= 1, s"w must be >= 1 (got $w)")
    df.select(col(idCol),
        explode(winnowSelUdf(k, w)(
          Analyzer.tokenize(coalesce(col(textCol), lit(""))))).as("__s"))
      .select(col(idCol), col("__s._1").as("pos"), col("__s._2").as("fp64"))
  }

  /** Per-doc DISTINCT winnow fingerprints, deduped scan-side
    * (round 16): `winnow(df).select(id, fp64).distinct()` paid a
    * corpus-wide shuffle to dedup what is a PER-DOC property (the id
    * is part of the key), so the dedup moves into the scan projection
    * — array_distinct over the selection's fp64s before the explode,
    * zero exchanges. Row-identical to the old distinct(). */
  private def winnowFps(df: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int): DataFrame =
    df.select(col(idCol),
      explode(array_distinct(transform(
        winnowSelUdf(k, w)(Analyzer.tokenize(coalesce(col(textCol), lit("")))),
        s => s.getField("_2")))).as("fp64"))

  /** The MOSS use of [[winnow]]: candidate near-dup pairs ranked by
    * SHARED fingerprint count. Postings per fingerprint are df-capped
    * (ultra-common fingerprints — boilerplate runs — contribute
    * candidates quadratically and evidence of nothing; the x11/x09
    * cap discipline), so no stage is all-pairs: one fingerprint-keyed
    * shuffle builds postings, one pair-keyed count aggregates. Pairs
    * whose every shared fingerprint was capped are missed — the
    * documented trade, stated not hidden. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, minShared: Long = 2L,
                  dfCap: Long = 256L): DataFrame = {
    // one fp64-keyed exchange serves BOTH consumers below (the df-cap
    // aggregate needs hash(fp64) clustering and so does the join —
    // ReusedExchange makes this the single materialization of the
    // winnow UDF pass). The old shape paid three exchanges of this
    // table: a corpus-wide distinct() on (id, fp64) — per-doc dedup
    // now happens scan-side in winnowFps — plus separate re-shuffles
    // into the aggregate and the join.
    val fps = winnowFps(df, idCol, textCol, k, w)
      .repartition(col("fp64"))
    val ok = fps.groupBy(col("fp64")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap)
      .select(col("fp64"))
    val capped = fps.join(ok, "fp64")
    val a = capped.select(col("fp64"), col(idCol).as("id_a"))
    val b = capped.select(col("fp64"), col(idCol).as("id_b"))
    a.join(b, Seq("fp64"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Tokenizer-training prep: the top-`k` corpus vocabulary with
    * cumulative coverage — "how many word types does a vocab of size
    * k cover, and what fraction of all token OCCURRENCES do they
    * absorb?" The curve that fixes a subword tokenizer's vocab size
    * (and the word-level baseline every BPE run is measured against,
    * Sennrich et al. 2016 §3).
    *
    * Emits `(rank, token, freq, cum_freq, coverage)`, ranked by
    * `(freq desc, token)` — a total order, so ranks and cumulative
    * sums are deterministic. `coverage` is a double division of
    * identical BIGINT operands (cum_freq / total), IEEE-identical
    * across engines — no transcendentals, no quantization needed.
    *
    * Scale shape: tokenize in the scan → ONE wide shuffle (token
    * counts, map-side partial agg shrinks it to the vocab size) →
    * top-k via TakeOrderedAndProject (never a global sort of the
    * corpus, only of k rows on the driver-bound side) → the running
    * sum windows over k rows, and the corpus-total scalar broadcasts.
    * The only thing that scales with the corpus is the first shuffle,
    * whose payload is the VOCAB, sublinear in corpus bytes. */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    val counts = df
      .select(explode(Analyzer.tokenize(coalesce(col(textCol), lit("")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum(col("freq")).as("__total"))
    val topk = counts.orderBy(col("freq").desc, col("token")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    topk.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token"))).cast("long"))
      .withColumn("cum_freq", sum(col("freq")).over(w))
      .withColumn("coverage",
        col("cum_freq").cast("double") / col("__total").cast("double"))
      .select(col("rank"), col("token"), col("freq"), col("cum_freq"), col("coverage"))
  }

  /** Length-curriculum binning (batch-bucketing prep: group docs of
    * similar token counts so packed training batches waste minimal
    * padding; also the usual "schedule short docs first" curriculum
    * split). `ntile(n)` over `(n_tokens, id)` — the id tiebreak makes
    * the order total, so bin assignment is deterministic and
    * engine-portable.
    *
    * Emits per-bin stats: doc count, min/max/total token counts.
    *
    * Scale note: ntile is a single global window — the one operator
    * class that cannot shard by key. At 100 TB the same curriculum
    * comes from [[lengthCurriculumApprox]]: one pass computes the
    * approx quantiles of n_tokens (`approx_percentile`, a mergeable
    * sketch), and a scan-local comparison chain assigns bins — no
    * global sort at all. The exact-ntile form stays the
    * oracle-checkable contract (approx sketches are not replayable);
    * both bin docs of similar length together, which is all packing
    * needs. */
  def lengthCurriculum(df: DataFrame, idCol: String, textCol: String,
                       bins: Int = 10): DataFrame = {
    val nToks = size(Analyzer.tokenize(coalesce(col(textCol), lit(""))))
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens"), col(idCol))
    df.select(col(idCol), nToks.as("n_tokens"))
      .withColumn("bin", ntile(bins).over(w).cast("long"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Per-doc bin assignment for the SCALE-PATH curriculum — the
    * fixed-boundary variant [[lengthCurriculum]]'s Scaladoc promises.
    * One aggregation computes the `bins-1` approximate quantile
    * boundaries of `n_tokens` (`percentile_approx`, a mergeable
    * Greenwald-Khanna sketch — only sketch partials shuffle, never
    * rows), the 1-row boundary frame broadcasts, and a scan-local
    * chain of `bins-1` comparisons assigns each doc its bin. NO
    * global sort, NO un-partitioned window — every corpus-sized
    * stage is embarrassingly parallel.
    *
    * Bin semantics: `bin = 1 + |{i : n_tokens > boundary_i}|`, so
    * ties at a boundary all land in the lower bin — assignment is a
    * deterministic monotone function of `n_tokens` (equal lengths
    * always share a bin, unlike exact ntile which splits ties to
    * even out populations). Populations are near-decile to sketch
    * accuracy; the comparison chain is static (`element_at` per
    * term), so the whole assignment stays inside WholeStageCodegen —
    * no higher-order-function fallback.
    *
    * Emits `(idCol, n_tokens, bin)` — one row per input doc. */
  def lengthCurriculumApproxAssign(df: DataFrame, idCol: String,
                                   textCol: String, bins: Int = 10,
                                   accuracy: Int = 10000): DataFrame = {
    require(bins >= 2, s"need at least 2 bins (got $bins)")
    val nToks = size(Analyzer.tokenize(coalesce(col(textCol), lit(""))))
      .cast("long")
    val lens = df.select(col(idCol), nToks.as("n_tokens"))
    val probs = (1 until bins).map(i => lit(i.toDouble / bins))
    val bnd = lens.agg(percentile_approx(col("n_tokens"),
      array(probs: _*), lit(accuracy)).as("__bnd"))
    val binExpr = (1 until bins)
      .map(i => when(col("n_tokens") > element_at(col("__bnd"), i), 1L)
        .otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    lens.crossJoin(broadcast(bnd))
      .withColumn("bin", binExpr)
      .select(col(idCol), col("n_tokens"), col("bin"))
  }

  /** Per-bin curriculum stats from the approx assignment — the same
    * output shape as [[lengthCurriculum]] (`bin, n_docs, min_tokens,
    * max_tokens, sum_tokens`), produced without any global sort: the
    * only wide shuffle is the bins-row final aggregation, shrunk to
    * `bins` rows per task by map-side partial aggregation. This is
    * the 100 TB form; the exact-ntile twin remains the oracle
    * contract (sketches are not SQL-replayable). */
  def lengthCurriculumApprox(df: DataFrame, idCol: String, textCol: String,
                             bins: Int = 10, accuracy: Int = 10000): DataFrame =
    lengthCurriculumApproxAssign(df, idCol, textCol, bins, accuracy)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))

  /** The scale-path curriculum under DETERMINISTIC sampled-exact
    * boundaries ([[Boundaries.sampled]]) instead of the GK sketch:
    * same no-global-sort shape — sample-sized boundary extraction +
    * scan-local bin assignment + a bins-row aggregation — but the
    * boundaries are exact order statistics of an md5 sample, so the
    * whole report replays in SQL (the x25 oracle) and is
    * partitioning-stable. Tokenize runs once (the lens frame is
    * checkpointed; the boundary pass samples FROM it). */
  def lengthCurriculumSampled(df: DataFrame, idCol: String, textCol: String,
                              bins: Int = 10,
                              permille: Int = Boundaries.Auto): DataFrame = {
    require(bins >= 2, s"need at least 2 bins (got $bins)")
    val nToks = size(Analyzer.tokenize(coalesce(col(textCol), lit(""))))
      .cast("long")
    val lens = df.select(col(idCol), nToks.as("n_tokens")).localCheckpoint()
    val b = Boundaries.sampled(lens, idCol, col("n_tokens"), bins, permille)
    lens.withColumn("bin", Boundaries.partOf(col("n_tokens"), b))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  // ---- cross-slice contamination ---------------------------------------

  private def sliceGramHashUdf(n: Int) = udf { (toks: Seq[String]) =>
    if (toks.length < n) Seq.empty[Long]
    else toks.sliding(n).map(g => rollingHashOf(g.mkString(" ")))
      .toArray.distinct.toSeq
  }

  /** Per-doc DISTINCT n-gram 64-bit hashes of an analyzer-tokenized
    * text column — the 8-byte contamination keys [[crossSliceOverlap]]
    * shuffles, exposed for the streaming decontamination probe
    * ([[graft.plans.CorpusPipeline.contamDeltaBatch]]): indexes and
    * joins carry these longs, never gram strings (q67's lesson). */
  def docGramHashes(text: Column, n: Int = 8): Column =
    sliceGramHashUdf(n)(Analyzer.tokenize(coalesce(text, lit(""))))

  /** Cross-slice n-gram contamination report (the train/test-overlap
    * analysis of Brown et al. 2020 App. C and Dodge et al. 2021 §4.2,
    * lifted to arbitrary corpus slices): per slice, how many of its
    * DISTINCT n-grams also occur in at least one OTHER slice. Output
    * `(source, n_docs, n_grams, n_shared)` — the shared/total ratio is
    * the published contamination rate.
    *
    * Scale shape: grams are per-doc-deduped 64-bit [[rollingHashOf]]
    * keys (never gram strings — q67's lesson), so the ONE wide shuffle
    * carries ≤ n_grams × 8 B with map-side `collect_set` partials;
    * the per-hash slice set is bounded by the slice count (a corpus
    * has tens of sources, not millions), and the final per-slice agg
    * moves slices × grams rows of integers. Nothing is driver-sized.
    * The hash key replays exactly in DuckDB (HUGEINT wrapping fold,
    * the x08 template), which is what lets q90 hash-gate the whole
    * report; collision odds at 64 bits are the documented n²/2⁶⁵. */
  def crossSliceOverlap(df: DataFrame, idCol: String, textCol: String,
                        sliceCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be >= 1 (got $n)")
    val inv = df.select(
        coalesce(col(sliceCol), lit("")).as("source"),
        explode(sliceGramHashUdf(n)(
          Analyzer.tokenize(coalesce(col(textCol), lit(""))))).as("h"))
    val perHash = inv.groupBy(col("h"))
      .agg(collect_set(col("source")).as("__ss"))
    val gramStats = perHash
      .select(explode(col("__ss")).as("source"),
        when(size(col("__ss")) >= 2, 1L).otherwise(0L).as("__shared"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"), sum(col("__shared")).as("n_shared"))
    val nDocs = df.groupBy(coalesce(col(sliceCol), lit("")).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(gramStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  // ---- character entropy -----------------------------------------------

  /** Per-doc character-unigram Shannon entropy — the cheap gibberish /
    * binary-junk detector of the published quality stacks (low entropy
    * = repetitive filler like "aaaa…", high = uniform noise; natural
    * text sits in a narrow band), kept INTEGER-EXACT for the oracle:
    * with n total chars and per-char counts c,
    *   `entropy_micro_total = n·lnq(n) − Σ c·lnq(c)`
    * in micro-nat·char units (divide by n for nats/char), where lnq is
    * the engine-wide micro-nat grid `floor(ln·1e6 + 0.5)` — every ln
    * is taken on a small integer COUNT (the LmScore pattern), every
    * sum is a BIGINT across shuffles.
    *
    * Scale shape: explode to (doc, char) → ONE count agg whose
    * map-side combine collapses to ≤ alphabet rows per doc per
    * partition, then a doc-keyed integer agg. Chars are compared as
    * UTF-16 code units (Spark `split`) / code points (DuckDB) — equal
    * on the BMP text this engine targets. */
  /** Scan-local kernel of [[charEntropy]]: the same micro-nat value
    * from a per-doc histogram inside one UDF pass (StrictMath.log —
    * the fdlibm ln Catalyst's `log` codegens to, so the value is
    * bit-identical to the aggregation form; proven on real data in
    * CharEntropySpec). Returns (n_chars, n_distinct, entropy_micro).
    * For verdict-columns composition where an explode+agg would break
    * the one-scan plan (CorpusPipeline). */
  private[graft] def charEntropyOf(text: String): (Long, Long, Long) = {
    if (text == null || text.isEmpty) return (0L, 0L, 0L)
    def lnq(x: Long): Long =
      math.floor(StrictMath.log(x.toDouble) * 1000000.0 + 0.5).toLong
    val counts = new scala.collection.mutable.HashMap[Char, Long]
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      counts.update(c, counts.getOrElse(c, 0L) + 1L)
      i += 1
    }
    val n = text.length.toLong
    var st = 0L
    counts.valuesIterator.foreach(c => st += c * lnq(c))
    (n, counts.size.toLong, n * lnq(n) - st)
  }

  private val charEntropyUdf = udf { (text: String) => charEntropyOf(text) }

  /** Column form of [[charEntropyOf]]: struct `(_1 n_chars,
    * _2 n_distinct_chars, _3 entropy_micro_total)`. */
  def charEntropyColumn(text: Column): Column =
    charEntropyUdf(coalesce(text, lit("")))

  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def lnq(x: Column): Column =
      floor(log(x) * 1000000.0 + 0.5).cast("long")
    val perChar = df
      .select(col(idCol).as("doc_id"),
        explode(split(coalesce(col(textCol), lit("")), "")).as("ch"))
      .filter(col("ch") =!= "") // split("","") yields [""]
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val perDoc = perChar.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * lnq(col("c"))).as("__sum_terms"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        (col("n_chars") * lnq(col("n_chars")) - col("__sum_terms"))
          .as("entropy_micro_total"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        coalesce(col("entropy_micro_total"), lit(0L))
          .as("entropy_micro_total"))
  }
}
