package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The read-side query surface (SURVEY.md §2 Q-1..Q-4, O-1/O-2, A-5).
  *
  * Reference: database/elasticsearch_handler.py —
  * `search_by_sentiment` (:64-69) = term filter + sort by published_at
  * desc + size; `search_by_keyword` (:71-80) = multi_match over
  * [title, content], OR-of-terms, relevance-ranked;
  * `get_sentiment_stats` (:82-93) = terms aggregation.
  *
  * Scale notes: filter+orderBy+limit compiles to
  * `TakeOrderedAndProject` (per-partition top-k, then a k-row merge on
  * the driver — no global sort, no full shuffle). The histogram is a
  * partial+final HashAggregate: the shuffle carries one row per
  * distinct key per partition, not the data.
  */
object Search {

  /** Q-1: term filter + recency sort + top-k. `tiebreak` keeps the
    * result set deterministic when sort keys collide. */
  def bySentiment(df: DataFrame, overallCol: String, sentiment: String,
                  sortCol: String, tiebreak: String, k: Int = 50): DataFrame =
    df.filter(col(overallCol) === sentiment)
      .orderBy(col(sortCol).desc, col(tiebreak))
      .limit(k)

  /** Q-2 relevance score: total occurrences of every query term across
    * the given fields (lowercased substring semantics — the analyzed
    * multi_match upgrade lives in functions.Analyzer). */
  def keywordScore(fields: Seq[Column], terms: Seq[String]): Column =
    fields.flatMap { f =>
      terms.map { t =>
        // coalesce: a null field must score 0, not poison the whole
        // sum to null (a null score silently drops the row through
        // the score>0 filter instead of ranking it last)
        val lc = lower(coalesce(f, lit("")))
        (length(lc) - length(regexp_replace(lc, java.util.regex.Pattern.quote(t.toLowerCase), ""))) / t.length
      }
    }.reduce(_ + _)

  /** Q-2: OR-of-terms keyword search ranked by match count.
    *
    * Filter AFTER the top-k, not before: a `filter` on an aliased
    * score pushes through the projection and duplicates the whole
    * score expression per row (measured 2× on x04's stem chain).
    * Since the sort is score-descending, non-positive rows can only
    * occupy top-k slots no positive row wanted — filtering the k
    * survivors is equivalent and evaluates the score ONCE. */
  def byKeyword(df: DataFrame, fields: Seq[String], terms: Seq[String],
                tiebreak: String, k: Int = 50): DataFrame = {
    val score = keywordScore(fields.map(col), terms).cast("int")
    df.withColumn("score", score)
      .orderBy(col("score").desc, col(tiebreak))
      .limit(k)
      .filter(col("score") > 0)
  }

  /** Q-3/A-5: terms aggregation — the sentiment histogram. */
  def termsAgg(df: DataFrame, field: String): DataFrame =
    df.groupBy(col(field)).agg(count(lit(1)).as("doc_count"))

  /** Q-2 fidelity upgrade: TF-IDF relevance ranking, matching ES
    * multi_match's *behavior* (rare terms dominate; a doc stuffed with
    * a common term doesn't outrank one matching a rare term) rather
    * than byKeyword's raw occurrence count.
    *
    * score(d) = Σ_t tf(t,d) · ln(N / df(t)), summed in the given term
    * order (parenthesized left fold — the oracle replays the exact
    * double arithmetic). Terms with df = 0 contribute 0. The ln is
    * NOT cross-engine bit-exact (StrictMath vs glibc, 1 ulp on some
    * arguments — sf0.001's corpus stats hit one), so the oracle-checked
    * query quantizes the score to a nano grid, like BM25.
    *
    * Scale shape: ONE corpus aggregation computes N and every df in a
    * single pass (partial+final agg, one 1-row result), broadcast back
    * to the scan; the per-doc side is scan-local tf counting + a
    * TakeOrderedAndProject top-k. No per-term joins, no shuffle of the
    * corpus. Plans as: scan → [1-row agg] → broadcast nested loop (1
    * row) → top-k. */
  def byKeywordRanked(df: DataFrame, idCol: String, fields: Seq[String],
                      terms: Seq[String], k: Int = 100): DataFrame =
    tfidfScored(df, fields, terms)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .filter(col("score") > 0.0)  // after top-k: see byKeyword

  /** The TF-IDF-scored frame without the top-k, for callers that rank
    * or threshold differently (every input row, `score` ≥ 0 appended).
    * Same 1-ulp ln caveat as [[bm25Scored]] — exact-hash comparisons
    * should quantize to a fixed grid first. */
  def tfidfScored(df: DataFrame, fields: Seq[String],
                  terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "tfidfScored needs at least one term")
    // HOF-free tokenizer (Analyzer.tokenize): one CodegenFallback
    // expression would de-codegen the whole scoring projection
    val toks = graft.functions.Analyzer.tokenize(
      concat_ws(" ", fields.map(col): _*))
    val withToks = df.withColumn("__toks", toks)
    // N plus df(t) for every term, in ONE pass over the corpus
    val stats = withToks.agg(
      count(lit(1)).cast("double").as("__n"),
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t.toLowerCase), 1L)
          .otherwise(0L)).cast("double").as(s"__df_$i")
      }: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      // tf = |toks| - |toks with t removed|: one native codegen'd
      // array pass per term (the HOF filter form is CodegenFallback)
      val tf = (size(col("__toks")) -
        size(array_remove(col("__toks"), t.toLowerCase))).cast("double")
      when(col(s"__df_$i") === 0.0, 0.0)
        .otherwise(tf * log(col("__n") / col(s"__df_$i")))
    }.reduce(_ + _)
    withToks.crossJoin(broadcast(stats))
      .withColumn("score", score)
      .drop(("__toks" +: "__n" +: terms.indices.map(i => s"__df_$i")): _*)
  }

  /** Q-2 fidelity, final form: Okapi BM25 — the scoring function ES
    * `multi_match` actually uses (Robertson & Zaragoza 2009; Lucene's
    * `BM25Similarity`). Beyond TF-IDF it saturates term frequency
    * (k1) and normalizes by document length (b), so a short doc that
    * matches once can outrank a long doc stuffed with the term.
    *
    *   idf(t)    = ln((N − df + 0.5) / (df + 0.5) + 1)     [Lucene form,
    *                                                        always ≥ 0]
    *   score(d)  = Σ_t idf(t) · (tf·(k1+1)) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Oracle parity: avgdl is an integer token-sum divided once (order-
    * independent), every double op replays left-assoc in the oracle
    * SQL, and ln bit-matches DuckDB (shared libm, see byKeywordRanked).
    *
    * Scale shape — identical to [[byKeywordRanked]]: ONE partial+final
    * corpus agg (N, Σdl, df per term) → 1-row broadcast → scan-local
    * scoring → TakeOrderedAndProject. The corpus never shuffles. */
  def byKeywordBm25(df: DataFrame, idCol: String, fields: Seq[String],
                    terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
                    k: Int = 100): DataFrame =
    bm25Scored(df, fields, terms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .filter(col("score") > 0.0)  // after top-k: see byKeyword

  /** The BM25-scored frame without the top-k, for callers that rank or
    * threshold differently (every input row, `score` ≥ 0 appended).
    *
    * Cross-engine caveat (why the oracle-checked query quantizes):
    * Spark's `log` codegens to StrictMath.log (fdlibm), glibc-based
    * engines use libm `ln`, and the two differ by 1 ulp on some
    * arguments (measured: ln(1.27976…) → …0f9 vs …0fa). idf is the
    * only transcendental here, so scores can carry a 1-ulp wobble;
    * exact-hash comparisons should round to a fixed grid first. */
  def bm25Scored(df: DataFrame, fields: Seq[String], terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scored needs at least one term")
    // HOF-free tokenizer (Analyzer.tokenize): one CodegenFallback
    // expression would de-codegen the whole scoring projection
    val toks = graft.functions.Analyzer.tokenize(
      concat_ws(" ", fields.map(col): _*))
    val withToks = df.withColumn("__toks", toks)
      .withColumn("__dl", size(col("__toks")).cast("double"))
    // N, avgdl numerator (exact integer sum), df(t): one corpus pass
    val aggCols = Seq(
      count(lit(1)).cast("double").as("__n"),
      sum(size(col("__toks")).cast("long")).cast("double").as("__sumdl")) ++
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("__toks"), t.toLowerCase), 1L)
          .otherwise(0L)).cast("double").as(s"__df_$i")
      }
    val stats = withToks.agg(aggCols.head, aggCols.tail: _*)
    val avgdl = col("__sumdl") / col("__n")
    val score = terms.zipWithIndex.map { case (t, i) =>
      // tf = |toks| - |toks with t removed|: one native codegen'd
      // array pass per term (the HOF filter form is CodegenFallback)
      val tf = (size(col("__toks")) -
        size(array_remove(col("__toks"), t.toLowerCase))).cast("double")
      val idf = log((col("__n") - col(s"__df_$i") + lit(0.5))
        / (col(s"__df_$i") + lit(0.5)) + lit(1.0))
      val norm = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("__dl") / avgdl))
      when(col(s"__df_$i") === 0.0, 0.0)
        .otherwise(idf * ((tf * lit(k1 + 1.0)) / norm))
    }.reduce(_ + _)
    withToks.crossJoin(broadcast(stats))
      .withColumn("score", score)
      .drop(("__toks" +: "__dl" +: "__n" +: "__sumdl" +:
        terms.indices.map(i => s"__df_$i")): _*)
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009 — the
    * hybrid-search standard ES ships as `rrf`): fuse a LEXICAL
    * ranking and a VECTOR ranking into one list without score
    * calibration — each leg contributes `1/(k0 + rank)`, an id
    * missing from a leg contributes 0. Rank-based, so the fusion is
    * deterministic wherever both legs are, and the only arithmetic is
    * two divisions of exact integers — IEEE-identical in any engine,
    * which is what lets q124 hash-replay a full hybrid pipeline.
    *
    * Inputs are `(idCol, rank)` frames (1-based ranks, typically
    * top-k — both legs are k-row, so the fusion is a k-row full-outer
    * join: driver-light, corpus-free). */
  /** PERCOLATION (ES `percolate`) — search turned inside out: STORED
    * term-conjunction queries match against incoming documents; the
    * alerting/routing primitive ("tell me when a doc about X
    * arrives"). `queries` is `(query_id, terms)`; a doc matches when
    * it contains EVERY term of the query. One distinct-token explode
    * per doc, a term-keyed join against the (tiny, broadcastable)
    * exploded query table, and a matched-count == arity check — the
    * corpus shuffles only (doc, matched-term) pairs that hit some
    * stored query. */
  def percolate(df: DataFrame, idCol: String, fields: Seq[String],
                queries: DataFrame): DataFrame = {
    val qx = queries.select(col("query_id"),
        size(col("terms")).cast("long").as("arity"),
        explode(col("terms")).as("term"))
      .dropDuplicates("query_id", "term")
    val docTerms = df.select(col(idCol),
        explode(array_distinct(graft.functions.Analyzer.tokenize(
          concat_ws(" ", fields.map(col): _*)))).as("term"))
    docTerms.join(broadcast(qx), "term")
      .groupBy(col(idCol), col("query_id"), col("arity"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") === col("arity"))
      .select(col(idCol), col("query_id"), col("arity").as("n_terms"))
  }

  /** MORE-LIKE-THIS (ES `more_like_this`, deterministic core): take
    * the source doc's distinct tokens, keep the RARE ones (global
    * df ≤ maxDf — ES's `max_doc_freq` knob, which is also what makes
    * the posting join scale: candidate volume is bounded by rare-term
    * df), then rank other docs by how many selected terms they share.
    * Integer-exact end to end. Output: `(doc_id, n_shared)` top-k by
    * (shared desc, id). */
  def moreLikeThis(df: DataFrame, idCol: String, fields: Seq[String],
                   sourceId: Long, maxDf: Long, k: Int,
                   shingleN: Int = 1): DataFrame = {
    val assembled = concat_ws(" ", fields.map(col): _*)
    val termsOf =
      if (shingleN <= 1)
        array_distinct(graft.functions.Analyzer.tokenize(assembled))
      else DedupApprox.shingles(assembled, shingleN) // already distinct
    val toks = df.select(col(idCol).cast("long").as("__id"),
      explode(termsOf).as("term"))
    val dfs = toks.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val selected = toks.filter(col("__id") === sourceId)
      .join(dfs, "term").filter(col("__df") <= maxDf)
      .select(col("term"))
    toks.filter(col("__id") =!= sourceId)
      .join(broadcast(selected), "term")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("__id"))
      .limit(k)
      .select(col("__id").as(idCol), col("n_shared"))
  }

  /** COMPLETION SUGGEST (ES `completion`): top completions of a
    * prefix over the corpus vocabulary, ranked by collection
    * frequency — served from the dictionary-sized term-stats table,
    * never the corpus. */
  def suggest(df: DataFrame, fields: Seq[String], prefix: String,
              k: Int): DataFrame =
    df.select(explode(graft.functions.Analyzer.tokenize(
        concat_ws(" ", fields.map(col): _*))).as("term"))
      .filter(col("term").startsWith(prefix))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("term"))
      .limit(k)

  /** HIGHLIGHT (ES `highlight`, single-fragment form): the first
    * occurrence of `term` in the lowercased text, returned as a
    * fixed-width snippet with the match wrapped in `<em>` tags.
    * Pure string expressions over the scan — positions are
    * 1-based `instr`, the snippet window is `[max(1, pos−before),
    * pos+len(term)+after)`. Docs without the term are dropped. */
  def highlight(df: DataFrame, idCol: String, textCol: String,
                term: String, before: Int, after: Int): DataFrame = {
    val low = lower(coalesce(col(textCol), lit("")))
    val pos = instr(low, term)
    val start = greatest(lit(1), pos - before)
    val tlen = term.length
    df.select(col(idCol), low.as("__t"), pos.as("__p"), start.as("__s"))
      .filter(col("__p") > 0)
      .select(col(idCol), col("__p").cast("long").as("pos"),
        concat(
          col("__t").substr(col("__s"), col("__p") - col("__s")),
          lit("<em>"), lit(term), lit("</em>"),
          col("__t").substr(col("__p") + tlen, lit(after)))
          .as("snippet"))
  }

  /** Boolean percolation: stored queries with BOTH must and must_not
    * term lists (`queries` = `(query_id, terms, not_terms)`) — a doc
    * matches when it holds every must term and none of the must_not
    * terms. The positive leg is [[percolate]]; the negative leg is
    * one more broadcast join + a LEFT ANTI on (doc, query). */
  def percolateBool(df: DataFrame, idCol: String, fields: Seq[String],
                    queries: DataFrame): DataFrame = {
    val matched = percolate(df, idCol, fields,
      queries.select(col("query_id"), col("terms")))
    val nx = queries.select(col("query_id"),
        explode(col("not_terms")).as("term"))
      .dropDuplicates("query_id", "term")
    val docTerms = df.select(col(idCol),
      explode(array_distinct(graft.functions.Analyzer.tokenize(
        concat_ws(" ", fields.map(col): _*)))).as("term"))
    val blocked = docTerms.join(broadcast(nx), "term")
      .select(col(idCol), col("query_id"))
      .dropDuplicates(idCol, "query_id")
    matched.join(blocked, Seq(idCol, "query_id"), "left_anti")
  }

  /** FUZZY completion suggest (ES `completion` with fuzziness):
    * vocabulary terms within Levenshtein ≤ `maxEdits` of the typed
    * word, ranked by collection frequency — typo-tolerant
    * autocomplete served from the dictionary-sized stats table. */
  def suggestFuzzy(df: DataFrame, fields: Seq[String], word: String,
                   maxEdits: Int, k: Int): DataFrame =
    df.select(explode(graft.functions.Analyzer.tokenize(
        concat_ws(" ", fields.map(col): _*))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .withColumn("dist", levenshtein(col("term"), lit(word)).cast("long"))
      .filter(col("dist") <= maxEdits)
      .orderBy(col("dist"), col("cf").desc, col("term"))
      .limit(k)

  /** One alert micro-batch (a stream runs it through
    * [[graft.plans.Ledger.sink]]): [[percolate]] the batch, then
    * insert-if-absent on the (`idCol`, `query_id`) natural key into the
    * standing alert log ([[graft.plans.Ledger.land]]) — redelivered
    * batches land nothing, so alerts fire effectively once. Null ids:
    * the keys compare with SQL equality, so an alert whose doc id or
    * query id is null matches no landed alert and lands again on every
    * delivery (the compaction below then folds the copies into one). */
  def percolateDeltaBatch(batch: DataFrame, idCol: String,
                          fields: Seq[String], queries: DataFrame,
                          targetDir: String): Unit = {
    val spark = batch.sparkSession
    val maxFiles = graft.plans.Maintenance.maxFilesConf(spark,
      "graft.percolate.compactMaxFiles")
    graft.plans.Ledger.land(percolate(batch, idCol, fields, queries),
      targetDir, Seq(idCol, "query_id"))
    // COMPACTION AT REST (round 17, guide §6): every micro-batch both
    // APPENDS to and RE-READS the standing alert log (the idempotency
    // anti-join above), so its file count is paid per batch, forever.
    // Threshold-triggered and row-preserving: dedup on the same
    // (id, query_id) natural key the idempotent landing uses, so a
    // crash-residue duplicate heals and everything else is untouched.
    // `graft.percolate.compactMaxFiles` ≤ 0 disables.
    if (maxFiles > 0) {
      graft.plans.Maintenance.compact(spark, targetDir,
        Seq(idCol, "query_id"), maxFiles)
      ()
    }
  }

  /** SIGNIFICANT TERMS (ES `significant_terms`, JLH heuristic):
    * terms overrepresented in a FOREGROUND doc set versus the whole
    * index. Doc-frequency rates fr = fg/nf and br = bg/nb;
    * JLH = (fr − br) · (fr / br) — rewards both absolute and
    * relative lift. Counts are integral (one distinct-token explode,
    * one grouped sum, a 1-row broadcast of the set sizes); the score
    * is one pinned double tree, micro-rounded, and the rank order is
    * taken on the integral micro value. */
  def significantTerms(df: DataFrame, idCol: String,
                       fields: Seq[String], foreground: Column,
                       k: Int): DataFrame = {
    val toks = df.select(col(idCol), foreground.as("__fg"),
      explode(array_distinct(graft.functions.Analyzer.tokenize(
        concat_ws(" ", fields.map(col): _*)))).as("term"))
    val stats = toks.groupBy(col("term")).agg(
      sum(when(col("__fg"), 1L).otherwise(0L)).as("fg"),
      count(lit(1)).as("bg"))
    val sizes = df.agg(
      sum(when(foreground, 1L).otherwise(0L)).as("__nf"),
      count(lit(1)).as("__nb"))
    val fr = col("fg").cast("double") / col("__nf").cast("double")
    val br = col("bg").cast("double") / col("__nb").cast("double")
    stats.filter(col("fg") > 0L).crossJoin(broadcast(sizes))
      .select(col("term"), col("fg"), col("bg"),
        floor((fr - br) * (fr / br) * 1e6 + 0.5).cast("long")
          .as("jlh_micro"))
      .orderBy(col("jlh_micro").desc, col("term"))
      .limit(k)
  }

  def rrfFuse(lexical: DataFrame, vector: DataFrame, idCol: String,
              k0: Int = 60): DataFrame = {
    def leg(r: Column): Column =
      when(r.isNull, 0.0).otherwise(lit(1.0) / (lit(k0.toDouble) + r))
    lexical.select(col(idCol), col("rank").as("__ra"))
      .join(vector.select(col(idCol), col("rank").as("__rb")),
        Seq(idCol), "full_outer")
      .withColumn("rrf", leg(col("__ra")) + leg(col("__rb")))
      .drop("__ra", "__rb")
  }

  /** Per-doc TF-IDF keyword extraction (the document-tagging twin of
    * [[tfidfScored]]'s query-side ranking): each doc's top-`k` terms
    * by tf·ln(N/df), deterministic tiebreak on the term. The score
    * rides the micro grid (ln is never hash-stable raw) with the ln
    * arg non-foldable.
    *
    * Scale shape: tokenize is scan-local; ONE shuffle keys the
    * (doc, term) tf counts, the df table derives from it (term-keyed,
    * map-side combined), N broadcasts as a single row, and the top-k
    * window partitions by doc — no global sort, no corpus-wide
    * collect. Vocabulary never concentrates on the driver. */
  def keywords(df: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      explode(graft.functions.Analyzer.tokenize(
        coalesce(col(textCol), lit("")))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // df(term) as a window over the tf frame: the same term-keyed
    // exchange a groupBy would take, but no second corpus pass and no
    // join back (tf rows are one per (doc, term), so the partition
    // count IS the document frequency)
    val wTerm = Window.partitionBy(col("term"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.withColumn("term_df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_micro",
        floor(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("term_df"))
          * 1000000.0 + 0.5).cast("long"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_micro").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("term_df"),
        col("score_micro"), col("rank").cast("long").as("rank"))
  }
}
