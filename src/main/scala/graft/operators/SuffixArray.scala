package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Analyzer

/** Distributed suffix-array construction by PREFIX DOUBLING
  * (Manber & Myers 1993 §3; the Flick & Aluru 2015 distributed
  * formulation) — closing the gap SCALING.md names against Lee et
  * al. 2022's ExactSubstr: [[TextAnalysis.substringDedup]] detects
  * duplicated runs of ONE fixed window length k, while the doubling
  * rounds detect duplicated runs at threshold L = 2^K after K rounds —
  * ANY power-of-two length, with log₂(L) rounds of window passes and
  * keyed shuffles, the shapes Spark distributes natively.
  *
  * Construction, all integers end to end:
  *   - positions: each doc's analyzer tokens + a per-doc SENTINEL
  *     token `#<doc_id>` appended. Suffixes are doc-local `(doc_id,
  *     pos)` — the sentinel is unique per doc, so two suffixes can
  *     only compare equal over REAL tokens (any comparison window
  *     that reaches a sentinel separates them), which makes doc-local
  *     arrays equivalent to the classic concatenated-corpus
  *     construction without any global-offset prefix sum;
  *   - r₀: dense ranks of distinct tokens in lexicographic order
  *     (distinct-agg → distributed sort → zipWithIndex — a
  *     vocabulary-sized table, broadcast-joined back to positions);
  *   - round k: each position pairs its group id with the group id at
  *     `pos + 2^(k-1)` (NULL past the end) — positions are dense 1..n
  *     per doc, so this is `lead(r, 2^(k-1))` over (doc_id, pos), one
  *     window pass, no self-join — and each distinct pair becomes a
  *     GROUP whose new id is its minimum `(doc_id, pos)` member (one
  *     (r, r2)-partitioned window computing `min(struct(doc_id, pos))`
  *     and `count(*)` per group). After round k, `r` identifies the
  *     suffix's first 2^k tokens.
  *
  * GROUP IDS, NOT DENSE RANKS (round-16 optimization): duplicated-run
  * detection only ever consumes rank-group MEMBERSHIP (two positions
  * share a group ⟺ their 2^k-token prefixes are equal — provable by
  * induction: round-k groups are exactly the distinct (r_{k-1},
  * r2_{k-1}) pairs under either id scheme), never rank ORDER. Dense
  * ranking needed a global RANGE sort of the position table per round
  * (a sampling pass that re-executed the lead window, the sort
  * shuffle, a persist, a per-partition stats collect and a second
  * RDD pass outside codegen — the old denseRankInPlace). The group-id
  * form is one hash exchange + one window pass per round, stays
  * inside whole-stage-codegen-adjacent operators, and the group's
  * `min(struct(doc_id, pos))` is deterministic under any partitioning
  * (partitioning-invariance spec'd). The group SIZE rides along as
  * `members`, which makes every downstream verdict (stats, profile,
  * rewrite) a plain filter instead of a corpus-wide window on `r` —
  * and the rewrite's winner election IS `r` itself (the same
  * min-(doc_id, pos) total order the q67/q100 oracles replay).
  *
  * Duplicated-run detection (the ExactSubstr verdict): after K =
  * log₂(minRun) rounds, a group of ≥ 2 positions means those
  * suffixes agree on their first `minRun` tokens — a duplicated run,
  * within or across documents. Output: per-doc
  * `(doc_id, n_tokens, n_dup_starts)` — how many of the doc's
  * suffix positions start a run duplicated somewhere in the corpus.
  *
  * Scale shape: every round is (a) one doc-partitioned window pass
  * (`lead` — per-doc state only; a pathologically huge single doc is
  * the skew ceiling, the usual per-key window story), and (b) one
  * (r, r2)-keyed window pass (group state bounded by the corpus's
  * duplication ceiling — the statsFromRanks skew note) — two
  * exchanges total, no distinct, no join-back, no range sampling.
  * Nothing is ever driver-sized; `localCheckpoint` cuts per-round
  * lineage like the CC fixpoint. The full suffix ARRAY (order) would
  * need the dense form back — the dedup verdicts need only groups.
  */
object SuffixArray {

  /** True when `ranks` carries the round-≥1 group-id columns (struct
    * `r` + `members`); round-0 tables and pre-round-16 persisted
    * states carry a LONG `r` and no `members` — downstream verdicts
    * keep a window fallback for those. */
  private def hasMembers(ranks: DataFrame): Boolean =
    ranks.columns.contains("members")

  /** The doubling chain: per-round rank tables (k, ranks-after-round-k)
    * for k = 1..rounds, each localCheckpoint'ed so later consumers see
    * a flat lineage. After round k, `r` identifies the suffix's first
    * 2^k tokens.
    *
    * CHECKPOINT LIFETIME: each round's window pass is the ONLY
    * consumer of the previous round's table, so round k−1's
    * checkpoint blocks are freed (blocking) as soon as round k's
    * eager checkpoint lands — except the rounds the caller asked to
    * keep (`keepAll`, for [[dupRunProfile]]'s per-threshold verdicts).
    * The round-0 table is never returned and is always freed after
    * round 1. Without this, every superseded round stayed resident
    * for the life of the query — the mechanism behind the 5-9×
    * suffix-family inflation in the round-8 in-suite bench (q100
    * 57.9 s recorded vs 6.7 s standalone on a quiet host).
    *
    * EARLY TERMINATION: dense ranks are 1..D, so `max(r) == count(*)`
    * ⟺ every suffix's rank is already unique ⟺ no duplicated run at
    * the current length, hence none at any longer length either —
    * remaining rounds can only renumber singleton groups, never merge
    * or split them. Both the dupRunStats groups and the dupRunProfile
    * per-round verdicts (all empty past termination) are unchanged by
    * stopping, so the chain exits after the first fully-unique round
    * instead of paying log₂(L) sorts on a low-duplication corpus. The
    * max(r) probe is a 1-row agg over the already-materialized
    * (eager localCheckpoint) round table — no recompute. */
  /** (doc_id, __toks): analyzer tokens per doc, NO sentinel. The one
    * tokenize pass shared by the doubling chain and its callers'
    * token-count / rewrite legs (pass it pre-checkpointed via
    * `toksOpt` to pay the pass once — [[dupRunRewrite]] does). */
  private def tokenized(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    // Tokenize runs before the first exchange — widen the scan so it
    // never serializes on input split count.
    graft.sources.Tables.scanWide(df)
      .select(col(idCol).as("doc_id"),
        Analyzer.tokenize(coalesce(col(textCol), lit(""))).as("__toks"))

  /** Appends the per-doc sentinel token to a (doc_id, __toks) frame. */
  private def withSentinel(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
      concat(col("__toks"),
        array(concat(lit("#"), col("doc_id").cast("string")))).as("__toks"))

  /** ENTRY ROUND (round 17): the round-1 (2-token-group) table built
    * DIRECTLY from the token arrays — round k's prefix-doubling input
    * `(r_{k-1}, r_{k-1} at pos+2^{k-1})` is, at k = 1, just the
    * (token, next-token) pair, and the next token is an ARRAY LOOKUP
    * (scan-side `transform` with index), not a `lead` window. One
    * (t1, t2)-keyed window pass assigns each bigram group its id
    * `min(struct(doc_id, pos))` and size `members` — the same group
    * partition round 1 used to produce (bigram equality ⟺ equal
    * (r0, r0@+1) pair; r0 was injective on tokens), with identical
    * min-member ids, so every later round and every verdict is
    * byte-unchanged. What it replaces (guide §2.4 — remove shuffles
    * outright): the vocabulary distinct + RDD zipWithIndex dense rank
    * (an off-codegen sort + count job), the vocab broadcast join, and
    * round 1's TWO corpus exchanges (the doc-keyed `lead` window and
    * the (r, r2) group window) — net one corpus exchange (token-pair
    * keyed, strings cross once) where the old chain paid two plus the
    * vocab machinery. The sentinel position is the one row whose `t2`
    * is NULL (its own group per doc — `#id` is unique), standing in
    * for the old lead-past-end NULL.
    *
    * Skew ceiling: a hot bigram is one window partition — the same
    * bound as every later (r, r2) group (see statsFromRanks note). */
  private def entryRound(toks: DataFrame): DataFrame = {
    val pairs = toks
      .select(col("doc_id"),
        posexplode(transform(col("__toks"), (t, i) =>
          struct(t.as("t1"),
            when(i < size(col("__toks")) - 1,
              element_at(col("__toks"), i + lit(2))).as("t2")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col.t1").as("__t1"), col("col.t2").as("__t2"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__t1"), col("__t2"))
    pairs
      .withColumn("__g", min(struct(col("doc_id"), col("pos"))).over(wg))
      .withColumn("__m", count(lit(1)).over(wg))
      .select(col("doc_id"), col("pos"), col("__g").as("r"),
        col("__m").as("members"))
      .localCheckpoint(eager = false) // materialized by the caller's probe
  }

  private[graft] def doublingRounds(df: DataFrame, idCol: String,
                                    textCol: String,
                                    rounds: Int,
                                    keepAll: Boolean = true,
                                    toksOpt: Option[DataFrame] = None): Seq[(Int, DataFrame)] = {
    // round 1 comes straight off the token arrays (see entryRound);
    // the loop below runs rounds 2..rounds with the usual LAZY
    // checkpoints, each materialized by the allUnique probe: one
    // driver action per round (round 16's job-count discipline).
    var cur = entryRound(withSentinel(
      toksOpt.getOrElse(tokenized(df, idCol, textCol))))
    val out = scala.collection.mutable.ArrayBuffer[(Int, DataFrame)](1 -> cur)
    var k = 2
    var done = allUnique(cur) // materializes the entry checkpoint
    var prev = cur
    while (k <= rounds && !done) {
      cur = oneRound(cur, k)
      // the probe materializes round k FIRST; only then free — unless
      // the caller keeps every round — the now superseded round k−1
      // table (blocking, so the memory is actually back before the
      // next round's shuffle starts). Freeing before the probe would
      // truncate the lineage the lazy round-k checkpoint still reads.
      done = allUnique(cur)
      if (!keepAll) Checkpoints.release(prev, blocking = true)
      prev = cur
      out += (k -> cur)
      k += 1
    }
    out.toSeq
  }

  /** Single-job emptiness/uniqueness probe over an (eagerly
    * materialized) round table: no duplicated group remains ⟺ no
    * further round can change any verdict. Group-id tables read
    * `max(members)`; round-0 / legacy dense-rank tables fall back to
    * `max(r) == count(*)` (dense 1..D ranks, so equality ⟺ every
    * group is a singleton). One aggregate job either way — the old
    * shape paid a separate `count()` action up front. */
  private def allUnique(t: DataFrame): Boolean =
    if (hasMembers(t))
      t.agg(coalesce(max(col("members")), lit(0L))).head().getLong(0) <= 1L
    else {
      val r = t.agg(count(lit(1)).as("n"), max(col("r")).as("mx")).head()
      r.getLong(0) == 0L || r.getLong(1) == r.getLong(0)
    }

  /** ONE doubling round over a position-rank table: round `k` pairs
    * each position's group id with the id `2^(k-1)` ahead — posexplode
    * positions are dense 1..n per doc, so that is `lead(r, step)`
    * over (doc_id, pos), one window pass instead of the keyed
    * self-join's two full-table shuffles (NULL past the end: the
    * lead's natural null is its own group key, standing in for the
    * old −1 sentinel) — then one (r, r2)-partitioned window assigns
    * each pair-group its new id `min(struct(doc_id, pos))` and its
    * size `members`. Both window aggregates share one WindowExec, so
    * the round is exactly two exchanges and the position table is
    * read once (the dense-rank form re-executed the lead window for
    * the range sampler, then paid a persist + a stats collect + an
    * off-codegen RDD rank pass). Pure, deterministic function of
    * `cur` (given the absolute round number) under ANY partitioning —
    * what makes the chain RESUMABLE and the verdicts
    * partitioning-invariant. Returns the eagerly-materialized round-k
    * table `(doc_id, pos, r, members)`. */
  private def oneRound(cur: DataFrame, k: Int): DataFrame = {
    val step = (1L << (k - 1)).toInt
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("r"), col("__r2"))
    cur
      .withColumn("__r2", lead(col("r"), step).over(wd))
      .select(col("doc_id"), col("pos"), col("r"), col("__r2"))
      .withColumn("__g", min(struct(col("doc_id"), col("pos"))).over(wg))
      .withColumn("__m", count(lit(1)).over(wg))
      .select(col("doc_id"), col("pos"), col("__g").as("r"),
        col("__m").as("members"))
      .localCheckpoint(eager = false) // materialized by the caller's probe
  }

  /** Position table (doc_id, pos, rank-after-K-rounds). Exposed for
    * composition; [[dupRunStats]] is the per-doc verdict. */
  def doublingRanks(df: DataFrame, idCol: String, textCol: String,
                    minRun: Int): DataFrame =
    doublingRanks(df, idCol, textCol, minRun, None)

  private def doublingRanks(df: DataFrame, idCol: String, textCol: String,
                            minRun: Int, toksOpt: Option[DataFrame]): DataFrame = {
    require(minRun >= 2 && (minRun & (minRun - 1)) == 0,
      s"minRun must be a power of two >= 2 (got $minRun)")
    val rounds = java.lang.Integer.numberOfTrailingZeros(minRun)
    // last-round-only consumer: superseded rounds freed as they land
    doublingRounds(df, idCol, textCol, rounds, keepAll = false, toksOpt).last._2
  }

  /** Per-doc duplicated-run stats at threshold `minRun` (power of
    * two): (doc_id, n_tokens, n_dup_starts). Sentinel positions are
    * excluded from both counts.
    *
    * SKEW CEILING (applies to this, [[dupRunRewrite]] and
    * [[dupRunProfile]] — all use an unbounded `count/min over
    * partitionBy(r)` window): a single rank group is one window
    * partition, so a pathologically duplicated corpus where ONE
    * `minRun`-gram repeats tens of millions of times buffers/spills
    * that whole group in a single WindowExec task — where the old
    * groupBy+join-back shape would have partially aggregated it
    * map-side. The window saves a full position-table shuffle per
    * verdict on normal corpora (measured, round 7) and group size is
    * bounded by the corpus's duplication ceiling, so the window is
    * the default; for adversarial high-duplication corpora the
    * groupBy shape remains the escape hatch (see SCALING.md
    * "suffix-family skew ceiling"). */
  def dupRunStats(df: DataFrame, idCol: String, textCol: String,
                  minRun: Int = 8): DataFrame =
    statsFromRanks(df, idCol, textCol,
      doublingRanks(df, idCol, textCol, minRun))

  /** The [[dupRunStats]] verdict over an ALREADY-BUILT position-rank
    * table — the read side of the resumable chain ([[SuffixState]]):
    * group membership is all that matters, so ranks from a resumed
    * run and a one-shot run (which may only differ by singleton-group
    * renumbering past early termination) produce identical stats. */
  def statsFromRanks(df: DataFrame, idCol: String, textCol: String,
                     ranks: DataFrame): DataFrame = {
    // doc token counts (sentinel excluded) — keeps empty docs in the
    // report with (0, 0).
    val nTok = graft.sources.Tables.scanWide(df)
      .select(col(idCol).as("doc_id"),
      size(Analyzer.tokenize(coalesce(col(textCol), lit(""))))
        .cast("long").as("n_tokens"))
    // group sizes ride the round table (`members`, free since round
    // 16's group-id scheme) — the verdict is a plain filter + one
    // doc-keyed aggregate, no corpus-wide window on `r`. Legacy
    // dense-rank tables (round-0 early exits, pre-round-16 persisted
    // states) fall back to the one rank-partitioned window pass.
    val withM =
      if (hasMembers(ranks)) ranks
      else ranks.withColumn("members",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("r"))))
    val dupStarts = withM
      .filter(col("members") >= 2L)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__dups"))
    nTok.join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__dups"), lit(0L)).as("n_dup_starts"))
  }

  // ---- resumable doubling ------------------------------------------------

  /** The doubling chain's restart point: the position-rank table after
    * `round` rounds (round 0 = vocabulary ranks). At 100 TB a
    * log₂(L)-round doubling job is hours of sorts — this is the
    * checkpoint/resume shape the BPE/unigram/drift families already
    * have, applied to the engine's most expensive chain: every column
    * is exact integers (BIGINTs, the group id a struct of two), so a
    * parquet round-trip resumes bit-for-bit
    * ([[saveState]]/[[loadState]]), and [[oneRound]] is a pure
    * function of the table, so `resume(resume(s, a), b) ≡
    * resume(s, a + b)` (SuffixResumeSpec pins chained ≡ one-shot
    * through the round-trip; x43 hash-checks the resumed verdict
    * against q87's one-shot oracle verbatim). */
  final case class SuffixState(round: Int, ranks: DataFrame)

  /** Round-1 state: per-doc sentinel appended, the 2-token-group
    * [[entryRound]] table (struct group ids + members) — the doubling
    * chain's entry point, lazily checkpointed (the first consumer —
    * a save, a probe, a resume — materializes it). Round 17: the
    * chain now ENTERS at round 1 (the bigram groups are an array
    * lookup + one window, see entryRound), so there is no round-0
    * vocabulary state to resume from anymore. */
  def initState(df: DataFrame, idCol: String, textCol: String): SuffixState =
    SuffixState(1, entryRound(withSentinel(tokenized(df, idCol, textCol))))

  /** `n` more doubling rounds from `state` (absolute round numbers
    * continue where the state left off — round k's lead step is
    * 2^(k-1), so resuming MUST know k). Early-terminates once every
    * rank is unique (the doublingRounds exit: later rounds can only
    * renumber singleton groups, which no verdict observes). Each
    * superseded round's checkpoint is freed as its successor lands. */
  def resumeDoubling(state: SuffixState, n: Int): SuffixState = {
    require(n >= 0, s"n must be >= 0 (got $n)")
    var cur = state.ranks
    var k = state.round + 1
    var prev: Option[DataFrame] = None
    var done = allUnique(cur)
    while (k <= state.round + n && !done) {
      cur = oneRound(cur, k)
      // materialize (probe) before freeing the superseded round — the
      // lazy round-k checkpoint still reads it until then
      done = allUnique(cur)
      prev.foreach(Checkpoints.release(_, blocking = true))
      prev = Some(cur)
      k += 1
    }
    SuffixState(state.round + n, cur)
  }

  /** Parquet round-trip of the chain state: `dir/ranks` (doc_id, pos,
    * r [+ members for round-≥1 tables] — all exact integers) +
    * `dir/meta` (round). */
  def saveState(state: SuffixState, dir: String): Unit = {
    state.ranks.write.mode("overwrite").parquet(s"$dir/ranks")
    val spark = state.ranks.sparkSession
    spark.range(1).select(lit(state.round).as("round"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  def loadState(spark: org.apache.spark.sql.SparkSession,
                dir: String): SuffixState =
    SuffixState(
      spark.read.parquet(s"$dir/meta").head().getAs[Int]("round"),
      spark.read.parquet(s"$dir/ranks"))

  /** ExactSubstr REMOVAL driven by the suffix ranks (Lee et al. 2022
    * §4 — not just detect the duplicated runs, rewrite them away):
    * rank groups after K = log₂(minRun) rounds are exactly the
    * duplicated `minRun`-token windows, each group elects the
    * min-(doc_id, pos) occurrence as its winner (the
    * [[TextAnalysis.substringDedup]] election, same total order), and
    * every token covered by a NON-winner duplicated window is removed.
    * Output: `(doc_id, n_tokens, n_removed, text_dedup)` — the q67
    * contract, and at `minRun` = k the output is IDENTICAL to
    * `substringDedup(k)` (both remove non-winner occurrences of
    * duplicated k-windows; spec'd). The difference is the path: the
    * doubling chain carries integer ranks instead of k-token window
    * strings/hashes, so doubling `minRun` costs one more integer
    * round, not k× more shuffle bytes — the any-length scale path.
    *
    * A dup start always has ≥ minRun REAL tokens ahead (a window that
    * reaches the per-doc sentinel is unique, hence never in a ≥2
    * group), so the covered-position expansion never spills past the
    * document. */
  def dupRunRewrite(df: DataFrame, idCol: String, textCol: String,
                    minRun: Int = 8): DataFrame = {
    // Tokenize ONCE: the chain's position table and the rewrite's
    // base/positions legs consume the same tokens, but they sit on
    // opposite sides of the chain's localCheckpoint boundary, so
    // Catalyst cannot share the subtree — an eager checkpoint of the
    // tokenized base is the only way both consumers read one pass.
    // Measured at sf0.1 (q100, median-of-3, same host/binary):
    // 7.33 s re-tokenize → 4.67 s tokenize-once. Kept: the
    // tokenize+scan pass is the corpus-sized leaf, and the
    // checkpointed base is (id, tokens) — strictly smaller than any
    // round table the chain already holds.
    val base = tokenized(df, idCol, textCol).localCheckpoint()
    val ranks = doublingRanks(df, idCol, textCol, minRun, Some(base))
    // Under the group-id scheme the winner IS the group id: `r` =
    // min(struct(doc_id, pos)) of the group — the exact election the
    // q67/q100 oracles replay — and `members` is the group size, so
    // the non-winner dup starts are a plain filter (the dense-rank
    // form paid a corpus-wide window on `r` here). Legacy tables
    // (round-0 early exit: every group a singleton, so the filter
    // output is empty either way) fall back to the window.
    val dupStarts =
      if (hasMembers(ranks))
        ranks.filter(col("members") >= 2L &&
          !(col("doc_id") === col("r.doc_id") && col("pos") === col("r.pos")))
      else {
        val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("r"))
        ranks
          .withColumn("__members", count(lit(1)).over(wr))
          .withColumn("__w", min(struct(col("doc_id"), col("pos"))).over(wr))
          .filter(col("__members") >= 2L &&
            !(col("doc_id") === col("__w.doc_id") && col("pos") === col("__w.pos")))
      }
    // REASSEMBLY WITHOUT MOVING THE TOKENS (round 17, guide §8's
    // rule: every shuffle but the last should operate on a
    // lightweight proxy). The old tail exploded base into one row per
    // token, anti-joined (doc_id, p) against the exploded+distinct'd
    // covered positions, re-grouped by doc (collect_list + sort) and
    // joined the result back to base — the corpus's token bodies
    // crossed three exchanges to apply a per-doc position set. Now
    // the dup STARTS (the small proxy) collapse to one position
    // array per affected doc, that array rides a left join onto the
    // checkpointed base (dup-doc-count-sized build side), and the
    // removal is a scan-side projection: `array_except(sequence(1, n),
    // cov)` (hash-set based — linear, NOT the per-position
    // array_contains scan whose O(|doc|·|drops|) worst case sank the
    // round-16 drop-set attempt) picks the kept positions in order,
    // `element_at` re-reads each kept token from the array the row
    // already holds. Token bodies now cross zero extra exchanges.
    val covPerDoc = dupStarts
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("__ss"))
      .select(col("doc_id"),
        array_distinct(flatten(transform(col("__ss"),
          s => sequence(s, s + lit((minRun - 1).toLong))))).as("__cov"))
    base.join(covPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        when(col("__cov").isNull, array_join(col("__toks"), " "))
          .otherwise(array_join(
            transform(
              array_except(
                sequence(lit(1L), size(col("__toks")).cast("long")),
                col("__cov")),
              p => element_at(col("__toks"), p.cast("int"))),
            " ")).as("text_dedup"))
  }

  /** Per-doc LONGEST-duplicated-run profile at power-of-two
    * resolution — the contamination-forensics question ("how LONG is
    * the longest span this doc shares with anything in the corpus?")
    * that a single fixed threshold can't answer: `(doc_id, n_tokens,
    * max_dup_run, n_dup_starts_at_max)` where `max_dup_run` is the
    * largest L ∈ {2, 4, …, maxRun} at which the doc still has a
    * duplicated-run start (0 if none at any threshold) and
    * `n_dup_starts_at_max` counts its starts at that L.
    *
    * One doubling chain serves every threshold: after round k the
    * rank groups ARE the 2^k verdicts, so the per-round extra work is
    * one group-count filter + join-back + per-doc count — the same
    * keyed shapes as [[dupRunStats]], reusing the checkpointed round
    * table instead of re-running the chain per threshold (log₂(L)
    * thresholds for the price of one chain). The final argmax is
    * one `max(struct(run_len, n))` per doc — run lengths are distinct
    * per round, so the lexicographic struct max picks the deepest
    * round and carries its count, the q69 keeper pattern. */
  def dupRunProfile(df: DataFrame, idCol: String, textCol: String,
                    maxRun: Int = 16): DataFrame = {
    require(maxRun >= 2 && (maxRun & (maxRun - 1)) == 0,
      s"maxRun must be a power of two >= 2 (got $maxRun)")
    val rounds = java.lang.Integer.numberOfTrailingZeros(maxRun)
    val perRound = doublingRounds(df, idCol, textCol, rounds)
      .map { case (k, ranks) =>
        val withM =
          if (hasMembers(ranks)) ranks
          else ranks.withColumn("members",
            count(lit(1)).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("r"))))
        withM
          .filter(col("members") >= 2L)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"))
          .withColumn("run_len", lit(1L << k))
      }
    val best = perRound.reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("run_len"), col("n"))).as("__m"))
    val nTok = graft.sources.Tables.scanWide(df)
      .select(col(idCol).as("doc_id"),
      size(Analyzer.tokenize(coalesce(col(textCol), lit(""))))
        .cast("long").as("n_tokens"))
    nTok.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__m.run_len"), lit(0L)).as("max_dup_run"),
        coalesce(col("__m.n"), lit(0L)).as("n_dup_starts_at_max"))
  }
}
