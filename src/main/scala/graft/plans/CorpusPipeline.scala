package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Blocklist, Checkpoints, Dedup, DedupApprox, Export, TextAnalysis}

/** The canonical pretraining-corpus prep recipe — the published
  * pipeline order (C4, Raffel et al. 2020 §2.2; CCNet, Wenzek et al.
  * 2020; RefinedWeb, Penedo et al. 2023 §3; GPT-3 decontamination,
  * Brown et al. 2020 §C) — composed from the engine's operators as ONE
  * plan:
  *
  *   line-clean → language ID → quality heuristics → repetition
  *   filters → fuzzy dedup (quality keeper) → benchmark
  *   decontamination → sharded export
  *
  * The composition style is VERDICT COLUMNS, not successive filters:
  * every stage ANNOTATES each doc with a boolean verdict (and its
  * evidence columns), and only the final projection filters. That one
  * choice buys three things at 100 TB:
  *
  *   - the funnel report (docs surviving each stage) is ONE aggregate
  *     over the same plan — no per-stage count() actions, no second
  *     pass over the corpus;
  *   - rejected docs remain addressable with their rejection reason —
  *     the audit/debugging surface every production corpus build
  *     needs (why did doc X disappear?);
  *   - stages stay independently toggleable downstream (a curriculum
  *     that *weights* by quality instead of dropping reads the same
  *     columns).
  *
  * Stage verdicts are causally ORDERED (each counts only docs that
  * passed the previous) in [[funnel]], matching how the published
  * pipelines report attrition.
  *
  * Shuffle budget = exactly the sum of the component floors measured
  * in SCALING.md: the scan-local stages (clean/lang/quality/
  * repetition) add zero; dedup contributes its band-key shuffles;
  * decontamination its bloom-build partials; export its one
  * shard-keyed exchange.
  */
object CorpusPipeline {

  /** Tunable thresholds; defaults follow the cited recipes (Gopher's
    * repetition bounds, C4's line rules, 0.5-Jaccard MinHash dedup). */
  case class Config(
      lang: String = "en",
      // C4's terminal-punctuation line rule assumes prose; corpora
      // without sentence punctuation (code, logs, this repo's
      // synthetic tables) turn it off and keep the min-words +
      // blocklist rules
      lineRequireTerminalPunct: Boolean = true,
      lineMinWords: Int = 3,
      maxDupUnigramFrac: Double = 0.3,
      maxTopBigramFrac: Double = 0.18,
      dedupThreshold: Double = 0.5,
      contamN: Int = 13,
      // bloom probe (fixed-size artifact, the 100 TB shape) vs the
      // exact broadcast gram set — identical verdicts when the bloom
      // FP set is empty (q68/BloomSpec prove that for this corpus at
      // the q68 size); the exact path is what the q74 composition
      // oracle replays, bit-for-bit at any size
      contamViaBloom: Boolean = true,
      // C4 §2.2 bad-words stage: token-sequence phrases matched by
      // the Aho–Corasick pass (Blocklist). Empty = stage off (and
      // absent from the verdict columns / funnel).
      blockPhrases: Seq[Seq[String]] = Seq.empty,
      // minimum char entropy in micro-nats PER CHAR (gibberish /
      // filler floor, q91's integer-exact signal); the gate compares
      // entropy_micro_total >= min × n_chars — no division, so it
      // replays exactly. 0 = stage off.
      minEntropyMicroPerChar: Long = 0L,
      // ExactSubstr removal stage (Lee et al. 2022 §4) between the
      // near-dup dedup verdict and decontamination: every duplicated
      // run of >= this many tokens (power of two — the suffix-rank
      // path's contract) is removed from all but its first
      // occurrence, `text_clean` becomes the rewritten text, and
      // `v_substr` = doc non-empty after removal. None = stage off
      // (absent from verdict columns / funnel — the q74 plan is
      // untouched). Batch form only; [[deltaVerdicts]] rejects it.
      substrMinRun: Option[Int] = None,
      // id-hash partition count for the standing docs ledger the
      // incremental funnel writes ([[deltaFunnelBatch]]): the fold-in
      // anti-join prunes its standing read to the delta's buckets
      // instead of scanning every standing id. More buckets = finer
      // pruning but more (small) files per append; compact
      // periodically at corpus scale.
      docsBuckets: Int = 64,
      // compression-ratio floor in micro-units (x41's catch-all
      // redundancy gate: docs whose DEFLATE ratio falls below this
      // are boilerplate/template junk whatever n-gram they repeat).
      // None = stage off (absent from verdicts/funnel); when on, the
      // funnel is NOT oracle-replayable (no SQL engine runs RFC
      // 1951), so oracle-gated queries must keep it off —
      // spec-covered instead (CorpusPipelineSpec).
      compressMinRatioMicro: Option[Long] = None,
      numShards: Int = 8)

  /** Annotate every NON-benchmark doc with per-stage verdicts.
    * `isBenchmark` marks held-out eval docs (they feed the
    * decontamination filter and are excluded from the corpus).
    * Output: input columns + `text_clean`, stage evidence columns,
    * `v_clean/v_lang/v_quality/v_repetition/v_dedup/v_decontam`,
    * and `keep` = the conjunction. */
  /** The scan-local stage chain (line clean + langID + quality +
    * repetition): pure projections over one corpus scan, shared by the
    * batch and delta forms. */
  private def annotate(base: DataFrame, textCol: String,
                       cfg: Config): DataFrame =
    TextAnalysis.withRepetition(
      TextAnalysis.withQuality(
        TextAnalysis.withLangId(
          TextAnalysis.c4LineCleanText(base, textCol,
            minWords = cfg.lineMinWords,
            requireTerminalPunct = cfg.lineRequireTerminalPunct),
          "text_clean"),
        "text_clean"),
      "text_clean")

  /** The optional scan-local stages (bad-words + entropy floor) —
    * computed over the PRE-rewrite `text_clean` (they precede the
    * substr stage in [[stageOrder]]). */
  private def optionalScanStages(joined: DataFrame, idCol: String,
                                 cfg: Config): DataFrame = {
    val withBl = if (cfg.blockPhrases.isEmpty) joined
      else joined
        .withColumn("bl_matches",
          Blocklist.matchColumn(col("text_clean"), cfg.blockPhrases)("_1"))
        .withColumn("v_blocklist", col("bl_matches") === 0L)
    val withComp = cfg.compressMinRatioMicro match {
      case None => withBl
      case Some(m) =>
        // scan-local DEFLATE over the cleaned text as a PROJECTION on
        // the verdict plan (round 16: TextAnalysis.compressionColumn —
        // the old mapPartitions form was a separate Dataset that
        // re-executed the whole annotate chain for its input and
        // joined back on the id: one extra corpus pass + one
        // corpus-keyed shuffle, both gone). Oracle note in Config.
        // Empty cleaned text passes: emptiness is v_quality's call.
        withBl
          .withColumn("__c", TextAnalysis.compressionColumn(col("text_clean")))
          .withColumn("compress_ratio_micro", col("__c._3"))
          .withColumn("v_compress",
            col("__c._1") === 0L || col("__c._3") >= m)
          .drop("__c")
    }
    if (cfg.minEntropyMicroPerChar <= 0L) withComp
    else withComp
      .withColumn("__ent", TextAnalysis.charEntropyColumn(col("text_clean")))
      .withColumn("ent_n_chars", col("__ent._1"))
      .withColumn("ent_micro_total", col("__ent._3"))
      .drop("__ent")
      .withColumn("v_entropy", col("ent_micro_total") >=
        lit(cfg.minEntropyMicroPerChar) * col("ent_n_chars"))
  }

  /** The `keep` conjunction over whichever stage verdicts are present. */
  private def withKeep(df: DataFrame): DataFrame = {
    val present = stageOrder.filter(df.columns.contains)
    df.withColumn("keep", present.map(col).reduce(_ && _))
  }

  /** The optional scan-local stages and the `keep` conjunction —
    * shared tail of both forms (the batch form interposes the substr
    * stage between them). */
  private def finishVerdicts(joined: DataFrame, idCol: String,
                             cfg: Config): DataFrame =
    withKeep(optionalScanStages(joined, idCol, cfg))

  def withVerdicts(docs: DataFrame, idCol: String, textCol: String,
                   isBenchmark: Column, cfg: Config = Config()): DataFrame = {
    // scan-local stages: line cleaning + language + quality +
    // repetition are pure projections over one corpus scan. NOT
    // scanWide-widened: `annotated` feeds three consumers (pairs,
    // verdicts, finish), and each re-executes the would-be repartition
    // of full text rows — measured q74 5.9 s → 7.9 s WITH the widen
    // (FunnelProbe round 8, last in b820d97), the q80 lesson again. On
    // a few-giant-file corpus, widen the INPUT (an upstream
    // repartitioned write) rather than inside a multi-consumer plan.
    val base = docs.filter(!isBenchmark)
    // LAZY localCheckpoint (round 16, reversing the round-8 call): the
    // annotate chain feeds four consumers (the LSH banding input, the
    // candidate-verification re-read inside minhashPairs, the keeper
    // scores, and the verdict join — plus the substr stage's re-read
    // when on), and each re-executed the scan+clean chain. Round 8
    // measured an EAGER checkpoint losing (7.2 s vs 5.9 s) — the lazy
    // form costs no extra job (the first consumer materializes it) and
    // re-measured NEUTRAL on q74/q92 and a win where more consumers
    // exist (q101 0.84x, x42 0.93x, paired in-band runs). At corpus
    // scale the block store holds (input cols + text_clean + scalars)
    // once, MEMORY_AND_DISK — spills, never OOMs.
    val annotated = annotate(base, textCol, cfg).localCheckpoint(eager = false)

    // fuzzy dedup verdict: LSH pairs over the CLEANED text (line noise
    // must not block near-dup detection), keeper = highest token count
    val pairs = DedupApprox.minhashPairs(
      annotated.select(col(idCol), col("text_clean")), idCol, "text_clean",
      threshold = cfg.dedupThreshold)
    val dedupVerdicts = Dedup.clusterVerdictsBy(
        annotated, idCol, pairs, col("q_n_tokens"))
      .select(col(idCol), col("comp"), col("keep").as("v_dedup"))

    // decontamination verdict: benchmark docs collapse to a bloom
    // artifact (or an exact broadcast gram set); training docs probe
    // it scan-locally
    val contam = (if (cfg.contamViaBloom)
        Dedup.decontaminateBloom(docs, idCol, textCol, isBenchmark,
          n = cfg.contamN)
      else
        Dedup.decontaminate(docs, idCol, textCol, isBenchmark,
          n = cfg.contamN))
      .select(col(idCol), col("contaminated"))

    val joined = annotated
      .join(dedupVerdicts, Seq(idCol))
      .join(contam, Seq(idCol))
      .withColumn("v_clean", length(trim(col("text_clean"))) > 0)
      .withColumn("v_lang", col("lang_pred") === cfg.lang)
      .withColumn("v_quality", col("q_score") === 1.0)
      .withColumn("v_repetition",
        col("dup_unigram_frac") <= cfg.maxDupUnigramFrac &&
          col("top_bigram_frac") <= cfg.maxTopBigramFrac)
      .withColumn("v_decontam", !col("contaminated"))
    // optional scan-local stages (absent columns when off, so the
    // base recipe's plan — and q74's oracle — are untouched) run over
    // the PRE-rewrite text; then the optional ExactSubstr removal
    // stage (Lee 2022's pipeline position: after near-dup dedup,
    // before decontamination — decontamination here probes the RAW
    // text, so its verdict is rewrite-independent by construction).
    // The rewrite's INPUT reads from the checkpointed `annotated`
    // frame, not the verdict-joined plan (round 16): the two agree on
    // (id, text_clean) row-for-row — clusterVerdictsBy emits exactly
    // one row per universe id and both decontaminate forms one row
    // per non-benchmark doc (CorpusPipelineSpec pins the 1:1) — but
    // the joined form made the rewrite's tokenize pass re-execute the
    // whole dedup-verdict + decontamination join tail just to project
    // two columns it already had upstream.
    withKeep(withSubstrStage(optionalScanStages(joined, idCol, cfg),
      annotated, idCol, cfg))
  }

  /** The optional ExactSubstr-removal stage ([[Config.substrMinRun]]):
    * [[graft.operators.SuffixArray.dupRunRewrite]] over the CLEANED
    * text of every non-benchmark doc — duplicated runs of >= minRun
    * tokens keep only their corpus-wide first occurrence. Adds
    * `substr_n_removed` (evidence), REPLACES `text_clean` with the
    * rewritten text (downstream consumers — export, curriculum — see
    * the deduplicated corpus), and adds `v_substr` = doc still
    * non-empty after removal. The near-dup verdict (v_dedup) and the
    * scan-local stages upstream are computed over the pre-rewrite
    * text — the published stage order. No-op when Off (None):
    * identical plan, no added columns.
    *
    * `rewriteSrc` supplies the rewrite's (id, text_clean) input — the
    * checkpointed annotate frame, which agrees with `df` on those two
    * columns row-for-row (the verdict joins are 1:1-total on the id)
    * while skipping the joins' re-execution in the rewrite's tokenize
    * pass. */
  private def withSubstrStage(df: DataFrame, rewriteSrc: DataFrame,
                              idCol: String, cfg: Config): DataFrame =
    cfg.substrMinRun match {
      case None => df
      case Some(m) =>
        val rw = graft.operators.SuffixArray.dupRunRewrite(
            rewriteSrc.select(col(idCol), col("text_clean")),
            idCol, "text_clean", m)
          .select(col(idCol), col("n_removed").as("substr_n_removed"),
            col("text_dedup").as("__text_substr"))
        df.join(rw, Seq(idCol))
          .withColumn("v_substr", length(trim(col("__text_substr"))) > 0)
          .withColumn("text_clean", col("__text_substr"))
          .drop("__text_substr")
    }

  /** INCREMENTAL (delta-vs-standing) form of [[withVerdicts]] — the
    * crawl-drop workflow: a new batch gets the FULL verdict chain
    * without rescanning the standing corpus. The scan-local stages
    * are the identical projections; the two corpus-coupled stages
    * swap to their incremental machinery:
    *
    *   - `v_dedup`: a delta doc survives iff it near-matches NO
    *     standing doc ([[DedupApprox.minhashPairsAgainst]] — band keys
    *     probe the at-rest index, x28's proven plan) AND it is the
    *     quality keeper of its within-delta cluster
    *     ([[DedupApprox.minhashPairs]] over the delta alone + the q69
    *     keeper). The STANDING side is immutable BY POLICY: even a
    *     higher-quality delta doc loses to its standing match —
    *     shipped shards don't un-ship. This is the one documented
    *     divergence from the batch keeper (which would re-adjudicate
    *     the union); everything else matches [[withVerdicts]] row for
    *     row on the delta (spec-proven).
    *   - `v_decontam`: the benchmark set is standing too; the delta
    *     probes the same gram machinery with the benchmark docs
    *     passed in (bloom or exact per cfg), never the standing
    *     corpus.
    *
    * Cost shape: delta-sized scans + band-key probes of the at-rest
    * index — O(delta), never O(standing); the standing corpus
    * contributes only its (already materialized) band index and its
    * indexed text for candidate verification. */
  def deltaVerdicts(delta: DataFrame, idCol: String, textCol: String,
                    standingIndex: DataFrame, standingDocs: DataFrame,
                    benchDocs: DataFrame,
                    cfg: Config = Config()): DataFrame = {
    // ExactSubstr removal needs corpus-wide suffix state; a per-batch
    // rewrite would silently under-remove (runs duplicated ACROSS
    // batches survive). Fail loudly rather than degrade.
    require(cfg.substrMinRun.isEmpty,
      "substrMinRun is batch-form only (withVerdicts): the incremental " +
        "funnel has no cross-batch suffix state to rewrite against")
    // lazy checkpoint, same rationale as withVerdicts (four consumers)
    val annotated = annotate(delta, textCol, cfg).localCheckpoint(eager = false)

    // vs-standing matches over the CLEANED text (the index must have
    // been built over the standing corpus's cleaned text likewise)
    val cleanedDelta = annotated.select(col(idCol), col("text_clean"))
    val standingHits = DedupApprox.minhashPairsAgainst(
        cleanedDelta, idCol, "text_clean",
        standingIndex, standingDocs,
        threshold = cfg.dedupThreshold)
      .select(col("new_id").as(idCol)).distinct()
      .withColumn("__standing_dup", lit(true))

    // within-delta clusters + quality keeper (the batch machinery on
    // the delta alone)
    val deltaPairs = DedupApprox.minhashPairs(
      cleanedDelta, idCol, "text_clean", threshold = cfg.dedupThreshold)
    val deltaKeeper = Dedup.clusterVerdictsBy(
        annotated, idCol, deltaPairs, col("q_n_tokens"))
      .select(col(idCol), col("comp"), col("keep").as("__delta_keeper"))

    // decontamination vs the standing benchmark set
    val flagged = delta.select(col(idCol), col(textCol))
      .withColumn("__is_bench", lit(false))
      .unionByName(benchDocs.select(col(idCol), col(textCol))
        .withColumn("__is_bench", lit(true)))
    val contam = (if (cfg.contamViaBloom)
        Dedup.decontaminateBloom(flagged, idCol, textCol,
          col("__is_bench"), n = cfg.contamN)
      else
        Dedup.decontaminate(flagged, idCol, textCol,
          col("__is_bench"), n = cfg.contamN))
      .select(col(idCol), col("contaminated"))

    val joined = annotated
      .join(standingHits, Seq(idCol), "left")
      .join(deltaKeeper, Seq(idCol))
      .join(contam, Seq(idCol))
      .withColumn("v_clean", length(trim(col("text_clean"))) > 0)
      .withColumn("v_lang", col("lang_pred") === cfg.lang)
      .withColumn("v_quality", col("q_score") === 1.0)
      .withColumn("v_repetition",
        col("dup_unigram_frac") <= cfg.maxDupUnigramFrac &&
          col("top_bigram_frac") <= cfg.maxTopBigramFrac)
      .withColumn("v_dedup",
        !coalesce(col("__standing_dup"), lit(false)) && col("__delta_keeper"))
      .withColumn("v_decontam", !col("contaminated"))
      .drop("__standing_dup", "__delta_keeper")
    finishVerdicts(joined, idCol, cfg)
  }

  /** Canonical causal stage order (mirrors the published recipes:
    * page-level filters before dedup, ExactSubstr removal between
    * dedup and decontamination, decontamination last). */
  private val stageOrder = Seq("v_clean", "v_lang", "v_quality",
    "v_repetition", "v_blocklist", "v_compress", "v_entropy", "v_dedup",
    "v_substr", "v_decontam")

  /** One micro-batch of the STREAMING crawl-drop funnel (a stream
    * runs it through [[Ledger.sink]]): run
    * [[deltaVerdicts]] for `batch` against the standing artifacts at
    * `indexDir`/`docsDir`, land the verdict rows EFFECTIVELY-ONCE in
    * `targetDir` (idempotent insert on the doc id), then fold the
    * newly-landed docs' cleaned text + band keys back into the
    * standing dirs. Two properties fall out:
    *
    *   - successive micro-batches dedup against everything landed
    *     before them (the standing index grows with the stream — the
    *     x28 incremental-index story driven by the stream itself);
    *   - a redelivered micro-batch lands nothing and folds in only
    *     what a previous partial run left unfolded.
    *
    * ALL adjudicated docs fold in, keeps and drops alike: the
    * standing corpus is "everything seen", so a future near-dup of a
    * rejected doc is still recognized as a duplicate.
    *
    * CRASH SAFETY: the three appends (target, index, docs) are not one
    * atomic transaction, so the fold-in set is derived INDEPENDENTLY
    * of this run's landing — all of the batch's ids anti-joined
    * against the standing docs dir — rather than from the rows the
    * landing appended. A crash between the target append and the
    * fold-in leaves docs landed-but-unfolded; on redelivery the
    * landing is a no-op (idempotent insert) but the anti-join still
    * surfaces exactly the unfolded docs, healing the partial batch.
    * `docsDir` is written LAST as the fold-in commit marker: a crash
    * between the index and docs appends re-appends those band keys on
    * redelivery, and the probe side tolerates duplicate index rows
    * (candidate pairs are DISTINCT'd before verification), while a
    * doc present in `docsDir` is always fully indexed. The anti-join
    * probes standing ids with a delta-sized build side (broadcast) —
    * and the standing READ is delta-sized too: `docsDir` is laid out
    * partitioned by `__bucket` = id-hash mod [[Config.docsBuckets]],
    * and [[standingIdsPruned]] restricts the probe's scan to the
    * delta's own buckets via partition pruning (PartitionFilters in
    * the scan — plan-asserted in DeltaFunnelSpec), so a micro-batch
    * touching b buckets reads ~b/N of the standing id column instead
    * of all of it. A pre-bucketing flat ledger (no `__bucket`
    * partition column) degrades gracefully to the full column-pruned
    * id scan. This finishes replacing the reference pipeline's
    * full processed-set re-scan per run (sentiment_analysis_dag
    * .py:36-38) with a genuinely delta-sized read. */
  /** id-hash bucket of the standing-docs partition layout. */
  private[graft] def idBucket(id: Column, nb: Int): Column =
    pmod(xxhash64(id), lit(nb))

  /** The standing-ledger id read PRUNED to the delta's id-hash
    * buckets. The delta's distinct bucket set is driver-sized
    * (≤ `nb` longs) by construction, so collecting it and pushing an
    * `IN` predicate on the partition column is deterministic pruning
    * — no reliance on runtime DPP firing for a LogicalRDD build side.
    * A ledger written before bucketing (no `__bucket` column) falls
    * back to the full column-pruned id scan. */
  private[graft] def standingIdsPruned(standingRaw: DataFrame, idCol: String,
                                       deltaIds: DataFrame,
                                       nb: Int): DataFrame =
    if (!standingRaw.columns.contains("__bucket"))
      standingRaw.select(col(idCol))
    else {
      val buckets = deltaIds
        .select(idBucket(col(idCol), nb).cast("long").as("__b"))
        .distinct().collect().map(_.getLong(0))
      standingRaw.filter(col("__bucket")
          .isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(buckets): _*))
        .select(col(idCol))
    }

  def deltaFunnelBatch(batch: DataFrame, idCol: String, textCol: String,
                       benchDocs: DataFrame, cfg: Config,
                       indexDir: String, docsDir: String,
                       targetDir: String): Unit = {
    val spark = batch.sparkSession
    val emptyCleaned = TextAnalysis.c4LineCleanText(batch.limit(0), textCol,
        minWords = cfg.lineMinWords,
        requireTerminalPunct = cfg.lineRequireTerminalPunct)
      .select(col(idCol), col("text_clean"))
    val standingRaw = Dedup.readStateOr(spark, docsDir,
      emptyCleaned.withColumn("__bucket",
        idBucket(col(idCol), cfg.docsBuckets)))
    val standingDocs = standingRaw.drop("__bucket")
    val index = Dedup.readStateOr(spark, indexDir,
      DedupApprox.minhashIndex(emptyCleaned, idCol, "text_clean"))
    // one materialization feeds the landing and the fold-in (lazy:
    // the landing write is the materializing action)
    val v = deltaVerdicts(batch, idCol, textCol, index, standingDocs,
      benchDocs, cfg).localCheckpoint(eager = false)
    Ledger.land(v, targetDir, Seq(idCol))
    // dropDuplicates mirrors the landing path's intra-batch dedup: a
    // batch carrying the same doc id twice must fold in one row, not
    // two (duplicate docs rows + band keys would inflate standing
    // state toward the LSH maxBucket cap permanently).
    val foldIn = v.select(col(idCol), col("text_clean"))
      .dropDuplicates(idCol)
      .join(broadcast(
          standingIdsPruned(standingRaw, idCol, v.select(col(idCol)),
            cfg.docsBuckets)
            .join(broadcast(v.select(col(idCol))), Seq(idCol))),
        Seq(idCol), "left_anti")
      .localCheckpoint(eager = false) // materialized by the index append
    DedupApprox.minhashIndex(foldIn, idCol, "text_clean")
      .write.mode("append").parquet(indexDir)
    foldIn.withColumn("__bucket", idBucket(col(idCol), cfg.docsBuckets))
      .write.partitionBy("__bucket").mode("append").parquet(docsDir)
  }

  /** Streaming decontamination probe — q90's n-gram overlap analysis
    * as a DELTA stream against standing 8-byte-key indexes, landed
    * effectively-once (round-6 directive #7). Per micro-batch:
    *
    *   1. per-doc distinct gram hashes ([[TextAnalysis.docGramHashes]]
    *      — 64-bit keys, never gram strings);
    *   2. verdict = per-doc `(n_grams, n_bench_hits, n_seen_hits)`
    *      from two hash joins: the STATIC benchmark index at
    *      `benchIndexDir` (the eval-set grams training data must not
    *      contain — Brown 2020 App. C) and the GROWING `seenIndexDir`
    *      of grams from prior deltas (cross-delta overlap, the
    *      streaming analog of q90's cross-slice report);
    *   3. verdicts land idempotently in `targetDir` (anti-join on the
    *      doc id), then the batch's grams fold into `seenIndexDir`,
    *      and the ids land in the `seenDocsDir` ledger ([[Ledger]]'s
    *      contract: a redelivered batch writes nothing).
    *
    * Only the batch's fresh docs are scored: a doc in the ledger has its
    * verdict landed already. The landing runs before the fold, in one
    * partial: a retry after a crash between them scores its docs
    * against a `seen` index that still lacks their own grams, so a
    * verdict always reflects first-delivery state. Scale shape: every
    * join key is 8 bytes; the batch side is delta-sized and broadcast;
    * the standing index is read column-pruned (`h` only). Duplicate
    * hash rows in the index are tolerated (the probe DISTINCTs them),
    * which keeps fold-in a pure O(delta) append. */
  def contamDeltaBatch(batch: DataFrame, idCol: String, textCol: String,
                       benchIndexDir: String, seenIndexDir: String,
                       seenDocsDir: String, targetDir: String,
                       n: Int = 8): Unit = {
    val spark = batch.sparkSession
    val fresh = Ledger.fresh(batch.select(col(idCol), col(textCol)), idCol,
      seenDocsDir)
    val grams = fresh
      .select(col(idCol),
        explode_outer(TextAnalysis.docGramHashes(col(textCol), n)).as("h"))
      .localCheckpoint(eager = false) // materialized by the verdict agg
    val emptyIdx = grams.select(col("h")).limit(0)
    val bench = Dedup.readStateOr(spark, benchIndexDir, emptyIdx)
      .select(col("h")).distinct()
    val seen = Dedup.readStateOr(spark, seenIndexDir, emptyIdx)
      .select(col("h")).distinct()
    val verdict = grams
      .join(bench.withColumn("__b", lit(1L)), Seq("h"), "left")
      .join(seen.withColumn("__s", lit(1L)), Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(col("h")).as("n_grams"),
        sum(coalesce(col("__b"), lit(0L))).as("n_bench_hits"),
        sum(coalesce(col("__s"), lit(0L))).as("n_seen_hits"))
    Ledger.commit(fresh, col(idCol), seenDocsDir)(() => {
      Ledger.land(verdict, targetDir, Seq(idCol))
      grams.filter(col("h").isNotNull)
        .select(col("h")).distinct()
        .write.mode("append").parquet(seenIndexDir)
    })
    ()
  }

  /** The attrition funnel as ONE aggregate over the verdict plan:
    * docs surviving each stage, counted causally (stage N counts only
    * docs that passed stages 1..N-1). Only stages present in the
    * verdict columns appear (optional stages are dropped, not
    * always-true). */
  def funnel(verdicts: DataFrame): DataFrame = {
    val stages = stageOrder.filter(verdicts.columns.contains)
    val cascades = stages.zipWithIndex.map { case (s, i) =>
      val cond = stages.take(i + 1).map(col).reduce(_ && _)
      sum(when(cond, 1L).otherwise(0L)).as(s"after_$s")
    }
    verdicts.agg(count(lit(1)).as("input"), cascades: _*)
  }

  /** Keep survivors and export them as training shards; returns the
    * shard manifest (one row per shard) as a local frame. `kept` is
    * persisted across the write and the manifest's collect, so the
    * verdict tail (keeper aggregate, decontamination hits, joins) runs
    * once, not once per action; `persist` keeps the lineage, so a lost
    * block recomputes. The manifest has at most `numShards` rows
    * (under 2^20, [[Export.shardKey]]). */
  def materialize(verdicts: DataFrame, idCol: String, dir: String,
                  cfg: Config = Config()): DataFrame = {
    val kept = verdicts.filter(col("keep"))
      .select(col(idCol), col("text_clean").as("text"))
      .persist()
    try {
      Export.writeShards(kept, idCol, dir, cfg.numShards)
      val m = Export.manifest(kept, idCol, "text", cfg.numShards)
      kept.sparkSession.createDataFrame(java.util.Arrays.asList(m.collect(): _*), m.schema)
    } finally kept.unpersist()
  }

  // ---- the incremental release card, maintained by the stream -------
  // The corpus card kept current as delta batches land — per-batch
  // LEDGER PARTIALS (StatsLedger moments + histogram, Sketch HLL
  // registers) appended to dirs, never rewritten, under [[Ledger]]'s
  // seen-ids contract; the `batch_id` tag is the natural-key part
  // the read side heals duplicates on. At stream lifetimes the partial
  // dirs accumulate one small file per batch; `Maintenance.compact`'s
  // snapshot-dedup-rewrite bounds that exactly as it does for the
  // funnel's ledgers.

  /** Fold one delta batch's card partials into `baseDir`. `batchId`
    * tags the partial rows (the natural-key component that makes
    * read-side healing exact). */
  def cardDeltaBatch(batch: DataFrame, idCol: String, keyCol: String,
                     valCol: String, textCol: String, baseDir: String,
                     batchId: Long): Unit = {
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    val tag = lit(batchId).as("batch_id")
    Ledger.commit(fresh, col(idCol), idsDir)(
      () => graft.operators.StatsLedger.partial(fresh, keyCol, valCol)
        .select(tag, col("key"), col("n"), col("sum"), col("min"),
          col("max"), col("sumsq"))
        .write.mode("append").parquet(s"$baseDir/stats"),
      () => graft.operators.StatsLedger.histPartial(fresh, keyCol, valCol)
        .select(tag, col("key"), col("bin"), col("cnt"))
        .write.mode("append").parquet(s"$baseDir/hist"),
      () => graft.operators.Sketch.hllRegisters(fresh, keyCol, textCol)
        .select(tag, col("key"), col("bucket"), col("m"))
        .write.mode("append").parquet(s"$baseDir/hll"))
    ()
  }

  // ---- the media firehose: streaming perceptual dedup ---------------
  // x28's incremental text dedup, re-expressed for binary media: a
  // delta batch of payloads decodes to perceptual signatures
  // (Multimodal.gridEmbedding — scan-local, bytes never shuffle),
  // probes the STANDING signature index for re-encode near-dups
  // (Similarity.nearDupAgainst — delta-sized, never O(standing)),
  // elects within-delta keepers (smallest id per near-dup cluster,
  // the x28 convention), and appends only the keepers' signatures to
  // the index, under [[Ledger]]'s seen-ids contract. The verdicts
  // land BEFORE the signatures grow: a retry after a crash between
  // them probes an index that lacks its own keepers, so it lands the
  // first delivery's verdicts. The other crash window — verdicts
  // landed, signatures appended, ids NOT landed — re-appends the same
  // keeper signatures on retry; duplicates are benign (every pair
  // consumer ends in a pair-key dedup) and a Maintenance.compact
  // keyed on media_id removes them at rest.

  /** One media delta batch: writes per-media verdicts
    * `(media_id, dup_standing, dup_delta, keep)` to `targetDir` and
    * grows the signature index at `baseDir/signatures`. */
  def mediaDeltaBatch(batch: DataFrame, idCol: String,
                      payloadCol: String, baseDir: String,
                      threshold: Double = 0.995): Unit = {
    val spark = batch.sparkSession
    import graft.operators.{Multimodal, Similarity}
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch.select(col(idCol).cast("long").as("media_id"),
      col(payloadCol).as("payload")), "media_id", idsDir)
    val sigs = Multimodal.gridEmbedding(fresh).localCheckpoint(eager = false)
    val standing = Dedup.readStateOr(spark, s"$baseDir/signatures",
      sigs.limit(0))
    // vs standing: any hit marks the delta doc a re-encode dup
    val hitStanding = Similarity
      .nearDupAgainst(sigs, standing, "media_id", "embedding",
        threshold, numPlanes = 6, dim = 48)
      .select(col("id_d").as("media_id")).distinct()
      .withColumn("dup_standing", lit(true))
    // within delta: smallest-id keeper per near-dup pair set
    val dupDelta = Similarity
      .nearDupPairsMultiTable(sigs, "media_id", "embedding",
        threshold, numPlanes = 6, dim = 48)
      .select(col("id_b").as("media_id")).distinct()
      .withColumn("dup_delta", lit(true))
    val verdicts = sigs.select(col("media_id"))
      .join(hitStanding, Seq("media_id"), "left")
      .join(dupDelta, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("dup_standing"), lit(false)).as("dup_standing"),
        coalesce(col("dup_delta"), lit(false)).as("dup_delta"))
      .withColumn("keep", !col("dup_standing") && !col("dup_delta"))
      .localCheckpoint(eager = false) // materialized by the landing write
    Ledger.commit(fresh, col("media_id"), idsDir)(() => {
      Ledger.land(verdicts, s"$baseDir/verdicts", Seq("media_id"))
      // keepers' signatures grow the index
      sigs.join(verdicts.filter(col("keep")), Seq("media_id"), "left_semi")
        .write.mode("append").parquet(s"$baseDir/signatures")
    })
    Checkpoints.release(sigs)
    Checkpoints.release(verdicts)
  }

  /** Read the current card from the partial dirs: natural-key dedup
    * (heals duplicate partials from replayed batches), fold, join —
    * a ledger-sized read, independent of how much corpus has ever
    * streamed through. */
  def cardFromDirs(spark: org.apache.spark.sql.SparkSession,
                   baseDir: String): DataFrame =
    cardFromDirsAsOf(spark, baseDir, Long.MaxValue)

  /** TIME-TRAVEL read: the card as it stood after batch `maxBatchId`
    * landed — the batch-id tag the crash contract already requires
    * doubles as a version axis, so "the card we shipped with release
    * N" reproduces from the same dirs with one predicate and no
    * snapshotting machinery (append-only ledgers never rewrite
    * history). The filter lands before the fold, so an as-of read
    * costs the same as the current read. */
  def cardFromDirsAsOf(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String, maxBatchId: Long): DataFrame = {
    import graft.operators.{Report, Sketch, StatsLedger}
    def asOf(dir: String) =
      spark.read.parquet(s"$baseDir/$dir")
        .filter(col("batch_id") <= maxBatchId)
    val stats = StatsLedger.fold(
      asOf("stats").dropDuplicates("batch_id", "key"))
    val hist = StatsLedger.histFold(
      asOf("hist").dropDuplicates("batch_id", "key", "bin"))
    val regs = Sketch.hllFold(
      asOf("hll").dropDuplicates("batch_id", "key", "bucket"))
    Report.cardFromLedgers(stats, regs, hist)
  }
}
