package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{FirstBandPairsExpr, SortedJaccardExpr}

/** Near-duplicate detection for corpus-scale dedup: MinHash+LSH,
  * SimHash, and n-gram Jaccard (the standard pretraining-dedup stack:
  * Broder 1997 resemblance/minwise hashing; Charikar 2002 simhash;
  * Leskovec–Rajaraman–Ullman ch.3 banding).
  *
  * Scale design: every variant is candidate generation (a few small
  * keys per doc → one hash-shuffle on the key → in-bucket pairs)
  * followed by exact verification on candidates only. Nothing is O(n²)
  * in the corpus; the quadratic term is within-bucket, which banding
  * keeps tiny (and `maxBucket` caps against degenerate keys).
  *
  * Signatures/shingles are computed in single-pass JVM UDFs — one call
  * per row. (Deliberate: the pure-Column formulation via nested
  * higher-order lambdas re-evaluates non-attribute subtrees per array
  * element, turning one tokenize into ~|tokens| of them per row; a
  * profiled 25-60× slowdown at sf0.1. The UDF does one tokenize, one
  * signature pass, and returns exactly the bytes that shuffle.)
  * Pair expansion/verification stays native Catalyst.
  */
object DedupApprox {

  // ---- shingling -------------------------------------------------------

  private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '\''

  /** The corpus tokenizer as one char scan: calls `f(lower, start, end)`
    * for each maximal run of `[a-z0-9']` in `lower = text.toLowerCase`,
    * in order. The runs are exactly the non-empty pieces of
    * `lower.split("[^a-z0-9']+")`; the regex split cost most of each
    * kernel built on it. Nothing for a null text. */
  private[graft] def foreachToken(text: String)(f: (String, Int, Int) => Unit): Unit = {
    if (text == null) return
    val s = text.toLowerCase
    val n = s.length
    var i = 0
    while (i < n) {
      while (i < n && !isTokenChar(s.charAt(i))) i += 1
      val start = i
      while (i < n && isTokenChar(s.charAt(i))) i += 1
      if (i > start) f(s, start, i)
    }
  }

  private[graft] def tokensOf(text: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofRef[String]
    foreachToken(text)((s, a, b) => out += s.substring(a, b))
    out.result()
  }

  private[graft] def shinglesOf(text: String, n: Int): Array[String] = {
    val toks = tokensOf(text)
    if (toks.isEmpty) Array.empty
    else if (toks.length < n) Array(toks.mkString(" "))
    else {
      val set = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var j = i + 1
        while (j < i + n) { sb.append(' ').append(toks(j)); j += 1 }
        set += sb.result()
        i += 1
      }
      set.toArray
    }
  }

  /** Distinct word n-gram shingles (one tokenize pass per row). */
  def shingles(text: Column, n: Int): Column = {
    val f = udf { (t: String) => shinglesOf(t, n) }
    f(text)
  }

  // ---- MinHash ---------------------------------------------------------

  /** Deterministic (a,b) permutation params, seeded — same across runs
    * and executors, and rendered as literals into the DuckDB oracle.
    * Independent mod-prime permutations, NOT the cheaper two-hash
    * (Kirsch–Mitzenmacher) scheme: KM's minimizers correlate across
    * positions, which inflated band buckets ~5× AND lost true pairs
    * when tried at sf0.1 — and the signature pass wasn't the
    * bottleneck anyway. a,b < 2³¹ keeps every product under 2⁶². */
  private[graft] def perms(numHashes: Int): Array[(Long, Long)] =
    permsCache.computeIfAbsent(numHashes, n => {
      val rnd = new scala.util.Random(42)
      Array.fill(n)(
        ((rnd.nextLong() & Long.MaxValue) % (HashMod - 1) + 1,
         (rnd.nextLong() & Long.MaxValue) % HashMod))
    })

  // Memoized per numHashes: the SQL-registry minhash_sig UDF calls
  // perms() inside its per-row lambda — without the cache that drew
  // 2n seeded longs per input ROW (deterministic but O(rows·n)).
  private val permsCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[(Long, Long)]]

  private[operators] def minhashSig(sh: Seq[String], ps: Array[(Long, Long)]): Array[Long] = {
    val out = Array.fill(ps.length)(EmptySentinel)
    sh.foreach { s =>
      val h = tokenHash31(s)
      var i = 0
      while (i < ps.length) {
        val v = (ps(i)._1 * h + ps(i)._2) % HashMod
        if (v < out(i)) out(i) = v
        i += 1
      }
    }
    out
  }


  /** doc → (id, shingles, minhash signature). */
  def withMinhash(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, numHashes: Int = 64): DataFrame = {
    val ps = perms(numHashes)
    val sigUdf = udf { (sh: Seq[String]) => minhashSig(sh, ps) }
    df.select(col(idCol), shingles(col(textCol), shingleN).as("shingles"))
      .withColumn("sig", sigUdf(col("shingles")))
  }

  /** All hashing below is OVERFLOW-FREE modular arithmetic (31-bit
    * values, 62-bit intermediates) rather than murmur: every step is a
    * plain BIGINT expression any engine can replay, which is what lets
    * the DuckDB oracle re-run the entire LSH pipeline and hash-match
    * its pairs. LSH only needs well-distributed, not cryptographic,
    * hashes; the deterministic collisions (~n²/2·10⁻⁹) are identical
    * on both engines by construction. */
  private[graft] val HashMod = 1000000007L // 31-bit prime

  /** Signature slot for a shingle-less doc: one past the hash range, so
    * later band folds stay overflow-free (Long.MaxValue would wrap). */
  private[graft] val EmptySentinel: Long = HashMod

  /** 31-bit polynomial hash of a token (base 131, mod [[HashMod]]). */
  private[graft] def tokenHash31(t: String): Long = tokenHash31(t, 0, t.length)

  private def tokenHash31(s: String, a: Int, b: Int): Long = {
    var h = 0L
    var i = a
    while (i < b) { h = (h * 131 + s.charAt(i)) % HashMod; i += 1 }
    h
  }

  /** Distinct n-gram shingles as 31-bit hashes, ascending — no
    * shingle strings are ever built: token hashes fold positionally
    * over a sliding window. Sorted and duplicate-free, so two sets
    * verify by one merge pass ([[graft.functions.SetKernels.sortedJaccard]]).
    * Hash-set Jaccard equals string-set Jaccard up to the (replayable)
    * collision rate — immaterial against a 0.x threshold. */
  private[graft] def shingleHashesOf(text: String, n: Int): Array[Long] = {
    val thb = new scala.collection.mutable.ArrayBuilder.ofLong
    foreachToken(text)((s, a, b) => thb += tokenHash31(s, a, b))
    val th = thb.result()
    if (th.isEmpty) return Array.empty
    val upper = if (th.length < n) 1 else th.length - n + 1
    val w = if (th.length < n) th.length else n
    val hs = new Array[Long](upper)
    var i = 0
    while (i < upper) {
      var h = 0L
      var j = i
      while (j < i + w) { h = (h * 1000003 + th(j)) % HashMod; j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var m = 0
    i = 0
    while (i < upper) {
      if (m == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    if (m == upper) hs else java.util.Arrays.copyOf(hs, m)
  }

  /** Minwise signature over 31-bit shingle hashes: vᵢ = (aᵢ·h + bᵢ)
    * mod [[HashMod]] with aᵢ,bᵢ < 2³¹ — products stay under 2⁶², no
    * wrapping anywhere. */
  private[graft] def minhashSigInt(sh: Array[Long], ps: Array[(Long, Long)]): Array[Long] = {
    val out = Array.fill(ps.length)(EmptySentinel)
    var k = 0
    while (k < sh.length) {
      val h = sh(k)
      var i = 0
      while (i < ps.length) {
        val v = (ps(i)._1 * h + ps(i)._2) % HashMod
        if (v < out(i)) out(i) = v
        i += 1
      }
      k += 1
    }
    out
  }

  // ---- pair machinery --------------------------------------------------

  /** All ordered element pairs of an array column, as struct<a,b>.
    * Safe to call on attribute references only (lambdas re-evaluate
    * non-attribute children per element). */
  private[graft] def pairExpand(arr: Column): Column =
    flatten(transform(arr, (m, i) =>
      transform(slice(arr, i + 2, size(arr)), n => struct(m.as("a"), n.as("b")))))

  /** Band hashes of a signature: `bands` 64-bit-safe folds of its
    * consecutive slices. */
  private def bandHashes(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = 7L
      var i = b * rows
      while (i < (b + 1) * rows) { h = (h * 31 + sig(i)) % HashMod; i += 1 }
      h
    }
  }

  /** text → its `bands` LSH band hashes, in ONE UDF: tokenize,
    * hash-shingle, sign and band in a single pass. */
  private def bandKeys(text: Column, shingleN: Int, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val ps = perms(numHashes)
    udf { (t: String) =>
      bandHashes(minhashSigInt(shingleHashesOf(t, shingleN), ps), bands)
    }.apply(text)
  }

  /** LSH band-key index of a corpus: (idCol, band, band_hash) — bands
    * rows per doc, each a 64-bit-safe fold of a signature slice. This
    * is the AT-REST dedup artifact for a growing corpus: build it once
    * per corpus build (the only pass over the text), persist it
    * partitioned/bucketed by (band, band_hash), and dedup each
    * incremental delta against it via [[minhashPairsAgainst]] — the
    * delta never triggers a re-scan of the indexed 100 TB, and appends
    * to the index are just more (id, band, band_hash) rows. Band keys
    * are computed in ONE text→keys UDF (tokenize, hash-shingle, sign,
    * band in a single pass); only (bands × i64) per doc ever reach a
    * shuffle. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64,
                   bands: Int = 16): DataFrame =
    df.select(col(idCol), posexplode(bandKeys(col(textCol), shingleN, numHashes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      .select(col(idCol), col("band"), col("band_hash"))

  /** Incremental (delta-vs-index) near-dup pairs: every doc of `delta`
    * against an already-indexed corpus, WITHOUT re-scanning it. This is
    * the corpus-growth shape at 100 TB — a daily crawl drop dedups
    * against the standing index in O(delta), not O(corpus):
    *
    *   - `index` is [[minhashIndex]] output (persisted); only its
    *     band-key rows move, never the indexed text.
    *   - degenerate buckets (empty-shingle keys, boilerplate) are
    *     capped on the INDEX side: buckets over `maxBucket` members
    *     are dropped before the join — same recall/cost trade, and
    *     the cap decision needs no delta-side information.
    *   - candidates = delta band keys ⋈ surviving index buckets (the
    *     index side arrives pre-grouped, so a bucketed/pre-partitioned
    *     index makes this join shuffle-free on the big side).
    *   - verification reads text ONLY for candidate ids on both sides
    *     (broadcast semi-joins), exactly like [[minhashPairs]].
    *
    * `indexDocs` supplies the indexed corpus' text for the exact-
    * Jaccard verification reads (in a deployment: the corpus table the
    * index was built from). Output: (new_id, idx_id, jaccard) with
    * jaccard >= threshold. Delta-internal duplicates are NOT emitted —
    * compose with [[minhashPairs]](delta) for those. */
  def minhashPairsAgainst(delta: DataFrame, idCol: String, textCol: String,
                          index: DataFrame, indexDocs: DataFrame,
                          shingleN: Int = 3, numHashes: Int = 64,
                          bands: Int = 16, threshold: Double = 0.5,
                          maxBucket: Int = 500,
                          broadcastCandidates: Boolean = true): DataFrame = {
    val deltaBanded = minhashIndex(delta, idCol, textCol, shingleN, numHashes, bands)
    // index buckets arrive as (band, band_hash) -> member list, capped;
    // one groupBy over the (already at-rest) index, no text anywhere.
    val idxBuckets = index
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col(idCol)).as("ms"))
      .filter(size(col("ms")) <= maxBucket)
    val cand = deltaBanded
      .join(idxBuckets, Seq("band", "band_hash"))
      .select(col(idCol).as("new_id"), explode(col("ms")).as("idx_id"))
      .dropDuplicates("new_id", "idx_id")
      .localCheckpoint()
    val shHashUdf = udf { (text: String) => shingleHashesOf(text, shingleN) }
    val bc: DataFrame => DataFrame =
      if (broadcastCandidates) broadcast else identity
    val newSh = delta
      .join(bc(cand.select(col("new_id").as("cid")).distinct()),
        col(idCol) === col("cid"))
      .select(col(idCol).as("new_id"), shHashUdf(col(textCol)).as("sh_n"))
    val idxSh = indexDocs
      .join(bc(cand.select(col("idx_id").as("cid")).distinct()),
        col(idCol) === col("cid"))
      .select(col(idCol).as("idx_id"), shHashUdf(col(textCol)).as("sh_i"))
    cand
      .join(newSh, Seq("new_id")).join(idxSh, Seq("idx_id"))
      // empty-vs-empty: undefined (null), dropped — see minhashPairs
      .select(col("new_id"), col("idx_id"),
        SortedJaccardExpr(col("sh_n"), col("sh_i")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[minhashPairsAgainst]] re-planned for a STREAMING delta: live
    * ingest dedups against the standing corpus index with only
    * stream-static inner joins (all append-mode legal — no stateful
    * aggregation, no stream self-join, no checkpointed candidate set).
    *
    * Two deliberate divergences from the batch plan, both micro-batch
    * trades:
    *   - the delta's shingle hashes RIDE THE STREAM through the band
    *     explode (×bands replication) instead of being joined back,
    *     because the join-back would be a stream-stream self-join;
    *     micro-batches are small, so KBs/doc × bands is immaterial.
    *   - a pair matching in several bands emits several identical
    *     verdict rows (the batch dropDuplicates is stateful): route
    *     the sink through the engine's idempotent insert (the S-5/S-8
    *     machinery) or `dropDuplicatesWithinWatermark`, exactly like
    *     every other at-least-once output in the streaming layer.
    *
    * Cache the two static inputs (`index`, `indexDocs`) — Spark
    * re-evaluates static sides per micro-batch otherwise. */
  def minhashPairsAgainstStream(delta: DataFrame, idCol: String, textCol: String,
                                index: DataFrame, indexDocs: DataFrame,
                                shingleN: Int = 3, numHashes: Int = 64,
                                bands: Int = 16, threshold: Double = 0.5,
                                maxBucket: Int = 500): DataFrame = {
    val ps = perms(numHashes)
    // one text pass: shingle hashes once, signature + band keys from them
    val keysUdf = udf { (text: String) =>
      val sh = shingleHashesOf(text, shingleN)
      (sh, bandHashes(minhashSigInt(sh, ps), bands))
    }
    val banded = delta
      .withColumn("k", keysUdf(col(textCol)))
      .select(col(idCol).as("new_id"), col("k._1").as("sh_n"),
        posexplode(col("k._2")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val idxBuckets = index
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col(idCol)).as("ms"))
      .filter(size(col("ms")) <= maxBucket)
    val shHashUdf = udf { (text: String) => shingleHashesOf(text, shingleN) }
    val idxSh = indexDocs
      .select(col(idCol).as("idx_id"), shHashUdf(col(textCol)).as("sh_i"))
    banded
      .join(idxBuckets, Seq("band", "band_hash"))
      .select(col("new_id"), col("sh_n"), explode(col("ms")).as("idx_id"))
      .join(idxSh, Seq("idx_id"))
      // empty-vs-empty: undefined (null), dropped — see minhashPairs
      .select(col("new_id"), col("idx_id"),
        SortedJaccardExpr(col("sh_n"), col("sh_i")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Effectively-once landing for [[minhashPairsAgainstStream]]
    * verdicts, one micro-batch (a stream runs it through
    * [[graft.plans.Ledger.sink]]; the soak suite drives it directly):
    * the per-band duplicate rows collapse on the `(new_id, idx_id)`
    * pair key and the target is anti-joined on it before the append
    * ([[graft.plans.Ledger.land]]), which upgrades the candidate
    * stream's at-least-once contract to effectively-once: a
    * redelivered micro-batch (or a delta doc replayed in a later
    * batch) lands nothing new. Null ids: the keys compare with SQL
    * equality, so a pair with a null id matches no landed pair and
    * lands again on every delivery. */
  def minhashVerdictBatch(batch: DataFrame, targetDir: String): Unit =
    graft.plans.Ledger.land(batch, targetDir, Seq("new_id", "idx_id"))

  /** The LSH candidates of [[minhashPairs]], each pair once:
    * `(id, bh)` rows (a doc key and its band hashes) → `(id_a, id_b)`,
    * id_a < id_b, for every pair sharing a bucket of at most
    * `maxBucket` docs in some band, emitted by the lowest such band.
    * A key carried by several rows sits in every bucket of each of its
    * rows (each row counts toward the cap, as in a per-row grouping);
    * identical rows pair exactly like one, and rows of one key with
    * differing texts may emit a pair more than once. */
  private[operators] def firstBandCandidates(keyed: DataFrame, maxBucket: Int): DataFrame = {
    val spark = keyed.sparkSession
    // the configured shuffle width is the floor; the default
    // parallelism lifts it when it is set below the core count
    val n = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    keyed
      .select(col("id"), posexplode(col("bh")).as(Seq("band", "h")))
      .repartition(n, col("band"), col("h"))
      .withColumn("h", when(
        count(lit(1)).over(Window.partitionBy(col("band"), col("h"))) <= maxBucket, col("h")))
      .repartition(n, col("id"))
      .groupBy(col("id"))
      .agg(array_distinct(array_sort(collect_list(struct(col("band"), col("h"))))).as("bs"))
      // one bucket per band, in band order, unless the key came on rows
      // whose buckets differ: then bh(b) is read by band, the key's max
      // unmasked hash in band b (the lookup is the slow path)
      .select(col("id"),
        when(size(col("bs")) === array_max(col("bs.band")) + 1, col("bs.h"))
          .otherwise(transform(sequence(lit(0), array_max(col("bs.band"))), b =>
            array_max(transform(filter(col("bs"), s => s("band") === b), s => s("h")))))
          .as("bh"),
        explode(col("bs")).as("s"))
      .select(col("id"), col("bh"), col("s.band").as("band"), col("s.h").as("h"))
      .filter(col("h").isNotNull)
      .repartition(n, col("band"), col("h"))
      .groupBy(col("band"), col("h"))
      .agg(collect_list(struct(col("id"), col("bh"))).as("ms"))
      .select(explode(FirstBandPairsExpr(col("band"), col("ms"))).as("p"))
      .select(least(col("p.a"), col("p.b")).as("id_a"),
        greatest(col("p.a"), col("p.b")).as("id_b"))
  }

  /** MinHash+LSH candidate pairs verified by exact Jaccard.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    * bands*rowsPerBand must equal numHashes. A doc with a null
    * `idCol` is never paired. A key repeated over several rows (a
    * redelivered doc) pairs with every other doc that one of its rows
    * collides with, and each of its rows is verified against that doc.
    *
    * Candidates: a pair is a candidate when it shares a bucket (band,
    * band hash) of at most `maxBucket` docs in some band. Each
    * candidate is EMITTED ONCE, by the lowest such band, so no distinct
    * over per-band copies is needed (a clustered corpus collides in
    * most of its 16 bands: 8.3M copies of 524k pairs at the benchmark
    * corpus). Three small shuffles of per-doc rows get there:
    *   1. a per-bucket count over the (id, band, hash) rows masks a
    *      doc's hash to null in every band whose bucket is over the
    *      cap, so a capped bucket neither emits pairs nor hides a pair
    *      from a higher band;
    *   2. the masked hashes regroup into one array per doc;
    *   3. each doc joins its non-null buckets carrying that array, and
    *      a bucket of band k emits the member pairs whose arrays agree
    *      at no band below k ([[graft.functions.FirstBandPairsExpr]]).
    * Each shuffle is repartitioned on its key to the configured shuffle
    * width, raised to the default parallelism where it is set lower, so
    * every stage, the in-bucket expansion above all, runs on every core
    * rather than in the one task AQE coalesces these small per-doc rows
    * to (the three stages took 1.1–1.2 s coalesced and 0.8–0.9 s spread
    * on the benchmark corpus, 4 cores). AQE has no skew split to lose
    * here: a per-bucket count or a per-bucket expansion needs its whole
    * bucket in one task either way.
    * Only band hashes shuffle (no shingle sets), and the candidate set
    * is checkpointed once.
    *
    * Verification joins the candidate pairs BACK to the shingle sets,
    * and the PER-DOC side builds, the pair side streams. Every candidate
    * doc appears in at least one pair, so the doc side never exceeds
    * about twice the pair count; in clustered corpora it is far smaller,
    * because pairs grow with the square of cluster size (26 clusters of
    * 200 near-duplicates are ~517k pairs over ~5.2k docs). So the
    * shingle table (id, sh) of the candidate docs is computed once — one
    * shingle-UDF pass — and broadcast, and each pair probes it twice, by
    * id_a and by id_b (the second probe reuses the first broadcast). The
    * pairs stream from the checkpointed candidate set and never move.
    * The shingle sets are sorted and duplicate-free, so the Jaccard is
    * one merge pass per pair ([[graft.functions.SortedJaccardExpr]]).
    * `broadcastCandidates` governs the broadcasts of the per-doc sides
    * (the candidate-id semi-join and the shingle table); false drops
    * the hints and lets AQE shuffle both sides — same plan shape, no
    * driver limit, for a corpus whose candidate docs outgrow a
    * broadcast. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5, maxBucket: Int = 500,
                   broadcastCandidates: Boolean = true): DataFrame = {
    // materialized once (localCheckpoint): the candidate set feeds the
    // candidate-id semi-join (inside the shingle table's broadcast) and
    // the pair stream, and an un-materialized set would re-run the
    // whole LSH subtree once per consumer.
    val cand = firstBandCandidates(df.filter(col(idCol).isNotNull)
        .select(col(idCol).as("id"), bandKeys(col(textCol), shingleN, numHashes, bands).as("bh")),
        maxBucket)
      .localCheckpoint()
    // verification shingles are computed only for docs that appear in a
    // candidate pair (a small fraction of the corpus), not corpus-wide.
    val shHashUdf = udf { (text: String) => shingleHashesOf(text, shingleN) }
    val bc: DataFrame => DataFrame =
      if (broadcastCandidates) broadcast else identity
    val candIds = cand.select(col("id_a").as("cid"))
      .unionByName(cand.select(col("id_b").as("cid"))).distinct()
    // the build side: one (id, sh) row per candidate doc. Both probes
    // read the same plan (aliases only, no per-probe projection inside
    // the hint), so the second broadcast is a reused exchange and the
    // UDF runs once per call.
    val docSh = bc(df.join(bc(candIds), col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"), shHashUdf(col(textCol)).as("sh")))
    // shingle-less pairs (both texts empty after upstream cleaning) have
    // union 0: jaccard is undefined (null), the pair is dropped by the
    // threshold filter — matching the oracle, where 0.0/0 is NULL in
    // DuckDB and fails the filter the same way. The null comes from
    // inside the kernel, so no separate guard can be reordered against
    // the threshold conjunct.
    cand
      .join(docSh.as("a"), col("id_a") === col("a.id"))
      .join(docSh.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"),
        SortedJaccardExpr(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- SimHash ---------------------------------------------------------

  /** 64-bit token hash from LCG-fold + two multiply/rotate finalizer
    * rounds — xor-free avalanche over all 64 bits, chosen because every
    * step (wrapping multiply, rotate-by-32 = half-swap) is exactly
    * replayable as HUGEINT mod-2⁶⁴ arithmetic in the DuckDB oracle. */
  private[graft] def tokenHash64(t: String): Long = {
    var h = 0L
    var i = 0
    while (i < t.length) { h = h * 6364136223846793005L + t.charAt(i); i += 1 }
    h = java.lang.Long.rotateLeft(h, 32) * 6364136223846793005L
    h = java.lang.Long.rotateLeft(h, 32) * 6364136223846793005L
    h
  }

  private[graft] def simhashOf(text: String): Long = {
    val toks = tokensOf(text)
    if (toks.isEmpty) 0L
    else {
      val acc = new Array[Int](64)
      toks.foreach { t =>
        val h = tokenHash64(t)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
          i += 1
        }
      }
      var sig = 0L
      var i = 0
      while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }
  }

  private val simhashUdf = udf { (text: String) => simhashOf(text) }

  /** doc → 64-bit simhash of its token multiset. */
  def withSimhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhashUdf(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Pigeonhole on chunk PAIRS: with `chunks` pieces and distance
    * <= maxHamming <= chunks-2, at least two chunks match exactly, so
    * keying candidates on every (chunk_i, chunk_j) value pair is sound
    * — and the 2-chunk key has ~2^(2·64/chunks) entropy, which keeps
    * buckets small even when one chunk value is corpus-common (the
    * single-chunk scheme degenerates: one low-entropy 8-bit chunk put
    * 30% of a 5k corpus in one bucket). C(chunks,2) keys per doc. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, chunks: Int = 8,
                   maxBucket: Int = 2000): DataFrame = {
    require(maxHamming <= chunks - 2,
      s"chunk-pair pigeonhole needs maxHamming <= chunks-2 (got $maxHamming, $chunks)")
    val bits = 64 / chunks
    val mask = (1L << bits) - 1
    val sigs = withSimhash(df, idCol, textCol)
    val keys = (for {
      i <- 0 until chunks; j <- (i + 1) until chunks
    } yield struct(
      lit(i * chunks + j).as("ck"),
      (shiftright(col("simhash"), i * bits).bitwiseAND(lit(mask)) * (mask + 1) +
        shiftright(col("simhash"), j * bits).bitwiseAND(lit(mask))).as("cv")))
    val banded = sigs
      .select(col(idCol), col("simhash"), explode(array(keys: _*)).as("k"))
      .select(col(idCol), col("simhash"), col("k.ck").as("ck"), col("k.cv").as("cv"))
    // The Hamming test runs INSIDE the bucket expansion (whole-stage
    // codegen, pre-shuffle): chunk-pair keys on natural-language
    // simhashes are low-entropy, so candidate pairs outnumber true
    // near-dups ~100:1 (profiled 2.28M raw vs 15.7k passing at sf0.1)
    // — filtering before dropDuplicates shrinks that shuffle ~100×.
    // (Canonical-bucket emission — dedup by construction, no shuffle —
    // was tried and REVERTED: the canonical-key expression inside the
    // HOF lambda re-evaluates per reference (interpreted), measured
    // 1.5-3.5× slower than just shuffling the pre-filtered survivors.)
    banded.groupBy(col("ck"), col("cv"))
      .agg(collect_list(struct(col(idCol).as("id"), col("simhash").as("sig"))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucket))
      .select(explode(filter(pairExpand(col("ms")),
        p => bit_count(p.getField("a").getField("sig")
          .bitwiseXOR(p.getField("b").getField("sig"))) <= lit(maxHamming))).as("p"))
      .select(
        least(col("p.a.id"), col("p.b.id")).as("id_a"),
        greatest(col("p.a.id"), col("p.b.id")).as("id_b"),
        bit_count(col("p.a.sig").bitwiseXOR(col("p.b.sig"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** One-call corpus dedup: MinHash near-dup pairs → connected
    * components → keep/drop verdict per document. Docs outside any
    * near-dup cluster keep themselves (cluster = own id, keep = true).
    * This is the operator a training-data pipeline actually runs; the
    * pieces stay public for custom thresholds/metrics. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, threshold = threshold)
    val verdicts = Dedup.clusterVerdicts(pairs)
      .withColumnRenamed("id", idCol)
    df.join(verdicts, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
      .withColumn("keep", coalesce(col("keep"), lit(true)))
  }

  // ---- exact n-gram Jaccard (inverted-index, no signatures) -----------

  /** All-pairs n-gram Jaccard >= threshold via an inverted index:
    * explode shingles → posting list per ngram (df-capped — ultra-common
    * ngrams carry no discrimination and expand quadratically; the same
    * cut a search engine makes) → in-posting pairs → |A∩B| = pair count,
    * |A∪B| = |A|+|B|−|A∩B|. Pairs whose every shared ngram is df-capped
    * are missed — raise maxNgramDf for exactness. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.5,
                   maxNgramDf: Int = 50): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val inv = sh.select(col("id"), explode(col("sh")).as("ng"))
    val pairs = inv.groupBy("ng").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxNgramDf))
      .select(explode(pairExpand(col("ids"))).as("p"))
      .groupBy(
        least(col("p.a"), col("p.b")).as("id_a"),
        greatest(col("p.a"), col("p.b")).as("id_b"))
      .agg(count(lit(1)).as("common"))
    // the per-doc size table is narrow (id, int) — two hash joins on it
    // are cheap at any scale, and AQE broadcasts whichever side is
    // small at runtime. (Explicitly broadcasting `pairs` here re-runs
    // the whole posting-expansion subtree once per broadcast exchange —
    // measured 13× slower at sf0.1 — so: no hint.)
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
