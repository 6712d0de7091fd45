package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Ledger

/** Distribution-drift monitoring between two corpus slices — the
  * question behind every "did the feed change under us" alert the
  * reference's freshness watchdog (T-6) cannot answer: freshness says
  * data ARRIVED, drift says the data still LOOKS like yesterday's.
  * Population Stability Index (the credit-scoring standard: PSI < 0.1
  * stable, > 0.25 shifted) and Jensen-Shannon divergence (symmetric,
  * bounded by ln 2) over a caller-supplied binning.
  *
  * Numeric discipline: bin counts are exact BIGINTs from one
  * map-side-combined groupBy per slice; the Laplace-smoothed
  * proportions are single double divisions of exactly-equal integer
  * operands; `ln` runs on NON-FOLDABLE doubles (so both engines
  * evaluate at runtime, not at plan time) and every transcendental
  * output lands on the micro grid before hashing — the q50/q51 ledger
  * discipline for cross-libm 1-ulp drift.
  *
  * Scale shape: one shuffle per slice (groupBy bin, map-side combined
  * to ≤ |bins| partial rows per task), then all arithmetic on the
  * bins-row table (constant-size at any corpus scale; the totals join
  * is a single-row broadcast cross join). Slices are usually two
  * predicates over ONE scan — Spark collapses the double read under
  * columnar caching or the caller passes pre-split frames.
  */
object Drift {

  private def micro(c: Column): Column =
    floor(c * 1000000.0 + 0.5).cast("long")

  /** Per-bin drift between slice `a` (reference) and slice `b`
    * (current), both already carrying an integer/string `binCol`:
    * `(bin, a_n, b_n, psi_contrib_micro, jsd_contrib_micro)`.
    *
    * Bins are the UNION of bins observed in either slice; Laplace
    * add-one smoothing (p = (n+1)/(N+k) with k = |union bins|) keeps
    * ln finite when a bin is empty on one side — the standard PSI
    * treatment for new/vanished buckets. Totals:
    * PSI = Σ contribs, JSD = Σ contribs ∈ [0, ln 2]. */
  def binnedDrift(a: DataFrame, b: DataFrame, binCol: String): DataFrame = {
    val aCnt = a.groupBy(col(binCol).as("bin")).agg(count(lit(1)).as("a_n"))
    val bCnt = b.groupBy(col(binCol).as("bin")).agg(count(lit(1)).as("b_n"))
    val bins = aCnt.join(bCnt, Seq("bin"), "full")
      .select(col("bin"),
        coalesce(col("a_n"), lit(0L)).as("a_n"),
        coalesce(col("b_n"), lit(0L)).as("b_n"))
    driftFromCounts(bins)
  }

  /** [[binnedDrift]] when both slices come from ONE frame (the usual
    * monitoring shape: yesterday vs today out of the same table):
    * rows where `inRef` holds form the reference slice, the rest the
    * current one. ONE scan and ONE shuffle — conditional counts in a
    * single groupBy — where filtering the frame twice through
    * [[binnedDrift]] would read the 100 TB source twice. `inRef` must
    * be non-null (a null lands the row in the current slice). */
  def slicedDrift(df: DataFrame, binCol: String, inRef: Column): DataFrame =
    driftFromCounts(df.groupBy(col(binCol).as("bin")).agg(
      sum(when(inRef, 1L).otherwise(0L)).as("a_n"),
      sum(when(inRef, 0L).otherwise(1L)).as("b_n")))

  /** EMBEDDING-distribution drift — the vector-space twin of
    * [[slicedDrift]] for embedding pipelines (a re-trained or
    * re-normalized encoder shifts the mean vector long before any
    * scalar column moves): cosine between the two slices' mean
    * vectors plus their norm ratio, from ONE scan.
    *
    * Exactness: components land on a caller-chosen integer grid
    * (`quantScale`, default milli — the x22 quantization discipline),
    * per-dimension sums are then exact BIGINTs from a single
    * conditional-sum shuffle keyed by dimension, and dot/norm² are
    * exact BIGINT sums of BIGINT products — completely order-free, no
    * float accumulates anywhere. The only doubles are the final
    * divisions and two IEEE-exact sqrts. Overflow headroom:
    * dims·(n·qmax)² < 2^63 — at q = 1e3, unit-ish components and 64
    * dims that holds to ~3e7 rows per slice; at larger slices LOWER
    * `quantScale` (the Graph.scale convention: pre-aggregated counts,
    * not precision, are what the drift verdict needs).
    *
    * Output one row: `(dims, n_a, n_b, cos_micro, norm_ratio_micro)`
    * where norm_ratio = |mean_a|/|mean_b|. */
  def embeddingDrift(df: DataFrame, vecCol: String, inRef: Column,
                     quantScale: Double = 1000.0): DataFrame = {
    val counts = df.agg(
      sum(when(inRef, 1L).otherwise(0L)).as("n_a"),
      sum(when(inRef, 0L).otherwise(1L)).as("n_b"))
    embDriftFinish(embDimSums(df, vecCol, inRef, quantScale), counts)
  }

  /** The per-dim exact integer slice sums — MERGEABLE (plain BIGINT
    * adds), which is what the incremental path folds. */
  private def embDimSums(df: DataFrame, vecCol: String, inRef: Column,
                         quantScale: Double): DataFrame = {
    val qv = floor(col("__v").cast("double") * quantScale + 0.5).cast("long")
    df.select(inRef.as("__r"),
        posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .select(col("__r"), col("__d"), qv.as("__q"))
      .groupBy(col("__d")).agg(
        sum(when(col("__r"), col("__q")).otherwise(0L)).as("sa"),
        sum(when(col("__r"), 0L).otherwise(col("__q"))).as("sb"))
  }

  /** Shared tail: `(d, sa, sb)` dim sums + a single-row `(n_a, n_b)`
    * count frame → the one-row drift report. */
  private def embDriftFinish(dims: DataFrame, counts: DataFrame): DataFrame = {
    val folded = dims.agg(
      count(lit(1)).as("dims"),
      sum(col("sa") * col("sb")).as("dot"),
      sum(col("sa") * col("sa")).as("na2"),
      sum(col("sb") * col("sb")).as("nb2"))
    val j = folded.crossJoin(broadcast(counts))
    val (na, nb) = (sqrt(col("na2").cast("double")),
      sqrt(col("nb2").cast("double")))
    val cos = col("dot").cast("double") / (na * nb)
    val ratio = (na * col("n_b")) / (nb * col("n_a"))
    j.select(col("dims"), col("n_a"), col("n_b"),
      micro(cos).as("cos_micro"),
      micro(ratio).as("norm_ratio_micro"))
  }

  /** One micro-batch of the INCREMENTAL embedding-drift monitor: the
    * delta's per-dim sums and slice counts, tagged with `batchId` (the
    * torn-append heal), under [[graft.plans.Ledger]]'s seen-ids
    * contract. Per-dim sums are plain BIGINT adds, so any fold order
    * equals the one-shot [[embeddingDrift]] bit-for-bit. */
  def embDriftDeltaBatch(batch: DataFrame, idCol: String, vecCol: String,
                         inRef: Column, baseDir: String, batchId: Long,
                         quantScale: Double = 1000.0): Unit = {
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    Ledger.commit(fresh, col(idCol), idsDir)(
      () => embDimSums(fresh, vecCol, inRef, quantScale)
        .select(lit(batchId).as("batch_id"), col("__d"),
          col("sa"), col("sb"))
        .write.mode("append").parquet(s"$baseDir/dims"),
      () => fresh.agg(
          sum(when(inRef, 1L).otherwise(0L)).as("n_a"),
          sum(when(inRef, 0L).otherwise(1L)).as("n_b"))
        .select(lit(batchId).as("batch_id"), col("n_a"), col("n_b"))
        .write.mode("append").parquet(s"$baseDir/counts"))
    ()
  }

  /** Final embedding drift from the standing ledger (the
    * [[driftFromDirs]] contract: `(batch_id, …)` dedup heals a torn
    * append, then exact BIGINT folds). */
  def embDriftFromDirs(spark: org.apache.spark.sql.SparkSession,
                       baseDir: String): DataFrame = {
    val dims = spark.read.parquet(s"$baseDir/dims")
      .dropDuplicates("batch_id", "__d")
      .groupBy(col("__d")).agg(
        sum(col("sa")).as("sa"), sum(col("sb")).as("sb"))
    val counts = spark.read.parquet(s"$baseDir/counts")
      .dropDuplicates("batch_id")
      .agg(sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
    embDriftFinish(dims, counts)
  }

  /** Pearson chi-square independence test between two categorical
    * columns (the "did the label mix move with the slice" question
    * PSI's single-column view cannot ask): one corpus shuffle to the
    * observed r×c cells, margins from that tiny frame, then
    * χ² = Σ (O·n − R·C)² / (n·R·C) over the FULL margin grid —
    * zero-observed cells contribute their expectation (left-join from
    * the broadcast margin cross product), which a cells-only sum
    * would silently drop. One row: `(n, r, c, dof, chi2_micro,
    * cramers_v_micro)`.
    *
    * Numeric discipline: the deviation `O·n − R·C` is formed EXACTLY
    * in BIGINT (headroom: n² < 2^63 → n < 3.0e9 rows; beyond that,
    * pre-aggregate or sample — the test is asymptotic anyway), the
    * quotient runs in double with the denominator multiplied IN
    * DOUBLE (n·R·C would overflow first), per-cell contributions land
    * on the micro grid and sum order-free; Cramér's V takes one
    * IEEE-exact sqrt (correctly rounded by both engines, unlike ln). */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("ca"), col(bCol).as("cb"))
      .agg(count(lit(1)).as("o")).localCheckpoint()
    val rowN = cells.groupBy(col("ca")).agg(sum(col("o")).as("rn"))
    val colN = cells.groupBy(col("cb")).agg(sum(col("o")).as("cn"))
    val tot = cells.agg(sum(col("o")).as("n"))
    val grid = broadcast(rowN).crossJoin(broadcast(colN))
      .join(cells, Seq("ca", "cb"), "left")
      .select(col("ca"), col("cb"), col("rn"), col("cn"),
        coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(broadcast(tot))
    val dev = (col("o") * col("n") - col("rn") * col("cn")).cast("double")
    val contrib = dev * dev /
      (col("n").cast("double") * col("rn") * col("cn"))
    val agg = grid.select(col("ca"), col("cb"), col("n"),
        micro(contrib).as("cm"))
      .agg(first(col("n")).as("n"),
        countDistinct(col("ca")).as("r"),
        countDistinct(col("cb")).as("c"),
        sum(col("cm")).as("chi2_micro"))
    val minDim = least(col("r") - 1L, col("c") - 1L)
    agg.select(col("n"), col("r"), col("c"),
      ((col("r") - 1L) * (col("c") - 1L)).as("dof"),
      col("chi2_micro"),
      micro(when(minDim === 0L, lit(0.0)).otherwise(
        sqrt((col("chi2_micro").cast("double") / 1000000.0) /
          (col("n").cast("double") * minDim))))
        .as("cramers_v_micro"))
  }

  /** Per-KEY drift — the real monitoring shape at corpus scale (PSI
    * per source/domain/event-type, not one global number that a big
    * stable key can mask): one corpus shuffle to `(key, bin)`
    * conditional counts, per-key totals from that tiny frame, then
    * the same smoothed PSI/JSD math per (key, bin) and an order-free
    * GRID SUM per key — contributions land on the micro grid first,
    * so the per-key totals are exact BIGINT sums with no float
    * sum-order hazard. Output: `(key, n_bins, a_tot, b_tot,
    * psi_micro, jsd_micro)`, one row per key. */
  def keyedDrift(df: DataFrame, keyCol: String, binCol: String,
                 inRef: Column): DataFrame =
    keyedDriftFromCounts(
      df.groupBy(col(keyCol).as("key"), col(binCol).as("bin"))
        .agg(
          sum(when(inRef, 1L).otherwise(0L)).as("a_n"),
          sum(when(inRef, 0L).otherwise(1L)).as("b_n")))

  /** Shared keyed tail over exact `(key, bin, a_n, b_n)` counts. */
  private def keyedDriftFromCounts(countsLazy: DataFrame): DataFrame = {
    val counts = countsLazy.localCheckpoint() // keys×bins, consumed twice
    val totals = counts.groupBy(col("key")).agg(
      sum(col("a_n")).as("a_tot"),
      sum(col("b_n")).as("b_tot"),
      count(lit(1)).as("k"))
    val j = counts.join(broadcast(totals), Seq("key"))
    val p = (col("a_n") + 1L).cast("double") / (col("a_tot") + col("k"))
    val q = (col("b_n") + 1L).cast("double") / (col("b_tot") + col("k"))
    val m = (p + q) / 2.0
    j.select(col("key"), col("a_tot"), col("b_tot"),
        micro((p - q) * log(p / q)).as("psi_c"),
        micro((p * log(p / m) + q * log(q / m)) / 2.0).as("jsd_c"))
      .groupBy(col("key")).agg(
        count(lit(1)).as("n_bins"),
        first(col("a_tot")).as("a_tot"),
        first(col("b_tot")).as("b_tot"),
        sum(col("psi_c")).as("psi_micro"),
        sum(col("jsd_c")).as("jsd_micro"))
  }

  /** One micro-batch of the INCREMENTAL keyed drift monitor: the
    * [[driftDeltaBatch]] partial per (key, bin), tagged with
    * `batchId`, under [[graft.plans.Ledger]]'s seen-ids contract.
    * Counts merge as plain BIGINT adds, so any fold order reproduces
    * the one-shot [[keyedDrift]] bit-for-bit. */
  def keyedDriftDeltaBatch(batch: DataFrame, idCol: String, keyCol: String,
                           binCol: String, inRef: Column, baseDir: String,
                           batchId: Long): Unit = {
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    Ledger.commit(fresh, col(idCol), idsDir)(
      () => fresh.groupBy(col(keyCol).as("key"), col(binCol).as("bin"))
        .agg(
          sum(when(inRef, 1L).otherwise(0L)).as("a_n"),
          sum(when(inRef, 0L).otherwise(1L)).as("b_n"))
        .select(lit(batchId).as("batch_id"), col("key"), col("bin"),
          col("a_n"), col("b_n"))
        .write.mode("append").parquet(s"$baseDir/bins"))
    ()
  }

  /** Final keyed drift from the standing ledger ([[driftFromDirs]]
    * contract: `(batch_id, key, bin)` dedup heals torn appends). */
  def keyedDriftFromDirs(spark: org.apache.spark.sql.SparkSession,
                         baseDir: String): DataFrame =
    keyedDriftFromCounts(spark.read.parquet(s"$baseDir/bins")
      .dropDuplicates("batch_id", "key", "bin")
      .groupBy(col("key"), col("bin")).agg(
        sum(col("a_n")).as("a_n"), sum(col("b_n")).as("b_n")))

  /** One micro-batch of the INCREMENTAL drift monitor: fold `batch`'s
    * per-bin slice counts, tagged with `batchId`, into the standing
    * ledger at `baseDir` under [[graft.plans.Ledger]]'s seen-ids
    * contract. Counts are mergeable BIGINTs, so the fold is order-free
    * and the final drift equals the one-shot [[slicedDrift]]
    * bit-for-bit.
    *
    * Scale shape per batch: one delta-sized shuffle (the bin groupBy)
    * + one anti-join probe of the id ledger; the standing state this
    * monitor keeps is ≤ |bins| rows per batch plus the id ledger. */
  def driftDeltaBatch(batch: DataFrame, idCol: String, binCol: String,
                      inRef: Column, baseDir: String, batchId: Long): Unit = {
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    Ledger.commit(fresh, col(idCol), idsDir)(
      () => fresh.groupBy(col(binCol).as("bin")).agg(
          sum(when(inRef, 1L).otherwise(0L)).as("a_n"),
          sum(when(inRef, 0L).otherwise(1L)).as("b_n"))
        .select(lit(batchId).as("batch_id"), col("bin"),
          col("a_n"), col("b_n"))
        .write.mode("append").parquet(s"$baseDir/bins"))
    ()
  }

  /** Final drift from the standing ledger: merge the per-batch
    * partial counts (exact BIGINT sums, any arrival order) and run
    * the same smoothed PSI/JSD tail as the one-shot paths. The
    * `(batch_id, bin)` dedup is the torn-batch heal: a crash between
    * the counts append and the id append replays the batch under the
    * SAME batch id with the IDENTICAL partial rows (the id ledger
    * never saw it), and the dedup collapses the double append — the
    * cardFromDirsAsOf contract. */
  def driftFromDirs(spark: org.apache.spark.sql.SparkSession,
                    baseDir: String): DataFrame =
    driftFromCounts(spark.read.parquet(s"$baseDir/bins")
      .dropDuplicates("batch_id", "bin")
      .groupBy(col("bin")).agg(
        sum(col("a_n")).as("a_n"), sum(col("b_n")).as("b_n")))

  /** Shared tail: `(bin, a_n, b_n)` exact counts → smoothed PSI/JSD
    * contributions. The totals side is a single row, broadcast. The
    * counts (≤ |bins| rows) feed both the output and the totals —
    * materialized once so the corpus aggregation above runs once. */
  private def driftFromCounts(binsLazy: DataFrame): DataFrame = {
    val bins = binsLazy.localCheckpoint()
    val totals = bins.agg(
      sum(col("a_n")).as("a_tot"),
      sum(col("b_n")).as("b_tot"),
      count(lit(1)).as("k"))
    val j = bins.crossJoin(broadcast(totals)) // single-row side
    val p = (col("a_n") + 1L).cast("double") / (col("a_tot") + col("k"))
    val q = (col("b_n") + 1L).cast("double") / (col("b_tot") + col("k"))
    val m = (p + q) / 2.0
    val psi = (p - q) * log(p / q)
    val jsd = (p * log(p / m) + q * log(q / m)) / 2.0
    j.select(col("bin"), col("a_n"), col("b_n"),
      micro(psi).as("psi_contrib_micro"),
      micro(jsd).as("jsd_contrib_micro"))
  }
}
