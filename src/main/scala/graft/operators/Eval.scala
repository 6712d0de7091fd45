package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Ledger

/** Classifier evaluation over labeled frames — the quality loop the
  * reference runs by eye (it combines two sentiment engines,
  * dags/sentiment_analysis_dag.py:75-81, but never measures how often
  * they agree). Confusion matrix, per-class precision/recall/F1, and
  * Cohen's kappa — the standard inter-rater statistic for exactly the
  * two-engine setup the reference ships.
  *
  * Numeric discipline (the q141/SearchEval contract): every count is
  * an exact BIGINT from one map-side-combined aggregation; ratios are
  * double divisions of exactly-equal integer operands (identical IEEE
  * results in Spark and the DuckDB oracle) and are emitted on the
  * micro grid (`floor(x·1e6 + 0.5)`), so the report is hash-stable.
  *
  * Scale shape: ONE corpus-wide shuffle — the (truth, pred) groupBy,
  * map-side combined to at most |classes|² partial rows per task.
  * Everything downstream (class margins, joins, kappa) runs on that
  * classes²-row table, which is constant-size at any corpus scale;
  * the joins on it broadcast. No second pass over the data.
  */
object Eval {

  private def micro(c: Column): Column =
    floor(c * 1000000.0 + 0.5).cast("long")

  /** Confusion matrix: `(truth, pred, n)`, exact counts. */
  def confusionMatrix(df: DataFrame, truthCol: String, predCol: String): DataFrame =
    df.groupBy(col(truthCol).as("truth"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Per-class report over the matrix: `(label, support, tp, fp, fn,
    * precision_micro, recall_micro, f1_micro)`. The class set is the
    * UNION of truth and pred labels, so a class the model never
    * predicts (or invents) still gets a row; absent legs score 0, not
    * null. F1 is computed from the raw double precision/recall and
    * only then micro-rounded (rounding first would compound). */
  def classReport(df: DataFrame, truthCol: String, predCol: String): DataFrame = {
    // classes² rows consumed by FIVE subtrees below — materialize once
    // (the q135 localCheckpoint pattern) or Catalyst re-runs the
    // corpus aggregation per consumer
    val cm = confusionMatrix(df, truthCol, predCol).localCheckpoint()
    val classes = cm.select(col("truth").as("label"))
      .union(cm.select(col("pred").as("label"))).distinct()
    val truthN = cm.groupBy(col("truth").as("label"))
      .agg(sum(col("n")).as("truth_n"))
    val predN = cm.groupBy(col("pred").as("label"))
      .agg(sum(col("n")).as("pred_n"))
    val tp = cm.filter(col("truth") === col("pred"))
      .select(col("truth").as("label"), col("n").as("tp"))
    val j = classes
      .join(truthN, Seq("label"), "left")
      .join(predN, Seq("label"), "left")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("truth_n"), lit(0L)).as("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("pred_n"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fp"),
        (coalesce(col("truth_n"), lit(0L)) - coalesce(col("tp"), lit(0L))).as("fn"))
    val p = when(col("tp") + col("fp") === 0L, lit(0.0))
      .otherwise(col("tp").cast("double") / (col("tp") + col("fp")))
    val r = when(col("tp") + col("fn") === 0L, lit(0.0))
      .otherwise(col("tp").cast("double") / (col("tp") + col("fn")))
    val f1 = when(p + r === 0.0, lit(0.0)).otherwise(lit(2.0) * p * r / (p + r))
    j.select(col("label"), col("support"), col("tp"), col("fp"), col("fn"),
      micro(p).as("precision_micro"),
      micro(r).as("recall_micro"),
      micro(f1).as("f1_micro"))
  }

  /** System-level summary over [[classReport]]: one row of
    * `(n, k_classes, accuracy_micro, macro_p_micro, macro_r_micro,
    * macro_f1_micro)`. Accuracy = Σtp/Σsupport (micro-F1 equals it
    * for single-label multiclass, so it is not repeated). Macro
    * averages are means of the per-class metrics ON THE MICRO GRID:
    * the grid longs sum order-free (a raw-double mean would depend on
    * class arrival order), then one double division by the class
    * count lands back on the grid — the q156 ledger discipline. */
  def summary(df: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val rep = classReport(df, truthCol, predCol)
    def mean(c: Column): Column =
      floor(sum(c).cast("double") / count(lit(1)) + 0.5).cast("long")
    rep.agg(
      sum(col("support")).as("n"),
      count(lit(1)).as("k_classes"),
      micro(sum(col("tp")).cast("double") / sum(col("support")))
        .as("accuracy_micro"),
      mean(col("precision_micro")).as("macro_p_micro"),
      mean(col("recall_micro")).as("macro_r_micro"),
      mean(col("f1_micro")).as("macro_f1_micro"))
  }

  /** Cohen's kappa (Cohen 1960): chance-corrected agreement between
    * two labelings. One row: `(n, agree, po_micro, pe_micro,
    * kappa_micro)` with pₒ = agree/n, pₑ = Σ_c truthN_c·predN_c / n²,
    * κ = (pₒ−pₑ)/(1−pₑ).
    *
    * The pₑ numerator is summed EXACTLY as BIGINT (no float sum-order
    * hazard); overflow headroom: each product ≤ n², so the sum over
    * classes needs |classes|·n² < 2^63 — safe to n ≈ 1.7e9 rows at 3
    * classes (the Graph.scala/StatsLedger headroom convention). pₑ is
    * then two successive double divisions by n (never forming n² in
    * integers), so the same expression replays in DuckDB bit-for-bit.
    * Degenerate single-class frames have pₑ = 1; κ is reported as 0
    * there (scikit-learn's convention) rather than 0/0. */
  def cohenKappa(df: DataFrame, truthCol: String, predCol: String): DataFrame = {
    // three consumers (two margins + totals) — one corpus pass, not three
    val cm = confusionMatrix(df, truthCol, predCol).localCheckpoint()
    val margins = cm.groupBy(col("truth").as("label"))
      .agg(sum(col("n")).as("truth_n"))
      .join(cm.groupBy(col("pred").as("label")).agg(sum(col("n")).as("pred_n")),
        Seq("label"), "full")
      .select(
        (coalesce(col("truth_n"), lit(0L)) * coalesce(col("pred_n"), lit(0L)))
          .as("prod"))
      .agg(sum(col("prod")).as("pe_num"))
    val totals = cm.agg(
      sum(col("n")).as("n"),
      sum(when(col("truth") === col("pred"), col("n")).otherwise(0L)).as("agree"))
    val joined = totals.crossJoin(margins) // both single-row
    val po = col("agree").cast("double") / col("n")
    val pe = col("pe_num").cast("double") / col("n") / col("n")
    val kappa = when(pe === 1.0, lit(0.0)).otherwise((po - pe) / (lit(1.0) - pe))
    joined.select(col("n"), col("agree"),
      micro(po).as("po_micro"), micro(pe).as("pe_micro"),
      micro(kappa).as("kappa_micro"))
  }

  /** One micro-batch of the INCREMENTAL confusion matrix — the
    * monitoring loop's eval twin of [[Drift.driftDeltaBatch]]: the
    * delta's per-(truth, pred) counts, tagged with `batchId`, under
    * [[graft.plans.Ledger]]'s seen-ids contract (the read-side
    * `dropDuplicates(batch_id, truth, pred)` heals a torn append).
    * Counts are mergeable BIGINTs, so any fold order reproduces the
    * one-shot [[confusionMatrix]] bit-for-bit.
    *
    * Scale shape per batch: one delta-sized map-side-combined shuffle
    * (≤ |classes|² partial rows) + one anti-join probe of the id
    * ledger. */
  def confusionDeltaBatch(batch: DataFrame, idCol: String,
                          truthCol: String, predCol: String,
                          baseDir: String, batchId: Long): Unit = {
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    Ledger.commit(fresh, col(idCol), idsDir)(
      () => fresh.groupBy(col(truthCol).as("truth"), col(predCol).as("pred"))
        .agg(count(lit(1)).as("n"))
        .select(lit(batchId).as("batch_id"), col("truth"), col("pred"),
          col("n"))
        .write.mode("append").parquet(s"$baseDir/cells"))
    ()
  }

  /** Final matrix from the standing ledger: `(batch_id, truth, pred)`
    * dedup heals torn appends, then the additive fold — the same
    * `(truth, pred, n)` frame [[confusionMatrix]] emits one-shot. */
  def confusionFromDirs(spark: org.apache.spark.sql.SparkSession,
                        baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/cells")
      .dropDuplicates("batch_id", "truth", "pred")
      .groupBy(col("truth"), col("pred"))
      .agg(sum(col("n")).as("n"))

  /** Calibration report (reliability diagram + Brier, the
    * Niculescu-Mizil/Caruana measurement): bin predictions by
    * confidence (`bin = max(0, min(floor(conf·bins), bins−1))`, so
    * conf = 1.0 lands in the top bin and an out-of-domain score —
    * confidence is a [0,1] quantity — clamps to the nearer edge bin
    * rather than minting a negative bin id) and report, per bin,
    * count / correct
    * count / accuracy / mean confidence / mean squared error (the
    * per-bin Brier term) — acc vs mean-conf per bin IS the
    * reliability curve, their gap the calibration error.
    *
    * Exactness: confidence quantizes to the micro grid, correctness
    * to {0, 1e6}; per-row squared errors are exact integers summed in
    * DECIMAL(38,0) (immune to ANSI long overflow at any corpus size),
    * and each emitted mean is ONE fixed-order double division micro-
    * floored — the established oracle-replay discipline. One
    * map-side-combined shuffle of ≤ `bins` groups. */
  def calibration(df: DataFrame, confCol: Column, correctCol: Column,
                  bins: Int = 10): DataFrame =
    calibrationReport(
      calibrationCells(df, confCol, correctCol, bins)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("__c")).as("n_correct"),
          sum(col("__cq")).as("__sumq"), sum(col("__sq")).as("__ssq")))

  /** Per-row calibration cells: `(bin, __cq, __c, __sq)` — the micro
    * confidence, the {0,1} correctness, the exact squared error. */
  private def calibrationCells(df: DataFrame, confCol: Column,
                               correctCol: Column, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1 (got $bins)")
    val confQ = floor(confCol * 1e6 + 0.5).cast("long")
    // confidence domain is [0,1]; clamp BOTH ends so an out-of-domain
    // score degrades to the edge bin instead of a negative bin id
    val bin = greatest(lit(0L),
      least(floor(confCol * bins).cast("long"), lit(bins - 1L)))
    val corr = when(correctCol, 1L).otherwise(0L)
    val err = confQ - corr * 1000000L
    df.select(bin.as("bin"), confQ.as("__cq"), corr.as("__c"),
      (err * err).cast("decimal(38,0)").as("__sq"))
  }

  /** The report tail over folded per-bin sums `(bin, n, n_correct,
    * __sumq, __ssq)` — SHARED by the one-shot and incremental paths
    * so both land identical fixed-order divisions. */
  private def calibrationReport(g: DataFrame): DataFrame =
    g.select(col("bin"), col("n"), col("n_correct"),
      floor(col("n_correct").cast("double") / col("n").cast("double")
        * 1e6 + 0.5).cast("long").as("acc_micro"),
      floor(col("__sumq").cast("double") / col("n").cast("double")
        + 0.5).cast("long").as("mean_conf_micro"),
      floor(col("__ssq").cast("double") / col("n").cast("double")
        / 1e6 + 0.5).cast("long").as("brier_micro"))

  /** One micro-batch of the INCREMENTAL calibration ledger — every
    * per-bin quantity is additive (counts, a BIGINT confidence sum, a
    * DECIMAL(38,0) squared-error sum), so the monitoring loop's
    * calibration folds its bin partials, tagged `batchId`, under
    * [[graft.plans.Ledger]]'s seen-ids contract; torn appends re-land
    * bit-identical partials that the read-side dedup folds once. */
  def calibrationDeltaBatch(batch: DataFrame, idCol: String,
                            confCol: Column, correctCol: Column,
                            baseDir: String, batchId: Long,
                            bins: Int = 10): Unit = {
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    Ledger.commit(fresh, col(idCol), idsDir)(
      () => calibrationCells(fresh, confCol, correctCol, bins)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("__c")).as("n_correct"),
          sum(col("__cq")).as("sumq"), sum(col("__sq")).as("ssq"))
        .select(lit(batchId).as("batch_id"), col("bin"), col("n"),
          col("n_correct"), col("sumq"), col("ssq"))
        .write.mode("append").parquet(s"$baseDir/cells"))
    ()
  }

  /** The calibration report from the standing ledger — heal torn
    * appends, fold the additive sums, land the one-shot
    * [[calibration]] report bit-for-bit. */
  def calibrationFromDirs(spark: org.apache.spark.sql.SparkSession,
                          baseDir: String): DataFrame =
    calibrationReport(
      spark.read.parquet(s"$baseDir/cells")
        .dropDuplicates("batch_id", "bin", "n", "n_correct", "sumq", "ssq")
        .groupBy(col("bin"))
        .agg(sum(col("n")).as("n"), sum(col("n_correct")).as("n_correct"),
          sum(col("sumq")).as("__sumq"), sum(col("ssq")).as("__ssq")))
}
