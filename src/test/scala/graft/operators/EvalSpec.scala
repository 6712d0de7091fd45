package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.Ledger

/** Classifier-eval suite: confusion matrix / class report / Cohen's
  * kappa vs independent plain-Scala recomputation on randomized label
  * frames, plus the textbook hand-computed cases. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  // deterministic pseudo-random labelings (no Random: seeds are mixed
  // by multiplication, the repo's codebook convention)
  private def labels(seed: Long, n: Int, classes: Vector[String],
                     skew: Int = 1): Seq[(String, String)] =
    (0 until n).map { i =>
      val a = math.abs((i * 2654435761L + seed) % (classes.size + skew - 1))
      val b = math.abs((i * 40503L + seed * 7L) % classes.size)
      (classes(math.min(a.toInt, classes.size - 1)), classes(b.toInt))
    }

  private def bruteReport(rows: Seq[(String, String)])
      : Map[String, (Long, Long, Long, Long, Long, Long, Long)] = {
    val cls = (rows.map(_._1) ++ rows.map(_._2)).distinct
    cls.map { c =>
      val tp = rows.count { case (t, p) => t == c && p == c }.toLong
      val tn = rows.count(_._1 == c).toLong
      val pn = rows.count(_._2 == c).toLong
      val (fp, fn) = (pn - tp, tn - tp)
      val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
      val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
      val f1 = if (p + r == 0.0) 0.0 else 2.0 * p * r / (p + r)
      c -> ((tn, tp, fp, fn, micro(p), micro(r), micro(f1)))
    }.toMap
  }

  private def bruteKappa(rows: Seq[(String, String)]): (Long, Long, Long) = {
    val n = rows.size.toLong
    val agree = rows.count(r => r._1 == r._2).toLong
    val cls = (rows.map(_._1) ++ rows.map(_._2)).distinct
    val peNum = cls.map(c =>
      rows.count(_._1 == c).toLong * rows.count(_._2 == c).toLong).sum
    val po = agree.toDouble / n
    val pe = peNum.toDouble / n / n
    val k = if (pe == 1.0) 0.0 else (po - pe) / (1.0 - pe)
    (micro(po), micro(pe), micro(k))
  }

  test("confusion matrix == brute-force counts (randomized, 3 seeds)") {
    for (seed <- Seq(1L, 42L, 9999L)) {
      val rows = labels(seed, 500, Vector("pos", "neg", "neu"), skew = 2)
      val got = Eval.confusionMatrix(rows.toDF("truth", "pred"), "truth", "pred")
        .as[(String, String, Long)].collect()
        .map { case (t, p, n) => (t, p) -> n }.toMap
      val want = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"seed $seed")
    }
  }

  test("class report == brute force (randomized, 3 seeds)") {
    for (seed <- Seq(7L, 123L, 31337L)) {
      val rows = labels(seed, 400, Vector("a", "b", "c", "d"), skew = 3)
      val got = Eval.classReport(rows.toDF("truth", "pred"), "truth", "pred")
        .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
      assert(got == bruteReport(rows), s"seed $seed")
    }
  }

  test("a class never predicted still gets a row: fp=0, precision=0") {
    val rows = Seq(("pos", "neg"), ("pos", "neu"), ("neg", "neg"))
    val got = Eval.classReport(rows.toDF("truth", "pred"), "truth", "pred")
      .filter(col("label") === "pos")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 1)
    val r = got.head
    assert(r._2 == 2L && r._3 == 0L && r._4 == 0L && r._5 == 2L)
    assert(r._6 == 0L && r._7 == 0L && r._8 == 0L)
  }

  test("summary == brute force over the report (randomized, 3 seeds)") {
    for (seed <- Seq(21L, 303L, 8888L)) {
      val rows = labels(seed, 350, Vector("a", "b", "c"), skew = 2)
      val got = Eval.summary(rows.toDF("truth", "pred"), "truth", "pred")
        .as[(Long, Long, Long, Long, Long, Long)].collect().head
      val rep = bruteReport(rows)
      val k = rep.size.toLong
      val n = rep.values.map(_._1).sum
      val tp = rep.values.map(_._2).sum
      def mean(f: ((Long, Long, Long, Long, Long, Long, Long)) => Long): Long =
        math.floor(rep.values.map(f).sum.toDouble / k + 0.5).toLong
      val want = (n, k, micro(tp.toDouble / n),
        mean(_._5), mean(_._6), mean(_._7))
      assert(got == want, s"seed $seed")
    }
  }

  test("kappa == brute force (randomized, 3 seeds)") {
    for (seed <- Seq(11L, 77L, 4242L)) {
      val rows = labels(seed, 600, Vector("x", "y", "z"), skew = 2)
      val got = Eval.cohenKappa(rows.toDF("truth", "pred"), "truth", "pred")
        .as[(Long, Long, Long, Long, Long)].collect().head
      val (po, pe, k) = bruteKappa(rows)
      assert(got._1 == 600L && (got._3, got._4, got._5) == ((po, pe, k)),
        s"seed $seed")
    }
  }

  test("kappa textbook case (Cohen 1960 2x2): kappa = 0.4") {
    // 20 a-a, 5 a-b, 10 b-a, 15 b-b: po=0.7, pe=0.5, kappa=0.4
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val got = Eval.cohenKappa(rows.toDF("truth", "pred"), "truth", "pred")
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got == ((50L, 35L, 700000L, 500000L, 400000L)))
  }

  test("perfect agreement gives kappa = 1; single-class degenerates to 0") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("c", "c"))
    val k1 = Eval.cohenKappa(perfect.toDF("truth", "pred"), "truth", "pred")
      .select(col("kappa_micro")).as[Long].collect().head
    assert(k1 == 1000000L)
    val single = Seq(("a", "a"), ("a", "a"))
    val k0 = Eval.cohenKappa(single.toDF("truth", "pred"), "truth", "pred")
      .select(col("kappa_micro")).as[Long].collect().head
    assert(k0 == 0L) // pe = 1 convention
  }

  test("incremental confusion fold == one-shot; redelivery and torn appends heal") {
    val rows = (0L until 60L).map(i =>
      (i, Seq("a", "b", "c")(((i * 7) % 3).toInt),
          Seq("a", "b", "c")(((i * 5) % 3).toInt)))
    val df = rows.toDF("id", "truth", "pred")
    val oneShot = Eval.confusionMatrix(df, "truth", "pred")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val base = java.nio.file.Files.createTempDirectory("graft-conf-spec").toString
    // 3 slices + batch 1 REDELIVERED: the ledger must land it once
    Seq(0L, 1L, 2L, 1L).zipWithIndex.foreach { case (sl, bid) =>
      Eval.confusionDeltaBatch(df.filter(col("id") % 3 === sl),
        "id", "truth", "pred", base, batchId = bid.toLong)
    }
    def folded(): Map[(String, String), Long] =
      Eval.confusionFromDirs(spark, base)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(folded() == oneShot)
    // torn append: a partial re-lands (cells written, ids never
    // committed, batch retried) — (batch_id, truth, pred) dedup heals
    val torn = spark.read.parquet(s"$base/cells")
      .filter(col("batch_id") === 2L)
    torn.write.mode("append").parquet(s"$base/cells")
    assert(folded() == oneShot)
  }

  test("calibration: bins, accuracy, mean confidence and Brier vs brute force") {
    // deterministic (conf, ok) pairs covering bin edges incl. conf=1.0
    val rows = (0 until 500).map { i =>
      val conf = (i % 101) / 100.0                     // 0.00 .. 1.00
      val ok = (i * 2654435761L) % 3 != 0
      (conf, ok)
    }
    val out = Eval.calibration(rows.toDF("conf", "ok"),
        col("conf"), col("ok"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val ref = rows.groupBy { case (c, _) =>
      math.min(math.floor(c * 10).toLong, 9L) }
    assert(out.keySet == ref.keySet)
    ref.foreach { case (b, rs) =>
      val n = rs.size.toLong
      val nc = rs.count(_._2).toLong
      val cqs = rs.map(r => micro(r._1))
      val ssq = rs.zip(cqs).map { case ((_, ok), cq) =>
        val e = cq - (if (ok) 1000000L else 0L); BigInt(e) * BigInt(e) }.sum
      val (gn, gnc, gacc, gmean, gbrier) = out(b)
      assert(gn == n && gnc == nc)
      assert(gacc == micro(nc.toDouble / n))
      assert(gmean == math.floor(cqs.sum.toDouble / n + 0.5).toLong)
      assert(gbrier ==
        math.floor(ssq.toDouble / n / 1e6 + 0.5).toLong)
    }
    // conf = 1.0 clamps into the top bin, not bin 10
    assert(!out.contains(10L))
    // a perfectly calibrated-at-the-extremes stream: conf 1 always ok
    val perfect = Seq((1.0, true), (0.0, false)).toDF("conf", "ok")
    val p2 = Eval.calibration(perfect, col("conf"), col("ok"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(p2.values.forall(_ == 0L)) // zero Brier at both ends
  }

  test("incremental calibration fold == one-shot; redelivery and torn appends heal") {
    val rows = (0 until 200).map { i =>
      (i.toLong, (i % 101) / 100.0, (i * 2654435761L) % 3 != 0)
    }
    val df = rows.toDF("id", "conf", "ok")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    val oneShot = Eval.calibration(df, col("conf"), col("ok"))
      .collect().map(key).toSet
    val base = java.nio.file.Files
      .createTempDirectory("graft-calib-spec").toString
    Seq(0L, 1L, 2L, 1L).zipWithIndex.foreach { case (sl, bid) =>
      Eval.calibrationDeltaBatch(df.filter(col("id") % 3 === sl), "id",
        col("conf"), col("ok"), base, batchId = bid.toLong)
    }
    def folded(): Set[(Long, Long, Long, Long, Long, Long)] =
      Eval.calibrationFromDirs(spark, base).collect().map(key).toSet
    assert(folded() == oneShot)
    // torn append: cells written, ids never committed, batch retried
    val torn = spark.read.parquet(s"$base/cells")
      .filter(col("batch_id") === 2L)
    torn.write.mode("append").parquet(s"$base/cells")
    assert(folded() == oneShot)
  }

  test("confusionSink: the same ledger as a MemoryStream sink") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (0L until 30L).map(i =>
      LabeledPredRow(i, Seq("a", "b")(((i * 7) % 2).toInt),
        Seq("a", "b")(((i * 5) % 2).toInt)))
    val base = java.nio.file.Files.createTempDirectory("graft-conf-sink").toString
    val mem = MemoryStream[LabeledPredRow]
    mem.addData(rows.filter(_.id % 2 == 0))
    mem.addData(rows.filter(_.id % 2 == 1))
    val q = Ledger.sink(mem.toDF(), s"$base/ckpt")(
        Eval.confusionDeltaBatch(_, "id", "truth", "pred", s"$base/led", _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = Eval.confusionFromDirs(spark, s"$base/led")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val oneShot = Eval.confusionMatrix(
        rows.map(r => (r.id, r.truth, r.pred)).toDF("id", "truth", "pred"),
        "truth", "pred")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == oneShot)
  }

  test("calibrationSink: the streamed ledger report == one-shot calibration") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (0L until 120L).map { i =>
      CalibScoreRow(i, (i % 101) / 100.0, (i * 2654435761L) % 3 != 0)
    }
    val base = java.nio.file.Files
      .createTempDirectory("graft-calib-sink").toString
    val mem = MemoryStream[CalibScoreRow]
    mem.addData(rows.filter(_.id % 2 == 0))
    mem.addData(rows.filter(_.id % 2 == 1))
    val q = Ledger.sink(mem.toDF(), s"$base/ckpt")(
        Eval.calibrationDeltaBatch(_, "id", col("conf"), col("ok"),
          s"$base/led", _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    val streamed = Eval.calibrationFromDirs(spark, s"$base/led")
      .collect().map(key).toSet
    val oneShot = Eval.calibration(
        rows.map(r => (r.id, r.conf, r.ok)).toDF("id", "conf", "ok"),
        col("conf"), col("ok"))
      .collect().map(key).toSet
    assert(streamed == oneShot)
  }

  test("calibration bin clamps BOTH domain edges") {
    // out-of-domain confidences degrade to the edge bins — never a
    // negative or >= bins bin id
    val out = Eval.calibration(
        Seq((-0.25, false), (1.75, true), (0.5, true))
          .toDF("conf", "ok"),
        col("conf"), col("ok"), bins = 10)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 5L, 9L))
  }
}

/** Top-level for the MemoryStream encoder (the outer-scope trap). */
case class LabeledPredRow(id: Long, truth: String, pred: String)

/** Top-level for the MemoryStream encoder (the outer-scope trap). */
case class CalibScoreRow(id: Long, conf: Double, ok: Boolean)
