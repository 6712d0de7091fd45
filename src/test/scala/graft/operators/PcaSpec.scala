package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.Ledger

/** [[Pca]] on a corpus with KNOWN eigenstructure: vectors built as
  * α·p + β·q for fixed orthogonal p ⟂ q with var(α) ≫ var(β), so the
  * exact principal directions are p and q and rank-3 energy is zero. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4
  private val p = Array(1.0, 1.0, 0.0, 0.0)            // 1ᵀp ≠ 0
  private val q = Array(0.0, 0.0, 2.0, -1.0)           // 1ᵀq ≠ 0, p ⟂ q
  // deterministic coefficient streams, mean-free-ish, var(α) ≫ var(β)
  private val rows: Seq[(Long, Array[Float])] = (0 until 400).map { i =>
    val alpha = math.sin(i * 1.7) * 0.4
    val beta = math.sin(i * 0.9 + 1.0) * 0.08
    (i.toLong,
      Array.tabulate(dim)(d => (alpha * p(d) + beta * q(d)).toFloat))
  }
  private lazy val df = rows.toDF("vec_id", "embedding")

  private def cosine(a: Array[Long], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
      math.sqrt(b.map(y => y * y).sum))
  }

  private lazy val moms = Pca.moments(df, "embedding", dim)
  private lazy val comps = Pca.solve(moms._1, moms._2, moms._3, k = 2, iters = 8)

  test("moments match a driver-side brute force") {
    val (n, s, pp) = moms
    assert(n == 400L)
    val qvs = rows.map(_._2.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong))
    for (i <- 0 until dim) {
      assert(s(i) == qvs.map(_(i)).sum)
      for (j <- 0 until dim)
        assert(pp(i)(j) == qvs.map(v => v(i) * v(j)).sum)
    }
  }

  test("components recover the planted directions, in variance order") {
    val u1 = comps(0).v
    val u2 = comps(1).v
    assert(math.abs(cosine(u1, p)) > 0.999,
      s"top component must align with p: ${u1.toSeq}")
    assert(math.abs(cosine(u2, q)) > 0.999,
      s"second component must align with q: ${u2.toSeq}")
    assert(comps(0).lam > comps(1).lam && comps(1).lam > 0L)
    // L-infinity normalization contract: max |v_i| is exactly 1e6
    assert(u1.map(math.abs).max == 1000000L)
  }

  test("eigenvalues carry the planted variance ratio") {
    // var(α·p) along p is |p|²·var(α); the λ ratio must match the
    // planted energy ratio (|p|²·var α)/(|q|²·var β) within quant noise
    val alphas = (0 until 400).map(i => math.sin(i * 1.7) * 0.4)
    val betas = (0 until 400).map(i => math.sin(i * 0.9 + 1.0) * 0.08)
    def variance(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val expect = (variance(alphas) * 2.0) / (variance(betas) * 5.0)
    val got = comps(0).lam.toDouble / comps(1).lam.toDouble
    assert(math.abs(got / expect - 1.0) < 0.05, s"λ1/λ2=$got expect≈$expect")
  }

  test("projection matches the driver-side mirror, centered") {
    val (n, s, _) = moms
    val out = Pca.project(df, "vec_id", "embedding", comps, n, s)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.size == 800)
    val qvs = rows.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
    }.toMap
    for ((id, qv) <- qvs; (c, ci) <- comps.zipWithIndex) {
      val dot = qv.zip(c.v).map { case (a, b) => a * b }.sum
      val mt = (0 until dim).map(i => BigInt(s(i)) * BigInt(c.v(i))).sum
      val expect =
        math.floor(dot.toDouble - mt.toDouble / n.toDouble + 0.5).toLong
      assert(out((id, (ci + 1).toLong)) == expect)
    }
    // centering: each component's projections sum to ~zero
    for (ci <- 1 to 2) {
      val tot = out.collect { case ((_, c), v) if c == ci => v }.sum
      assert(math.abs(tot.toDouble) < 1e6 * 400 * 0.01,
        s"component $ci projections must center near zero (got $tot)")
    }
  }

  test("mixed-width vectors are excluded, not crashed on") {
    val bad = rows ++ Seq((9999L, Array(1.0f, 2.0f)))
    val (n, _, _) = Pca.moments(bad.toDF("vec_id", "embedding"), "embedding", dim)
    assert(n == 400L)
  }

  test("state round-trips through parquet and projects identically") {
    val df = rows.toDF("vec_id", "embedding")
    val st = Pca.trainState(df, "embedding", dim, k = 2, iters = 30)
    val dir = java.nio.file.Files.createTempDirectory("pca-state").toString
    Pca.saveState(spark, st, dir)
    val re = Pca.loadState(spark, dir)
    // artifact is exact longs end to end — demand bit equality
    assert(re.n == st.n)
    assert(re.s.toSeq == st.s.toSeq)
    assert(re.comps.map(c => (c.v.toSeq, c.lam)) ==
      st.comps.map(c => (c.v.toSeq, c.lam)))
    val a = Pca.projectState(df, "vec_id", "embedding", st)
      .as[(Long, Long, Long)].collect().toSet
    val b = Pca.projectState(df, "vec_id", "embedding", re)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("incremental moments ledger == one-shot; redelivery and torn appends heal") {
    import org.apache.spark.sql.functions.col
    val oneShot = Pca.components(df, "embedding", dim, k = 2, iters = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    val base = java.nio.file.Files
      .createTempDirectory("pca-ledger").toString
    // 3 slices + a full REDELIVERY of slice 1 (must land nothing)
    Seq(0, 1, 2, 1).zipWithIndex.foreach { case (slice, bid) =>
      Pca.momentsDeltaBatch(df.filter(col("vec_id") % 3 === slice),
        "vec_id", "embedding", dim, base, batchId = bid.toLong)
    }
    val inc = Pca.componentsFromDirs(spark, base, dim, k = 2, iters = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(inc == oneShot)
    // torn append: the moments partial of a batch lands but its ids
    // never do — re-running the batch appends a BIT-IDENTICAL partial
    // under the same batch_id, and the read-side dedup folds it once
    val torn = df.filter(col("vec_id") % 3 === 2)
    val packed = spark.read.parquet(s"$base/moments")
      .filter(col("batch_id") === 2L)
    packed.write.mode("append").parquet(s"$base/moments")  // the tear
    Pca.momentsDeltaBatch(torn, "vec_id", "embedding", dim, base, 2L)
    val healed = Pca.componentsFromDirs(spark, base, dim, k = 2, iters = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(healed == oneShot)
  }

  test("momentsSink: the same ledger as a MemoryStream sink") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val oneShot = Pca.components(df, "embedding", dim, k = 2, iters = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    val base = java.nio.file.Files.createTempDirectory("pca-sink").toString
    val mem = MemoryStream[PcaVecRow]
    mem.addData(rows.filter(_._1 % 2 == 0).map(r => PcaVecRow(r._1, r._2.toSeq)))
    mem.addData(rows.filter(_._1 % 2 == 1).map(r => PcaVecRow(r._1, r._2.toSeq)))
    val q = Ledger.sink(mem.toDF(), s"$base/ckpt")(
        Pca.momentsDeltaBatch(_, "vec_id", "embedding", dim, s"$base/led", _))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = Pca.componentsFromDirs(spark, s"$base/led", dim,
        k = 2, iters = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == oneShot)
  }
}

/** Top-level for the MemoryStream encoder (the outer-scope trap). */
case class PcaVecRow(vec_id: Long, embedding: Seq[Float])
