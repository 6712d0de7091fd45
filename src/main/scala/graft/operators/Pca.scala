package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Ledger

/** Distributed PCA over the embedding column — the standard pre-ANN /
  * pre-SemDeDup transform (FAISS's PCAMatrix; Jégou 2011 uses it ahead
  * of PQ; SemDeDup clusters whitened vectors), built so the entire
  * train-and-project chain replays bit-for-bit in a second engine.
  *
  * The 100 TB shape: the CORPUS-sized work is one scan that reduces to
  * a dim×dim second-moment table (map-side-combined integer sums —
  * ~dim² rows cross per partition, nothing corpus-sized shuffles);
  * the eigensolve then runs on that model-sized summary on the driver
  * (the Lloyd's/PQ-codebook pattern: model computation is driver-side
  * BY DESIGN, corpus passes are Spark's). Projection is scan-local
  * under the broadcast component matrix.
  *
  * Exactness discipline (what makes the q96/q97 oracles hash-green):
  *   - inputs quantize to the 1/`scale` grid (the x22/q78/q81
  *     discipline) — all corpus sums are then exact BIGINTs, immune
  *     to shuffle/summation order;
  *   - the power iteration normalizes by the L∞ norm (max |w|), not
  *     L2: the max is ORDER-FREE where a float sum-of-squares is not,
  *     and each iterate re-quantizes to the 1e6 grid, so every
  *     matrix-vector product is again an exact integer sum;
  *   - the few genuinely-real steps (covariance centering, the iterate
  *     rescale, Rayleigh quotient, deflation) are ELEMENT-WISE chains
  *     of correctly-rounded IEEE ops in a fixed order, mirrored
  *     literally in the oracle SQL — no float ever enters a sum.
  *
  * Rayleigh numerators exceed 2^63 (Σ v·(Av) with v on the 1e6 grid),
  * so they accumulate in BigInt on the driver and HUGEINT in the
  * oracle — both exact, both order-free. Deflation subtracts the
  * rounded rank-1 term cell-wise, keeping A on its integer grid for
  * the next component's integer iteration.
  *
  * Long-sum ceilings, stated: corpus moments need
  * n · (scale·max|x|)² < 2^63 — n ≈ 10^12 docs at scale=1000 and
  * unit-ish embeddings; past that the moment sums (only) need a
  * DECIMAL(38,0) accumulator. Iteration bounds are corpus-free:
  * |w| ≤ dim·max|A|·10^6 ≈ 2^46 for unit-variance data.
  */
object Pca {

  /** Quantized view of the vector column (float→double widen, then
    * the 1/`scale` grid — identical to the x22/q81 rendering). */
  private def qvec(vec: Column, scale: Int): Column =
    transform(vec.cast("array<double>"),
      x => floor(x * scale + lit(0.5)).cast("long"))

  /** Corpus second-moment summary: (n, s_i = Σ qv_i,
    * pp_ij = Σ qv_i·qv_j), collected — dim²+dim+1 values, the
    * model-sized artifact the eigensolve runs on. One corpus scan
    * through the mergeable [[graft.functions.MomentsAgg]] buffer:
    * the per-row dim² multiply-adds (covariance's intrinsic cost)
    * run as a primitive in-task loop with no row materialization,
    * and one packed buffer per partition crosses the shuffle. Sums
    * are the same exact BIGINTs as the previous posexplode
    * formulation — [[solve]] and the q96/q97 oracles are unchanged. */
  def moments(df: DataFrame, vecCol: String, dim: Int,
              scale: Int = 1000): (Long, Array[Long], Array[Array[Long]]) = {
    val packed = df.select(qvec(col(vecCol), scale).as("qv"))
      .filter(size(col("qv")) === dim)
      .select(graft.functions.MomentsAgg.momentsAgg(col("qv"), dim).as("m"))
      .head().getSeq[Long](0)
    graft.functions.MomentsAgg.unpack(packed, dim)
  }

  /** One trained component: the L∞-normalized eigenvector on the 1e6
    * grid (max |v_i| = 1e6) and the scale²-grid eigenvalue. */
  final case class Component(v: Array[Long], lam: Long)

  /** Eigensolve on the collected moments: covariance on the integer
    * grid, then `k` rounds of (power iteration → Rayleigh → deflate).
    * Every operation here is mirrored LITERALLY (same op, same order)
    * by the oracle SQL — this function IS the reference semantics. */
  def solve(n: Long, s: Array[Long], pp: Array[Array[Long]],
            k: Int, iters: Int): Seq[Component] = {
    val dim = s.length
    require(n > 0, "PCA needs a non-empty corpus")
    require(k >= 1 && k <= dim, s"k must be in [1, $dim] (got $k)")
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val nD = n.toDouble
    // A[i][j] = round((pp - s_i·s_j/n) / n): covariance on the scale²
    // grid. Op order fixed: (ppD - (sD_i * sD_j) / nD) / nD.
    val a = Array.tabulate(dim, dim) { (i, j) =>
      math.floor((pp(i)(j).toDouble - s(i).toDouble * s(j).toDouble / nD)
        / nD + 0.5).toLong
    }
    (1 to k).map { _ =>
      var v = Array.fill(dim)(1000000L)
      var w = Array.ofDim[Long](dim)
      for (_ <- 1 to iters) {
        // integer matrix-vector product: exact, order-free
        w = Array.tabulate(dim) { i =>
          var acc = 0L; var j = 0
          while (j < dim) { acc += a(i)(j) * v(j); j += 1 }; acc
        }
        val mx = w.map(math.abs).max
        // a zero iterate means A annihilated v (defective input);
        // keep v as-is rather than divide by zero
        if (mx > 0L)
          v = w.map(wj =>
            math.floor(wj.toDouble * 1000000.0 / mx.toDouble + 0.5).toLong)
      }
      w = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += a(i)(j) * v(j); j += 1 }; acc
      }
      val num = (0 until dim).map(j => BigInt(v(j)) * BigInt(w(j))).sum
      val den = v.map(x => x * x).sum
      val lam = math.floor(num.toDouble / den.toDouble + 0.5).toLong
      // deflate A -= round(num·v_i·v_j / den²), cell-wise; op order
      // fixed: ((numD * viD) * vjD) / den2D
      val den2D = (BigInt(den) * BigInt(den)).toDouble
      val numD = num.toDouble
      for (i <- 0 until dim; j <- 0 until dim)
        a(i)(j) -= math.floor(
          numD * v(i).toDouble * v(j).toDouble / den2D + 0.5).toLong
      Component(v, lam)
    }
  }

  /** Train-and-emit: the component table (component 1..k, dim 1..d,
    * v on the 1e6 grid, lam on the scale² grid) — the persistable
    * model artifact, and the q96 surface. */
  def components(df: DataFrame, vecCol: String, dim: Int, k: Int,
                 iters: Int, scale: Int = 1000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (n, s, pp) = moments(df, vecCol, dim, scale)
    solve(n, s, pp, k, iters).zipWithIndex.flatMap { case (c, ci) =>
      c.v.zipWithIndex.map { case (x, di) =>
        ((ci + 1).toLong, (di + 1).toLong, x, c.lam)
      }
    }.toDF("component", "dim", "v", "lam")
  }

  /** The persistable trained-model artifact: the training moments the
    * projection needs (n, s) plus the solved components. */
  final case class PcaState(n: Long, s: Array[Long], comps: Seq[Component])

  /** Train end-to-end and keep the artifact (not just the component
    * table): one moments scan + driver eigensolve. */
  def trainState(df: DataFrame, vecCol: String, dim: Int, k: Int,
                 iters: Int, scale: Int = 1000): PcaState = {
    val (n, s, pp) = moments(df, vecCol, dim, scale)
    PcaState(n, s, solve(n, s, pp, k, iters))
  }

  /** Render the state as one self-contained table: a row per
    * (component, dim) cell carrying `v`/`lam` plus the dim-th moment
    * `s` and the corpus count `n` (repeated — the artifact is
    * k·dim rows, model-sized; redundancy is free and keeps the layout
    * a single flat parquet). All columns are exact longs, so the
    * round-trip is bit-for-bit. */
  def stateToDF(spark: SparkSession, state: PcaState): DataFrame = {
    import spark.implicits._
    state.comps.zipWithIndex.flatMap { case (c, ci) =>
      c.v.zipWithIndex.map { case (x, di) =>
        ((ci + 1).toLong, (di + 1).toLong, x, c.lam, state.s(di), state.n)
      }
    }.toDF("component", "dim", "v", "lam", "s", "n")
  }

  /** Parquet round-trip of the artifact (r6 directive: a trained model
    * must survive the session — train once, project in any later job). */
  def saveState(spark: SparkSession, state: PcaState, dir: String): Unit =
    stateToDF(spark, state).write.mode("overwrite").parquet(dir)

  def loadState(spark: SparkSession, dir: String): PcaState = {
    val rows = spark.read.parquet(dir)
      .select(col("component"), col("dim"), col("v"), col("lam"),
        col("s"), col("n"))
      .collect()
    require(rows.nonEmpty, s"empty PCA state at $dir")
    val dim = rows.map(_.getLong(1)).max.toInt
    val n = rows.head.getLong(5)
    val s = Array.ofDim[Long](dim)
    rows.foreach(r => s(r.getLong(1).toInt - 1) = r.getLong(4))
    val comps = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map {
      case (_, cells) =>
        val v = Array.ofDim[Long](dim)
        cells.foreach(r => v(r.getLong(1).toInt - 1) = r.getLong(2))
        Component(v, cells.head.getLong(3))
    }
    PcaState(n, s, comps)
  }

  /** Projection under a (possibly reloaded) state artifact. */
  def projectState(df: DataFrame, idCol: String, vecCol: String,
                   state: PcaState, scale: Int = 1000): DataFrame =
    project(df, idCol, vecCol, state.comps, state.n, state.s, scale)

  /** Centered projection of every vector onto the trained components —
    * scan-local under the literal (model-sized) component matrix:
    * proj_c = round(Σ qv_i·v_ci − (Σ s_i·v_ci)/n), where the first
    * sum is an exact per-row integer and the second is a per-component
    * CONSTANT (the mean term), so centering never touches the corpus.
    * Output: (idCol, component, proj) with proj on the scale·1e6 grid. */
  def project(df: DataFrame, idCol: String, vecCol: String,
              comps: Seq[Component], n: Long, s: Array[Long],
              scale: Int = 1000): DataFrame = {
    require(n > 0, "projection needs the training moments")
    val dim = s.length
    val qv = qvec(col(vecCol), scale)
    val cols = comps.zipWithIndex.map { case (c, ci) =>
      val dot = aggregate(
        zip_with(qv, typedLit(c.v.toSeq), (q, vc) => q * vc),
        lit(0L), (acc, x) => acc + x)
      val meanTerm = (0 until dim).map(i => BigInt(s(i)) * BigInt(c.v(i))).sum
      // mean term exceeds 2^63 only past the same 10^12-doc ceiling as
      // the moments; numerator/denominator cross as one double each
      struct(lit((ci + 1).toLong).as("component"),
        floor(dot.cast("double") - lit(meanTerm.toDouble / n.toDouble)
          + lit(0.5)).cast("long").as("proj"))
    }
    df.filter(size(qvec(col(vecCol), scale)) === dim)
      .select(col(idCol), explode(array(cols: _*)).as("p"))
      .select(col(idCol), col("p.component"), col("p.proj"))
  }

  // ---- incremental moments ledger ----------------------------------------

  /** One micro-batch of the INCREMENTAL moments ledger — model
    * training under [[graft.plans.Ledger]]'s seen-ids contract: the
    * delta's packed moment buffer, tagged `batchId`, is the partial,
    * and a torn append re-lands a bit-identical one that the read-side
    * `dropDuplicates("batch_id", "m")` folds once. Moments are exact additive BIGINTs, so ANY slicing
    * folds to the one-shot [[moments]] — and therefore the solved
    * components hash-match q96's oracle verbatim.
    *
    * Scale shape per batch: one delta scan reduced map-side to a
    * single packed dim²-sized buffer + one id-ledger anti-join —
    * the corpus never re-scans as the model grows. */
  def momentsDeltaBatch(batch: DataFrame, idCol: String, vecCol: String,
                        dim: Int, baseDir: String, batchId: Long,
                        scale: Int = 1000): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val idsDir = s"$baseDir/seenIds"
    val fresh = Ledger.fresh(batch, idCol, idsDir)
    Ledger.commit(fresh, col(idCol), idsDir) { () =>
      val packed = fresh.select(qvec(col(vecCol), scale).as("qv"))
        .filter(size(col("qv")) === dim)
        .select(graft.functions.MomentsAgg.momentsAgg(col("qv"), dim).as("m"))
        .head().getSeq[Long](0)
      // n == 0 ⟺ every fresh vector is short: no partial lands
      if (packed.head > 0L)
        Seq((batchId, packed)).toDF("batch_id", "m")
          .write.mode("append").parquet(s"$baseDir/moments")
    }
    ()
  }

  /** Fold the standing ledger to the one-shot moments: heal torn
    * appends (batch_id + the bit-identical buffer), then element-wise
    * BIGINT adds over the batch partials — batches-sized driver work,
    * the same model-sized collect [[moments]] already is. */
  def momentsFromDirs(spark: SparkSession, baseDir: String, dim: Int)
      : (Long, Array[Long], Array[Array[Long]]) = {
    val rows = spark.read.parquet(s"$baseDir/moments")
      .dropDuplicates("batch_id", "m").select(col("m")).collect()
    require(rows.nonEmpty, s"empty moments ledger at $baseDir")
    val len = 1 + dim + dim * (dim + 1) / 2
    val agg = new Array[Long](len)
    rows.foreach { r =>
      val m = r.getSeq[Long](0)
      require(m.length == len,
        s"ledger partial length ${m.length} does not match dim $dim")
      var i = 0
      while (i < len) { agg(i) += m(i); i += 1 }
    }
    graft.functions.MomentsAgg.unpack(agg.toSeq, dim)
  }

  /** The q96 component table solved from the folded ledger — the
    * incremental path's read side; bit-identical to [[components]]
    * over the union of the deltas. */
  def componentsFromDirs(spark: SparkSession, baseDir: String, dim: Int,
                         k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    val (n, s, pp) = momentsFromDirs(spark, baseDir, dim)
    solve(n, s, pp, k, iters).zipWithIndex.flatMap { case (c, ci) =>
      c.v.zipWithIndex.map { case (x, di) =>
        ((ci + 1).toLong, (di + 1).toLong, x, c.lam)
      }
    }.toDF("component", "dim", "v", "lam")
  }
}
