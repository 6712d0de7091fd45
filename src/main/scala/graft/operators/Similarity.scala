package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>): exact
  * brute-force cosine top-k as the baseline, and random-hyperplane LSH
  * bucketing (Charikar 2002) as the scale path — candidates come from
  * one bucket-equality shuffle instead of a full scan, then get
  * re-ranked with the exact metric.
  *
  * Bucketing/dot composition is native Catalyst (`zip_with` +
  * `aggregate`); the per-pair re-rank uses a fused JVM kernel
  * (higher-order functions evaluate interpreted, so the one-call
  * kernel wins on the hot path — see SCALING.md).
  */
object Similarity {

  /** Σ aᵢbᵢ over two double arrays — a native codegen expression
    * (same left-to-right fold as the zip_with/aggregate HOF form it
    * replaced; HOFs are CodegenFallback and de-codegen'd the whole
    * LSH bucketing projection). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotExpr(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fused cosine kernel. Same arithmetic order as [[cosine]]
    * (pairwise double ops, left-to-right) so results are bit-identical;
    * one JVM call per pair instead of three interpreted HOF chains —
    * the ANN re-rank hot path at scale. */
  private[graft] def cosineOf(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    // zero-norm guard: NaN sorts as the LARGEST double in Spark, so a
    // degenerate all-zero vector would otherwise capture top-k slots;
    // cosine 0 ranks it last instead.
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Array overload of [[cosineOf]] — identical arithmetic, but the
    * pair-enumeration hot loops hold `Array[Double]` members, and the
    * implicit Array→Seq conversion COPIES both vectors per candidate
    * pair (a Scala 2.13 deprecation for exactly this reason). */
  private[graft] def cosineOf(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Cosine via the fused kernel as a NATIVE codegen expression
    * (graft.functions.CosineSimExpr): stays inside whole-stage
    * codegen, reads ArrayData primitives directly — no ScalaUDF
    * deserialization of boxed Seq[Double] per call. Bit-identical
    * arithmetic to [[cosineOf]]. */
  def cosineFast(a: Column, b: Column): Column =
    graft.functions.CosineSimExpr(a, b)

  private[graft] def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact cosine top-k against a query vector (one scan, per-partition
    * top-k via TakeOrderedAndProject — no global sort). Ties broken by
    * id for determinism. */
  def topKBruteForce(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = typedlit(query)
    df.select(col(idCol), cosineFast(asDouble(col(vecCol)), q).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** BATCH exact cosine top-k: one scan of the corpus scores EVERY
    * query (broadcast list), and [[graft.functions.TopKAgg]] keeps k
    * survivors per query per map partition before the shuffle — the
    * shuffle moves `queries × k × partitions` 16-byte structs, not
    * the n×q scored cross product a window-rank plan would sort.
    * This is the serving shape for embedding retrieval at scale: the
    * corpus is read once no matter how many queries ride along.
    *
    * Output: (query_id, rank, idCol, cos), rank 1-based by
    * (cos DESC, id ASC) — the same total order as [[topKBruteForce]],
    * so single-query results agree row-for-row. */
  def topKBatch(df: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "topKBatch needs at least one query id")
    val queries = broadcast(df.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).cast("long").as("query_id"),
        asDouble(col(vecCol)).as("__qv")))
    df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(queries)
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).cast("long").as("__id"),
        cosineFast(col("__v"), col("__qv")).as("__cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.topk(col("__cos"), col("__id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol), col("col.score").as("cos"))
  }

  /** Deterministic random hyperplanes (seeded) for sign-bit bucketing. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Corpus-sized plane count for sign-bit LSH: enough planes that
    * EXPECTED bucket occupancy stays ≤ `targetOcc`, never below the
    * caller's `base` (so small corpora keep their tuned layout
    * unchanged — this only ever ADDS planes as n grows). Bucket count
    * is 2^planes: held fixed while the corpus grows, in-bucket
    * candidate pairs grow quadratically and hot buckets march into
    * the maxBucket drop-cap; log₂-scaling the planes restores ~linear
    * pair growth (n · targetOcc). The default target of 64 leaves the
    * observed ~12× skew factor (hottest bucket vs mean, X38Probe,
    * last in b820d97, SCALING.md round 11) a further ~5× headroom
    * under the default 4096 cap. Capped at 30 (bucket ids stay in
    * Int). */
  def autoPlanes(n: Long, base: Int, targetOcc: Int = 64): Int = {
    var p = base
    while (p < 30 && (n >> p) > targetOcc) p += 1
    p
  }

  /** Sign-bit bucket id of a vector against the given planes — native:
    * bucket = Σ 2ᵖ·[v·planeₚ ≥ 0]. */
  def bucketOf(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedlit(p)) >= 0, 1 << i).otherwise(0)
    }.reduce(_ + _)

  /** Add the LSH bucket column (this is what you'd partition/bucket the
    * table by at 100 TB so same-bucket rows co-locate). */
  def withBucket(df: DataFrame, vecCol: String,
                 planes: Seq[Seq[Double]]): DataFrame =
    df.withColumn("bucket", bucketOf(asDouble(col(vecCol)), planes))

  /** One bucket column per LSH table (`bucket_0..bucket_{T-1}`), each
    * from its own seeded plane set. Multi-TABLE is the recall lever
    * that scales: probing Hamming<=r of ONE table's bucket caps recall
    * by that table's planes, while T independent tables multiply the
    * miss probability down (a vector is a candidate if ANY table
    * agrees with the query) at T× the bucket-read cost. At 100 TB each
    * table is a partition-pruned read of its own bucket-keyed layout;
    * locally the same predicate runs as one scan — identical
    * semantics, measured in SCALING.md. */
  def withBuckets(df: DataFrame, vecCol: String,
                  tables: Seq[Seq[Seq[Double]]]): DataFrame =
    tables.zipWithIndex.foldLeft(df) { case (d, (planes, t)) =>
      d.withColumn(s"bucket_$t", bucketOf(asDouble(col(vecCol)), planes))
    }

  /** Seeded plane sets for `numTables` independent LSH tables. */
  def hyperplaneTables(dim: Int, numPlanes: Int, numTables: Int,
                       seed: Long = 42L): Seq[Seq[Seq[Double]]] =
    (0 until numTables).map(t => hyperplanes(dim, numPlanes, seed + 1000L * t))

  /** LSH-accelerated top-k: scan only the query's bucket (plus, with
    * `multiProbe` > 0, every bucket within that Hamming distance of it
    * — the standard recall knob: flipping the least-confident sign
    * bits costs a few more bucket reads instead of more tables).
    * Exact re-rank inside the probed buckets. */
  def topKLsh(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, numPlanes: Int = 8,
              multiProbe: Int = 0): DataFrame = {
    val planes = hyperplanes(query.length, numPlanes)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d >= 0) 1 << i else 0
    }.sum
    val probed: Seq[Int] = (0 to (1 << numPlanes) - 1)
      .filter(b => java.lang.Integer.bitCount(b ^ qBucket) <= multiProbe)
    withBucket(df, vecCol, planes)
      .filter(col("bucket").isin(probed: _*))
      .select(col(idCol), cosineFast(asDouble(col(vecCol)), typedlit(query)).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ---- int8 quantization ----------------------------------------------

  /** Symmetric per-vector int8 quantization kernel: scale = max|vᵢ|/127,
    * qᵢ = floor(vᵢ/scale + 0.5) ∈ [−127, 127] (round-half-up — `floor`
    * is an exact IEEE op, identical in every engine, unlike
    * banker's-rounding `round` variants). Returns (scale, L2
    * reconstruction error in index order, Σ qᵢ·(i+1) as an exact
    * integer checksum of the quantized vector — the driver comparator
    * needs scalar cells, so the q vector itself is summarized, not
    * emitted). Zero vector → all zeros. */
  private[graft] def quantOf(v: Seq[Double]): (Double, Double, Long) = {
    var amax = 0.0
    var i = 0
    val n = v.length
    while (i < n) { val a = math.abs(v(i)); if (a > amax) amax = a; i += 1 }
    val scale = amax / 127.0
    if (scale == 0.0) return (0.0, 0.0, 0L)
    var err = 0.0
    var qsum = 0L
    i = 0
    while (i < n) {
      val q = math.floor(v(i) / scale + 0.5)
      val d = v(i) - q * scale
      err += d * d
      qsum += q.toLong * (i + 1)
      i += 1
    }
    (scale, math.sqrt(err), qsum)
  }

  private val quantUdf = udf { (v: Seq[Double]) =>
    if (v == null) null else {
      val (s, e, c) = quantOf(v); (s, e, c)
    }
  }

  /** Per-row int8 quantization stats: (vec_id, scale, err, qsum).
    * Scan-local (no shuffle, no state); the production path would
    * additionally emit the q bytes as a `binary` column — 4× smaller
    * shuffle/storage for ANN candidate generation, with `err`
    * quantifying the recall cost. */
  def quantizeStats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        quantUdf(asDouble(col(vecCol))).as("__q"))
      .select(col(idCol), col("__q._1").as("scale"),
        col("__q._2").as("err"), col("__q._3").as("qsum"))

  // ---- IVF (inverted-file) ANN ----------------------------------------

  /** IVF assignment kernel: nearest centroid by cosine, smallest
    * centroid id on ties (iterates ids ascending, strict `>` replace —
    * the SQL replay's `ORDER BY cos DESC, centroid_id` equivalent). */
  private[graft] def ivfAssignOf(v: Seq[Double],
                                 cents: Seq[(Long, Seq[Double])]): Long = {
    var bestId = -1L
    var best = Double.NegativeInfinity
    cents.sortBy(_._1).foreach { case (id, c) =>
      val cos = cosineOf(v, c)
      if (cos > best) { best = cos; bestId = id }
    }
    bestId
  }

  /** Top-`nprobe` centroid ids for a query vector (cos desc, id asc). */
  private[graft] def ivfProbeOf(v: Seq[Double],
                                cents: Seq[(Long, Seq[Double])],
                                nprobe: Int): Seq[Long] =
    cents.map { case (id, c) => (id, cosineOf(v, c)) }
      .sortBy { case (id, cos) => (-cos, id) }
      .take(nprobe).map(_._1)

  private def centsOf(rows: Seq[org.apache.spark.sql.Row]): Seq[(Long, Seq[Double])] =
    rows.map(r => (r.getLong(0), r.getSeq[Double](1)))

  private[graft] val assignUdf = udf { (v: Seq[Double], cents: Seq[org.apache.spark.sql.Row]) =>
    ivfAssignOf(v, centsOf(cents))
  }
  private[graft] val probeUdf = udf { (v: Seq[Double], cents: Seq[org.apache.spark.sql.Row], nprobe: Int) =>
    ivfProbeOf(v, centsOf(cents), nprobe)
  }

  /** Spherical k-means trainer for IVF cells (Lloyd iterations on the
    * cosine assignment): init = the `k` smallest-id vectors, then
    * iterate [assign each vector to its nearest centroid] →
    * [centroid := element-wise mean of its members]. Means are
    * computed DISTRIBUTED: posexplode to (cell, dim, value) → one
    * partial+final avg per (cell, dim) → rebuild arrays — no vector
    * ever collects to the driver; the k×dim centroid table does (it
    * is the model, MBs at any corpus size). A cell that loses all
    * members keeps its previous centroid. Not oracle-replayable BY
    * DESIGN: the per-(cell,dim) double sum has engine-defined
    * accumulation order; training quality is spec-tested instead and
    * the downstream query path (ivfTopKWith) stays centroid-agnostic. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 5): DataFrame =
    lloyd(df.select(asDouble(col(vecCol)).as("v")).localCheckpoint(),
      df.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cvec"))
        .withColumn("cid",
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("cid")))
            .cast("long") - 1)
        .localCheckpoint(),
      iters, assignUdf)

  /** The shared Lloyd loop: [assign each vector to its nearest
    * centroid under `assign`] → [centroid := element-wise mean of its
    * members], means computed DISTRIBUTED (posexplode → per-
    * (cell,dim) avg → rebuild) — nothing corpus-sized ever collects.
    * Metric is pluggable: cosine for IVF cells, per-subspace L2 for
    * PQ codebooks. */
  private def lloyd(vecs: DataFrame, init: DataFrame, iters: Int,
                    assign: org.apache.spark.sql.expressions.UserDefinedFunction)
      : DataFrame = {
    var cents = init
    for (_ <- 1 to iters) {
      val centList = cents.agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
        .localCheckpoint()
      val assigned = vecs.crossJoin(broadcast(centList))
        .select(assign(col("v"), col("cents")).as("cell"), col("v"))
      val means = assigned
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mvec"))
      cents = cents.join(means, cents("cid") === means("cell"), "left")
        .select(col("cid"), coalesce(col("mvec"), col("cvec")).as("cvec"))
        .localCheckpoint()
    }
    cents
  }

  // ---- Integer-exact k-means: training replays in SQL -----------------

  /** Exact squared-L2 between two equal-length long arrays — pure
    * integer arithmetic, scan-local (zip_with + aggregate fold inside
    * whole-stage codegen). */
  private def distSqLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Nearest centroid under exact integer squared-L2 with the
    * deterministic (dist, cid) tie-break: array_min over structs
    * orders field-by-field, so equal distances resolve to the
    * smallest cid in BOTH engines. */
  private def assignExact(qv: Column, cents: Column): Column =
    array_min(transform(cents, c =>
      struct(distSqLong(qv, c.getField("cq")).as("d"),
        c.getField("cid").as("cid"))))

  /** Quantize a float/double vector onto the integer grid:
    * floor(x·scale + 0.5) — float→double widening and one
    * multiply/add/floor, all correctly rounded IEEE ops, identical
    * across engines. */
  private def quantizeVec(vecCol: Column, scale: Int): Column =
    transform(vecCol, x => floor(x.cast("double") * scale + lit(0.5)))

  /** Integer-exact Lloyd trainer — the [[LogReg]] discipline applied
    * to k-means, closing [[kmeansCentroids]]' documented
    * non-replayability: vectors quantize onto a 1/`scale` grid
    * (exactly representable longs), assignment is exact integer
    * squared-L2 with a (dist, cid) tie-break, and each new centroid
    * re-quantizes its rational mean back onto the grid via
    * floor((2s+n)/(2n)) — round-half-up of s/n computed with doubles
    * that are exact for |s| < 2^53 and an IEEE division both engines
    * round identically. No engine-defined accumulation order
    * anywhere: the only shuffled quantities are integer sums, so a
    * full train run REPLAYS IN SQL with iterations unrolled as CTEs
    * (q78), the k-means sibling of q66's logistic regression.
    *
    * Init = the `k` smallest-id vectors (cid 0..k-1 in id order); a
    * cell that loses all members keeps its previous centroid.
    * Returns the trained centroid table (cid, cq: array<long>).
    *
    * Scale shape per iteration: assignment is SCAN-LOCAL (centroids
    * ride along as one broadcast 1-row list; the per-row argmin is a
    * fused fold, no row blowup) → posexplode to (cell, dim, value) →
    * ONE map-side-combined integer sum per (cell, dim) — the update
    * state is k×dim rows, model-sized at any corpus size. The corpus
    * crosses once per iteration, the floor of any Lloyd variant;
    * nothing corpus-sized ever collects. */
  def kmeansExactState(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int, scale: Int = 1000): DataFrame = {
    val vecs = df.select(col(idCol).cast("long").as("id"),
        quantizeVec(col(vecCol), scale).as("qv"))
      .localCheckpoint()
    var cents = vecs.orderBy(col("id")).limit(k)
      .select(col("id"), col("qv"))
      .withColumn("cid",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("id")))
          .cast("long") - 1)
      .select(col("cid"), col("qv").as("cq"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val centList = cents
        .agg(collect_list(struct(col("cid"), col("cq"))).as("cents"))
        .localCheckpoint()
      val assigned = vecs.crossJoin(broadcast(centList))
        .select(assignExact(col("qv"), col("cents")).getField("cid").as("cell"),
          col("qv"))
      val means = assigned
        .select(col("cell"), posexplode(col("qv")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          floor((lit(2.0) * col("s") + col("n")) / (lit(2.0) * col("n"))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mvec"))
      cents = cents.join(means, cents("cid") === means("cell"), "left")
        .select(col("cid"), coalesce(col("mvec"), col("cq")).as("cq"))
        .localCheckpoint()
    }
    cents
  }

  /** [[kmeansExactState]] + the final assignment pass: every vector
    * labeled with its cell under the trained centroids and the exact
    * integer distance — the train-AND-apply round trip q78
    * hash-verifies end to end. Output: (idCol, cell, dist). */
  def kmeansExact(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, scale: Int = 1000): DataFrame = {
    val cents = kmeansExactState(df, idCol, vecCol, k, iters, scale)
    val centList = cents
      .agg(collect_list(struct(col("cid"), col("cq"))).as("cents"))
      .localCheckpoint()
    df.select(col(idCol), quantizeVec(col(vecCol), scale).as("qv"))
      .crossJoin(broadcast(centList))
      .withColumn("__best", assignExact(col("qv"), col("cents")))
      .select(col(idCol), col("__best").getField("cid").as("cell"),
        col("__best").getField("d").as("dist"))
  }

  /** Trained centroids in [[ivfTopKWith]]'s (cid, cvec: array<double>)
    * shape — cq/scale, the drop-in coarse quantizer for the IVF
    * family when replayable training matters. */
  def kmeansExactCentroids(df: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int, scale: Int = 1000): DataFrame =
    kmeansExactState(df, idCol, vecCol, k, iters, scale)
      .select(col("cid"),
        transform(col("cq"), x => x.cast("double") / scale).as("cvec"))

  /** [[ivfTopK]] against an explicit centroid table (cid, cvec) — the
    * entry point for trained (k-means) cells. */
  def ivfTopKWith(df: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, queryId: Long,
                  nprobe: Int = 3, k: Int = 20): DataFrame = {
    val cents = centroids
      .select(col("cid"), col("cvec"))
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      .localCheckpoint() // materialize: broadcast of a live subtree re-runs it per exchange
    val query = df.filter(col(idCol) === queryId).crossJoin(broadcast(cents))
      .select(asDouble(col(vecCol)).as("qv"),
        probeUdf(asDouble(col(vecCol)), col("cents"), lit(nprobe)).as("probes"))
    df.filter(col(idCol) =!= queryId).crossJoin(broadcast(cents))
      .withColumn("assigned", assignUdf(asDouble(col(vecCol)), col("cents")))
      .crossJoin(broadcast(query))
      .filter(array_contains(col("probes"), col("assigned")))
      .select(col(idCol), col("assigned"),
        cosineFast(asDouble(col(vecCol)), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF-accelerated cosine top-k — the other classic ANN layout
    * (FAISS `IVF`): a coarse quantizer of `numCentroids` centroids
    * partitions the corpus into cells; a query probes only its
    * `nprobe` nearest cells, then re-ranks exactly.
    *
    * Centroid choice here is the `numCentroids` smallest-id vectors —
    * deterministic and engine-replayable; production would run k-means
    * (Lloyd iterations are groupBy-avg over the same assignment step)
    * and the query shape would not change.
    *
    * Scale shape: the centroid table is tiny by construction (√n cells
    * for n vectors ⇒ MBs at 100 TB), so it rides along as ONE
    * broadcast 1-row list; assignment is scan-local (fused JVM argmax
    * per row, no shuffle, no row blowup — a centroid crossJoin would
    * 8× the scan). At rest the corpus PARTITIONS BY the assigned cell
    * ([[writeIvfPartitioned]]), turning the probe filter into
    * partition pruning ([[ivfTopKAtRest]] — IvfAtRestSpec proves only
    * nprobe directories are read). */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
              numCentroids: Int = 8, nprobe: Int = 3, k: Int = 20): DataFrame =
    ivfTopKWith(df, idCol, vecCol,
      df.orderBy(col(idCol)).limit(numCentroids)
        .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cvec")),
      queryId, nprobe, k)

  // ---- IVF at rest: cell-partitioned corpus layout --------------------

  /** The `numCentroids` smallest-id vectors as an explicit centroid
    * table — the deterministic coarse quantizer [[ivfTopK]] uses,
    * exposed so the SAME cells drive both the in-memory probe and the
    * at-rest layout. */
  def smallestIdCentroids(df: DataFrame, idCol: String, vecCol: String,
                          numCentroids: Int): DataFrame =
    df.orderBy(col(idCol)).limit(numCentroids)
      .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cvec"))

  /** Write the corpus PARTITIONED BY its IVF cell — the inverted-file
    * layout materialized as directory structure (`dir/cell=N/…`), so
    * a probe becomes partition PRUNING instead of a filter over a
    * full scan. This is the at-rest claim of [[ivfTopK]]'s Scaladoc
    * made real: assignment is the same scan-local broadcast argmax
    * (one pass, no shuffle beyond the cell-keyed repartition before
    * the write), and [[ivfTopKAtRest]] reads back only `nprobe`
    * directories — at 100 TB, the difference between scanning
    * everything and scanning nprobe/numCells of it. */
  /** The corpus with its IVF `cell` column — the in-memory form of
    * [[writeIvfPartitioned]]'s assignment (same scan-local broadcast
    * argmax), for consumers that join on the cell without an at-rest
    * layout (e.g. the streaming serving path, AnnStream). */
  def withCells(df: DataFrame, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val cents = centroids
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      .localCheckpoint() // broadcast of a live subtree re-runs it per exchange
    df.crossJoin(broadcast(cents))
      .withColumn("cell", assignUdf(asDouble(col(vecCol)), col("cents")))
      .drop("cents")
  }

  def writeIvfPartitioned(df: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame, dir: String): Unit =
    withCells(df, vecCol, centroids)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)

  /** INCREMENTAL fold-in to a [[writeIvfPartitioned]] layout — the
    * corpus-growth path: at 100 TB the index cannot be rebuilt per
    * arrival batch, so new embeddings are assigned under the FROZEN
    * coarse quantizer (the same `centroids` the layout was written
    * with — the caller persists the model next to the index; FAISS's
    * `add` vs `train` split) and appended into their cell
    * directories. Idempotent on `idCol`: redelivered rows land
    * nothing. The membership probe is DELTA-SIZED on both axes —
    * because the quantizer is frozen, a given id assigns to the same
    * cell on every delivery, so the standing read prunes to the
    * delta's own cell directories (partition pruning, the
    * [[graft.plans.CorpusPipeline.standingIdsPruned]] shape) and the
    * anti-join build side is the broadcast delta id set. Consumers
    * ([[ivfTopKAtRest]], AnnStream) read the layout unchanged; cell
    * dirs accumulate one file per batch — compact with
    * [[graft.plans.Maintenance.compact]](dir, Seq(idCol)). Centroid
    * DRIFT is the documented trade: a frozen quantizer's cells grow
    * unbalanced as the distribution moves; recentering is a REBUILD
    * ([[kmeansCentroids]] + [[writeIvfPartitioned]]), not a fold-in. */
  def appendIvfBatch(delta: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, dir: String): Unit =
    foldIntoCellLayout(
      withCells(delta.dropDuplicates(idCol), vecCol, centroids), idCol, dir)

  /** [[appendIvfBatch]] for the IVF-PQ layout: the delta is PQ-encoded
    * under the FROZEN codebook before the fold-in (the codebook is as
    * much part of the frozen model as the coarse quantizer — retrain
    * = rebuild). Same idempotence and cell-pruned membership probe;
    * [[ivfPqTopKAtRest]]/[[pqShortlistAtRest]] read the grown layout
    * unchanged. */
  def appendIvfPqBatch(delta: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, codebook: DataFrame,
                       dir: String): Unit =
    foldIntoCellLayout(
      withCells(pqEncode(delta.dropDuplicates(idCol), vecCol, codebook),
        vecCol, centroids), idCol, dir)

  /** Shared fold-in tail: idempotent, cell-pruned append of an
    * already-cell-assigned delta into a `cell`-partitioned layout.
    * One materialization feeds the probe's cell set, the anti-join
    * build, and the landing. */
  private def foldIntoCellLayout(assigned0: DataFrame, idCol: String,
                                 dir: String): Unit = {
    val spark = assigned0.sparkSession
    val assigned = assigned0.localCheckpoint()
    val standingRaw = Dedup.readStateOr(spark, dir, assigned.limit(0))
    val standingIds = ivfStandingIds(standingRaw, idCol, assigned)
    assigned
      .join(broadcast(
          standingIds.join(broadcast(assigned.select(col(idCol))), Seq(idCol))),
        Seq(idCol), "left_anti")
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(dir)
  }

  /** The standing-index id read PRUNED to the delta's cells (frozen
    * quantizer ⇒ same id, same cell on every delivery). The delta's
    * distinct cell set is model-sized (≤ numCells longs), so an `IN`
    * predicate on the partition column is deterministic pruning. A
    * non-layout dir (no `cell` column) falls back to the full
    * column-pruned id scan. */
  private[graft] def ivfStandingIds(standingRaw: DataFrame, idCol: String,
                                    assigned: DataFrame): DataFrame =
    if (!standingRaw.columns.contains("cell"))
      standingRaw.select(col(idCol))
    else {
      val cells = assigned.select(col("cell").cast("long"))
        .distinct().collect().map(_.getLong(0))
      standingRaw.filter(col("cell").isin(cells.toIndexedSeq: _*))
        .select(col(idCol))
    }

  /** IVF top-k over a [[writeIvfPartitioned]] layout: pick the query's
    * `nprobe` nearest cells, read ONLY those cell directories
    * (`cell IN (…)` is a literal predicate, so it lands in the scan's
    * PartitionFilters — untouched cells contribute no files, no I/O),
    * and exact-rank the survivors. Two driver-side scalars by design,
    * both model-sized, never corpus-sized: the centroid table (the
    * model — k×dim doubles) and the single query vector (its point
    * lookup pushes `idCol = queryId` down to the parquet scan).
    * Emits `(idCol, assigned, cos)` — the [[ivfTopK]] schema, so the
    * two paths are interchangeable. */
  def ivfTopKAtRest(spark: SparkSession, dir: String, idCol: String,
                    vecCol: String, centroids: DataFrame, queryId: Long,
                    nprobe: Int = 3, k: Int = 20): DataFrame = {
    val cents = centroids.select(col("cid"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val corpus = spark.read.parquet(dir)
    val qv = corpus.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol))).head().getSeq[Double](0)
    val probes = ivfProbeOf(qv, cents, nprobe)
    val qvLit = typedLit[Seq[Double]](qv)
    corpus
      .filter(col("cell").isin(probes: _*) && col(idCol) =!= queryId)
      .select(col(idCol), col("cell").cast("long").as("assigned"),
        cosineFast(asDouble(col(vecCol)), qvLit).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ---- Product quantization (Jégou et al. 2011, PQ / ADC) -------------

  /** Squared L2 over a subrange — the PQ metric kernel. */
  private[graft] def l2sqOf(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Joint-codebook assignment: nearest of THIS subspace's centroids
    * by L2 (smallest cid on ties — same tiebreak as the IVF path). The
    * broadcast list carries all m×k (sub, cid, cvec) rows; each row
    * only scans its own subspace's k. */
  private val pqAssignJointUdf = udf {
    (sub: Int, sv: Seq[Double], cents: Seq[org.apache.spark.sql.Row]) =>
      var bestId = -1L
      var best = Double.PositiveInfinity
      cents.view
        .filter(_.getInt(0) == sub)
        .map(r => (r.getLong(1), r.getSeq[Double](2)))
        .toSeq.sortBy(_._1)
        .foreach { case (id, c) =>
          val d = l2sqOf(sv, c)
          if (d < best) { best = d; bestId = id }
        }
      bestId
  }

  /** Train a product-quantization codebook: split the `dim`-dim space
    * into `m` subspaces of dim/m and run L2 Lloyd iterations per
    * subspace (init = the k smallest-id subvectors, deterministic like
    * [[kmeansCentroids]]). Returns `(sub, cid, cvec)` — m×k rows of
    * dim/m-dim centroids: the model, MBs at any corpus size.
    *
    * Scale shape: ALL m subspaces train in ONE scan — the subvector
    * slices posexplode to (sub, sv) rows and a single Lloyd loop runs
    * keyed (sub, cid): per iteration one broadcast of the whole m×k
    * codebook, one scan-local assignment, one (sub, cell, dim)-keyed
    * mean. The corpus crosses once per iteration TOTAL, not once per
    * subspace per iteration (the m-sequential form costs m×(iters+2)
    * driver-coordinated job rounds and a checkpoint per subspace);
    * nothing collects but the codebook. Per-subspace semantics are
    * unchanged — subspaces never mix because assignment and means are
    * both keyed by `sub` (PqSpec asserts parity with an independently
    * computed per-subspace reference). */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, k: Int = 16, iters: Int = 3): DataFrame = {
    val dim = df.select(size(asDouble(col(vecCol)))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    // ONE pass slices every subspace: (id, sub, sv)
    val sliced = df
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          sub => slice(col("v"), sub * subDim + 1, lit(subDim)))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")
      .localCheckpoint()
    // init: per subspace, the k smallest-id subvectors, cid = rank-1
    // (the same k doc ids in every subspace — identical to slicing
    // first and taking orderBy(id).limit(k) per slice)
    val init = sliced
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("sub")).orderBy(col(idCol))))
      .filter(col("__rk") <= k)
      .select(col("sub"), (col("__rk") - 1).cast("long").as("cid"),
        col("sv").as("cvec"))
      .localCheckpoint()
    var cents = init
    for (_ <- 1 to iters) {
      val centList = cents
        .agg(collect_list(struct(col("sub"), col("cid"), col("cvec"))).as("cents"))
        .localCheckpoint()
      val assigned = sliced.crossJoin(broadcast(centList))
        .select(col("sub"),
          pqAssignJointUdf(col("sub"), col("sv"), col("cents")).as("cell"),
          col("sv"))
      val means = assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")))
        .groupBy(col("sub"), col("cell"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("sub"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mvec"))
        .withColumnRenamed("sub", "msub")
      cents = cents.join(means,
          cents("sub") === means("msub") && cents("cid") === means("cell"),
          "left")
        .select(cents("sub").as("sub"), col("cid"),
          coalesce(col("mvec"), col("cvec")).as("cvec"))
        .localCheckpoint()
    }
    cents
  }

  private def codebookArrays(codebook: DataFrame)
      : Array[Array[(Long, Seq[Double])]] =
    codebook.select(col("sub"), col("cid"), col("cvec")).collect()
      .groupBy(_.getInt(0))
      .toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1))
      .toArray

  /** Encode each vector as `m` small codes (nearest subspace centroid
    * by L2, smallest cid on ties) — 8-byte-per-vector storage where
    * the raw embedding was dim×8: the compression that lets a 100 TB
    * embedding corpus live in RAM-adjacent storage. Scan-local: the
    * codebook broadcasts, one UDF pass per row, zero shuffles. Emits
    * the input columns + `codes` (array<int>, length m). */
  def pqEncode(df: DataFrame, vecCol: String, codebook: DataFrame): DataFrame = {
    val cb = codebookArrays(codebook)
    val m = cb.length
    val subDim = cb(0)(0)._2.length
    val bc = df.sparkSession.sparkContext.broadcast(cb)
    val encodeUdf = udf { (v: Seq[Double]) =>
      Array.tabulate(m) { sub =>
        val sv = v.slice(sub * subDim, (sub + 1) * subDim)
        var bestId = 0L; var best = Double.PositiveInfinity
        bc.value(sub).foreach { case (cid, c) =>
          val d = l2sqOf(sv, c)
          if (d < best) { best = d; bestId = cid }
        }
        bestId.toInt
      }
    }
    df.withColumn("codes", encodeUdf(asDouble(col(vecCol))))
  }

  /** ADC (asymmetric distance) top-k over a PQ-encoded corpus: the
    * query stays un-quantized; per subspace, its distance to every
    * centroid precomputes into an m×k table (driver-side — the table
    * is model-sized), and each encoded vector's approximate distance
    * is m table lookups. Scan-local scoring, per-partition top-k via
    * TakeOrderedAndProject — the corpus is touched once, reading only
    * (id, codes): dim×8 → m bytes per row of I/O. Emits `(idCol,
    * adc)` ascending (nearest first), id-tiebroken. */
  def pqTopKAdc(codes: DataFrame, idCol: String, codebook: DataFrame,
                queryVec: Seq[Double], k: Int = 20): DataFrame = {
    val cb = codebookArrays(codebook)
    val subDim = cb(0)(0)._2.length
    val table: Array[Array[Double]] = cb.zipWithIndex.map { case (cents, sub) =>
      val qs = queryVec.slice(sub * subDim, (sub + 1) * subDim)
      cents.map { case (_, c) => l2sqOf(qs, c) }.toArray
    }
    val bc = codes.sparkSession.sparkContext.broadcast(table)
    val adcUdf = udf { (cs: Seq[Int]) =>
      var s = 0.0; var i = 0
      while (i < cs.length) { s += bc.value(i)(cs(i)); i += 1 }
      s
    }
    codes.select(col(idCol), adcUdf(col("codes")).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** End-to-end PQ ANN with exact re-rank (the FAISS `IVFPQ` refine
    * step, sans cells — compose with [[writeIvfPartitioned]] for the
    * cell-pruned layout): train → encode → ADC-shortlist `refine × k`
    * candidates on codes alone → join ONLY the shortlist back to its
    * raw vectors → exact cosine top-k. The expensive exactness is
    * paid on refine×k rows, never the corpus. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
             m: Int = 8, kCode: Int = 16, k: Int = 20,
             refine: Int = 4): DataFrame = {
    val codebook = pqTrain(df, idCol, vecCol, m, kCode).localCheckpoint()
    val qv = df.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol))).head().getSeq[Double](0)
    val encoded = pqEncode(df.filter(col(idCol) =!= queryId), vecCol, codebook)
    val shortlist = pqTopKAdc(
      encoded.select(col(idCol), col("codes")), idCol, codebook,
      qv, k = refine * k)
    encoded.join(broadcast(shortlist.select(col(idCol))), Seq(idCol))
      .select(col(idCol), cosineFast(asDouble(col(vecCol)),
        typedLit[Seq[Double]](qv)).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** [[pqTrain]] on the integer grid — the [[kmeansExactState]]
    * discipline applied per subspace, closing pqTrain's documented
    * non-replayability (the x29 rollingKey precedent: same operator
    * family, an oracle-replayable mode). Vectors quantize once onto
    * the 1/`scale` grid; every distance and mean-update is an exact
    * BIGINT (centroid update = floor((2s+n)/(2n)), one IEEE division
    * both engines round identically); assignment ties break (dist,
    * cid). Nothing depends on accumulation order, so the trained
    * codebook is partitioning-independent and a full train run
    * replays in SQL with iterations unrolled as CTEs (the x26
    * oracle). Same one-scan shape as [[pqTrain]]: all m subspaces
    * slice in one pass and the Lloyd loop runs keyed (sub, cid).
    * Returns `(sub, cid, cq: array<long>)`. */
  def pqTrainExact(df: DataFrame, idCol: String, vecCol: String,
                   m: Int = 8, k: Int = 16, iters: Int = 3,
                   scale: Int = 1000): DataFrame = {
    val dim = df.select(size(asDouble(col(vecCol)))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val sliced = df
      .select(col(idCol).cast("long").as("id"),
        quantizeVec(col(vecCol), scale).cast("array<long>").as("qv"))
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          sub => slice(col("qv"), sub * subDim + 1, lit(subDim)))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")
      .localCheckpoint()
    // Lazy checkpoints on the per-iteration cents (round 17, the
    // round-16 job-count discipline): each iteration's EAGER centList
    // checkpoint (it feeds a broadcast, which re-runs live subtrees
    // per exchange — must stay eager) is the materializing action for
    // the previous iteration's lazy cents, so the Lloyd loop runs one
    // driver action per iteration instead of two.
    val init = sliced
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("sub")).orderBy(col("id"))))
      .filter(col("__rk") <= k)
      .select(col("sub"), (col("__rk") - 1).cast("long").as("cid"),
        col("sv").as("cq"))
      .localCheckpoint(eager = false)
    var cents = init
    for (_ <- 1 to iters) {
      val centList = cents
        .groupBy(col("sub"))
        .agg(collect_list(struct(col("cid"), col("cq"))).as("cents"))
        .localCheckpoint()
      val assigned = sliced.join(broadcast(centList), Seq("sub"))
        .select(col("sub"),
          assignExact(col("sv"), col("cents")).getField("cid").as("cell"),
          col("sv"))
      val means = assigned
        .select(col("sub"), col("cell"), posexplode(col("sv")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("cell"), col("pos"),
          floor((lit(2.0) * col("s") + col("n")) / (lit(2.0) * col("n")))
            .cast("long").as("mv"))
        .groupBy(col("sub"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s.getField("mv")).as("mvec"))
        .withColumnRenamed("sub", "msub")
      cents = cents.join(means,
          cents("sub") === means("msub") && cents("cid") === means("cell"),
          "left")
        .select(cents("sub").as("sub"), col("cid"),
          coalesce(col("mvec"), col("cq")).as("cq"))
        .localCheckpoint(eager = false) // materialized by the next
          // iteration's centList checkpoint (or the caller's consumer)
    }
    cents
  }

  private def gridCodebookArrays(codebook: DataFrame)
      : Array[Array[(Long, Array[Long])]] =
    codebook.select(col("sub"), col("cid"), col("cq")).collect()
      .groupBy(_.getInt(0))
      .toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getSeq[Long](2).toArray)).sortBy(_._1))
      .toArray

  /** Integer squared-L2 over JVM longs — the grid twin of
    * [[l2sqOf]]; exact, so no fold-order caveats. */
  private def l2sqLongOf(a: Array[Long], b: Seq[Long]): Long = {
    var s = 0L; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** End-to-end PQ ANN on the integer grid — [[pqTopK]]'s pipeline
    * (train → encode → ADC-shortlist refine×k → exact re-rank)
    * under [[pqTrainExact]]'s codebook: every pre-re-rank quantity
    * (codes, ADC table, shortlist order) is an exact BIGINT and the
    * re-rank is the bit-replayable [[cosineFast]], so the WHOLE
    * chain replays in SQL — this is x26's oracle-gated path. Same
    * scale shape as [[pqTopK]]: codebook and ADC table broadcast
    * (model-sized), encoding and scoring scan-local, exactness paid
    * on refine×k rows only. Output `(idCol, cos)`. */
  def pqTopKExact(df: DataFrame, idCol: String, vecCol: String,
                  queryId: Long, m: Int = 8, kCode: Int = 16, k: Int = 20,
                  refine: Int = 4, iters: Int = 3,
                  scale: Int = 1000): DataFrame = {
    val codebook = pqTrainExact(df, idCol, vecCol, m, kCode, iters, scale)
      .localCheckpoint()
    val cb = gridCodebookArrays(codebook)
    val subDim = cb(0)(0)._2.length
    val qvRaw = df.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol))).head().getSeq[Double](0)
    // quantize the query exactly as quantizeVec does (same IEEE ops)
    val qq = qvRaw.map(x => math.floor(x * scale + 0.5).toLong).toArray
    val table: Array[Array[Long]] = cb.zipWithIndex.map { case (cents, sub) =>
      val qs = qq.slice(sub * subDim, (sub + 1) * subDim)
      cents.map { case (_, c) => l2sqLongOf(qs, c.toSeq) }
    }
    val bcCb = df.sparkSession.sparkContext.broadcast(cb)
    val bcTab = df.sparkSession.sparkContext.broadcast(table)
    val mLocal = cb.length; val scaleLocal = scale
    val adcUdf = udf { (v: Seq[Double]) =>
      // encode (strict < over ascending cid = the (dist, cid) min)
      // and ADC-sum in one pass; integer arithmetic throughout
      var s = 0L; var sub = 0
      while (sub < mLocal) {
        val sv = Array.tabulate(bcCb.value(sub)(0)._2.length)(i =>
          math.floor(v(sub * bcCb.value(sub)(0)._2.length + i)
            * scaleLocal + 0.5).toLong)
        var bestIdx = 0; var best = Long.MaxValue
        var ci = 0
        while (ci < bcCb.value(sub).length) {
          val d = l2sqLongOf(sv, bcCb.value(sub)(ci)._2.toSeq)
          if (d < best) { best = d; bestIdx = ci }
          ci += 1
        }
        s += bcTab.value(sub)(bestIdx)
        sub += 1
      }
      s
    }
    val shortlist = df.filter(col(idCol) =!= queryId)
      .select(col(idCol), adcUdf(asDouble(col(vecCol))).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(refine * k)
    df.join(broadcast(shortlist.select(col(idCol))), Seq(idCol))
      .select(col(idCol), cosineFast(asDouble(col(vecCol)),
        typedLit[Seq[Double]](qvRaw)).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Full FAISS-IVFPQ composition: coarse cells prune the corpus to
    * the query's `nprobe` cells (scan-local argmax against broadcast
    * centroids — or partition pruning under the
    * [[writeIvfPartitioned]] layout), PQ codes ADC-shortlist within
    * the probed cells, and only `refine × k` survivors pay the exact
    * cosine. At 100 TB: the scan reads nprobe/numCells of the
    * corpus, the shortlist phase reads m bytes per row of it, and
    * exactness costs refine×k rows — three nested reductions, each
    * independently verified (IvfAtRestSpec, PqSpec; equivalence here
    * in IvfPqSpec: with an exhaustive refine budget this equals
    * [[ivfTopKWith]] row-for-row, because re-ranking every in-cell
    * candidate exactly IS the IVF probe). */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
                numCells: Int = 8, nprobe: Int = 3,
                m: Int = 8, kCode: Int = 16, k: Int = 20,
                refine: Int = 4): DataFrame =
    ivfPqTopKWith(df, idCol, vecCol,
      smallestIdCentroids(df, idCol, vecCol, numCells).localCheckpoint(),
      pqTrain(df, idCol, vecCol, m, kCode).localCheckpoint(),
      queryId, nprobe, k, refine)

  /** [[ivfPqTopK]] against explicit models (centroids + PQ codebook) —
    * the entry point for trained/persisted models, and what makes the
    * at-rest path provably row-identical: the SAME model tables drive
    * both ([[ivfPqTopKAtRest]], IvfPqAtRestSpec). */
  def ivfPqTopKWith(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, codebook: DataFrame,
                    queryId: Long, nprobe: Int = 3, k: Int = 20,
                    refine: Int = 4): DataFrame = {
    val centSeq = centroids.select(col("cid"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val centList = centroids
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      .localCheckpoint()
    val qv = df.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol))).head().getSeq[Double](0)
    val probes = ivfProbeOf(qv, centSeq, nprobe)
    val inCells = df.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(centList))
      .withColumn("assigned", assignUdf(asDouble(col(vecCol)), col("cents")))
      .filter(col("assigned").isin(probes: _*))
      .drop("cents")
    val encoded = pqEncode(inCells, vecCol, codebook).localCheckpoint()
    val shortlist = pqTopKAdc(
      encoded.select(col(idCol), col("codes")), idCol, codebook,
      qv, k = refine * k)
    encoded.join(broadcast(shortlist.select(col(idCol))), Seq(idCol))
      .select(col(idCol), col("assigned"),
        cosineFast(asDouble(col(vecCol)), typedLit[Seq[Double]](qv)).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** [[writeIvfPartitioned]] plus PQ codes: every row carries `codes`
    * (array<int>, length m — m bytes of information per vector) next
    * to its `cell` directory, completing the at-rest FAISS-IVFPQ
    * layout: a probe prunes to nprobe cell directories, the ADC
    * shortlist reads ONLY (id, codes) of those cells, and exactness
    * is paid on refine×k re-read rows. Same scan-local broadcast
    * assignment as the codes-less layout; encoding is one UDF pass in
    * the same scan. */
  def writeIvfPqPartitioned(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, codebook: DataFrame,
                            dir: String): Unit = {
    val cents = centroids
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      .localCheckpoint() // broadcast of a live subtree re-runs it per exchange
    pqEncode(df, vecCol, codebook)
      .crossJoin(broadcast(cents))
      .withColumn("cell", assignUdf(asDouble(col(vecCol)), col("cents")))
      .drop("cents")
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
  }

  /** The ADC phase over a [[writeIvfPqPartitioned]] layout, exposed so
    * its I/O properties are plan-assertable: the scan carries the
    * probed cells in PartitionFilters (untouched directories = no
    * files) AND reads only (id, codes) — ReadSchema never mentions
    * the vector column, so each probed row costs m code bytes, not
    * dim×8 vector bytes. */
  def pqShortlistAtRest(spark: SparkSession, dir: String, idCol: String,
                        codebook: DataFrame, queryVec: Seq[Double],
                        probes: Seq[Long], excludeId: Long,
                        n: Int): DataFrame =
    pqTopKAdc(
      spark.read.parquet(dir)
        .filter(col("cell").isin(probes: _*) && col(idCol) =!= excludeId)
        .select(col(idCol), col("codes")),
      idCol, codebook, queryVec, k = n)

  /** Full FAISS-IVFPQ over the at-rest layout — [[ivfPqTopKWith]]'s
    * three nested reductions, each realized as an I/O property:
    * (1) cells: `cell IN probes` lands in PartitionFilters;
    * (2) shortlist: [[pqShortlistAtRest]] reads m bytes per probed
    * row; (3) exactness: the refine×k shortlist ids re-read under an
    * `id IN (…)` pushed predicate (the id list is model-sized by
    * construction — refine×k rows) and exact-cosine re-rank. Emits
    * `(idCol, assigned, cos)`, row-identical to [[ivfPqTopKWith]] on
    * the same centroids + codebook (IvfPqAtRestSpec). */
  def ivfPqTopKAtRest(spark: SparkSession, dir: String, idCol: String,
                      vecCol: String, centroids: DataFrame,
                      codebook: DataFrame, queryId: Long,
                      nprobe: Int = 3, k: Int = 20,
                      refine: Int = 4): DataFrame = {
    val centSeq = centroids.select(col("cid"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val corpus = spark.read.parquet(dir)
    val qv = corpus.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol))).head().getSeq[Double](0)
    val probes = ivfProbeOf(qv, centSeq, nprobe)
    // shortlist ids collect to the driver: refine×k values (the same
    // model-sized budget the broadcast join in ivfPqTopKWith carries),
    // traded here for a parquet-pushed id IN (…) on the re-read
    val shortIds = pqShortlistAtRest(spark, dir, idCol, codebook, qv,
      probes, queryId, n = refine * k)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    corpus
      .filter(col("cell").isin(probes: _*) && col(idCol).isin(shortIds: _*))
      .select(col(idCol), col("cell").cast("long").as("assigned"),
        cosineFast(asDouble(col(vecCol)), typedLit[Seq[Double]](qv)).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: pairs that
    * share a bucket AND pass the exact cosine threshold. One groupBy
    * shuffle on the bucket key; in-bucket pairs are enumerated
    * imperatively per group (`flatMapGroups` — the justified last-
    * resort tier here: the declarative pair-expansion materialized
    * every candidate pair WITH both vectors (~1 KB each) before the
    * threshold filter, ~8 MB per bucket of pure allocation; the loop
    * emits only survivors). Each vector sits in exactly one bucket, so
    * pairs are already unique. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double = 0.95, numPlanes: Int = 8,
                   dim: Int = 64, maxBucket: Int = 4096,
                   planeSeed: Long = 42L): DataFrame =
    nearDupPairsWith(df, idCol, vecCol, threshold,
      hyperplanes(dim, numPlanes, planeSeed), maxBucket)

  /** [[nearDupPairs]] with caller-supplied planes (NearDupDump's
    * mutation demos hand in deliberately broken ones). */
  def nearDupPairsWith(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, planes: Seq[Seq[Double]],
                       maxBucket: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    withBucket(df, vecCol, planes)
      .select(col("bucket"), col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.take(maxBucket + 1).map { case (_, id, v) => (id, v.toArray) }.toArray
        if (members.length < 2 || members.length > maxBucket) Iterator.empty
        else {
          java.util.Arrays.sort(members, Ordering.by((m: (Long, Array[Double])) => m._1))
          for {
            i <- members.indices.iterator
            j <- (i + 1 until members.length).iterator
            cos = cosineOf(members(i)._2, members(j)._2)
            if cos >= threshold
          } yield (members(i)._1, members(j)._1, cos)
        }
      }
      .toDF("id_a", "id_b", "cos")
  }

  /** Multi-table [[nearDupPairs]]: the same recall lever the top-k
    * path uses ([[withBuckets]] doc) applied to the PAIR problem — a
    * near-dup pair is missed only if EVERY table's planes split it,
    * so T independent tables multiply the miss probability down at
    * T× the bucket pass cost. Pairs found by several tables carry
    * identical exact cosines, so a whole-row dropDuplicates unions
    * the tables without a keyed shuffle trick. */
  def nearDupPairsMultiTable(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double = 0.95, numPlanes: Int = 8,
                             dim: Int = 64, maxBucket: Int = 4096,
                             numTables: Int = 3): DataFrame =
    (0 until numTables)
      .map(t => nearDupPairs(df, idCol, vecCol, threshold, numPlanes,
        dim, maxBucket, planeSeed = 42L + 1000L * t))
      .reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")

  /** Delta-vs-standing near-dup probe — the embedding twin of
    * [[DedupApprox.minhashPairsAgainst]]: a delta batch's vectors are
    * checked against a standing signature corpus WITHOUT any
    * delta-internal or standing-internal pair work. Per LSH table,
    * both sides bucket on that table's planes and an inner bucket
    * join + exact-cosine verify yields the cross matches; tables
    * union (a pair is missed only if every table splits it) and
    * dedup on the pair key. O(delta × bucket-mates), never
    * O(standing²): on a bucket-partitioned standing layout the join
    * prunes to the delta's buckets, so the standing read is
    * delta-sized at 100 TB.
    *
    * `maxBucket` mirrors [[nearDupPairs]]' contract on the STANDING
    * side: a hot bucket (many near-uniform signatures sharing a
    * sign-bit pattern) would otherwise make the bucket join quadratic
    * in its occupancy — and the streaming caller (mediaDeltaBatch)
    * would pay that every micro-batch. Standing buckets over the cap
    * are dropped for that table; a pair they held is still found by
    * any other table that splits the hot region, the same recall
    * trade [[nearDupPairs]] documents. */
  def nearDupAgainst(delta: DataFrame, standing: DataFrame,
                     idCol: String, vecCol: String,
                     threshold: Double = 0.95, numPlanes: Int = 8,
                     dim: Int = 64, numTables: Int = 3,
                     maxBucket: Int = 4096): DataFrame =
    (0 until numTables).map { t =>
      val planes = hyperplanes(dim, numPlanes, 42L + 1000L * t)
      val d = withBucket(delta, vecCol, planes)
        .select(col("bucket"), col(idCol).cast("long").as("id_d"),
          asDouble(col(vecCol)).as("__vd"))
      val occ = Window.partitionBy(col("bucket"))
      val s = withBucket(standing, vecCol, planes)
        .select(col("bucket"), col(idCol).cast("long").as("id_s"),
          asDouble(col(vecCol)).as("__vs"))
        .withColumn("__occ", count(lit(1)).over(occ))
        .filter(col("__occ") <= maxBucket).drop("__occ")
      d.join(s, "bucket")
        .select(col("id_d"), col("id_s"),
          cosine(col("__vd"), col("__vs")).as("cos"))
        .filter(col("cos") >= threshold)
    }.reduce(_ unionByName _)
      .dropDuplicates("id_d", "id_s")

  /** SemDeDup (Abbas et al. 2023): semantic deduplication — cluster
    * the embedding space coarsely, then mark cosine-near-duplicate
    * GROUPS within each cluster and keep one representative per
    * group. Composes the engine's existing pieces end-to-end:
    * IVF-style cell assignment ([[ivfAssignOf]], same argmax tie
    * order as x23) → in-cell exact-cosine pairs (the
    * [[nearDupPairs]] flatMapGroups machinery, keyed on the cell) →
    * [[Dedup.clusterVerdicts]] min-label components.
    *
    * Centroids are the `numCells` smallest-id vectors — deterministic
    * and oracle-replayable, like [[ivfTopK]]; swap in
    * [[kmeansCentroids]] output via the same assignment path for
    * trained cells (not oracle-replayable, spec-covered).
    *
    * Emits every input row: `(id, cell, comp, keep)` — docs outside
    * any near-dup group keep themselves.
    *
    * Scale shape: assignment is scan-local (broadcast centroid list,
    * fused JVM argmax — no shuffle, no row blowup); the only wide
    * shuffle keys on the CELL (vectors cross the wire once); in-cell
    * pairs enumerate imperatively and emit only survivors (the
    * declarative pair-expansion would materialize every candidate
    * pair with both 0.5 KB vectors before the threshold filter).
    * `maxCell` bounds the quadratic term per task — at 100 TB,
    * numCells scales as √n (FAISS practice), keeping cells near
    * constant size; the assignment table is checkpointed because two
    * consumers (pair generation, verdict join) would otherwise
    * re-scan the corpus. Components converge in O(log diameter)
    * rounds — near-dup clusters are dense, diameters tiny. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               numCells: Int = 8, threshold: Double = 0.95,
               maxCell: Int = 8192): DataFrame =
    semDedupWith(df, idCol, vecCol,
      df.orderBy(col(idCol)).limit(numCells)
        .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cvec")),
      threshold, maxCell)

  /** [[semDedup]] against an explicit `(cid, cvec)` centroid table —
    * the entry point for TRAINED cells ([[kmeansCentroids]] output
    * plugs in directly, like [[ivfTopKWith]] for ANN). Trained cells
    * are not oracle-replayable (spec-covered); the verdict semantics
    * are identical. */
  def semDedupWith(df: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, threshold: Double,
                   maxCell: Int = 8192): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = centroids
      .select(col("cid"), col("cvec"))
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      .localCheckpoint() // broadcast of a live subtree re-runs it per exchange
    val assigned = df.crossJoin(broadcast(cents))
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"),
        assignUdf(asDouble(col(vecCol)), col("cents")).as("cell"))
      .localCheckpoint()
    val pairs = assigned
      .as[(Long, Seq[Double], Long)]
      .groupByKey(_._3)
      .flatMapGroups { (_, it) =>
        val members = it.take(maxCell + 1).map { case (id, v, _) => (id, v.toArray) }.toArray
        if (members.length < 2 || members.length > maxCell) Iterator.empty
        else {
          java.util.Arrays.sort(members, Ordering.by((m: (Long, Array[Double])) => m._1))
          for {
            i <- members.indices.iterator
            j <- (i + 1 until members.length).iterator
            if cosineOf(members(i)._2, members(j)._2) >= threshold
          } yield (members(i)._1, members(j)._1)
        }
      }
      .toDF("id_a", "id_b")
    val verdicts = Dedup.clusterVerdicts(pairs)
    assigned.select(col("id"), col("cell"))
      .join(verdicts, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("comp"), col("id")).as("comp"),
        coalesce(col("keep"), lit(true)).as("keep"))
  }

  // ---- Random projection (Johnson–Lindenstrauss) ---------------------

  /** Seeded Rademacher (±1) projection matrix, `outDim` rows of `dim`
    * signs. Achlioptas 2003 ("Database-friendly random projections")
    * showed ±1 entries give the full JL distance-preservation
    * guarantee of Gaussian projections — and unlike Gaussians they
    * keep integer arithmetic exact, which is what makes
    * [[randomProject]] engine-replayable. The matrix is rendered into
    * the q81 oracle SQL from this same function. */
  def rademacher(dim: Int, outDim: Int, seed: Long = 42L): Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(outDim)(Seq.fill(dim)(if (rnd.nextBoolean()) 1L else -1L))
  }

  /** JL dimensionality reduction for the embedding column, the
    * integer-exact way: quantize onto the 1/`scale` grid (the
    * q78/x22 discipline — floor(x·scale + 0.5) after an exact
    * float→double widen), then each output component is a ±-signed
    * BIGINT sum of the quantized inputs. No float ever crosses a
    * shuffle — there IS no shuffle: the whole operator is one
    * scan-local projection per row, embarrassingly parallel at any
    * scale. E‖Pv‖² = outDim/dim·‖v‖²·scale², so downstream cosine /
    * L2 comparisons work on the projected table unchanged (the spec
    * asserts the concentration empirically and [[topKBruteForce]]
    * composes directly on the float adapter).
    *
    * Output: (idCol, pos 1..outDim, comp) — exploded so the result is
    * flat-hashable; [[randomProjectVectors]] keeps the array shape
    * for composition with the ANN family.
    *
    * At 100 TB this is the standard pre-ANN shrink: project 64→16
    * dims once at ingest (4× less vector I/O in every downstream
    * scan), run coarse search in projected space, refine the
    * shortlist against full vectors — the same two-phase shape as
    * [[pqTopK]], with the projection as the cheap end. The JL caveat
    * belongs in the contract: inner products survive to ±1/√outDim,
    * so `outDim` must exceed 1/sep² for the separations the coarse
    * phase must resolve — the spec asserts the concentration rather
    * than a corpus-dependent recall number. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int, seed: Long = 42L,
                    scale: Int = 1000): DataFrame = {
    val proj = projExpr(col(vecCol), dim, outDim, seed, scale)
    df.select(col(idCol), posexplode(proj))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("comp"))
  }

  /** Array-shaped [[randomProject]]: (idCol, proj array<bigint>) plus
    * a double adapter `proj_f` that drops straight into the cosine /
    * IVF query paths. */
  def randomProjectVectors(df: DataFrame, idCol: String, vecCol: String,
                           dim: Int, outDim: Int, seed: Long = 42L,
                           scale: Int = 1000): DataFrame = {
    val proj = projExpr(col(vecCol), dim, outDim, seed, scale)
    df.select(col(idCol), proj.as("proj"),
      proj.cast("array<double>").as("proj_f"))
  }

  private def projExpr(vec: Column, dim: Int, outDim: Int, seed: Long,
                       scale: Int): Column = {
    require(outDim >= 1, s"outDim must be >= 1 (got $outDim)")
    val qv = transform(vec.cast("array<double>"),
      x => floor(x * scale + lit(0.5)).cast("long"))
    array(rademacher(dim, outDim, seed).map { row =>
      aggregate(zip_with(qv, typedLit(row), (q, s) => q * s),
        lit(0L), (acc, x) => acc + x)
    }: _*)
  }

  /** ANN quality gate — recall of an approximate retrieval against
    * its exact baseline, the number FAISS reports as `R@k`. Both
    * inputs are `(query_id, <id>)` result sets (e.g. [[topKBatch]]
    * as truth, [[ivfTopK]] legs as candidate); output per query:
    * `(query_id, n_truth, n_overlap, recall_micro)`. Report-sized
    * join — the corpora were already reduced to top-k sets upstream.
    * This is what closes the ANN family's loop: the scale path
    * (IVF/LSH probe) is continuously measured against the exact
    * brute-force leg it approximates. */
  def recallAgainst(truth: DataFrame, approx: DataFrame,
                    idCol: String): DataFrame =
    truth.join(approx.withColumn("__hit", lit(1L)),
        Seq("query_id", idCol), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
      .select(col("query_id"), col("n_truth"), col("n_overlap"),
        floor(col("n_overlap").cast("double")
          / col("n_truth").cast("double") * 1e6 + 0.5).cast("long")
          .as("recall_micro"))
}
