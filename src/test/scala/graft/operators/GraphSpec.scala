package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixed-point PageRank ([[Graph]]): hand-checkable values on tiny
  * graphs, a reference replay in plain Scala, and the bit-determinism
  * the fixed-point design exists for. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: same fixed-point semantics, single-
    * threaded Scala over an adjacency map. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          scale: Long = 1000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val base = scale - (85L * scale) / 100L
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val s = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v) => s(v) += r(u) / outdeg(u) }
      r = nodes.map(n => n -> (base + (85L * s(n)) / 100L)).toMap
    }
    r
  }

  private def run(pairs: Seq[(Long, Long)], iters: Int = 8): Map[Long, Long] =
    Graph.pageRankUndirected(pairs.toDF("id_a", "id_b"), "id_a", "id_b",
      iters = iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap

  test("two-node graph reaches the closed-form fixed point") {
    // symmetric pair: each node's sum IS the other's rank, outdeg 1;
    // iteration r' = 150000 + 85*r/100 converges toward 1e6 from 1e6
    // exactly (the fixed point of the damping map at scale).
    val got = run(Seq((1L, 2L)), iters = 8)
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("star graph ranks the hub above the leaves, matching the reference replay") {
    val pairs = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L))
    val sym = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val expect = refPageRank(sym, iters = 8)
    val got = run(pairs)
    assert(got == expect)
    assert(got(10L) > got(1L))
    assert(Seq(1L, 2L, 3L, 4L).map(got).distinct.size == 1) // leaves tie
  }

  test("size-adaptive local path matches the distributed loop bit-for-bit") {
    // round 16: small edge lists evaluate on the driver; the pinned
    // localMaxEdges=0 parameter forces the distributed loop on the
    // SAME input — the fixed-point contract makes them bit-equal.
    val rnd = new scala.util.Random(16)
    val pairs = Seq.fill(400)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val df = pairs.toDF("id_a", "id_b")
    val local = run(pairs)
    val sym = df.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(df.select(col("id_b").as("src"), col("id_a").as("dst")))
    val dist = Graph.pageRank(sym, "src", "dst",
        localMaxEdges = Some(0L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("the distributed loop frees every round checkpoint: only the result stays") {
    // iters = 9 at the every-4 cadence checkpoints rounds 4 and 8; each
    // is released as the next table lands, so of the persistent RDDs the
    // call adds only the result's own checkpoint may remain.
    val edges = (0L until 200L).map(i => (i, (i * 7 + 3) % 200)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Graph.pageRank(edges, "src", "dst", iters = 9,
      localMaxEdges = Some(0L))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val result = out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(added.subsetOf(Set(result)), s"left resident: $added, result $result")
    assert(out.count() == 200L)
    Checkpoints.release(out, blocking = true)
  }

  test("weighted: size-adaptive local path matches the distributed loop") {
    val rnd = new scala.util.Random(17)
    val pairs = Seq.fill(300)((rnd.nextInt(50).toLong,
        rnd.nextInt(50).toLong, (rnd.nextInt(9) + 1).toLong))
      .filter(p => p._1 != p._2)
    val df = pairs.toDF("id_a", "id_b", "w")
    def sym = df.select(col("id_a").as("src"), col("id_b").as("dst"),
        col("w"))
      .union(df.select(col("id_b").as("src"), col("id_a").as("dst"),
        col("w")))
    val local = Graph.pageRankWeighted(sym, "src", "dst", "w")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Graph.pageRankWeighted(sym, "src", "dst", "w",
        localMaxEdges = Some(0L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
  }

  test("directed edge list: dangling mass drops, ranks match the reference replay") {
    // 1→2→3 with 3 dangling: pseudo-PageRank (documented in Graph).
    val edges = Seq((1L, 2L), (2L, 3L))
    val expect = refPageRank(edges, iters = 8)
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(got(3L) > got(2L) && got(2L) > got(1L)) // chain accumulates
  }

  test("800-node seeded random graph matches the reference replay exactly") {
    val rnd = new scala.util.Random(41)
    val edges = (1 to 4000).map { _ =>
      (rnd.nextInt(800).toLong, rnd.nextInt(800).toLong)
    }.filter { case (a, b) => a != b }.distinct
    val expect = refPageRank(edges, iters = 8)
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // sanity: ranks vary (a constant map would hide arithmetic bugs)
    assert(got.values.toSet.size > 100)
  }

  test("bit-identical under repartitioning (the fixed-point guarantee)") {
    val pairs = (1L to 40L).flatMap(i => Seq((i, i % 7 + 100L), (i, i % 3 + 200L)))
    val df1 = pairs.toDF("id_a", "id_b")
    val df8 = pairs.toDF("id_a", "id_b").repartition(8)
    val a = Graph.pageRankUndirected(df1, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val b = Graph.pageRankUndirected(df8, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(a.sameElements(b))
  }

  private def triMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangles(pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  /** Weighted reference: contributions split (r·w) div W(u). */
  private def refPageRankW(edges: Seq[(Long, Long, Long)], iters: Int,
                           scale: Long = 1000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val wsum = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val base = scale - (85L * scale) / 100L
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val s = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (u, v, w) => s(v) += (r(u) * w) / wsum(u) }
      r = nodes.map(n => n -> (base + (85L * s(n)) / 100L)).toMap
    }
    r
  }

  private def runW(pairs: Seq[(Long, Long, Long)], iters: Int = 8)
      : Map[Long, Long] =
    Graph.pageRankWeightedUndirected(pairs.toDF("id_a", "id_b", "w"),
        "id_a", "id_b", "w", iters = iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap

  test("weighted == unweighted when every weight is equal") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
    assert(runW(pairs.map(p => (p._1, p._2, 7L))) == run(pairs))
  }

  test("weighted ranks match the weighted reference; heavy edge pulls rank") {
    val pairs = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 3L, 1L), (2L, 4L, 2L))
    val sym = pairs ++ pairs.map(p => (p._2, p._1, p._3))
    assert(runW(pairs) == refPageRankW(sym, 8))
    // node 2 holds the heavy end of the 9-weight edge from the hub —
    // it must outrank node 3, its equal-degree twin on light edges
    val got = runW(pairs)
    assert(got(2L) > got(3L))
  }

  test("weighted: 400-node seeded random graph matches the reference") {
    val pairs = (0 until 400).map { i =>
      val a = math.abs((i * 2654435761L + 17L) % 80)
      val b = math.abs((i * 48271L + 5L) % 80)
      (math.min(a, b), math.max(a, b) + 1, 1L + (i % 9))
    }.distinct
    val sym = pairs ++ pairs.map(p => (p._2, p._1, p._3))
    assert(runW(pairs) == refPageRankW(sym, 8))
  }

  test("triangles: K4 gives every node C(3,2)=3; a path gives zero") {
    val k4 = for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)
    assert(triMap(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(triMap(path).values.forall(_ == 0L))
  }

  test("triangles: a star hub has none until a rim edge closes one") {
    val star = (2L to 6L).map(i => (1L, i))
    assert(triMap(star).values.forall(_ == 0L))
    val closed = star :+ (2L, 3L)
    val got = triMap(closed)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(4L) == 0L && got(5L) == 0L && got(6L) == 0L)
  }

  test("triangles match brute force; duplicate/reversed edges are benign") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (2L, 5L), (1L, 5L), (5L, 1L), (2L, 1L)) // dups + reversed
    val distinctE = edges.map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }.distinct.toSet
    val nodes = distinctE.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val brute = nodes.map { n =>
      n -> (for {
        a <- nodes; b <- nodes
        if a < b && a != n && b != n
        if distinctE(math.min(a, n) -> math.max(a, n)) &&
          distinctE(math.min(b, n) -> math.max(b, n)) &&
          distinctE(a -> b)
      } yield 1).size.toLong
    }.toMap
    assert(triMap(edges) == brute)
  }
}
