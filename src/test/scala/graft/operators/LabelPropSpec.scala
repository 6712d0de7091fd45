package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Label propagation: randomized brute-force equivalence, pinned
  * seeds, deterministic tie-break, and hop-by-hop reach. */
class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  private def run(pairs: Seq[(Long, Long)], seeds: Seq[(Long, String)],
                  rounds: Int): Map[Long, (String, Boolean)] =
    Graph.labelPropagation(pairs.toDF("id_a", "id_b"), "id_a", "id_b",
        seeds.toDF("doc_id", "source"), "doc_id", "source", rounds)
      .as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  /** Independent synchronous reimplementation. */
  private def brute(pairs: Seq[(Long, Long)], seeds: Seq[(Long, String)],
                    rounds: Int): Map[Long, (String, Boolean)] = {
    val nbrs = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seedMap = seeds.toMap
    var lab = seedMap
    for (_ <- 1 to rounds) {
      val inferred = nbrs.keys.filterNot(seedMap.contains).flatMap { v =>
        val votes = nbrs(v).flatMap(lab.get)
          .groupBy(identity).view.mapValues(_.size).toMap
        if (votes.isEmpty) None
        else Some(v -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1)
      }.toMap
      lab = seedMap ++ inferred
    }
    lab.map { case (id, l) => id -> ((l, seedMap.contains(id))) }
  }

  test("round checkpoints and the seed table are freed: only the result stays") {
    val pairs = (0L until 100L).map(i => (i, (i * 7 + 3) % 100)).toDF("a", "b")
    val seeds = Seq((0L, "x"), (50L, "y")).toDF("id", "label")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Graph.labelPropagation(pairs, "a", "b", seeds, "id", "label",
      rounds = 5)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val result = out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(added.subsetOf(Set(result)), s"left resident: $added, result $result")
    Checkpoints.release(out, blocking = true)
  }

  test("randomized graphs == brute force (3 seeds)") {
    for (seed <- Seq(47L, 911L, 3030L)) {
      val pairs = (0 until 120).map { i =>
        val a = math.abs((i * 2654435761L + seed) % 40)
        val b = math.abs((i * 48271L + seed * 11L) % 40)
        (math.min(a, b), math.max(a, b) + 1) // avoid self loops
      }.distinct
      val seeds = (0L until 40L by 9L).map(id =>
        (id, s"lab${id % 3}"))
      val got = run(pairs, seeds, 3)
      assert(got == brute(pairs, seeds, 3), s"seed $seed")
    }
  }

  test("seeds never flip; majority wins; ties go to the smallest label") {
    // node 10 sees two 'b' and one 'a' → b; node 20 sees one of each → a
    val pairs = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L), (2L, 20L))
    val seeds = Seq((1L, "a"), (2L, "b"), (3L, "b"))
    val got = run(pairs, seeds, 1)
    assert(got(10L) == (("b", false)))
    assert(got(20L) == (("a", false))) // tie 1-1 → 'a'
    // a seed surrounded by the other label keeps its own
    assert(got(1L) == (("a", true)))
  }

  test("labels reach exactly one hop per round") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val seeds = Seq((1L, "x"))
    val r1 = run(chain, seeds, 1)
    assert(r1.keySet == Set(1L, 2L))
    val r2 = run(chain, seeds, 2)
    assert(r2.keySet == Set(1L, 2L, 3L))
    val r3 = run(chain, seeds, 3)
    assert(r3.keySet == Set(1L, 2L, 3L, 4L))
    assert(r3.values.forall(_._1 == "x"))
  }
}
