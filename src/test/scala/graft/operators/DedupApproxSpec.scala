package graft.operators

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import graft.SparkSpec

class DedupApproxSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and columnar formats"),
    (4L, "completely different content about spark query engines and columnar format"), // near-dup of 3
    (5L, "an unrelated sentence mentioning databases and distributed systems design")
  ).toDF("doc_id", "text")

  test("shingles: sliding word n-grams, distinct") {
    val sh = corpus.filter($"doc_id" === 5)
      .select(DedupApprox.shingles($"text", 3)).as[Seq[String]].head()
    assert(sh.contains("an unrelated sentence"))
    assert(sh.forall(_.split(" ").length == 3))
  }

  test("minhashPairs finds exactly the planted near-dup pairs") {
    val pairs = DedupApprox.minhashPairs(corpus, "doc_id", "text",
      threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("minhash jaccard estimate is close to exact") {
    val j = DedupApprox.minhashPairs(corpus, "doc_id", "text", threshold = 0.1)
      .filter($"id_a" === 1 && $"id_b" === 2)
      .select("jaccard").as[Double].head()
    assert(j > 0.6 && j < 1.0) // 11 of 13 shingles shared
  }

  // one clique of 60 docs that differ only in their last word (pairs
  // grow with the square of cluster size, docs linearly) + unrelated docs
  private lazy val cliqueDocs: Seq[(Long, String)] = {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val rnd = new scala.util.Random(7)
    (0L until 60L).map(i => (i, s"$base last$i")) ++
      (100L until 140L).map(i =>
        (i, Seq.fill(30)("u" + rnd.nextInt(5000)).mkString(" ")))
  }

  test("minhashPairs on a clique: every pair, driver-exact jaccard, both join modes") {
    val docs = cliqueDocs.toDF("doc_id", "text")
    def run(bc: Boolean) = DedupApprox.minhashPairs(docs, "doc_id", "text",
        threshold = 0.5, broadcastCandidates = bc)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val pairs = run(bc = true)
    val clique = (for (a <- 0L until 60L; b <- (a + 1) until 60L) yield (a, b)).toSet
    assert(clique.size == 60 * 59 / 2)
    assert(pairs.map(p => (p._1, p._2)).toSet.intersect(clique) == clique)
    val sh = cliqueDocs.map { case (id, t) =>
      id -> DedupApprox.shingleHashesOf(t, 3).toSet }.toMap
    pairs.foreach { case (a, b, j) =>
      val exact = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      assert(java.lang.Double.doubleToRawLongBits(j) ==
        java.lang.Double.doubleToRawLongBits(exact), s"($a, $b): $j vs $exact")
    }
    assert(run(bc = false).toSet == pairs.toSet)
  }

  test("minhashPairs plan: shingle table built once and broadcast, pairs stream") {
    val pairs = DedupApprox.minhashPairs(cliqueDocs.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan
    // one shingle-UDF projection; the second probe reuses its broadcast
    val udfProjects = collect(plan) {
      case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[ScalaUDF])) => p
    }
    assert(udfProjects.size == 1)
    assert(collect(plan) {
      case r: ReusedExchangeExec if r.child.isInstanceOf[BroadcastExchangeExec] => r
    }.size == 1)
    // the candidate pair set is never a broadcast build side
    val builds = collect(plan) { case b: BroadcastExchangeExec => b.output.map(_.name) }
    assert(builds.nonEmpty && builds.forall(o => !o.contains("id_a") && !o.contains("id_b")))
  }

  test("simhashPairs finds the near-dups and not the unrelated doc") {
    val pairs = DedupApprox.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 12, chunks = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 4L)))
    assert(!pairs.contains((1L, 5L)) && !pairs.contains((2L, 5L)))
  }

  test("jaccardPairs is exact") {
    val pairs = DedupApprox.jaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (3L, 4L)))
    pairs.foreach(p => assert(p._3 > 0.5 && p._3 < 1.0))
  }

  test("identical docs get jaccard 1.0") {
    val dup = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g")).toDF("doc_id", "text")
    val j = DedupApprox.jaccardPairs(dup, "doc_id", "text", threshold = 0.9)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),     // cos 1 with query
    (2L, Array(0.0f, 1.0f, 0.0f)),     // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f)),    // opposite
    (4L, Array(1.0f, 1.0f, 0.0f))      // cos ~0.707
  ).toDF("vec_id", "embedding")

  test("cosine: known geometry") {
    val out = Similarity.topKBruteForce(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 5).as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-9)
    assert(math.abs(out(2L)) < 1e-9)
    assert(math.abs(out(3L) + 1.0) < 1e-9)
    assert(math.abs(out(4L) - math.sqrt(0.5)) < 1e-9)
  }

  test("top-k order and size") {
    val top2 = Similarity.topKBruteForce(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 2).as[(Long, Double)].collect()
    assert(top2.length == 2)
    assert(top2.head._1 == 0L || top2.head._1 == 1L) // cos=1 ties broken by id
    assert(top2.map(_._2).toSeq == top2.map(_._2).sorted.reverse.toSeq)
  }

  test("lsh bucket: identical vectors share a bucket; query finds its twin") {
    val planes = Similarity.hyperplanes(3, 4)
    val b = Similarity.withBucket(vecs, "embedding", planes)
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    assert(b(0L) == b(1L))
    val top = Similarity.topKLsh(vecs.filter($"vec_id" =!= 0), "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 3, numPlanes = 4).as[(Long, Double)].collect()
    assert(top.map(_._1).contains(1L))
  }

  test("nearDupPairs finds the identical pair") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, numPlanes = 4, dim = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }
}
