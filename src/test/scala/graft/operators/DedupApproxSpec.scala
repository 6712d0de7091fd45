package graft.operators

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.DataFrame
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

  private def bandRows(rows: Seq[(Long, Seq[Long])]) = rows.toDF("id", "bh")

  test("firstBandCandidates: a capped lower band does not hide a higher-band pair, which comes out once") {
    // bucket (0, 5) holds docs 1, 2 and three fillers: over a cap of 3.
    // 1 and 2 also share (1, 7) and (2, 9), both uncapped.
    val rows = Seq(1L -> Seq(5L, 7L, 9L), 2L -> Seq(5L, 7L, 9L)) ++
      (10L to 12L).map(i => i -> Seq(5L, 100L + i, 200L + i))
    val out = DedupApprox.firstBandCandidates(bandRows(rows), maxBucket = 3)
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
  }

  test("firstBandCandidates: a pair that collides only in capped buckets is not emitted") {
    // 3 and 4 share only (0, 6), which five docs crowd past the cap
    val rows = Seq(3L -> Seq(6L, 31L, 41L), 4L -> Seq(6L, 32L, 42L)) ++
      (20L to 22L).map(i => i -> Seq(6L, 100L + i, 200L + i))
    val out = DedupApprox.firstBandCandidates(bandRows(rows), maxBucket = 3).collect()
    assert(out.isEmpty)
  }

  test("firstBandCandidates = every pair of keys whose rows share an uncapped bucket, each once") {
    val rnd = new scala.util.Random(8)
    // 4 bands over a small hash range: many multi-band collisions, and
    // some buckets over a cap of 6. Every third key comes twice: on an
    // identical row (even keys) or on a row of its own (odd keys)
    val base = (0L until 80L).map(i => i -> Seq.fill(4)(rnd.nextInt(12).toLong))
    val rows = base ++ base.filter(_._1 % 3 == 0).map { case (i, bh) =>
      i -> (if (i % 2 == 0) bh else Seq.fill(4)(rnd.nextInt(12).toLong)) }
    val size = rows.flatMap { case (_, bh) => bh.zipWithIndex }
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected = (for {
      (a, ba) <- rows; (b, bb) <- rows if a < b
      if ba.indices.exists(k => ba(k) == bb(k) && size((ba(k), k)) <= 6)
    } yield (a, b)).toSet
    val out = DedupApprox.firstBandCandidates(bandRows(rows), maxBucket = 6)
      .as[(Long, Long)].collect()
    assert(expected.nonEmpty && size.values.exists(_ > 6))
    assert(out.toSet == expected)
    // only a key whose rows differ may repeat a pair
    val differing = (3L until 80L by 6).toSet
    val once = out.filterNot { case (a, b) => differing(a) || differing(b) }
    assert(once.length == once.toSet.size)
  }

  test("firstBandCandidates: a key on two rows keeps its bands, so a higher-band pair still comes out") {
    // doc 1 arrives twice; doc 2 collides with it in band 2 only
    val twice = Seq(1L -> Seq(5L, 7L, 9L, 11L), 1L -> Seq(5L, 7L, 9L, 11L),
      2L -> Seq(50L, 70L, 9L, 12L))
    val out = DedupApprox.firstBandCandidates(bandRows(twice), maxBucket = 3)
      .as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
    // doc 3's two rows differ; doc 4 collides with its second row in
    // band 3 only, doc 5 with its first row in band 1 only
    val differing = Seq(3L -> Seq(1L, 2L, 3L, 4L), 3L -> Seq(10L, 20L, 30L, 40L),
      4L -> Seq(91L, 92L, 93L, 40L), 5L -> Seq(81L, 2L, 83L, 84L))
    val out2 = DedupApprox.firstBandCandidates(bandRows(differing), maxBucket = 3)
      .as[(Long, Long)].collect()
    assert(out2.toSet == Set((3L, 4L), (3L, 5L)))
  }

  test("minhashPairs: a redelivered doc still pairs with its near-dup") {
    val twice = corpus.unionByName(corpus.filter($"doc_id" === 1))
    val pairs = DedupApprox.minhashPairs(twice, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("minhashPairs candidates: no aggregate over (id_a, id_b), every stage at least as wide as the cores") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val rnd = new scala.util.Random(9)
    val cand = DedupApprox.firstBandCandidates(
      bandRows((0L until 40L).map(i => i -> Seq.fill(4)(rnd.nextInt(5).toLong))), maxBucket = 500)
    cand.collect()
    val plan = cand.queryExecution.executedPlan
    val keyed = collect(plan) { case a: BaseAggregateExec =>
      a.groupingExpressions.map(_.references.map(_.name).toSet).reduceOption(_ ++ _)
        .getOrElse(Set.empty[String]) }
    assert(keyed.nonEmpty && keyed.forall(k => !k.contains("id_a") && !k.contains("id_b")))
    // the configured shuffle width, floored at the default parallelism
    def widths(shufflePartitions: Int): Seq[Int] = {
      val was = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      try {
        val c = DedupApprox.firstBandCandidates(
          bandRows((0L until 40L).map(i => i -> Seq.fill(4)(rnd.nextInt(5).toLong))), maxBucket = 500)
        c.collect()
        collect(c.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e.numPartitions
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", was)
    }
    val cores = spark.sparkContext.defaultParallelism
    assert(widths(cores + 3) == Seq.fill(3)(cores + 3))
    assert(widths(1) == Seq.fill(3)(cores))
  }

  test("sorted-merge Jaccard = the array_union/array_intersect Jaccard, empty and one-sided sets too") {
    val rnd = new scala.util.Random(10)
    def set() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(20).toLong).distinct.sorted
    val cases = Seq((Seq.empty[Long], Seq.empty[Long]), (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(3L), Seq.empty[Long]), (Seq(1L, 2L), Seq(1L, 2L))) ++ Seq.fill(200)((set(), set()))
    val df = cases.toDF("a", "b")
    val union = size(array_union($"a", $"b"))
    val got = df.select(
        graft.functions.SortedJaccardExpr($"a", $"b"),
        when(union > 0, size(array_intersect($"a", $"b")).cast("double") / union))
      .as[(Option[Double], Option[Double])].collect()
    assert(got.length == cases.length)
    assert(got.take(4).map(_._1).toSeq == Seq(None, Some(0.0), Some(0.0), Some(1.0)))
    got.foreach { case (merge, arrayOps) =>
      assert(merge.map(java.lang.Double.doubleToRawLongBits) ==
        arrayOps.map(java.lang.Double.doubleToRawLongBits))
    }
  }

  test("shingle hashes are ascending and distinct") {
    val sh = DedupApprox.shingleHashesOf("a b c a b c a b c d", 3)
    assert(sh.toSeq == sh.toSeq.distinct.sorted && sh.length == 4)
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

  // ---- minhashEdges: a spanning forest of the verified pairs --------------

  /** The member ids of every LSH bucket of two or more docs: the
    * buckets minhashEdges walks. */
  private def bucketsOf(docs: DataFrame, bands: Int, maxBucket: Int): Seq[Seq[Long]] =
    DedupApprox.lshBuckets(docs.filter($"doc_id".isNotNull)
        .select($"doc_id".as("id"), DedupApprox.bandKeys($"text", 3, 64, bands).as("bh")),
        maxBucket)
      .select($"ms.id").as[Seq[Long]].collect().toSeq.filter(_.size > 1)

  /** minhashEdges against minhashPairs on `docs`: the connected
    * components over both are equal row for row, every edge is a
    * verified pair with its Jaccard, and there are at most
    * Σ(|bucket| − 1) edges, none of them twice unless an end is a key
    * on several rows. Returns the buckets, the edges and the
    * pair count. */
  private def sameComponents(docs: DataFrame, threshold: Double, bands: Int = 16,
                             maxBucket: Int = 500)
      : (Seq[Seq[Long]], Seq[(Long, Long, Double)], Int) = {
    val pairs = DedupApprox.minhashPairs(docs, "doc_id", "text", bands = bands,
      threshold = threshold, maxBucket = maxBucket)
    val edges = DedupApprox.minhashEdges(docs, "doc_id", "text", bands = bands,
      threshold = threshold, maxBucket = maxBucket)
    try {
      val want = Dedup.connectedComponents(pairs).orderBy("id").collect().toSeq
      val got = Dedup.connectedComponents(edges).orderBy("id").collect().toSeq
      assert(got == want)
      val p = pairs.as[(Long, Long, Double)].collect().toSet
      val e = edges.as[(Long, Long, Double)].collect().toSeq
      assert(e.toSet.subsetOf(p), (e.toSet -- p).take(5))
      // only a key on several rows may repeat an edge, as in minhashPairs
      val multi = docs.groupBy("doc_id").count().filter($"count" > 1)
        .select("doc_id").as[Option[Long]].collect().flatten.toSet
      val once = e.filterNot { case (a, b, _) => multi(a) || multi(b) }
      assert(once.size == once.toSet.size)
      val bs = bucketsOf(docs, bands, maxBucket)
      assert(e.size <= bs.map(_.size - 1).sum)
      (bs, e, p.size)
    } finally Checkpoints.release(edges)
  }

  /** The components of edges `(a, b, _)`: id → its component's min id. */
  private def componentsOf(e: Seq[(Long, Long, Double)]): Map[Long, Long] = {
    val ids = e.flatMap(x => Seq(x._1, x._2)).distinct.sorted.toArray
    val (nodes, roots) = Dedup.unionFindMin(e.map(_._1).toArray, e.map(_._2).toArray, e.size)
    assert(nodes.toSeq == ids.toSeq)
    nodes.zip(roots).toMap
  }

  test("minhashEdges: minhashPairs' components on the spec corpus") {
    val (_, e, _) = sameComponents(corpus, threshold = 0.5)
    assert(e.map(x => (x._1, x._2)).toSet == Set((1L, 2L), (3L, 4L)))
  }

  test("minhashEdges: minhashPairs' components on the clique, in a spanning forest") {
    val (_, e, pairs) = sameComponents(cliqueDocs.toDF("doc_id", "text"), threshold = 0.5)
    assert(pairs >= 60 * 59 / 2)
    assert(e.size >= 59 && e.size * 10 < pairs, s"${e.size} edges for $pairs pairs")
    assert(componentsOf(e).filter(_._1 < 60).values.toSet == Set(0L))
  }

  /** `n` words of group `g` from index `from`: groups share no word. */
  private def words(g: String, from: Int, n: Int): String =
    (from until from + n).map(i => s"$g$i").mkString(" ")

  // Bucket shapes, at 64 bands of one row each: a pair with a Jaccard of
  // 0.2 shares some bucket with probability 1 − 0.8^64 > 0.9999
  private lazy val shapes: DataFrame = {
    // a chain: each doc shifts a 40-word window by 4 words, so a doc
    // verifies with the docs up to two steps away (0.81, 0.65) and not
    // with the rest (0.52 at three steps, 0.31 end to end)
    val chain = (0 until 6).map(i => (Option(10L + i), words("c", 4 * i, 40)))
    // doc 20 shares 14 of its shingles with each of 21–24 (Jaccard
    // 0.22), which are near-duplicates of each other (0.90)
    val minFails = (Option(20L), words("m", 0, 16) + " " + words("x", 0, 24)) +:
      (21L to 24L).map(i => (Option(i), words("m", 0, 40) + s" tail$i"))
    // exact duplicates and a near-duplicate of them
    val dups = (30L to 32L).map(i => (Option(i), words("d", 0, 30))) :+
      ((Option(33L), words("d", 0, 30) + " extra"))
    // ten identical docs: each of their buckets is over the cap of 8
    val capped = (40L to 49L).map(i => (Option(i), words("k", 0, 30)))
    // null ids; empty, blank, punctuation-only and null texts
    val odd = Seq((None, words("m", 0, 40)), (None, ""), (Option(50L), ""),
      (Option(51L), "  "), (Option(52L), null), (Option(53L), "!!"))
    // key 60 on two rows, one a near-duplicate of 61, the other of 62;
    // key 63 on two rows, neither of them one of 64 (0.47 each)
    val twoRows = Seq((Option(60L), words("p", 0, 30)), (Option(60L), words("q", 0, 30)),
      (Option(61L), words("p", 0, 30) + " p"), (Option(62L), words("q", 0, 30) + " q"),
      (Option(63L), words("r", 0, 30)), (Option(63L), words("r", 20, 30)),
      (Option(64L), words("r", 10, 30)))
    (chain ++ minFails ++ dups ++ capped ++ odd ++ twoRows).toDF("doc_id", "text")
  }

  test("minhashEdges: minhashPairs' components on chains, failed minima, duplicates, caps, odd rows and two-row keys") {
    val (bs, e, _) = sameComponents(shapes, threshold = 0.6, bands = 64, maxBucket = 8)
    // the shapes are there: a bucket whose minimum fails with the rest,
    // a chain bucket holding both ends, no bucket of the capped docs
    assert(bs.exists(b => b.min == 20L && b.count(i => i >= 21L && i <= 24L) >= 2))
    assert(bs.exists(b => b.contains(10L) && b.contains(15L)))
    assert(!bs.exists(_.exists(i => i >= 40L && i <= 49L)))
    assert(bs.exists(b => Set(50L, 51L, 52L, 53L).subsetOf(b.toSet)))
    assert(bs.exists(b => b.contains(63L) && b.contains(64L)))
    val comp = componentsOf(e)
    val expected = Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      15L -> 10L, 21L -> 21L, 22L -> 21L, 23L -> 21L, 24L -> 21L, 30L -> 30L, 31L -> 30L,
      32L -> 30L, 33L -> 30L, 60L -> 60L, 61L -> 60L, 62L -> 60L)
    assert(comp == expected)
  }

  test("minhashEdges: minhashPairs' components on a random 500-doc corpus") {
    val rnd = new scala.util.Random(21)
    val bases = Seq.fill(40)(Array.fill(30)(s"v${rnd.nextInt(3000)}"))
    val docs = (0 until 500).map { i =>
      val b = bases(rnd.nextInt(bases.size)).clone()
      (0 until rnd.nextInt(14)).foreach(_ => b(rnd.nextInt(b.length)) = s"v${rnd.nextInt(3000)}")
      (Option(i.toLong).filter(_ => i % 83 != 5), if (i % 71 == 3) "" else b.mkString(" "))
    } ++ (0 until 500 by 37).map(i => (Option(i.toLong), bases(i % 40).mkString(" ") + " again"))
    val df = docs.toDF("doc_id", "text")
    val (_, e, pairs) = sameComponents(df, threshold = 0.5)
    assert(e.nonEmpty && e.toSet.size < pairs, s"${e.toSet.size} edges for $pairs pairs")
    sameComponents(df, threshold = 0.8, maxBucket = 6)
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
