package graft.operators

import graft.SparkSpec

/** Connected-components clustering over near-dup pairs — the step that
  * turns pairwise output into keep/drop dedup verdicts. */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("transitive pairs merge into one component") {
    // chain 1-2, 2-3 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("clusterVerdicts keeps exactly one doc per cluster") {
    val pairs = Seq((5L, 9L), (9L, 7L), (2L, 1L)).toDF("id_a", "id_b")
    val v = Dedup.clusterVerdicts(pairs)
      .as[(Long, Long, Boolean)].collect()
    val byComp = v.groupBy(_._2)
    assert(byComp.size == 2)
    byComp.values.foreach { members =>
      assert(members.count(_._3) == 1)
      assert(members.filter(_._3).head._1 == members.map(_._1).min)
    }
  }

  test("local union-find matches the distributed star rounds on a random graph") {
    // round 16: canonical edge sets under graft.cc.localMaxEdges are
    // solved driver-side; conf=0 forces the star rounds on the SAME
    // pairs — the min-id contract makes the outputs row-identical.
    val rnd = new scala.util.Random(16)
    val pairs = Seq.fill(300)(
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    spark.conf.set("graft.cc.localMaxEdges", "0")
    try {
      val dist = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSet
      assert(local == dist)
      assert(local.nonEmpty)
    } finally spark.conf.unset("graft.cc.localMaxEdges")
  }

  /** Min-id components by a plain driver union-find over a map. */
  private def reference(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq(a, b) }
      .map(x => x -> find(x)).toSet
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("pre-contracted rounds = driver union-find = uncontracted rounds, components spanning partitions") {
    import org.apache.spark.sql.functions.{col, greatest, least, spark_partition_id}
    Seq(3, 4, 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // a sparse random graph (many small components, a few large) plus
      // 6 chains of 40 edges, so components have diameter and span the
      // edge partitions
      val edges = Seq.fill(500)((rnd.nextInt(600).toLong, rnd.nextInt(600).toLong)) ++
        (0 until 6).flatMap(c => (0 until 40).map(i =>
          (1000L + 100 * c + i, 1000L + 100 * c + i + 1)))
      val pairs = edges.toDF("id_a", "id_b").repartition(5)
      val expected = reference(edges)
      val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
      withConfs("graft.cc.localMaxEdges" -> "0", "spark.sql.shuffle.partitions" -> "8",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        // the canonical edge set the contraction runs over: ≥ 4
        // partitions, and components whose edges lie in several
        val canon = pairs.filter(col("id_a") =!= col("id_b"))
          .select(greatest(col("id_a"), col("id_b")).as("u"),
            least(col("id_a"), col("id_b")).as("v"))
          .distinct().withColumn("p", spark_partition_id())
          .as[(Long, Long, Int)].collect()
        assert(canon.map(_._3).distinct.length >= 4)
        val compParts = canon.groupBy(e => expected.toMap.apply(e._1)).view
          .mapValues(_.map(_._3).distinct.length)
        assert(compParts.values.count(_ > 1) >= 6)
        val contracted = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
        // int ids skip the contraction: the star rounds on the raw edges
        val uncontracted = Dedup.connectedComponents(
            pairs.select(col("id_a").cast("int"), col("id_b").cast("int")))
          .as[(Int, Int)].collect().map { case (a, b) => (a.toLong, b.toLong) }.toSet
        assert(contracted == expected, s"seed $seed")
        assert(uncontracted == expected, s"seed $seed")
      }
      assert(local == expected, s"seed $seed")
    }
  }

  test("unionFindMin: ascending ids with their component minimum") {
    val (ids, roots) = Dedup.unionFindMin(Array(9L, 7L, 3L, 5L, 4L), Array(7L, 2L, 1L, 4L, 3L), 5)
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 7L, 9L))
    assert(roots.toSeq == Seq(1L, 2L, 1L, 1L, 1L, 2L, 2L))
    val (none, _) = Dedup.unionFindMin(Array.empty, Array.empty, 0)
    assert(none.isEmpty)
  }

  test("distributed rounds release superseded checkpoints; the components read twice") {
    val sc = spark.sparkContext
    val edges = (0 until 4).flatMap(c => (0 until 30).map(i =>
      (100L * c + i, 100L * c + i + 1)))
    val pairs = edges.toDF("id_a", "id_b")
    withConfs("graft.cc.localMaxEdges" -> "0") {
      Seq(pairs, pairs.select($"id_a".cast("int"), $"id_b".cast("int"))).foreach { p =>
        val before = sc.getPersistentRDDs.keySet
        val comps = Dedup.connectedComponents(p).selectExpr("cast(id as long)", "cast(comp as long)")
        // only the last round's table stays: the result reads it
        assert((sc.getPersistentRDDs.keySet -- before).size == 1)
        val first = comps.as[(Long, Long)].collect().toSet
        assert(first == reference(edges))
        assert(comps.as[(Long, Long)].collect().toSet == first)
      }
    }
    val before = sc.getPersistentRDDs.keySet
    Dedup.connectedComponents(pairs).collect()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty) // the local path keeps none
  }

  test("localMaxEdges above the union-find's sizing limit is clamped, not overflowed") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    spark.conf.set("graft.cc.localMaxEdges", Long.MaxValue.toString)
    try {
      assert(Dedup.ccLocalMaxEdges(spark) == Dedup.LocalCcMaxEdges)
      // the id map of the largest edge set the local path admits still
      // sizes to a valid (positive Int) initial capacity
      assert((Dedup.LocalCcMaxEdges * 2).toInt + 16 > 0)
      val comps = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally spark.conf.unset("graft.cc.localMaxEdges")
    spark.conf.set("graft.cc.localMaxEdges", "lots")
    try {
      val e = intercept[IllegalArgumentException](Dedup.connectedComponents(pairs))
      assert(e.getMessage.contains("graft.cc.localMaxEdges must be an integer edge count"))
    } finally spark.conf.unset("graft.cc.localMaxEdges")
  }

  test("end-to-end: minhash pairs -> clusters on the planted corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = DedupApprox.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
    val verdicts = Dedup.clusterVerdicts(pairs)
    val ids = pairs.select($"id_a").union(pairs.select($"id_b")).distinct().count()
    val kept = verdicts.filter($"keep").count()
    val comps = verdicts.select($"comp").distinct().count()
    assert(verdicts.count() == ids)   // every paired doc got a verdict
    assert(kept == comps)             // exactly one keeper per cluster
    assert(kept < ids && kept > 0)    // something was actually dropped
  }

  test("multi-probe LSH recalls at least the single-probe set") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") =!= 0)
    val q = Seq.tabulate(64)(i => math.sin(i + 1))
    val single = Similarity.topKLsh(emb, "vec_id", "embedding", q, 10,
      numPlanes = 4, multiProbe = 0).count()
    val multi = Similarity.topKLsh(emb, "vec_id", "embedding", q, 10,
      numPlanes = 4, multiProbe = 1).count()
    assert(multi >= single)
  }
}
