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
