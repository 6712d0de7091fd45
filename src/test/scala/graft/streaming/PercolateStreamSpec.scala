package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Search
import graft.plans.Ledger

/** Streaming percolation: stored-query alerts fire over a
  * MemoryStream micro-batch by micro-batch, and a redelivered batch
  * (the crash window) lands NOTHING — alerts are effectively-once. */
class PercolateStreamSpec extends SparkSpec {
  import spark.implicits._

  private def dirs(): (String, String) = (
    java.nio.file.Files.createTempDirectory("graft-perc-t").toString,
    java.nio.file.Files.createTempDirectory("graft-perc-c").toString)

  private val stored = Seq((10L, Seq("alpha", "beta")), (20L, Seq("gamma")))

  test("alerts accumulate across micro-batches; redelivery lands nothing") {
    implicit val sqlCtx = spark.sqlContext
    val queries = stored.toDF("query_id", "terms")
    val (target, ckpt) = dirs()
    val mem = MemoryStream[Doc]
    def run(): Unit = {
      val q = Ledger.sink(mem.toDF(), ckpt)((b, _) =>
          Search.percolateDeltaBatch(b, "doc_id", Seq("text"), queries, target))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData(Doc(1L, "alpha beta gamma"), Doc(2L, "alpha only"))
    run()
    mem.addData(Doc(3L, "gamma ray"), Doc(4L, "beta alpha"))
    run()
    def alerts(): Set[(Long, Long)] = spark.read.parquet(target)
      .select("doc_id", "query_id").as[(Long, Long)].collect().toSet
    val expected = Set((1L, 10L), (1L, 20L), (3L, 20L), (4L, 10L))
    assert(alerts() == expected)
    // crash-window replay: the SAME docs arriving again must not
    // duplicate any alert (insert-if-absent on (doc, query))
    Search.percolateDeltaBatch(
      Seq((1L, "alpha beta gamma"), (4L, "beta alpha"))
        .toDF("doc_id", "text"),
      "doc_id", Seq("text"), queries, target)
    assert(alerts() == expected)
    assert(spark.read.parquet(target).count() == 4L) // no dup rows either
  }

  test("alerts land on (doc, query), not on a joined string key") {
    // with string ids, doc "a:b" x query "c" and doc "a" x query "b:c"
    // are distinct alerts that a ":"-joined key would collide
    val queries = Seq(("c", Seq("alpha")), ("b:c", Seq("beta")))
      .toDF("query_id", "terms")
    val (target, _) = dirs()
    Search.percolateDeltaBatch(Seq(("a:b", "alpha")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), queries, target)
    Search.percolateDeltaBatch(Seq(("a", "beta")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), queries, target)
    def alerts(): Seq[(String, String)] = spark.read.parquet(target)
      .select("doc_id", "query_id").as[(String, String)].collect().toSeq
    assert(alerts().sorted == Seq(("a", "b:c"), ("a:b", "c")))
    // and a redelivery of either still lands nothing
    Search.percolateDeltaBatch(Seq(("a", "beta")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), queries, target)
    assert(alerts().sorted == Seq(("a", "b:c"), ("a:b", "c")))
  }

  test("a malformed compactMaxFiles fails the batch before any write") {
    val queries = stored.toDF("query_id", "terms")
    val (target, _) = dirs()
    Search.percolateDeltaBatch(Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      "doc_id", Seq("text"), queries, target)
    val before = treeBytes(target)
    spark.conf.set("graft.percolate.compactMaxFiles", "twelve")
    val ex = try intercept[IllegalArgumentException] {
      Search.percolateDeltaBatch(Seq((3L, "gamma ray")).toDF("doc_id", "text"),
        "doc_id", Seq("text"), queries, target)
    } finally spark.conf.unset("graft.percolate.compactMaxFiles")
    assert(ex.getMessage.contains("graft.percolate.compactMaxFiles"), ex.getMessage)
    assert(treeBytes(target) == before, "the alert log must be byte-unchanged")
  }

  test("auto-compaction bounds the alert log's files, alerts unchanged") {
    // round 17: percolateDeltaBatch's threshold-triggered compaction —
    // the standing alert log is re-read every micro-batch, so its
    // file count is a per-batch cost; compaction must bound it
    // without changing a single alert.
    val queries = stored.toDF("query_id", "terms")
    val (auto, _) = dirs()
    val (plain, _) = dirs()
    val batches = Seq(
      Seq((1L, "alpha beta gamma"), (2L, "alpha only")),
      Seq((3L, "gamma ray"), (4L, "beta alpha")),
      Seq((5L, "beta alpha again"), (6L, "nothing here")),
      Seq((7L, "gamma burst"), (8L, "alpha beta")))
    def run(target: String): Unit = batches.foreach { b =>
      Search.percolateDeltaBatch(b.toDF("doc_id", "text"),
        "doc_id", Seq("text"), queries, target)
    }
    spark.conf.set("graft.percolate.compactMaxFiles", "1")
    try run(auto) finally spark.conf.unset("graft.percolate.compactMaxFiles")
    spark.conf.set("graft.percolate.compactMaxFiles", "0")
    try run(plain) finally spark.conf.unset("graft.percolate.compactMaxFiles")
    def rows(d: String): Set[(Long, Long, Long)] = spark.read.parquet(d)
      .select("doc_id", "query_id", "n_terms")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows(auto) == rows(plain))
    assert(spark.read.parquet(auto).count() ==
      spark.read.parquet(plain).count())
    val stats = graft.plans.Maintenance.groupStats(spark, auto)
    assert(stats.nonEmpty && stats.map(_.files).max == 1, stats.toString)
    assert(graft.plans.Maintenance.groupStats(spark, plain)
      .map(_.files).max > 1, "control must accumulate files")
  }
}
