package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Analyzer
import graft.sources.Tables

/** How the index reads and writes in few jobs: the per-doc postings
  * build equals the groupBy form, the driver stats fold equals the
  * Spark fold, the typed reads refuse a foreign layout, and a `topK`
  * and an `appendBatch` stay within their job budgets. */
class InvertedIndexReadsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---- per-doc postings -------------------------------------------------

  /** Posting rows as comparable tuples, sorted. */
  private def rowsOf(post: DataFrame): Seq[(String, Long, Long, Long, Seq[Int])] =
    post.select("term", "doc_id", "tf", "dl", "positions")
      .as[(String, Long, Long, Long, Seq[Int])].collect().toSeq
      .sortBy(r => (Option(r._1), r._2))

  private def bothForms(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = Analyzer.tokenize(concat_ws(" ", col("text")))
    (InvertedIndex.postings(docs, "id", Seq("text")),
      InvertedIndex.docPostings(docs.select(col("id"), toks.as("__toks")),
        col("id"), col("__toks")))
  }

  test("per-doc postings equal the groupBy(term, doc_id) form row for row") {
    val docs = Seq[(Long, String)](
      (1L, "spark fast spark and fast spark"),       // repeated tokens
      (2L, "   !!! ... "),                            // zero tokens
      (3L, null),                                     // null text
      (4L, "Café naïve 日本語 café RÉSUMÉ resume"),   // non-ASCII
      (5L, ""),
      (6L, "one"),
      (7L, "it's it's its don't"))
      .toDF("id", "text")
    val (grouped, perDoc) = bothForms(docs)
    val want = rowsOf(grouped)
    assert(want.exists(_._3 > 1) && want.map(_._2).toSet == Set(1L, 4L, 6L, 7L))
    assert(rowsOf(perDoc) == want)
    assert(perDoc.schema.map(f => f.name -> f.dataType) ==
      grouped.schema.map(f => f.name -> f.dataType))
    // and over a real corpus
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").as("id"), col("text"))
    val (g2, d2) = bothForms(corpus)
    assert(rowsOf(d2) == rowsOf(g2))
  }

  test("appendBatch rejects two ids that cast to one doc_id, before any write") {
    val d = tmp("graft-idx-clash")
    InvertedIndex.appendBatch(Seq(("7", "seven words")).toDF("id", "text"),
      "id", Seq("text"), d)
    val before = treeBytes(d)
    val ex = intercept[IllegalArgumentException] {
      InvertedIndex.appendBatch(Seq(("1", "one"), ("01", "one again")).toDF("id", "text"),
        "id", Seq("text"), d)
    }
    assert(ex.getMessage.contains("doc_id 1"), ex.getMessage)
    assert(treeBytes(d) == before, "the index dir must be byte-unchanged")
    // distinct string ids still append
    InvertedIndex.appendBatch(Seq(("1", "one"), ("2", "two")).toDF("id", "text"),
      "id", Seq("text"), d)
    assert(InvertedIndex.readStats(spark, d).nDocs.contains(3L))
  }

  // ---- the stats fold ----------------------------------------------------

  /** The fold as the Spark aggregate computed it before the driver fold. */
  private def sparkFold(stats: DataFrame): Row =
    stats.dropDuplicates("batch_key", "n_docs", "sum_dl")
      .agg(sum(col("n_docs")), sum(col("sum_dl")), max(col("num_buckets")))
      .head()

  private def asRow(s: InvertedIndex.Stats): Row =
    Row(s.nDocs.map(Long.box).orNull, s.sumDl.map(Long.box).orNull,
      s.numBuckets.map(Int.box).orNull)

  private def statsDir(rows: Seq[Row]): String = {
    val d = tmp("graft-idx-stats")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), InvertedIndex.StatsSchema)
      .write.mode("overwrite").parquet(s"$d/stats")
    d
  }

  test("the driver stats fold equals the Spark fold") {
    // a torn append's copy, and a partial equal to another but its key
    val partials = Seq(Row(10L, 100L, 7L, 64), Row(5L, 40L, 8L, 64),
      Row(5L, 40L, 8L, 64), Row(10L, 100L, 9L, 64))
    val d = statsDir(partials)
    assert(asRow(InvertedIndex.readStats(spark, d)) ==
      sparkFold(spark.read.parquet(s"$d/stats")))
    assert(InvertedIndex.readStats(spark, d) ==
      InvertedIndex.Stats(Some(25L), Some(240L), Some(64)))
    // an empty writeIndex: n_docs 0 and a null sum_dl
    val empty = tmp("graft-idx-empty")
    InvertedIndex.writeIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", Seq("text"), empty)
    val folded = InvertedIndex.readStats(spark, empty)
    assert(folded.sumDl.isEmpty && folded.nDocs.contains(0L))
    assert(asRow(folded) == sparkFold(spark.read.parquet(s"$empty/stats")))
    assert(InvertedIndex.scored(spark, empty, Seq("any")).isEmpty)
    // an empty dir: no partial, no layout
    val none = tmp("graft-idx-none")
    assert(asRow(InvertedIndex.readStats(spark, none)) ==
      sparkFold(spark.createDataFrame(java.util.Collections.emptyList[Row](),
        InvertedIndex.StatsSchema)))
    assert(intercept[IllegalArgumentException](
      InvertedIndex.scored(spark, none, Seq("any"))).getMessage.contains("no index"))
    // an overflowing sum fails both ways
    val big = statsDir(Seq(Row(Long.MaxValue, 1L, 1L, 64), Row(1L, 1L, 2L, 64)))
    intercept[ArithmeticException](InvertedIndex.readStats(spark, big))
    intercept[ArithmeticException](sparkFold(spark.read.parquet(s"$big/stats")))
  }

  // ---- typed reads ---------------------------------------------------------

  test("a typed read of a dir written with another layout fails loudly") {
    def layoutError(f: => Any): String =
      intercept[IllegalStateException](f).getMessage
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")

    // stats without batch_key, and with num_buckets widened to a long
    val noKey = tmp("graft-idx-lay1")
    Seq((2L, 4L, 64)).toDF("n_docs", "sum_dl", "num_buckets")
      .write.parquet(s"$noKey/stats")
    assert(layoutError(InvertedIndex.readStats(spark, noKey)).contains("batch_key"))
    val wide = tmp("graft-idx-lay2")
    Seq((2L, 4L, 0L, 64L)).toDF("n_docs", "sum_dl", "batch_key", "num_buckets")
      .write.parquet(s"$wide/stats")
    assert(layoutError(InvertedIndex.readStats(spark, wide)).contains("num_buckets"))

    // postings without positions, under a valid stats ledger
    val built = tmp("graft-idx-lay3")
    InvertedIndex.writeIndex(docs, "doc_id", Seq("text"), built)
    val noPos = tmp("graft-idx-lay3n")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(s"$built/stats"),
      new java.io.File(s"$noPos/stats"))
    spark.read.parquet(s"$built/postings").drop("positions")
      .write.partitionBy("bucket").parquet(s"$noPos/postings")
    assert(layoutError(InvertedIndex.topK(spark, noPos, Seq("beta")))
      .contains("positions"))

    // a seen-ids ledger keyed by another column
    val otherIds = tmp("graft-idx-lay4")
    InvertedIndex.appendBatch(docs, "doc_id", Seq("text"), otherIds)
    Seq("x").toDF("id").write.mode("overwrite").parquet(s"$otherIds/seenIds")
    assert(layoutError(InvertedIndex.appendBatch(docs, "doc_id", Seq("text"), otherIds))
      .contains("doc_id"))

    // keyword postings without value, under a valid index
    val kw = tmp("graft-idx-lay5")
    InvertedIndex.writeIndex(docs.withColumn("tag", lit("t")), "doc_id", Seq("text"), kw,
      keywordCols = Seq("tag"))
    val noValue = tmp("graft-idx-lay5n")
    Seq("stats", "postings").foreach(d => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$kw/$d"), new java.io.File(s"$noValue/$d")))
    spark.read.parquet(s"$kw/keywords").drop("value")
      .write.partitionBy("bucket").parquet(s"$noValue/keywords")
    assert(layoutError(InvertedIndex.filteredScored(spark, noValue, Seq("beta"),
      Seq("tag" -> "t"))).contains("value"))
    // an index built without keyword columns has no keyword postings
    intercept[IllegalArgumentException](
      InvertedIndex.filteredScored(spark, built, Seq("beta"), Seq("tag" -> "t")))
  }

  // ---- job-count guard -----------------------------------------------------

  /** The Spark jobs `f` submits, counted under a job group of its own
    * (pool threads that `f` starts inherit it). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-guard-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    sc.setJobGroup(group, "job-count guard")
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
      sc.removeSparkListener(counter)
    }
    n.get()
  }

  test("a 1-term topK and one appendBatch stay within their job budgets") {
    val d = tmp("graft-idx-jobs")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    InvertedIndex.appendBatch(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", Seq("text"), d)
    // the stats job, then one read → score → top-k query
    val topK = jobsOf(InvertedIndex.topK(spark, d, Seq("spark"), k = 10).collect())
    assert(topK <= 4, s"topK ran $topK jobs")
    // stats, the fresh set, the segment write, the stats partial and
    // the ids write; the fold and compaction stay under their thresholds
    val append = jobsOf(InvertedIndex.appendBatch(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", Seq("text"), d))
    assert(append <= 9, s"appendBatch ran $append jobs")
  }

  test("a 2-filter filteredScored reads its keyword legs typed: fewer jobs, the same answers") {
    val d = tmp("graft-idx-filt2")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    InvertedIndex.writeIndex(docs, "doc_id", Seq("text"), d, keywordCols = Seq("source", "lang"))
    val terms = Seq("dup", "window", "scan")
    val filters = Seq("source" -> "src1", "lang" -> "en")
    // the inferred-schema legs these reads replaced
    def inferred(fs: Seq[(String, String)]): DataFrame =
      fs.foldLeft(InvertedIndex.scored(spark, d, terms)) { case (acc, (f, v)) =>
        acc.join(spark.read.parquet(s"$d/keywords")
          .filter(col("bucket") === InvertedIndex.bucketOf(concat(lit(f), lit(":"), lit(v)), 64))
          .filter(col("field") === f && col("value") === v)
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
      }
    def rows(df: DataFrame): Seq[(Long, Double)] =
      df.as[(Long, Double)].collect().toSeq.sorted
    val typedJobs = jobsOf(InvertedIndex.filteredScored(spark, d, terms, filters).collect())
    val inferredJobs = jobsOf(inferred(filters).collect())
    assert(typedJobs < inferredJobs, s"$typedJobs jobs, inferred legs $inferredJobs")
    val got = rows(InvertedIndex.filteredScored(spark, d, terms, filters))
    assert(got.nonEmpty && got == rows(inferred(filters)))
    Seq(Seq("source" -> "src1"), Seq("lang" -> "xx"), Seq("source" -> "src2", "source" -> "src1"))
      .foreach(fs => assert(rows(InvertedIndex.filteredScored(spark, d, terms, fs)) ==
        rows(inferred(fs))))
  }
}
