package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.Ledger
import graft.sources.Tables

/** The inverted index at rest: serving equals the scan-time BM25
  * bit-for-bit, the postings read partition-prunes to the query's
  * buckets, and incremental maintenance (append + redelivery + the
  * crash window's duplicate postings + the segment fold) never
  * changes the answer. */
class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("dup", "window", "scan")

  private def freshIndex(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-spec").toString
    InvertedIndex.writeIndex(Tables.documents(spark, dir), "doc_id",
      Seq("text"), d)
    d
  }

  private def scanScores(): Map[Long, Double] =
    Search.bm25Scored(Tables.documents(spark, dir), Seq("text"), terms)
      .select(col("doc_id").cast("long"), col("score"))
      .as[(Long, Double)].collect().toMap

  private def indexScores(d: String): Map[Long, Double] =
    InvertedIndex.scored(spark, d, terms)
      .as[(Long, Double)].collect().toMap

  private def withMaxFiles[T](v: String)(f: => T): T = {
    spark.conf.set("graft.index.compactMaxFiles", v)
    try f finally spark.conf.unset("graft.index.compactMaxFiles")
  }

  private def segmentDir(d: String): String =
    s"$d/postings/bucket=${InvertedIndex.SegmentBucket}"

  private def segmentFiles(d: String): Seq[org.apache.hadoop.fs.Path] =
    graft.plans.Maintenance.dataFiles(spark, segmentDir(d))

  /** The `bucket=N` dirs of the bucket layout (the segment excluded). */
  private def bucketDirs(d: String): Seq[String] =
    graft.plans.Maintenance.groupStats(spark, s"$d/postings").map(_.part)
      .filter(_ != s"bucket=${InvertedIndex.SegmentBucket}")

  /** `doc_id % 3` slices appended one batch each. */
  private def appendThirds(d: String): Unit = {
    val docs = Tables.documents(spark, dir)
    Seq(0L, 1L, 2L).foreach { sl =>
      InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === sl),
        "doc_id", Seq("text"), d)
    }
  }

  private def bits(rows: Seq[(Long, Double)]): Seq[(Long, Long)] =
    rows.map { case (id, s) => id -> java.lang.Double.doubleToLongBits(s) }

  /** Every kind of served answer, scores as raw double bits. */
  private def answers(d: String): Seq[Iterable[Any]] = Seq(
    bits(InvertedIndex.scored(spark, d, terms).as[(Long, Double)]
      .collect().toSeq).toSet,
    bits(InvertedIndex.topK(spark, d, terms, k = 20).as[(Long, Double)]
      .collect().toSeq),
    InvertedIndex.booleanQuery(spark, d, Seq("dup", "window"), Seq("vector"))
      .as[(Long, Long)].collect().toSet,
    InvertedIndex.phraseCount(spark, d, Seq("fast", "spark"))
      .as[(Long, Long)].collect().toSet,
    InvertedIndex.minSpan(spark, d, Seq("fast", "spark"))
      .as[(Long, Long)].collect().toSet)

  /** The index over the corpus, three ways: one-shot, appended with no
    * fold (the default threshold), appended with the third batch
    * folding the segment into the buckets (threshold 2). */
  private lazy val (oneShotIdx, youngIdx, foldedIdx) = {
    val young = java.nio.file.Files.createTempDirectory("graft-idx-yg").toString
    val folded = java.nio.file.Files.createTempDirectory("graft-idx-fd").toString
    appendThirds(young)
    withMaxFiles("2")(appendThirds(folded))
    (freshIndex(), young, folded)
  }

  test("index-served scores are bit-identical to the scan path") {
    val d = freshIndex()
    val scan = scanScores()
    val idx = indexScores(d)
    // every candidate matches the scan score EXACTLY (same doubles)
    idx.foreach { case (id, s) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(scan(id)),
        s"doc $id: index $s vs scan ${scan(id)}")
    }
    // and every positive scan score IS a candidate (nothing missed)
    val positives = scan.filter(_._2 > 0.0).keySet
    assert(positives.subsetOf(idx.keySet),
      s"missing candidates: ${(positives -- idx.keySet).take(5)}")
  }

  test("postings read partition-prunes to the query terms' buckets") {
    val d = freshIndex()
    val pruned = InvertedIndex.readPostings(spark, d, terms, 64)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition filter in:\n$plan")
    // input_file_name proof on the pre-dedup scan (provenance does
    // not survive the dedup shuffle): ≤ one bucket dir per term
    val raw = spark.read.parquet(s"$d/postings")
      .filter(terms.map(t =>
          col("bucket") === InvertedIndex.bucketOf(lit(t), 64))
        .reduce(_ || _))
    val dirs = raw.select(input_file_name().as("f")).distinct()
      .as[String].collect()
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(dirs.nonEmpty && dirs.length <= terms.length,
      s"expected ≤${terms.length} bucket dirs, touched ${dirs.length}")
    assert(dirs.forall(_.contains("bucket=")), dirs.mkString(","))
    // the LISTING is pruned too: the scan's file index is rooted at the
    // query's bucket dirs, never at the 64-dir postings root
    val roots = pruned.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths
    }.flatten
    assert(roots.nonEmpty && roots.length <= terms.length &&
      roots.forall(_.getName.startsWith("bucket=")), roots.mkString(","))
    // the driver-side bucket ids naming those dirs are bucketOf's
    val probe = terms ++ Seq("", "ünïcödé", "日本語", "a" * 100)
    val viaSpark = spark.range(1)
      .select(probe.map(t => InvertedIndex.bucketOf(lit(t), 64)): _*).head()
    probe.zipWithIndex.foreach { case (t, i) =>
      assert(InvertedIndex.bucketId(t, 64) == viaSpark.getInt(i), t)
    }
  }

  test("appendBatch lands a batch as one segment file; buckets untouched") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-seg").toString
    val docs = Tables.documents(spark, dir)
    InvertedIndex.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      Seq("text"), d)
    def dataFiles(t: Map[String, Seq[Byte]]): Set[String] = t.keySet
      .filterNot(_.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
    def inBuckets(t: Map[String, Seq[Byte]]) = t.filter { case (f, _) =>
      !f.startsWith(s"bucket=${InvertedIndex.SegmentBucket}/") }
    val before = treeBytes(s"$d/postings")
    InvertedIndex.appendBatch(docs.filter(col("doc_id") % 2 === 1).limit(5),
      "doc_id", Seq("text"), d)
    val after = treeBytes(s"$d/postings")
    val added = dataFiles(after) -- dataFiles(before)
    assert(added.size == 1 &&
      added.head.startsWith(s"bucket=${InvertedIndex.SegmentBucket}/"),
      added.mkString(","))
    assert(inBuckets(after) == inBuckets(before),
      "no bucket dir may gain, lose or change a file")
  }

  test("appended index answers equal the one-shot build, before and after a fold") {
    assert(segmentFiles(youngIdx).nonEmpty && bucketDirs(youngIdx).isEmpty,
      "default threshold: three batches stay in the segment")
    assert(segmentFiles(foldedIdx).isEmpty && bucketDirs(foldedIdx).nonEmpty,
      "threshold 2: the third batch folds the segment into the buckets")
    val want = answers(oneShotIdx)
    assert(want.forall(_.nonEmpty), "every query kind must have answers to compare")
    assert(answers(youngIdx) == want)
    assert(answers(foldedIdx) == want)
  }

  test("crash between the fold's write and its delete heals read-side") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-fc").toString
    withMaxFiles("2")(appendThirds(d))
    // the crash residue: every segment row back beside its folded copy
    // (the unfolded twin's segment holds exactly those rows)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(segmentDir(d)))
    segmentFiles(youngIdx).foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(f.toUri),
        java.nio.file.Paths.get(segmentDir(d), f.getName))
    }
    assert(segmentFiles(d).nonEmpty && bucketDirs(d).nonEmpty)
    assert(answers(d) == answers(oneShotIdx))
  }

  test("a fold landing between readPostings' listings hides no rows") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-race").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(youngIdx),
      new java.io.File(d))
    // a concurrent fold as the read sees it: the first bucket dir the
    // read checks is still missing, then the fold lands every bucket
    // (the folded twin's) and deletes the segment files
    FoldRaceFs.foldAtNextBucketCheck = Some { () =>
      bucketDirs(foldedIdx).foreach { b =>
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"$foldedIdx/postings", b),
          new java.io.File(s"$d/postings", b))
      }
      segmentFiles(d).foreach(f => java.nio.file.Files.delete(
        java.nio.file.Paths.get(f.toUri)))
    }
    spark.sparkContext.hadoopConfiguration.set("fs.foldrace.impl",
      classOf[FoldRaceFs].getName)
    val got = try indexScores(s"foldrace://$d")
      finally FoldRaceFs.foldAtNextBucketCheck = None
    assert(segmentFiles(d).isEmpty, "the fold must have landed mid-read")
    assert(bits(got.toSeq).toSet == bits(indexScores(oneShotIdx).toSeq).toSet)
  }

  test("the fold bounds the segment across appends, answers unchanged") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-bd").toString
    val docs = Tables.documents(spark, dir)
    withMaxFiles("3") {
      (0L until 10L).foreach { sl =>
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % 10 === sl),
          "doc_id", Seq("text"), d)
        assert(segmentFiles(d).length <= 3, s"after batch $sl")
        val ref = java.nio.file.Files.createTempDirectory("graft-idx-br").toString
        InvertedIndex.writeIndex(docs.filter(col("doc_id") % 10 <= sl),
          "doc_id", Seq("text"), ref)
        assert(bits(indexScores(d).toSeq).toSet == bits(indexScores(ref).toSeq).toSet,
          s"after batch $sl")
      }
    }
    assert(bucketDirs(d).nonEmpty, "ten batches past threshold 3 must fold")
  }

  test("a malformed compactMaxFiles fails appendBatch before any write") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-bad").toString
    val docs = Tables.documents(spark, dir)
    InvertedIndex.appendBatch(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", Seq("text"), d)
    val before = treeBytes(d)
    val ex = withMaxFiles("twelve") {
      intercept[IllegalArgumentException] {
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", Seq("text"), d)
      }
    }
    assert(ex.getMessage.contains("graft.index.compactMaxFiles"), ex.getMessage)
    assert(treeBytes(d) == before, "the index dir must be byte-unchanged")
  }

  test("incremental build + full redelivery serves the one-shot answer") {
    val oneShot = freshIndex()
    val inc = java.nio.file.Files.createTempDirectory("graft-idx-inc").toString
    val docs = Tables.documents(spark, dir)
    // three delta batches cover the corpus; batch 1 redelivered
    (Seq(0L, 1L, 2L) :+ 1L).foreach { sl =>
      InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === sl),
        "doc_id", Seq("text"), inc)
    }
    assert(indexScores(inc) == indexScores(oneShot))
    // the stats ledger folded exactly the corpus (redelivery added 0)
    val n = spark.read.parquet(s"$inc/stats")
      .agg(sum(col("n_docs"))).as[Long].collect()(0)
    assert(n == docs.count())
  }

  test("crash-window duplicate postings heal read-side") {
    val d = freshIndex()
    val before = indexScores(d)
    // simulate the crash window: a batch's postings re-appended
    // (partials landed, ids did not, batch retried)
    val dup = spark.read.parquet(s"$d/postings")
      .filter(col("term").isin(terms: _*))
    dup.write.mode("append").partitionBy("bucket").parquet(s"$d/postings")
    assert(indexScores(d) == before,
      "dropDuplicates(term, doc_id) must absorb re-appended postings")
  }

  test("crash-window duplicate STATS partial heals read-side") {
    val inc = java.nio.file.Files.createTempDirectory("graft-idx-torn").toString
    val docs = Tables.documents(spark, dir)
    Seq(0L, 1L, 2L).foreach { sl =>
      InvertedIndex.appendBatch(docs.filter(col("doc_id") % 3 === sl),
        "doc_id", Seq("text"), inc)
    }
    val before = indexScores(inc)
    // the OTHER crash window: stats partial landed, ids did not; the
    // retried batch re-derives the same fresh set → an identical
    // partial re-appends. Without the batch_key dedup, N and Σdl
    // double-count and every served score silently shifts.
    val last = spark.read.parquet(s"$inc/stats")
      .orderBy(col("batch_key")).limit(1)
    last.write.mode("append").parquet(s"$inc/stats")
    assert(indexScores(inc) == before,
      "dropDuplicates(batch_key, …) must absorb a re-appended stats partial")
  }

  test("appendBatch under a different bucket layout fails fast") {
    val d = freshIndex() // layout fixed at 64
    val ex = intercept[IllegalArgumentException] {
      InvertedIndex.appendBatch(
        Tables.documents(spark, dir).limit(5), "doc_id", Seq("text"),
        d, numBuckets = 32)
    }
    assert(ex.getMessage.contains("num_buckets"))
  }

  test("indexDeltaSink maintains the index from a true stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val oneShot = freshIndex()
    val inc = java.nio.file.Files.createTempDirectory("graft-idx-ms").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idx-ck").toString
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"), coalesce(col("text"), lit("")))
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val sink = Ledger.sink(mem.toDF().toDF("doc_id", "text"), ckpt)((b, _) =>
      InvertedIndex.appendBatch(b, "doc_id", Seq("text"), inc))
    // two micro-batches cover the corpus, then batch 0 is REDELIVERED
    val (b0, b1) = docs.partition(_._1 % 2 == 0)
    Seq(b0, b1, b0).foreach { g =>
      mem.addData(g: _*)
      val q = sink.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(indexScores(inc) == indexScores(oneShot))
  }

  test("phraseCount equals a brute-force token-sequence count") {
    val d = freshIndex()
    val phrase = Seq("fast", "spark")
    val got = InvertedIndex.phraseCount(spark, d, phrase)
      .as[(Long, Long)].collect().toMap
    // brute force over the same tokenizer's output
    val toksOf = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long"),
        graft.functions.Analyzer.tokenize(coalesce(col("text"), lit(""))))
      .as[(Long, Seq[String])].collect()
    val expect = toksOf.flatMap { case (id, ts) =>
      val n = ts.sliding(2).count(_ == phrase)
      if (n > 0) Some(id -> n.toLong) else None
    }.toMap
    assert(got == expect)
  }

  test("a 3-term phrase is found only when strictly consecutive") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-ph3").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta"),      // match
      (2L, "alpha beta x gamma"),          // gap — no match
      (3L, "gamma beta alpha"),            // order matters — no match
      (4L, "alpha beta gamma alpha beta gamma")) // two matches
      .toDF("doc_id", "text")
    InvertedIndex.writeIndex(docs, "doc_id", Seq("text"), d)
    val got = InvertedIndex
      .phraseCount(spark, d, Seq("alpha", "beta", "gamma"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 4L -> 2L))
  }

  test("filteredScored = scored restricted to the keyword value") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-filt").toString
    InvertedIndex.writeIndex(Tables.documents(spark, dir), "doc_id",
      Seq("text"), d, keywordCols = Seq("source"))
    val all = InvertedIndex.scored(spark, d, terms)
      .as[(Long, Double)].collect().toMap
    val filtered = InvertedIndex
      .filteredScored(spark, d, terms, Seq("source" -> "src1"))
      .as[(Long, Double)].collect().toMap
    val src1Ids = Tables.documents(spark, dir)
      .filter(col("source") === "src1")
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    // exactly the src1 candidates, scores UNCHANGED (corpus-level idf)
    assert(filtered.keySet == all.keySet.intersect(src1Ids))
    filtered.foreach { case (id, s) => assert(s == all(id)) }
    // the keyword read prunes to one bucket directory
    val kw = spark.read.parquet(s"$d/keywords")
      .filter(col("bucket") === InvertedIndex.bucketOf(
        concat(lit("source"), lit(":"), lit("src1")), 64))
    val dirs = kw.select(input_file_name().as("f")).distinct()
      .as[String].collect()
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(dirs.length == 1 && dirs(0).contains("bucket="), dirs.mkString(","))
  }

  test("booleanQuery intersects must and subtracts must_not") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-bool").toString
    val docs = Seq(
      (1L, "alpha beta"),             // both musts
      (2L, "alpha beta gamma"),       // both musts, excluded term
      (3L, "alpha alpha beta"),       // both musts, tf_sum 3
      (4L, "alpha"),                  // missing a must
      (5L, "gamma"))                  // only the excluded term
      .toDF("doc_id", "text")
    InvertedIndex.writeIndex(docs, "doc_id", Seq("text"), d)
    val got = InvertedIndex
      .booleanQuery(spark, d, must = Seq("alpha", "beta"),
        mustNot = Seq("gamma"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 3L))
    // must-only form keeps doc 2
    val mustOnly = InvertedIndex
      .booleanQuery(spark, d, must = Seq("alpha", "beta"))
      .as[(Long, Long)].collect().toMap
    assert(mustOnly == Map(1L -> 2L, 2L -> 2L, 3L -> 3L))
  }

  test("postings compaction preserves the served answer") {
    val inc = java.nio.file.Files.createTempDirectory("graft-idx-cpt").toString
    val docs = Tables.documents(spark, dir)
    // auto-compaction off: this test pins the MANUAL maintenance pass
    // (the auto-trigger has its own test below)
    spark.conf.set("graft.index.compactMaxFiles", "0")
    try {
      // many tiny batches, each folded at once → many small posting
      // files per bucket, none left in the segment
      (0L until 6L).foreach { sl =>
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % 6 === sl),
          "doc_id", Seq("text"), inc)
        InvertedIndex.foldSegment(spark, inc, maxFiles = 0)
      }
      def groupFiles = graft.plans.Maintenance.groupStats(spark,
        s"$inc/postings").map(_.files)
      assert(segmentFiles(inc).isEmpty && groupFiles.max > 1)
      val before = indexScores(inc)
      val report = graft.plans.Maintenance.compact(spark,
        s"$inc/postings", Seq("term", "doc_id"), maxFiles = 1)
      assert(report.compacted > 0 && report.filesAfter < report.filesBefore,
        report.toString)
      assert(groupFiles.max == 1, "every bucket compacted to one file")
      assert(indexScores(inc) == before)
    } finally spark.conf.unset("graft.index.compactMaxFiles")
  }

  test("compactMaxFiles 0 keeps folding the segment at the default threshold") {
    val d = java.nio.file.Files.createTempDirectory("graft-idx-nc").toString
    val docs = Tables.documents(spark, dir)
    val n = graft.plans.Maintenance.DefaultMaxFiles + 1
    withMaxFiles("0") {
      (0 until n).foreach { sl =>
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % n === sl),
          "doc_id", Seq("text"), d)
        if (sl == n - 2)
          assert(segmentFiles(d).length == n - 1 && bucketDirs(d).isEmpty)
      }
    }
    assert(segmentFiles(d).isEmpty && bucketDirs(d).nonEmpty)
    assert(answers(d) == answers(oneShotIdx))
  }

  test("appendBatch auto-compaction bounds file counts, same answer") {
    // round 17: the threshold-triggered compaction-at-rest inside
    // appendBatch — a long-lived incremental index must serve the
    // same scores as an uncompacted twin while its per-group file
    // counts stay bounded by the threshold across batches.
    val auto = java.nio.file.Files.createTempDirectory("graft-idx-ac").toString
    val plain = java.nio.file.Files.createTempDirectory("graft-idx-pl").toString
    val docs = Tables.documents(spark, dir)
    def run(target: String): Unit =
      (0L until 6L).foreach { sl =>
        InvertedIndex.appendBatch(docs.filter(col("doc_id") % 6 === sl),
          "doc_id", Seq("text"), target)
      }
    spark.conf.set("graft.index.compactMaxFiles", "1")
    try run(auto) finally spark.conf.unset("graft.index.compactMaxFiles")
    spark.conf.set("graft.index.compactMaxFiles", "0")
    try run(plain) finally spark.conf.unset("graft.index.compactMaxFiles")
    assert(indexScores(auto) == indexScores(plain))
    def maxGroupFiles(d: String): Int = {
      val stats = graft.plans.Maintenance.groupStats(spark, d)
      if (stats.isEmpty) 0 else stats.map(_.files).max
    }
    // threshold 1 → every group was rewritten to one file after the
    // last batch's trigger
    assert(maxGroupFiles(s"$auto/postings") == 1)
    assert(maxGroupFiles(s"$auto/stats") == 1)
    assert(maxGroupFiles(s"$auto/seenIds") == 1)
    assert(maxGroupFiles(s"$plain/postings") > 1,
      "control must actually accumulate small files")
  }

  test("topK keeps only positive scores in rank order") {
    val d = freshIndex()
    val rows = InvertedIndex.topK(spark, d, terms, k = 10)
      .as[(Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.forall(_._2 > 0.0))
    assert(rows.map(_._2).sliding(2).forall {
      case Array(a, b) => a >= b; case _ => true
    })
  }

  test("minSpan: hand-checked windows; AND semantics; order-free") {
    val docs = Seq(
      // a=0,4  b=2,5  c=6 → the best window is the LATE [4,6] = 3,
      // not the greedy-from-start [0,6]
      (1L, "a x b x a b c"),
      // a=0 b=1 c=2 → adjacent, span 3; later spread occurrences
      (2L, "a b c x x a x x c"),
      // terms out of query order: c=0 b=2 a=3 → window [0,3] = 4
      (3L, "c x b a"),
      (4L, "a b x"),            // missing c → excluded
      (5L, "x y z")             // no terms → excluded
    ).toDF("doc_id", "text")
    val d = java.nio.file.Files.createTempDirectory("graft-span-spec").toString
    InvertedIndex.writeIndex(docs, "doc_id", Seq("text"), d)
    val got = InvertedIndex.minSpan(spark, d, Seq("a", "b", "c"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 4L))
  }

  test("minSpan: randomized docs match the exhaustive tuple minimum (3 seeds)") {
    val vocab = Vector("a", "b", "c", "x", "y")
    val query = Seq("a", "b", "c")
    for (seed <- Seq(17, 53, 89)) {
      val rnd = new scala.util.Random(seed)
      val docs = (1 to 25).map(i =>
        (i.toLong, Seq.fill(4 + rnd.nextInt(14))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      // brute force: min over one-position-per-term tuples of max−min+1
      val want = docs.flatMap { case (id, text) =>
        val toks = text.split(" ")
        val pos = query.map(t => toks.zipWithIndex.collect {
          case (w, i) if w == t => i.toLong })
        if (pos.exists(_.isEmpty)) None
        else Some(id -> (for {
          pa <- pos(0); pb <- pos(1); pc <- pos(2)
        } yield Seq(pa, pb, pc).max - Seq(pa, pb, pc).min + 1).min)
      }.toMap
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-span-rnd$seed").toString
      InvertedIndex.writeIndex(docs.toDF("doc_id", "text"), "doc_id",
        Seq("text"), dir)
      val got = InvertedIndex.minSpan(spark, dir, query)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"seed $seed")
    }
  }
}

/** The local file system under the `foldrace` scheme, with a hook that
  * runs once right after the next existence check of a `bucket=N` dir
  * (the segment's excluded); the check still answers as it found the
  * dir before the hook ran. */
class FoldRaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("foldrace:///")
  override def getScheme: String = "foldrace"
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    val found = super.exists(p)
    if (p.getName.startsWith("bucket=") &&
        p.getName != s"bucket=${InvertedIndex.SegmentBucket}")
      FoldRaceFs.fire()
    found
  }
}

object FoldRaceFs {
  @volatile var foldAtNextBucketCheck: Option[() => Unit] = None
  def fire(): Unit = synchronized {
    val hook = foldAtNextBucketCheck
    foldAtNextBucketCheck = None
    hook.foreach(_())
  }
}
