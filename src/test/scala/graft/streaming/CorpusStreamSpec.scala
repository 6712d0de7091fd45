package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{LmScore, Pii, Sampling, TextAnalysis}
import graft.plans.Ledger

case class Doc(doc_id: Long, text: String)

case class TimedDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** The training-data cleaning chain is stream-compatible: language ID,
  * quality scoring, token counts and repetition stats are stateless
  * projections (scan-local, no shuffle), so the SAME operators that
  * run over a 100 TB batch corpus drop into a readStream → transform
  * → writeStream micro-batch with zero changes — the property that
  * lets one codebase serve both the backfill and the live ingest. */
class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  test("langid + quality + tokens + repetition compose on a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(1L, "the quick brown fox jumps over the lazy dog"),
      Doc(2L, "der hund und die katze sind nicht da"),
      Doc(3L, "spam spam spam spam spam spam"),
      Doc(4L, ""))

    val cleaned = TextAnalysis.withTokenCounts(
      TextAnalysis.withQuality(
        TextAnalysis.withLangId(mem.toDF(), "text"), "text"), "text")
    // the single-pass kernel rewrite made repetitionStats a pure
    // projection — the old explode+groupBy form was NOT appendable
    val rep = TextAnalysis.repetitionStats(mem.toDF(), "doc_id", "text")

    val q1 = cleaned.writeStream.format("memory").queryName("cleaned")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q1.awaitTermination()
    // repetitionStats is also a pure projection now — streamable too
    val q2 = rep.writeStream.format("memory").queryName("rep")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()

    val out = spark.table("cleaned").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang_pred"), r.getAs[Long]("q_n_tokens"), r.getAs[Long]("tok_ws"))))
      .toMap
    assert(out(1L)._1 == "en")
    assert(out(2L)._1 == "de")
    assert(out(1L)._2 == 9L)
    assert(out.size == 4)

    val repOut = spark.table("rep").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_unigram_frac")).toMap
    assert(repOut(3L) > 0.8)  // six identical tokens
    assert(repOut(1L) < 0.2)  // "the" repeats once in nine tokens
    assert(repOut(4L) == 0.0)
  }

  test("full cleaning chain: line-clean → paragraph dedup (watermarked) → " +
    "quality filters → LM score, as ONE streaming pipeline with late-data policy") {
    implicit val sqlCtx = spark.sqlContext
    val target = java.nio.file.Files.createTempDirectory("graft-chain").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chain-ckpt").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    // static pre-trained LM (the CCNet shape: model rides along)
    val refCorpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again.")
    ).toDF("doc_id", "text")
    val lm = LmScore.train(refCorpus, "doc_id", "text").localCheckpoint()

    val mem = MemoryStream[TimedDoc]
    // p1 appears in docs 1 AND 2 (cross-doc paragraph dup); doc 1 also
    // carries a junk line the C4 rules drop (no terminal punct) and a
    // repetition-heavy paragraph the quality gate drops
    val p1 = "the quick brown fox jumps over the lazy dog."
    val junk = "click here now"
    val rep = "spam spam spam spam spam spam spam."
    mem.addData(
      TimedDoc(1L, ts("2024-01-01 10:00:00"), s"$p1\n$junk\n\n$rep"),
      TimedDoc(2L, ts("2024-01-01 10:05:00"), s"$p1\n\nthe lazy dog naps."))

    // ONE linear pipeline: every stage a projection/filter over the
    // same stream (no self-joins); the paragraph dedup is the single
    // stateful operator, bounded by the watermark. Paragraphs split
    // FIRST (line cleaning then runs inside each paragraph — the
    // other order erases the blank-line paragraph boundaries).
    val paras = mem.toDF()
      .select($"doc_id", $"ts",
        posexplode(split($"text", "\n\n")).as(Seq("pos", "para_raw")))
      .transform(TextAnalysis.c4LineCleanText(_, "para_raw", outCol = "para"))
      .filter(length(trim($"para")) > 0)
      .withColumn("para_md5", md5($"para".cast("binary")))
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("para_md5")
    val withRep = paras.withColumn("__rep",
      TextAnalysis.repetitionColumn($"para"))
    val gated = withRep
      .filter($"__rep._1" < 0.5)
      .drop("__rep")
    val scored = LmScore.bigramScoreBroadcast(gated, "para", lm)
      .filter($"n_bigrams" > 0)

    def run() = scored.writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", target)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    run()

    val out1 = spark.read.parquet(target)
    // p1 survived ONCE (doc 2's copy deduped), doc 2's unique paragraph
    // survived, junk line removed by C4, spam paragraph gated out
    assert(out1.count() == 2)
    assert(out1.filter($"doc_id" === 1L).count() == 1)
    val p1Row = out1.filter($"para" === p1).head()
    assert(p1Row.getAs[Long]("n_bigrams") == 8L)
    assert(p1Row.getAs[Long]("n_oov") == 0L)       // fully in-model
    val uniqRow = out1.filter($"doc_id" === 2L).filter($"para" =!= p1).head()
    assert(uniqRow.getAs[Long]("n_oov") > 0L)      // "naps" unseen

    // advance the watermark well past the first batch...
    mem.addData(TimedDoc(3L, ts("2024-01-01 12:00:00"), "fresh content arrives."))
    run()
    // ...then deliver LATE data (event time 9:00 < watermark 11:30):
    // a duplicate of p1 AND a never-seen paragraph — the explicit
    // late policy drops both at the stateful operator
    mem.addData(TimedDoc(4L, ts("2024-01-01 09:00:00"),
      s"$p1\n\nthis brand new late paragraph never appeared before."))
    run()

    val after = spark.read.parquet(target)
    assert(after.count() == 3)                      // only doc 3 landed
    assert(after.filter($"doc_id" === 4L).count() == 0)
  }

  test("PII scrub and mixture upsample are stream-compatible too") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(1L, "reach me at jane.doe@example.org or 10.1.2.3"),
      Doc(2L, "nothing sensitive here"))

    // both are stateless projections (PII: codegen'd regexp; upsample:
    // sequence-explode), so they append-stream without watermarks
    val scrubbed = Pii.piiStats(mem.toDF(), "doc_id", "text")
    val mixed = Sampling.upsample(
      mem.toDF().withColumn("stratum", lit("a")),
      "doc_id", "stratum", Map("a" -> 2000))

    val q1 = scrubbed.writeStream.format("memory").queryName("scrubbed")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q1.awaitTermination()
    val q2 = mixed.writeStream.format("memory").queryName("mixed")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()

    val pii = spark.table("scrubbed").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Long]("n_ip")))).toMap
    assert(pii(1L) == ((1L, 1L)))
    assert(pii(2L) == ((0L, 0L)))
    assert(spark.table("mixed").count() == 4L)  // factor 2.0 → 2 copies each
  }

  test("bloom decontamination probes a live stream (static artifact)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupApprox
    import graft.functions.Bloom

    // the benchmark set is batch-side: build the artifact once, then
    // every micro-batch probes it as a pure projection — the
    // streaming shape of Dedup.decontaminateBloom (no join, no state)
    val bench = Seq("alpha beta gamma delta epsilon").toDF("text")
    val artifact = bench
      .select(explode(DedupApprox.shingles($"text", 3)).as("gram"))
      .agg(Bloom.bloomAgg($"gram").as("b")).head.getAs[Array[Byte]](0)

    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(1L, "prefix alpha beta gamma suffix"), // shares a trigram
      Doc(2L, "totally unrelated clean text"))
    val flagged = mem.toDF().withColumn("contaminated",
      exists(DedupApprox.shingles($"text", 3),
        g => Bloom.mightContain(lit(artifact), g)))
    val q = flagged.writeStream.format("memory").queryName("bloomed")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("bloomed").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated"))
      .toMap
    assert(out(1L) && !out(2L))
  }

  test("count-min sketch merges across micro-batches (streaming frequency)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.{CountMin, CountMinKernels}
    import org.apache.spark.unsafe.types.UTF8String

    // CMS merge is element-wise +, so a streaming complete-mode agg
    // over N micro-batches must equal one batch build over the union:
    // the per-executor partials and the state-store merge take the
    // same code path (TypedImperativeAggregate.merge)
    val mem = MemoryStream[Doc]
    val toks = mem.toDF().select(
      explode(graft.functions.Analyzer.tokenize(coalesce($"text", lit("")))).as("token"))
    val q = toks.agg(CountMin.cmsAgg($"token", depth = 4, width = 1 << 12).as("art"))
      .writeStream.format("memory").queryName("cms")
      .outputMode("complete")
      .start()
    mem.addData(Doc(1L, "alpha beta alpha"), Doc(2L, "beta gamma"))
    q.processAllAvailable()
    mem.addData(Doc(3L, "alpha delta"))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("cms").head.getAs[Array[Byte]]("art")
    val batch = Seq("alpha beta alpha", "beta gamma", "alpha delta").toDF("text")
      .select(explode(graft.functions.Analyzer.tokenize($"text")).as("token"))
      .agg(CountMin.cmsAgg($"token", depth = 4, width = 1 << 12).as("art"))
      .head.getAs[Array[Byte]]("art")
    assert(java.util.Arrays.equals(streamed, batch))
    assert(CountMinKernels.estimate(streamed, UTF8String.fromString("alpha")) == 3L)
    assert(CountMinKernels.estimate(streamed, UTF8String.fromString("beta")) == 2L)
  }

  test("incremental dedup runs live: streamed delta vs the standing index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupApprox
    import graft.sources.Tables

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val indexed = docs.filter($"doc_id" % 3 =!= 0).select($"doc_id", $"text").cache()
    val index = DedupApprox.minhashIndex(indexed, "doc_id", "text").cache()
    val delta = docs.filter($"doc_id" % 3 === 0).select($"doc_id", $"text")

    val mem = MemoryStream[Doc]
    val out = DedupApprox.minhashPairsAgainstStream(
      mem.toDF(), "doc_id", "text", index, indexed)
    val q = out.writeStream.format("memory").queryName("incdedup")
      .outputMode("append").start()
    val rows = delta.collect().map(r => Doc(r.getLong(0), r.getString(1)))
    val (first, second) = rows.splitAt(rows.length / 2)
    mem.addData(first.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(second.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()

    // per-band duplicate verdicts are the documented at-least-once
    // contract; dedupe like the idempotent sink would
    val streamed = spark.table("incdedup")
      .select($"new_id", $"idx_id", $"jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = DedupApprox.minhashPairsAgainst(delta, "doc_id", "text",
        index, indexed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // sf0.001 plants near-dups across the split
    indexed.unpersist(); index.unpersist()
  }

  test("verdict sink is effectively-once: per-band dups collapse, redelivery lands nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupApprox
    import graft.sources.Tables

    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val indexed = docs.filter($"doc_id" % 3 =!= 0).select($"doc_id", $"text").cache()
    val index = DedupApprox.minhashIndex(indexed, "doc_id", "text").cache()
    val delta = docs.filter($"doc_id" % 3 === 0).select($"doc_id", $"text")
      .collect().map(r => Doc(r.getLong(0), r.getString(1)))

    val target = java.nio.file.Files.createTempDirectory("graft-verd").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-verd-ckpt").toString
    val mem = MemoryStream[Doc]
    val verdicts = DedupApprox.minhashPairsAgainstStream(
      mem.toDF(), "doc_id", "text", index, indexed)
    def run() = Ledger.sink(verdicts, ckpt)((b, _) =>
        DedupApprox.minhashVerdictBatch(b, target))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

    mem.addData(delta.toIndexedSeq: _*)
    run()
    val first = spark.read.parquet(target)
      .select($"new_id", $"idx_id", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // effectively-once within the batch: the per-band duplicate
    // verdict rows (the raw stream's at-least-once contract) are gone
    assert(first.nonEmpty && first.distinct == first)
    // landed verdicts == the batch operator's exact answer
    val batch = DedupApprox.minhashPairsAgainst(
        docs.filter($"doc_id" % 3 === 0), "doc_id", "text", index, indexed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(first.toSet == batch)

    // duplicate micro-batch DELIVERY: the same delta docs arrive again
    // in a later batch — every verdict they regenerate already stands,
    // so the anti-join lands nothing new
    mem.addData(delta.toIndexedSeq: _*)
    run()
    val after = spark.read.parquet(target)
      .select($"new_id", $"idx_id", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(after.sorted == first.sorted)
    indexed.unpersist(); index.unpersist()
  }

  test("streaming decontamination: delta grams vs standing benchmark + " +
    "seen indexes, effectively-once under redelivery") {
    import graft.plans.CorpusPipeline
    val base = java.nio.file.Files.createTempDirectory("contam").toString
    val (benchIdx, seenIdx, seenDocs, target) =
      (s"$base/bench", s"$base/seen", s"$base/seenDocs", s"$base/target")
    // benchmark = one eval doc; its 4-gram hashes are the standing index
    val benchDocs = Seq(
      (900L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    benchDocs.select(explode(
        TextAnalysis.docGramHashes($"text", 4)).as("h"))
      .write.mode("overwrite").parquet(benchIdx)

    // delta 1: doc 1 contains a benchmark 4-gram; doc 2 is clean
    val d1 = Seq(
      (1L, "prefix alpha beta gamma delta suffix words here"),
      (2L, "totally unrelated clean content flows through here")
    ).toDF("doc_id", "text")
    CorpusPipeline.contamDeltaBatch(d1, "doc_id", "text",
      benchIdx, seenIdx, seenDocs, target, n = 4)
    val v1 = spark.read.parquet(target)
      .select($"doc_id", $"n_grams", $"n_bench_hits", $"n_seen_hits")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(v1(1L)._2 > 0L, s"doc 1 must hit the benchmark: $v1")
    assert(v1(2L)._2 == 0L)
    assert(v1(1L)._3 == 0L && v1(2L)._3 == 0L) // nothing seen before d1

    // delta 2: doc 3 shares a 4-gram with doc 2 (cross-DELTA overlap)
    val d2 = Seq(
      (3L, "totally unrelated clean content appears again later")
    ).toDF("doc_id", "text")
    CorpusPipeline.contamDeltaBatch(d2, "doc_id", "text",
      benchIdx, seenIdx, seenDocs, target, n = 4)
    val v2 = spark.read.parquet(target).filter($"doc_id" === 3L)
      .select($"n_bench_hits", $"n_seen_hits")
      .as[(Long, Long)].head()
    assert(v2._1 == 0L)
    assert(v2._2 > 0L, "doc 3 must overlap delta-1 grams")

    // REDELIVERY of delta 2: no new rows, landed verdicts unchanged
    val before = spark.read.parquet(target)
      .as[(Long, Long, Long, Long)].collect().toSet
    CorpusPipeline.contamDeltaBatch(d2, "doc_id", "text",
      benchIdx, seenIdx, seenDocs, target, n = 4)
    val afterRedeliver = spark.read.parquet(target)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(afterRedeliver == before)
    // and the seen-docs ledger holds each id exactly once
    val ledger = spark.read.parquet(seenDocs)
      .as[Long].collect().toSeq
    assert(ledger.sorted == Seq(1L, 2L, 3L))
  }

  test("decontamination sink: the same chain as a MemoryStream sink") {
    import graft.plans.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("contam-sink").toString
    Seq((900L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
      .select(explode(TextAnalysis.docGramHashes($"text", 4)).as("h"))
      .write.mode("overwrite").parquet(s"$base/bench")
    val mem = MemoryStream[Doc]
    mem.addData(Doc(1L, "prefix alpha beta gamma delta suffix words here"))
    val q = Ledger.sink(mem.toDF(), s"$base/ckpt")((b, _) =>
        CorpusPipeline.contamDeltaBatch(b, "doc_id", "text",
          s"$base/bench", s"$base/seen", s"$base/seenDocs", s"$base/target",
          n = 4))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$base/target")
      .select($"doc_id", $"n_bench_hits").as[(Long, Long)].head()
    // exactly one of the five 4-grams ("alpha beta gamma delta") hits
    assert(out == ((1L, 1L)))
  }
}
