package graft.plans

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Drift, Eval, InvertedIndex, Multimodal, Pca, TextAnalysis}

/** [[Ledger]]'s contract, checked through every sink that commits with
  * it: a redelivered batch leaves the sink's dir byte-unchanged, and a
  * partial that throws keeps the ids ledger from landing. */
class LedgerSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val docs: DataFrame = (0L until 12L).map { i =>
    (i, s"src${i % 3}", i * 7 % 40, s"word$i shared text w${i % 4} tail",
      s"b${i % 4}", i % 2 == 0, Seq.tabulate(4)(d => ((i * 3 + d) % 5).toFloat / 4f),
      s"c${i % 3}", s"c${i * 5 % 3}", (i % 10) / 10.0, i % 3 != 0)
  }.toDF("id", "key", "val", "text", "bin", "is_ref", "vec", "truth", "pred",
    "conf", "ok").localCheckpoint()

  private val media: DataFrame = (0L until 4L).map(i =>
    (i, Multimodal.encodePng(Multimodal.synthRaster(i))))
    .toDF("id", "payload").localCheckpoint()

  /** A plain file named `_temporary` in `dir`: reads of `dir` skip it
    * (a hidden name), and a write cannot create its committer's
    * `_temporary` dir there, so it fails. */
  private def blockWrites(dir: String): java.io.File = {
    new java.io.File(dir).mkdirs()
    new java.io.File(s"$dir/_temporary")
  }

  /** One commit caller: its batch frame, the dir it owns, the ids
    * ledger and one partial's output dir under that dir, and the call. */
  private case class Caller(name: String, batch: DataFrame, ids: String,
                            partial: String,
                            run: (DataFrame, String, Long) => Unit)

  private val callers = Seq(
    Caller("card", docs, "seenIds", "hist", (b, d, bid) =>
      CorpusPipeline.cardDeltaBatch(b, "id", "key", "val", "text", d, bid)),
    Caller("media", media, "seenIds", "verdicts", (b, d, _) =>
      CorpusPipeline.mediaDeltaBatch(b, "id", "payload", d)),
    Caller("contam", docs, "seenDocs", "target", (b, d, _) => {
      if (!new java.io.File(s"$d/bench").exists)
        docs.filter(col("id") < 2L)
          .select(explode(TextAnalysis.docGramHashes(col("text"), 2)).as("h"))
          .write.parquet(s"$d/bench")
      CorpusPipeline.contamDeltaBatch(b, "id", "text", s"$d/bench",
        s"$d/seen", s"$d/seenDocs", s"$d/target", n = 2)
    }),
    Caller("embDrift", docs, "seenIds", "counts", (b, d, bid) =>
      Drift.embDriftDeltaBatch(b, "id", "vec", col("is_ref"), d, bid)),
    Caller("keyedDrift", docs, "seenIds", "bins", (b, d, bid) =>
      Drift.keyedDriftDeltaBatch(b, "id", "key", "bin", col("is_ref"), d, bid)),
    Caller("drift", docs, "seenIds", "bins", (b, d, bid) =>
      Drift.driftDeltaBatch(b, "id", "bin", col("is_ref"), d, bid)),
    Caller("confusion", docs, "seenIds", "cells", (b, d, bid) =>
      Eval.confusionDeltaBatch(b, "id", "truth", "pred", d, bid)),
    Caller("calibration", docs, "seenIds", "cells", (b, d, bid) =>
      Eval.calibrationDeltaBatch(b, "id", col("conf"), col("ok"), d, bid)),
    Caller("moments", docs, "seenIds", "moments", (b, d, bid) =>
      Pca.momentsDeltaBatch(b, "id", "vec", 4, d, bid)),
    Caller("index", docs, "seenIds", "postings/bucket=-1", (b, d, _) =>
      InvertedIndex.appendBatch(b, "id", Seq("text"), d)))

  callers.foreach { c =>
    test(s"${c.name}: a redelivered batch leaves its dir byte-unchanged") {
      val dir = tmp(s"graft-ledger-${c.name}")
      c.run(c.batch, dir, 0L)
      val landed = treeBytes(dir)
      assert(landed.keys.exists(_.startsWith(s"${c.partial}/")), landed.keys)
      c.run(c.batch, dir, 1L)
      assert(treeBytes(dir) == landed, "a redelivery wrote files")
    }

    test(s"${c.name}: a partial that throws keeps the ids from landing") {
      val dir = tmp(s"graft-ledger-${c.name}")
      val half = c.batch.filter(col("id") % 2 === 0)
      c.run(half, dir, 0L)
      val idsBefore = treeBytes(s"$dir/${c.ids}")
      assert(blockWrites(s"$dir/${c.partial}").createNewFile())
      intercept[Exception](c.run(c.batch, dir, 1L))
      assert(treeBytes(s"$dir/${c.ids}") == idsBefore,
        "the ids landed although a partial failed")
      // the retry, with the partial writable again, lands the rest
      blockWrites(s"$dir/${c.partial}").delete()
      c.run(c.batch, dir, 1L)
      val seen = spark.read.parquet(s"$dir/${c.ids}")
      assert(seen.count() == c.batch.count())
    }
  }

  test("media: a retry after a failed verdict landing lands first-delivery verdicts") {
    // four distinct rasters: every verdict is a keep. Had the keepers'
    // signatures landed before the failed verdicts, the retry would
    // find each keeper in the standing index and mark it a duplicate.
    val dir = tmp("graft-ledger-media-order")
    assert(blockWrites(s"$dir/verdicts").createNewFile())
    intercept[Exception](
      CorpusPipeline.mediaDeltaBatch(media, "id", "payload", dir))
    blockWrites(s"$dir/verdicts").delete()
    CorpusPipeline.mediaDeltaBatch(media, "id", "payload", dir)
    val keep = spark.read.parquet(s"$dir/verdicts")
      .select("media_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(keep == (0L until 4L).map(_ -> true).toMap)
  }

  test("a *FromDirs read of a ledger that never saw a fresh row fails") {
    val dir = tmp("graft-ledger-empty")
    // an empty first batch commits nothing, so there is no ledger yet
    CorpusPipeline.cardDeltaBatch(docs.limit(0), "id", "key", "val",
      "text", s"$dir/card", 0L)
    Drift.driftDeltaBatch(docs.limit(0), "id", "bin", col("is_ref"),
      s"$dir/drift", 0L)
    Eval.confusionDeltaBatch(docs.limit(0), "id", "truth", "pred",
      s"$dir/conf", 0L)
    Pca.momentsDeltaBatch(docs.limit(0), "id", "vec", 4, s"$dir/mom", 0L)
    assert(treeBytes(dir).isEmpty)
    val reads: Seq[() => Any] = Seq(
      () => CorpusPipeline.cardFromDirs(spark, s"$dir/card"),
      () => Drift.driftFromDirs(spark, s"$dir/drift"),
      () => Eval.confusionFromDirs(spark, s"$dir/conf"),
      () => Pca.momentsFromDirs(spark, s"$dir/mom", 4))
    reads.foreach { read =>
      val e = intercept[AnalysisException](read())
      assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    }
  }
}
