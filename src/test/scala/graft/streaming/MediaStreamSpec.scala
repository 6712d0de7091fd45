package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Multimodal
import graft.plans.{CorpusPipeline, Ledger}

case class Media(media_id: Long, payload: Array[Byte])

/** Streaming perceptual dedup ([[CorpusPipeline.mediaDeltaBatch]] under
  * [[Ledger.sink]]): cross-batch re-encode detection against the
  * standing signature index, within-delta keeper election, and the
  * redelivery/crash contract. */
class MediaStreamSpec extends SparkSpec {
  import spark.implicits._

  private def verdicts(base: String): Map[Long, (Boolean, Boolean, Boolean)] =
    spark.read.parquet(s"$base/verdicts").collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Boolean]("dup_standing"), r.getAs[Boolean]("dup_delta"),
          r.getAs[Boolean]("keep")))).toMap

  test("cross-batch re-encodes flag dup_standing; new rasters keep") {
    val base = java.nio.file.Files.createTempDirectory("media-dedup").toString
    val batch0 = (0L until 10L)
      .map(s => Media(s, Multimodal.encodePng(Multimodal.synthRaster(s))))
    val batch1 =
      (0L until 5L).map(s => Media(100 + s,
        Multimodal.encodeJpeg(Multimodal.synthRaster(s)))) ++ // re-encodes
      (0L until 5L).map(s => Media(200 + s,
        Multimodal.encodePng(Multimodal.synthRaster(50 + s)))) // new
    CorpusPipeline.mediaDeltaBatch(batch0.toDF(), "media_id", "payload", base)
    CorpusPipeline.mediaDeltaBatch(batch1.toDF(), "media_id", "payload", base)
    val v = verdicts(base)
    (0L until 10L).foreach(s => assert(v(s) == ((false, false, true)),
      s"batch-0 image $s must keep"))
    (0L until 5L).foreach(s => assert(v(100 + s)._1,
      s"re-encode ${100 + s} must flag dup_standing"))
    (0L until 5L).foreach(s => assert(v(200 + s) == ((false, false, true)),
      s"new raster ${200 + s} must keep"))
  }

  test("within-delta re-encode elects the smaller id as keeper") {
    val base = java.nio.file.Files.createTempDirectory("media-delta").toString
    val batch = Seq(
      Media(1L, Multimodal.encodePng(Multimodal.synthRaster(9L))),
      Media(2L, Multimodal.encodeJpeg(Multimodal.synthRaster(9L))),
      Media(3L, Multimodal.encodePng(Multimodal.synthRaster(77L))))
    CorpusPipeline.mediaDeltaBatch(batch.toDF(), "media_id", "payload", base)
    val v = verdicts(base)
    assert(v(1L)._3, "smaller id keeps")
    assert(v(2L)._2 && !v(2L)._3, "larger id flags dup_delta")
    assert(v(3L)._3)
  }

  test("full redelivery folds nothing; the sink path drives the same batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("media-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("media-ckpt").toString
    val mem = MemoryStream[Media]
    val sink = Ledger.sink(mem.toDF(), ckpt)((b, _) =>
      CorpusPipeline.mediaDeltaBatch(b, "media_id", "payload", base))
    val batch = (0L until 6L)
      .map(s => Media(s, Multimodal.encodePng(Multimodal.synthRaster(s))))
    mem.addData(batch: _*)
    val q1 = sink.trigger(Trigger.AvailableNow()).start(); q1.awaitTermination()
    val before = verdicts(base)
    // redeliver the same media (fresh stream, same ids)
    CorpusPipeline.mediaDeltaBatch(batch.toDF(), "media_id", "payload", base)
    assert(verdicts(base) == before, "redelivery must fold nothing")
    assert(spark.read.parquet(s"$base/signatures").count() == 6L)
  }

  test("torn append (crash between partials and ids) heals on retry") {
    val base = java.nio.file.Files.createTempDirectory("media-torn").toString
    val batchA = (0L until 5L)
      .map(s => Media(s, Multimodal.encodePng(Multimodal.synthRaster(s))))
    val batchB =
      Seq(Media(100L, Multimodal.encodeJpeg(Multimodal.synthRaster(1L)))) ++ // re-encode
      Seq(Media(101L, Multimodal.encodePng(Multimodal.synthRaster(60L))),     // new
          Media(102L, Multimodal.encodeJpeg(Multimodal.synthRaster(60L))))    // delta dup
    CorpusPipeline.mediaDeltaBatch(batchA.toDF(), "media_id", "payload", base)
    // simulate the crash window: run batch B fully, then ERASE the id
    // ledger files it appended — verdicts and signatures landed, the
    // seen-ids commit did not; the retried batch re-derives the same
    // fresh set and must heal read-side, not double-count
    val idsDir = java.nio.file.Paths.get(s"$base/seenIds")
    val beforeFiles = java.nio.file.Files.list(idsDir)
      .toArray.map(_.toString).toSet
    CorpusPipeline.mediaDeltaBatch(batchB.toDF(), "media_id", "payload", base)
    val reference = verdicts(base) // the clean final state
    java.nio.file.Files.list(idsDir).toArray.map(_.toString)
      .filterNot(beforeFiles)
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
    // retry the batch against the torn state
    CorpusPipeline.mediaDeltaBatch(batchB.toDF(), "media_id", "payload", base)
    assert(verdicts(base) == reference,
      "idempotentBatch must absorb the re-landed verdict partial")
    // keeper signatures: id 101 keeps (102 is its delta dup, 100 is a
    // standing re-encode) — the index holds A's 5 keepers + 101, with
    // at most a benign duplicate row for 101 from the re-append
    val sigIds = spark.read.parquet(s"$base/signatures")
      .select(col("media_id")).distinct().as[Long].collect().toSet
    assert(sigIds == (0L until 5L).toSet + 101L)
  }
}
