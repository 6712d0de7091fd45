package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.{Report, Sketch, StatsLedger}
import graft.plans.{CorpusPipeline, Ledger}

case class CardDoc(doc_id: Long, source: String, text: String, n_chars: Long)

/** The incremental release card as a stream sink
  * ([[CorpusPipeline.cardDeltaBatch]] under [[Ledger.sink]]): the streamed ledgers must equal
  * the one-shot recompute, survive redelivery, and heal the
  * duplicate-partials crash window by read-side natural-key dedup. */
class CardStreamSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs(ids: Range): Seq[CardDoc] =
    ids.map { i =>
      CardDoc(i.toLong, s"s${i % 3}", s"document body number $i", (i * 13) % 400 + 5)
    }

  private def oneShot(docs: Seq[CardDoc]) = {
    val df = docs.toDF()
    Report.cardFromLedgers(
      StatsLedger.partial(df, "source", "n_chars"),
      Sketch.hllRegisters(df, "source", "text"),
      StatsLedger.histPartial(df, "source", "n_chars"))
  }

  private def norm(d: org.apache.spark.sql.DataFrame): Set[String] =
    d.collect().map(_.toString).toSet

  test("streamed card over micro-batches equals the one-shot recompute") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("card-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("card-ckpt").toString
    val docs = mkDocs(1 to 200)
    val mem = MemoryStream[CardDoc]
    val sink = Ledger.sink(mem.toDF(), ckpt)(
      CorpusPipeline.cardDeltaBatch(_, "doc_id", "source", "n_chars", "text",
        base, _))
    // three micro-batches
    docs.grouped(70).foreach { g =>
      mem.addData(g: _*)
      val q = sink.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(norm(CorpusPipeline.cardFromDirs(spark, base)) ==
      norm(oneShot(docs)))
  }

  test("overlapping redelivery folds in nothing (seen-ids ledger)") {
    val base = java.nio.file.Files.createTempDirectory("card-redeliver").toString
    val docs = mkDocs(1 to 90)
    val slices = docs.grouped(30).toSeq
    slices.zipWithIndex.foreach { case (g, i) =>
      CorpusPipeline.cardDeltaBatch(g.toDF(), "doc_id", "source",
        "n_chars", "text", base, batchId = i.toLong)
    }
    val before = norm(CorpusPipeline.cardFromDirs(spark, base))
    // redeliver slice 1 under a NEW batch id (an overlapping delta)
    CorpusPipeline.cardDeltaBatch(slices(1).toDF(), "doc_id", "source",
      "n_chars", "text", base, batchId = 99L)
    assert(norm(CorpusPipeline.cardFromDirs(spark, base)) == before)
    assert(before == norm(oneShot(docs)))
  }

  test("as-of read reproduces any past batch's card exactly") {
    val base = java.nio.file.Files.createTempDirectory("card-asof").toString
    val docs = mkDocs(1 to 180)
    val slices = docs.grouped(60).toSeq
    slices.zipWithIndex.foreach { case (g, i) =>
      CorpusPipeline.cardDeltaBatch(g.toDF(), "doc_id", "source",
        "n_chars", "text", base, batchId = i.toLong)
    }
    // as of batch 0 / 1: exactly the first 1 / 2 slices' one-shot card
    assert(norm(CorpusPipeline.cardFromDirsAsOf(spark, base, 0L)) ==
      norm(oneShot(slices(0))))
    assert(norm(CorpusPipeline.cardFromDirsAsOf(spark, base, 1L)) ==
      norm(oneShot(slices(0) ++ slices(1))))
    // as of the latest batch == the current read
    assert(norm(CorpusPipeline.cardFromDirsAsOf(spark, base, 2L)) ==
      norm(CorpusPipeline.cardFromDirs(spark, base)))
  }

  test("crash window heals: duplicate partials under the SAME batch id dedup at read") {
    val base = java.nio.file.Files.createTempDirectory("card-crash").toString
    val docs = mkDocs(1 to 60)
    CorpusPipeline.cardDeltaBatch(docs.toDF(), "doc_id", "source",
      "n_chars", "text", base, batchId = 0L)
    val before = norm(CorpusPipeline.cardFromDirs(spark, base))
    // simulate the crash replay: partials for batch 0 land AGAIN
    // (deterministic recompute of the same batch → identical rows) —
    // exactly what a retry does when the seen-ids append never
    // committed. Emulate by re-appending the partial rows directly.
    val df = docs.toDF()
    StatsLedger.partial(df, "source", "n_chars")
      .select(lit(0L).as("batch_id"), col("key"), col("n"), col("sum"),
        col("min"), col("max"), col("sumsq"))
      .write.mode("append").parquet(s"$base/stats")
    StatsLedger.histPartial(df, "source", "n_chars")
      .select(lit(0L).as("batch_id"), col("key"), col("bin"), col("cnt"))
      .write.mode("append").parquet(s"$base/hist")
    Sketch.hllRegisters(df, "source", "text")
      .select(lit(0L).as("batch_id"), col("key"), col("bucket"), col("m"))
      .write.mode("append").parquet(s"$base/hll")
    assert(norm(CorpusPipeline.cardFromDirs(spark, base)) == before)
  }
}
