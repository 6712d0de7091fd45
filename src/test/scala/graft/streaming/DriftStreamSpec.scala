package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Drift
import graft.plans.Ledger

case class DriftEv(event_id: Long, bin: Long, is_ref: Boolean)

/** Incremental drift monitor: per-bin slice counts fold over a
  * MemoryStream micro-batch by micro-batch; the folded drift equals
  * the one-shot slicedDrift bit-for-bit, and a redelivered batch (the
  * crash window) lands nothing — the ledger is effectively-once. */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private def dirs(): (String, String) = (
    java.nio.file.Files.createTempDirectory("graft-drift-t").toString,
    java.nio.file.Files.createTempDirectory("graft-drift-c").toString)

  private val all = (0L until 120L).map(i =>
    DriftEv(i, math.abs((i * 2654435761L) % 7), i % 2 == 0))

  test("streamed fold == one-shot drift; redelivery lands nothing") {
    implicit val sqlCtx = spark.sqlContext
    val (base, ckpt) = dirs()
    val mem = MemoryStream[DriftEv]
    def run(): Unit = {
      val q = Ledger.sink(mem.toDF(), ckpt)(
          Drift.driftDeltaBatch(_, "event_id", "bin", col("is_ref"), base, _))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val (s1, s2, s3) = (all.filter(_.event_id % 3 == 0),
      all.filter(_.event_id % 3 == 1), all.filter(_.event_id % 3 == 2))
    mem.addData(s1: _*)
    run()
    mem.addData(s2: _*)
    run()
    mem.addData(s3: _*)
    run()

    def folded: Set[(Long, Long, Long, Long, Long)] =
      Drift.driftFromDirs(spark, base)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val oneShot = Drift.slicedDrift(all.toDF(), "bin", col("is_ref"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(folded == oneShot)

    // crash-window replay: slice 2 delivered again (as a NEW batch id,
    // the at-least-once shape) must not change any count — ids were
    // committed, the anti-join drops every row
    Drift.driftDeltaBatch(s2.toDF(), "event_id", "bin", col("is_ref"),
      base, batchId = 99L)
    assert(folded == oneShot)
  }

  test("incremental embedding drift == one-shot; redelivery and torn append heal") {
    val (base, _) = dirs()
    def vec(seed: Long): Seq[Float] = (0 until 6).map(d =>
      (math.abs((seed * 31L + d * 2654435761L) % 2000) - 1000) / 1000.0f)
    val rows = (0L until 90L).map(i => (i, vec(i), i % 2 == 0))
    val df = rows.toDF("vec_id", "embedding", "is_ref")
    Seq(0, 1, 2).foreach { s =>
      Drift.embDriftDeltaBatch(df.filter(col("vec_id") % 3 === s),
        "vec_id", "embedding", col("is_ref"), base, batchId = s.toLong)
    }
    def folded = Drift.embDriftFromDirs(spark, base)
      .as[(Long, Long, Long, Long, Long)].collect().head
    val oneShot = Drift.embeddingDrift(df, "embedding", col("is_ref"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(folded == oneShot)
    // redelivery under a NEW batch id: ids committed → nothing lands
    Drift.embDriftDeltaBatch(df.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", col("is_ref"), base, batchId = 9L)
    assert(folded == oneShot)
    // torn append: erase the id ledger, replay slice 2 under the SAME
    // batch id — the (batch_id, dim) dedup collapses the double rows
    val seenDir = new java.io.File(s"$base/seenIds")
    seenDir.listFiles().foreach(_.delete()); seenDir.delete()
    Drift.embDriftDeltaBatch(df.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", col("is_ref"), base, batchId = 2L)
    assert(folded == oneShot)
  }

  test("incremental KEYED drift == one-shot; redelivery and torn append heal") {
    val (base, _) = dirs()
    val rows = (0L until 150L).map { i =>
      (i, s"k${i % 4}", math.abs((i * 2654435761L) % 6), i % 2 == 0)
    }
    val df = rows.toDF("event_id", "key", "bin", "is_ref")
    Seq(0, 1, 2).foreach { s =>
      Drift.keyedDriftDeltaBatch(df.filter(col("event_id") % 3 === s),
        "event_id", "key", "bin", col("is_ref"), base, batchId = s.toLong)
    }
    def folded = Drift.keyedDriftFromDirs(spark, base)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val oneShot = Drift.keyedDrift(df, "key", "bin", col("is_ref"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(folded == oneShot)
    Drift.keyedDriftDeltaBatch(df.filter(col("event_id") % 3 === 1),
      "event_id", "key", "bin", col("is_ref"), base, batchId = 77L)
    assert(folded == oneShot) // redelivery lands nothing
    val seenDir = new java.io.File(s"$base/seenIds")
    seenDir.listFiles().foreach(_.delete()); seenDir.delete()
    Drift.keyedDriftDeltaBatch(df.filter(col("event_id") % 3 === 2),
      "event_id", "key", "bin", col("is_ref"), base, batchId = 2L)
    assert(folded == oneShot) // torn append heals under the same id
  }

  test("a crash between the counts append and the id append heals") {
    val (base, _) = dirs()
    val slice = all.take(40)
    Drift.driftDeltaBatch(slice.toDF(), "event_id", "bin", col("is_ref"),
      base, batchId = 0L)
    // simulate the torn batch: counts landed, the id append did not
    val seenDir = new java.io.File(s"$base/seenIds")
    seenDir.listFiles().foreach(_.delete()); seenDir.delete()
    // the engine redelivers the SAME batch under the SAME id; the
    // identical partial rows land twice, and the (batch_id, bin)
    // dedup in the read collapses them
    Drift.driftDeltaBatch(slice.toDF(), "event_id", "bin", col("is_ref"),
      base, batchId = 0L)
    val total = Drift.driftFromDirs(spark, base)
      .select(sum(col("a_n") + col("b_n"))).as[Long].collect().head
    assert(total == 40L) // not 80: the torn append healed
    val folded = Drift.driftFromDirs(spark, base)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val oneShot = Drift.slicedDrift(slice.toDF(), "bin", col("is_ref"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(folded == oneShot)
  }
}
