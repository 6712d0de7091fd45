package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType

import graft.operators.{Checkpoints, Dedup}

/** The effectively-once contract of every delta sink, written once.
  * It is the reference's idempotence rule (the consumer's per-url
  * dedup, database/mongodb_handler.py:53-59, and the hourly DAG's
  * processed-set difference, dags/sentiment_analysis_dag.py:36-47)
  * applied to a replayable source, as in Structured Streaming's
  * idempotent sinks (Armbrust et al., SIGMOD 2018):
  *
  *  - [[fresh]]: the rows of a batch whose id the sink's seen-ids
  *    ledger has not recorded. A redelivered batch has none.
  *  - [[commit]]: the batch's partials land first, in any order, and
  *    its ids land LAST. A crash between them leaves partials whose ids
  *    never landed; the retry derives the same fresh set (the plans are
  *    deterministic, and the engine replays a batch under its batch
  *    id), re-appends byte-identical partial rows, and the sink's read
  *    side folds them once with a natural-key `dropDuplicates`. A fresh
  *    set that is empty writes nothing, so a redelivery leaves every
  *    dir byte-unchanged.
  *  - [[land]]: insert-if-absent into a target that is its own ledger
  *    (the landing sink, verdict tables, alert logs).
  *  - [[sink]]: the one `foreachBatch` that turns any of these per-batch
  *    bodies into a stream sink.
  *
  * Appends are visible only on commit ([[Dedup.readStateOr]]'s
  * assumption), so a crash mid-write leaves nothing to heal.
  */
object Ledger {

  /** The rows of `batch`, one per `idCol`, whose id the ledger at
    * `idsDir` does not hold, checkpointed lazily: [[commit]]'s
    * emptiness probe materializes it and every partial reuses it. The
    * ledger's one column may have another name than `idCol` (the index
    * stores `doc_id`); it is compared by position. A sink that knows its
    * ledger's schema passes it as `idsSchema`, which reads the ledger
    * without a schema-inference job ([[Dedup.readStateAs]]). */
  def fresh(batch: DataFrame, idCol: String, idsDir: String,
            idsSchema: Option[StructType] = None): DataFrame = {
    val b = batch.dropDuplicates(idCol)
    val seen = idsSchema.fold(Dedup.readStateOr(batch.sparkSession, idsDir,
      b.select(col(idCol)).limit(0)))(Dedup.readStateAs(batch.sparkSession, idsDir, _))
    b.join(seen.toDF(idCol), Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
  }

  /** Land a [[fresh]] set: run every partial, then append `id` of each
    * fresh row to `idsDir`. Nothing is written when the set is empty.
    * The partials must not depend on each other's output; they run
    * concurrently (see [[concurrently]]; on q109 and q111 that beat
    * sequential partials, `records/ab_r17_ledger.json`), and a failing
    * one keeps the ids from landing. Writes that must run in order go
    * into one partial. The fresh set's checkpoint blocks are released
    * on return, so nothing may read `fresh` after the commit. Returns
    * whether anything landed. */
  def commit(fresh: DataFrame, id: Column, idsDir: String)
            (partials: (() => Unit)*): Boolean =
    try {
      val landed = !fresh.isEmpty
      if (landed) {
        concurrently(partials: _*)
        fresh.select(id).write.mode("append").parquet(idsDir)
      }
      landed
    } finally Checkpoints.release(fresh)

  /** Insert-if-absent: `rows`, one per `keys`, minus the keys that
    * `targetDir` already holds, appended to `targetDir`. The keys are
    * compared with SQL equality, so a row with a null key never matches
    * a landed row. `admit` sees the rows and the target as read and
    * picks the rows that may land (the landing sink's late cut). A
    * target that exists but cannot be read fails the call instead of
    * landing everything again ([[Dedup.readStateOr]]). */
  def land(rows: DataFrame, targetDir: String, keys: Seq[String],
           admit: (DataFrame, DataFrame) => DataFrame = (r, _) => r): Unit = {
    val existing = Dedup.readStateOr(rows.sparkSession, targetDir, rows.limit(0))
    Dedup.idempotentBatch(admit(rows, existing), existing, keys: _*)
      .write.mode("append").parquet(targetDir)
  }

  /** `stream` as a checkpointed sink that runs `body` on each
    * micro-batch with its batch id. */
  def sink(stream: DataFrame, checkpointDir: String)
          (body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)

  /** Run order-free Spark actions as concurrent jobs from a small
    * driver thread pool: actions are only sequential because the driver
    * calls them sequentially, and concurrent jobs back-fill the
    * executors that each other's task tails leave idle. Concurrent
    * first reads of a lazily checkpointed frame are safe (block locks
    * make one task compute each partition while the others wait). Any
    * failure propagates after all jobs settle, so the ids never land
    * unless every partial did. */
  private def concurrently(work: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    try {
      val futures = work.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = w()
      }))
      // collect every outcome before throwing: a fast failure must not
      // leave sibling write jobs running into teardown
      val errs = futures.flatMap(f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(Option(e.getCause).getOrElse(e))
        })
      errs.headOption.foreach(throw _)
    } finally pool.shutdownNow()
  }
}
