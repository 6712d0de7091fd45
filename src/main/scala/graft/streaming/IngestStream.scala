package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.operators.{Envelope, Validate}

/** The reference's ingest + landing paths as Structured Streaming
  * (SURVEY.md §2 T-1..T-5, §3.1/§3.2).
  *
  * Reference: producers fetch every 300 s, validate/sanitize, envelope,
  * and publish keyed JSON to Kafka (producers package, scripts/
  * start_producers.py:25,41-63); a consumer drains the topic into Mongo
  * with per-row URL point-lookups (consumers/mongodb_consumer.py:62-81,
  * database/mongodb_handler.py:46-69). Here:
  *
  *   - transport = any streaming DataFrame (kafka source in prod, file
  *     or MemoryStream in tests — same plan either way);
  *   - T-3 dedup = the sink's per-batch `dropDuplicates` + left-anti
  *     join against the whole target (the reference's processed-url
  *     set, read from the landed rows themselves): exactly-once over
  *     all of history with no state store in the streaming plan;
  *   - T-5 exactly-once effect = checkpointed micro-batches + that
  *     idempotent anti-join sink (foreachBatch), replacing the per-row
  *     read-before-write round-trips;
  *   - T-4's silent 1-hour late-data loss becomes an explicit, stateless
  *     cut (documented divergence: nothing is silently skipped inside the
  *     hour, everything older is *visibly* dropped). The sink drops a row
  *     whose event time is at or before the newest event time in the
  *     target minus [[LatenessMs]] — the boundary a 1-hour watermark
  *     drew. The cut counts only rows that LANDED; the watermark it
  *     replaces also counted duplicates and late rows, so a redelivered
  *     key with a newer event time no longer moves the cut.
  */
object IngestStream {

  /** §3.1 transform chain: validate → sanitize → envelope columns.
    * `urlCol`/`requiredCols` name the article fields (F-1), `sourceApi`
    * tags the producer (F-3/F-4). Works on static or streaming frames —
    * it is a pure column plan. */
  def producerTransform(df: DataFrame, sourceApi: String, urlCol: String,
                        requiredCols: String*): DataFrame = {
    val validated = Validate.requiredFields(df, urlCol, requiredCols: _*)
    Validate.sanitize(validated)
      .withColumn("source_api", lit(sourceApi))
      .withColumn("fetched_at", current_timestamp())
      .withColumn("key", concat(lit(sourceApi), lit("_"), col(urlCol)))
  }

  /** T-4 lateness: how far behind the newest landed event time a row
    * may be and still land. */
  private val LatenessMs: Long = 60L * 60 * 1000

  /** T-5: idempotent landing sink — per micro-batch `dropDuplicates` +
    * left-anti against the target, then append (S-5/J-1..J-3 fused).
    * Parquet target stands in for the Mongo collection. With
    * `eventTimeCol`, late rows ([[dropLate]]) are dropped first, against
    * the same target read ([[graft.plans.Ledger.land]]). A target that
    * exists but cannot be read fails the micro-batch: landing against
    * an empty key set would append every row again as a duplicate. */
  def idempotentSink(stream: DataFrame, targetDir: String, key: String,
                     checkpointDir: String,
                     eventTimeCol: Option[String] = None): DataStreamWriter[Row] =
    graft.plans.Ledger.sink(stream, checkpointDir) { (batch, _) =>
      graft.plans.Ledger.land(batch, targetDir, Seq(key),
        (rows, existing) => eventTimeCol.fold(rows)(dropLate(rows, existing, _)))
    }

  /** T-4, stateless: the rows of `batch` whose `eventTimeCol` is after
    * the cut = newest event time in `existing`, truncated to the
    * millisecond, minus [[LatenessMs]]. A row AT the cut is late, and a
    * row with no event time is kept — the boundary of the watermark
    * (`withWatermark` + a stateful operator) this replaces. An empty
    * target has no cut. */
  private def dropLate(batch: DataFrame, existing: DataFrame,
                       eventTimeCol: String): DataFrame = {
    val newest = existing.agg(max(col(eventTimeCol))).head()
    if (newest.isNullAt(0)) batch
    else {
      val cut = new java.sql.Timestamp(newest.getTimestamp(0).getTime - LatenessMs)
      batch.filter(col(eventTimeCol).isNull || col(eventTimeCol) > lit(cut))
    }
  }

  /** T-1: the producer cadence (5 min in prod; tests use availableNow). */
  def withProducerTrigger[T](w: DataStreamWriter[T],
                             intervalSeconds: Int = 300): DataStreamWriter[T] =
    w.trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))

  /** The reference's RESERVED `news-processed` output topic
    * (create_topics.sh:23-30, kafka_config.py:9 — declared at setup
    * but never produced to), wired for real: analyzed envelopes leave
    * as a KEYED stream in the Kafka sink shape — `key` = the F-4
    * message key (`source_url`), `value` = the A.3 processed doc as
    * JSON. A pure projection, so it runs identically over the batch
    * DAG's output and a streaming analyze chain; downstream consumers
    * partition by the same key the ingest topic used, so one
    * article's raw and processed records ride the same partition. */
  def processedEnvelopes(analyzed: DataFrame): DataFrame =
    analyzed.select(
      Envelope.messageKey(col("source_api"), col("article.url")).as("key"),
      to_json(struct(
        col("source_api"),
        Envelope.isoTimestamp(col("fetched_at")).as("fetched_at"),
        Envelope.isoTimestamp(col("processed_at")).as("processed_at"),
        col("article"), col("sentiment"))).as("value"))

  /** Publish the processed stream exactly-once: the same checkpointed
    * idempotent-anti-join sink as the landing path, keyed on the
    * message key (a parquet dir stands in for the topic, as
    * elsewhere). Redelivered or re-analyzed envelopes land nothing
    * new. */
  def runProcessedPublish(analyzed: DataFrame, targetDir: String,
                          checkpointDir: String): StreamingQuery =
    idempotentSink(processedEnvelopes(analyzed), targetDir, "key",
      checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Full landing pipeline for tests/local: stream → validate/envelope →
    * idempotent parquet sink with the late cut on `eventTimeCol`,
    * processed availableNow. The plan holds no stateful operator, so
    * each trigger runs one micro-batch per batch of new input and no
    * state-eviction (no-data) batch.
    *
    * UPGRADE NOTE (stateless landing): a checkpoint written by the
    * earlier plan (watermark + `dropDuplicatesWithinWatermark`) carries
    * state-store metadata the stateless plan does not match, so resuming
    * it fails with `STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`.
    * Operationally: restart each standing landing stream on a FRESH
    * checkpoint dir over the SAME target. The source replays from its
    * start, and the anti-join against the target lands nothing twice. */
  def runLanding(stream: DataFrame, sourceApi: String, urlCol: String,
                 eventTimeCol: String, targetDir: String,
                 checkpointDir: String, requiredCols: String*): StreamingQuery =
    idempotentSink(producerTransform(stream, sourceApi, urlCol, requiredCols: _*),
      targetDir, "key", checkpointDir, Some(eventTimeCol))
      .trigger(Trigger.AvailableNow())
      .start()
}
