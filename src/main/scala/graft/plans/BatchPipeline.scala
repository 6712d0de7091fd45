package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Sentiment
import graft.operators._

/** The reference's hourly analysis DAG (§3.3,
  * dags/sentiment_analysis_dag.py:31-130) as ONE Catalyst plan over
  * article envelopes: extract (time filter + anti-join against already-
  * processed urls) → score (VADER + lexicon polarity over
  * title+description+content[:500]) → classify → the two output
  * projections (processed doc A.3, searchable doc A.4). The reference's
  * three Airflow tasks + XCom pickling collapse into column transforms;
  * the only exchanges left are the anti-join and the final writes.
  */
object BatchPipeline {

  /** Step 1 (dag:31-52): last-window envelopes not yet processed.
    * `processed` only contributes its url column — Catalyst prunes the
    * scan to that column and broadcasts it while small (J-2).
    *
    * The window itself is deduplicated by url first, like the
    * reference's consumer (one document per `article.url`): a url that
    * both feeds deliver inside one window keeps one deterministic row,
    * the earliest `fetched_at`, ties broken by `source_api`. Rows
    * without a url are never duplicates of each other and all pass. */
  def extractUnprocessed(raw: DataFrame, processed: DataFrame,
                         cutoff: org.apache.spark.sql.Column): DataFrame = {
    val firstFetch = Window.partitionBy(col("url"))
      .orderBy(col("fetched_at"), col("source_api"))
    val window = raw.filter(col("fetched_at") >= cutoff)
      .withColumn("url", col("article.url"))
      .withColumn("__rn", row_number().over(firstFetch))
      .filter(col("url").isNull || col("__rn") === 1)
      .drop("__rn")
    Dedup.dedupAgainst(window,
      processed.select(col("article.url").as("url")),
      "url")
  }

  /** Step 2 (dag:54-99): score + classify. Adds the A.3 `sentiment`
    * struct; drops rows with blank assembled text (F-10). */
  def analyze(envelopes: DataFrame): DataFrame = {
    val text = TextStats.assembleText(
      col("article.title"), col("article.description"), col("article.content"))
    TextStats.nonEmptyText(envelopes.withColumn("text", text), "text")
      .withColumn("vader_compound", Sentiment.vaderCompound(col("text")))
      .withColumn("textblob_polarity", Sentiment.lexiconPolarity(col("text")))
      .withColumn("sentiment",
        Classify.sentimentStruct(col("vader_compound"), col("textblob_polarity")))
      .withColumn("processed_at", current_timestamp())
  }

  /** Step 3a (dag:83-95): the processed-news projection (shape A.3). */
  def processedDoc(analyzed: DataFrame): DataFrame =
    analyzed.select(
      col("source_api"), col("fetched_at"), col("processed_at"),
      col("article"), col("sentiment"))

  /** Step 3b (dag:117-126 + declared mapping fields): the searchable
    * projection (shape A.4) with md5 doc id, 1000-char content clamp,
    * and the declared-but-never-computed stats block (S-13). */
  def searchableDoc(analyzed: DataFrame): DataFrame =
    analyzed.select(
      Envelope.docId(col("article.url"), col("article.title")).as("doc_id"),
      col("article.title").as("title"),
      TextStats.truncate(col("article.content"), 1000).as("content"),
      col("article.url").as("url"),
      col("article.publishedAt").as("published_at"),
      col("sentiment"),
      col("processed_at").as("timestamp"),
      struct(
        TextStats.wordCount(col("text")).as("word_count"),
        TextStats.charCount(col("text")).as("char_count"),
        TextStats.hasContent(col("article.content")).as("has_content")).as("stats"))

  /** The whole DAG in one call: returns (processed, searchable). */
  def run(raw: DataFrame, processed: DataFrame,
          cutoff: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    val analyzed = analyze(extractUnprocessed(raw, processed, cutoff))
    (processedDoc(analyzed), searchableDoc(analyzed))
  }
}
