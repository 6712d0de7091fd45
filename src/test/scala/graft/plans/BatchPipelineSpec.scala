package graft.plans

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.Articles

/** End-to-end A.1→A.4 shape flow (FIXTURES.md §A): JSON article scan,
  * envelope, extract→analyze→project, both output shapes. */
class BatchPipelineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def article(title: String, url: String, desc: String,
                      content: String): Row =
    Row(Row("id1", "src", null), "author", title, desc, url, null, null,
      "2024-01-01T10:00:00", content)

  private def envelope(title: String, url: String, desc: String = "d",
                       content: String = "c", fetched: String = "2024-01-01 10:30:00",
                       feed: String = "newsapi"): Row =
    Row(feed, ts(fetched), article(title, url, desc, content), ts(fetched))

  private def envelopes(rows: Row*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), Articles.envelopeSchema)

  test("readJson applies the explicit union schema") {
    val dir = Files.createTempDirectory("graft-json").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/payload.json"),
      """{"source":{"id":"cnn","name":"CNN"},"title":"T1","url":"https://x.com/1","publishedAt":"2024-01-01T00:00:00","content":"hello"}
        |{"source":{"name":"GN","url":"https://gn.com"},"title":"T2","url":"https://x.com/2","publishedAt":"2024-01-01T01:00:00","image":"https://img"}
        |""".stripMargin)
    val df = Articles.readJson(spark, dir)
    assert(df.count() == 2)
    assert(df.schema("source").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("id", "name", "url"))
    assert(df.filter(col("image").isNotNull).count() == 1)
  }

  test("full DAG: extract skips processed urls, analyze scores, shapes match A.3/A.4") {
    val raw = envelopes(
      envelope("Great news today", "https://x.com/a", "really wonderful success"),
      envelope("Terrible crisis hits", "https://x.com/b", "awful disaster and failure"),
      envelope("Already done", "https://x.com/done"),
      envelope("Too old", "https://x.com/old", fetched = "2024-01-01 08:00:00"))
    val processed = envelopes(envelope("Already done", "https://x.com/done"))

    val (proc, searchable) = BatchPipeline.run(raw, processed,
      lit(ts("2024-01-01 10:00:00")))

    val byUrl = proc.select(col("article.url"), col("sentiment.overall"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byUrl.keySet == Set("https://x.com/a", "https://x.com/b"))
    assert(byUrl("https://x.com/a") == "positive")
    assert(byUrl("https://x.com/b") == "negative")

    val s = searchable.filter(col("url") === "https://x.com/a").head()
    assert(s.getAs[String]("doc_id").length == 32) // md5 hex
    val stats = s.getAs[Row]("stats")
    assert(stats.getAs[Int]("word_count") > 0)
    assert(stats.getAs[Boolean]("has_content"))
    assert(searchable.columns.toSeq == Seq("doc_id", "title", "content", "url",
      "published_at", "sentiment", "timestamp", "stats"))
  }

  test("a url both feeds deliver in one window is processed once: earliest fetch, then feed") {
    val raw = envelopes(
      envelope("From newsapi", "https://x.com/both", fetched = "2024-01-01 10:20:00"),
      envelope("From gnews", "https://x.com/both", fetched = "2024-01-01 10:40:00",
        feed = "gnews"),
      envelope("Tie gnews", "https://x.com/tie", feed = "gnews"),
      envelope("Tie newsapi", "https://x.com/tie"),
      envelope("Only once", "https://x.com/one"),
      // no url: never a duplicate of another url-less article
      envelope("No url one", null), envelope("No url two", null))
    val (proc, searchable) = BatchPipeline.run(raw, envelopes().limit(0),
      lit(ts("2024-01-01 10:00:00")))
    val rows = proc.select(col("article.url"), col("source_api"), col("article.title"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.count(_._1 == "https://x.com/both") == 1)
    assert(rows.sortBy(_._3).toSeq == Seq(
      ("https://x.com/both", "newsapi", "From newsapi"),
      (null, "newsapi", "No url one"),
      (null, "newsapi", "No url two"),
      ("https://x.com/one", "newsapi", "Only once"),
      ("https://x.com/tie", "gnews", "Tie gnews")))
    assert(searchable.count() == 5)
  }

  test("searchable content is clamped to 1000 chars") {
    val long = "x" * 2500
    val (_, searchable) = BatchPipeline.run(
      envelopes(envelope("T", "https://x.com/long", content = long)),
      envelopes().limit(0), lit(ts("2024-01-01 00:00:00")))
    assert(searchable.head().getAs[String]("content").length == 1000)
  }
}
