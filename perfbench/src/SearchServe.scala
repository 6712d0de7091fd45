package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{InvertedIndex, Search}

/** The ES/Kibana read surface: a standing index over generated
  * searchable docs (keyword postings for sentiment and source), served
  * to one closed-loop client, an analyst waiting on each panel. Answers
  * are small and nothing is written, so a query's wall time is its fixed
  * cost: planning, file listing and job launch. */
final class SearchServe(spark: SparkSession, seed: Long) extends Workload {
  val name = "search_serve"
  val opName = "query"
  val itemName = "queries"
  private val gen = new SearchGen(seed, nDocs = 5000)
  private val fields = Seq("title", "content")

  private var dir: String = _
  private var docs: DataFrame = _
  private val answered = mutable.ArrayBuffer.empty[(Query, Seq[Row])]

  def inputs: Seq[String] = {
    val probe = new SearchGen(seed, 0)
    (0 until 200).foreach(_ => probe.dashboard())
    Seq(f"docs = ${gen.nDocs}, vocabulary = ${gen.vocab.length}, Zipf exponent = ${gen.zipfS}%.2f",
      f"query terms from the head (rank < ${gen.headRanks}) = " +
        f"${probe.headTermsDrawn.toDouble / probe.termsDrawn}%.3f, tail = " +
        f"${1 - probe.headTermsDrawn.toDouble / probe.termsDrawn}%.3f (first 200 dashboards)",
      "dashboard = 7 panels: topK over 1, 2 and 3 terms, booleanQuery (2 must, 1 must_not), filteredScored (2 terms, sentiment), termsAgg, bySentiment; one closed-loop client")
  }

  /** Writes the docs table: the input the index is built from. */
  override def prepare(work: String): Unit = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("title", StringType),
      StructField("content", StringType), StructField("sentiment", StringType),
      StructField("source", StringType), StructField("published_at", TimestampType)))
    val rows = gen.docs.toSeq.map(x => Row(x.id, x.title.mkString(" "), x.content.mkString(" "),
      x.sentiment, x.source, new Timestamp(x.publishedAtSec * 1000L)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(s"$work/docs")
    docs = spark.read.parquet(s"$work/docs")
  }

  /** Builds the standing index over the docs table. */
  def setup(d: String): Unit = {
    dir = d
    InvertedIndex.writeIndex(docs, "id", fields, s"$d/index",
      keywordCols = Seq("sentiment", "source"))
  }

  /** One query of each index-served kind, on terms of another seed. */
  def warmup(): Unit =
    new SearchGen(seed + 1, 0).dashboard().distinctBy(_.kind)
      .filter(q => Set("topk", "bool", "filtered")(q.kind)).foreach(serve(_, None))

  private def serve(q: Query, tr: Option[Tracer]): Seq[Row] = {
    val ix = s"$dir/index"
    def span[T](f: => T): T = tr.fold(f)(_.span(s"operators.${q.kind}")(f))
    span {
      q match {
        case TopK(ts) => InvertedIndex.topK(spark, ix, ts, k = 10).collect().toSeq
        case Bool(must, not) =>
          InvertedIndex.booleanQuery(spark, ix, must, not)
            .orderBy(col("tf_sum").desc, col("doc_id")).limit(20).collect().toSeq
        case Filtered(ts, s) =>
          InvertedIndex.filteredScored(spark, ix, ts, Seq("sentiment" -> s))
            .orderBy(col("score").desc, col("doc_id")).limit(10).collect().toSeq
        case TermsAgg => Search.termsAgg(docs, "sentiment").collect().toSeq
        case BySentiment(s) =>
          Search.bySentiment(docs, "sentiment", s, "published_at", "id", k = 20)
            .select("id").collect().toSeq
      }
    }
  }

  /** Each call loads one dashboard: [[SearchGen.dashboard]] panels, one
    * query each, every query timed on its own. */
  def window(seconds: Double, tr: Option[Tracer]): Window =
    Main.closedLoop(seconds) { () =>
      gen.dashboard().map { q =>
        val t0 = System.nanoTime()
        val a = serve(q, tr)
        val ms = (System.nanoTime() - t0) / 1e6
        answered += q -> a
        (ms, 1L, true)
      }
    }

  // ---- checks -----------------------------------------------------------

  private def tf(d: SearchDoc, t: String): Long = d.tokens.count(_ == t).toLong

  private def expectedBool(must: Seq[String], not: Seq[String]): Seq[(Long, Long)] =
    gen.docs.toSeq
      .filter(d => must.forall(t => d.tokens.contains(t)) && !not.exists(t => d.tokens.contains(t)))
      .map(d => (d.id, must.map(t => tf(d, t)).sum))
      .sortBy { case (id, s) => (-s, id) }.take(20)

  private def expectedBySentiment(s: String): Seq[Long] =
    gen.docs.toSeq.filter(_.sentiment == s)
      .sortBy(d => (-d.publishedAtSec, d.id)).take(20).map(_.id)

  private lazy val expectedHist: Map[String, Long] =
    gen.docs.groupBy(_.sentiment).map { case (k, v) => k -> v.length.toLong }

  /** Every bool, terms-agg and by-sentiment answer against the generator's
    * own docs; up to `scanChecks` distinct topK and filtered answers
    * against the engine's full-scan BM25 path (bit-identical scores). */
  def check(): (Int, Seq[String]) = {
    val scanChecks = 3
    val wrong = Seq.newBuilder[String]
    var n = 0
    def scored(ts: Seq[String]) = Search.bm25Scored(docs, fields, ts)
    answered.foreach {
      case (Bool(m, x), a) =>
        n += 1
        val got = a.map(r => (r.getLong(0), r.getLong(1)))
        if (got != expectedBool(m, x)) wrong += s"booleanQuery($m, not $x)"
      case (TermsAgg, a) =>
        n += 1
        if (a.map(r => r.getString(0) -> r.getLong(1)).toMap != expectedHist)
          wrong += "termsAgg(sentiment)"
      case (BySentiment(s), a) =>
        n += 1
        if (a.map(_.getLong(0)) != expectedBySentiment(s)) wrong += s"bySentiment($s)"
      case _ =>
    }
    answered.collect { case (q: TopK, a) => q -> a }.distinctBy(_._1).take(scanChecks)
      .foreach { case (TopK(ts), a) =>
        n += 1
        val scan = Search.byKeywordBm25(docs, "id", fields, ts, k = 10)
          .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        if (a.map(r => (r.getLong(0), r.getDouble(1))) != scan) wrong += s"topK($ts)"
      }
    answered.collect { case (q: Filtered, a) => q -> a }.distinctBy(_._1).take(scanChecks)
      .foreach { case (Filtered(ts, s), a) =>
        n += 1
        val scan = scored(ts).filter(col("sentiment") === s && col("score") > 0.0)
          .orderBy(col("score").desc, col("id")).limit(10)
          .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        if (a.map(r => (r.getLong(0), r.getDouble(1))) != scan) wrong += s"filteredScored($ts, $s)"
      }
    (n, wrong.result())
  }

  def storedBytesPerItem: (Double, String) =
    (Main.dirBytes(s"$dir/index").toDouble / gen.nDocs, "doc")

  def layers(tr: Tracer): Seq[Metric] = Nil

  /** One span per query kind; read spans, so no write counters. */
  override def ownSpans: Seq[(String, Boolean)] =
    Seq("topk", "bool", "filtered", "terms_agg", "by_sentiment").map(k => s"operators.$k" -> false)
}
