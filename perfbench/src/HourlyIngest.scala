package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

import graft.operators.{InvertedIndex, Quality, Search}
import graft.plans.BatchPipeline
import graft.sources.Articles
import graft.streaming.IngestStream

/** The reference's write path, one cycle per fetched hour: the hour's
  * payload files appear in each feed's directory; the landing streams
  * (AvailableNow, checkpoints kept across cycles) land them; the
  * freshness and completeness gates run; the batch DAG scores the
  * unprocessed rows and appends the processed and searchable outputs;
  * the searchable rows fold into the live inverted index; and a probe
  * for the hour's planted term must return the hour's new articles. A
  * cycle's latency runs from the files appearing to the probe's answer.
  *
  * The index is keyed on `xxhash64(url)`: the searchable doc's own
  * `doc_id` is an md5 hex string, which the index's long cast cannot
  * take. */
final class HourlyIngest(spark: SparkSession, seed: Long) extends Workload {
  val name = "hourly_ingest"
  val opName = "cycle"
  val itemName = "articles"
  private val perFeed = 150
  private val feeds = Seq("newsapi", "gnews")

  private var gen: ArticleGen = _
  private var dir: String = _
  private var hour = 0
  /** The hour setup landed, scored by [[warmup]]: (cutoff, planted ids). */
  private var pending: (Timestamp, Set[Long]) = _
  private def path(p: String) = s"$dir/$p"

  def inputs: Seq[String] = {
    val g = new ArticleGen(seed, perFeed)
    (0 until 4).foreach(g.hour)
    Seq(f"articles per feed-hour = $perFeed new; re-fetch share = ${g.refetchShare}%.3f; " +
      f"cross-feed share = ${g.crossShare}%.3f; invalid share = ${g.invalidShare}%.3f; " +
      f"blank share = ${g.blankShare}%.3f",
      f"offered over the first 4 hours: ${g.offered} rows, " +
        f"re-fetched ${g.offeredRefetch.toDouble / g.offered}%.3f, " +
        f"invalid ${g.offeredInvalid.toDouble / g.offered}%.3f")
  }

  /** Fresh directories, and the first hour landed by the two feeds'
    * streams into empty landing tables (the streams' checkpoints start
    * here). */
  def setup(d: String): Unit = {
    dir = d
    gen = new ArticleGen(seed, perFeed)
    feeds.foreach(f => new File(path(s"payload/$f")).mkdirs())
    new File(path("staging")).mkdirs()
    val batch = gen.hour(0)
    pending = (new Timestamp(System.currentTimeMillis()), gen.plantedUrls(batch).map(urlId))
    land(stage(batch, 0))
    hour = 1
  }

  /** Whether the probes of the untimed warm-up cycles were right. */
  private var warmProbeOk = true

  /** Untimed: the rest of the first hour's cycle, which scores it and
    * creates the processed and searchable tables and the index, then two
    * whole cycles, so the timed cycles land against a checkpointed stream
    * and fold into an existing index with warm code, as every later
    * hour does. */
  def warmup(): Unit = {
    val firstOk = score(0, lit(pending._1), pending._2, None)
    warmProbeOk = Seq(firstOk, cycle(None)._3, cycle(None)._3).forall(identity)
  }

  /** Each call of the loop runs two hours' cycles, each timed on its own,
    * so every window holds the same number of cycles. */
  def window(seconds: Double, tr: Option[Tracer]): Window =
    Main.closedLoop(seconds)(() => Seq(cycle(tr), cycle(tr)))

  private def span[T](tr: Option[Tracer], n: String)(f: => T): T =
    tr.fold(f)(_.span(n)(f))

  private def landed: DataFrame =
    feeds.map(f => spark.read.parquet(path(s"landed/$f"))).reduce(_ unionByName _)

  /** Landed rows in the batch DAG's envelope shape. */
  private def envelopes(landedRows: DataFrame): DataFrame =
    landedRows.select(col("source_api"), col("fetched_at"),
      struct(Articles.articleSchema.fieldNames.map(col).toIndexedSeq: _*).as("article"))

  private def processed: DataFrame =
    if (new File(path("processed")).exists()) spark.read.parquet(path("processed"))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("article", Articles.articleSchema))))

  /** Spark's `xxhash64` of a string, computed here without the engine. */
  private def urlId(url: String): Long = {
    val b = url.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Writes each feed's payload for hour `h` aside, for [[land]] to
    * move into the watched directories. */
  private def stage(batch: Map[String, Seq[Art]], h: Int): Seq[(File, File)] =
    feeds.map { f =>
      val tmp = new File(path(s"staging/$f-$h.json"))
      val w = new PrintWriter(tmp, "UTF-8")
      try batch(f).foreach(a => w.println(a.json)) finally w.close()
      (tmp, new File(path(s"payload/$f/$f-$h.json")))
    }

  /** The staged files appear; both feeds' landing streams run. */
  private def land(staged: Seq[(File, File)]): Unit = {
    staged.foreach { case (a, b) =>
      Files.move(a.toPath, b.toPath, StandardCopyOption.ATOMIC_MOVE) }
    feeds.map { f =>
      IngestStream.runLanding(
        spark.readStream.schema(Articles.articleSchema).json(path(s"payload/$f")),
        f, "url", "fetched_at", path(s"landed/$f"), path(s"checkpoint/$f"),
        "title", "publishedAt")
    }.foreach(_.awaitTermination())
  }

  /** One hour: returns (latency ms, rows offered, probe correct). */
  private def cycle(tr: Option[Tracer]): (Double, Long, Boolean) = {
    val h = hour
    hour += 1
    val batch = gen.hour(h)
    val staged = stage(batch, h)
    val offered = batch.values.map(_.size).sum.toLong
    val expected = gen.plantedUrls(batch).map(urlId)
    val cutoff = lit(new Timestamp(System.currentTimeMillis()))
    val indexBefore = if (tr.isDefined) Main.dataFiles(path("index")) else Set.empty[String]

    // the cycle starts when the hour's files appear
    val t0 = System.nanoTime()
    span(tr, "streaming.land")(land(staged))
    val ok = score(h, cutoff, expected, tr)
    val ms = (System.nanoTime() - t0) / 1e6

    tr.foreach { t =>
      val after = Main.dataFiles(path("index"))
      t.record("streaming.land.offered", offered.toDouble)
      t.record("operators.index_append.files", after.count(_.startsWith("postings")).toDouble)
      t.record("operators.index_append.compactions",
        if ((indexBefore -- after).nonEmpty) 1.0 else 0.0)
    }
    (ms, offered, ok)
  }

  /** Gates, scoring, index fold and probe for the rows landed since
    * `cutoff`; true when the probe returns exactly the hour's planted
    * articles. */
  private def score(h: Int, cutoff: Column, expected: Set[Long],
                    tr: Option[Tracer]): Boolean = {
    val all = landed
    span(tr, "operators.fresh_gate") {
      Quality.assertFresh(all, "fetched_at", cutoff)
      Quality.assertComplete(all, "fetched_at", cutoff, length(col("title")) === 0)
    }
    span(tr, "plans.analyze") {
      val (proc, search) = BatchPipeline.run(envelopes(all), processed, cutoff)
      proc.write.mode("append").parquet(path("processed"))
      search.withColumn("id", xxhash64(col("url")))
        .write.mode("append").parquet(path("searchable"))
    }
    span(tr, "operators.index_append") {
      InvertedIndex.appendBatch(
        spark.read.parquet(path("searchable")).filter(col("timestamp") >= cutoff),
        "id", Seq("title", "content"), path("index"))
    }
    val hits = span(tr, "operators.index_probe") {
      InvertedIndex.topK(spark, path("index"), Seq(gen.plantedTerm(h)))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    hits == expected
  }

  def check(): (Int, Seq[String]) = {
    val wrong = Seq.newBuilder[String]
    val landedN = landed.count()
    if (landedN != gen.landedKeys.size)
      wrong += s"landed rows $landedN != distinct valid (feed, url) keys ${gen.landedKeys.size}"
    val proc = spark.read.parquet(path("processed"))
    val procN = proc.count()
    if (procN != gen.scoredUrls.size)
      wrong += s"processed rows $procN != distinct scorable urls ${gen.scoredUrls.size}"
    val nDocs = spark.read.parquet(path("index/stats"))
      .dropDuplicates("batch_key", "n_docs", "sum_dl")
      .agg(sum(col("n_docs"))).head().getLong(0)
    if (nDocs != procN) wrong += s"index n_docs $nDocs != processed rows $procN"
    // the incremental histogram against one pass over everything landed
    def hist(df: DataFrame): Map[String, Long] =
      Search.termsAgg(df.select(col("sentiment.overall").as("overall")), "overall")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val incremental = hist(proc)
    val oneShot = hist(BatchPipeline.analyze(envelopes(landed))
      .withColumn("__url", col("article.url")).dropDuplicates("__url"))
    if (incremental != oneShot)
      wrong += s"sentiment histogram $incremental != one-shot $oneShot"
    if (!warmProbeOk) wrong += "a warm-up probe missed its hour's articles"
    (5, wrong.result())
  }

  def storedBytesPerItem: (Double, String) = {
    val bytes = Seq("landed", "processed", "index").map(p => Main.dirBytes(path(p))).sum
    (bytes.toDouble / gen.landedKeys.map(_._2).size, "article")
  }

  def layers(tr: Tracer): Seq[Metric] = {
    val rowsOut = tr.spanCounters("streaming.land", write = true).toMap.apply("rows_out")
    val offered = tr.recorded("streaming.land.offered")
    Seq(
      Metric("streaming.land.kept_ratio", if (offered > 0) rowsOut / offered else 0.0, "ratio"),
      Metric("operators.index_append.files", tr.recorded("operators.index_append.files"), "count"),
      Metric("operators.index_append.compactions",
        tr.recorded("operators.index_append.compactions"), "count"))
  }
}
