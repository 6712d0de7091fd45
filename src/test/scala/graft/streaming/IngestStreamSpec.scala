package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

case class Msg(url: String, title: String, ts: Timestamp)

case class RawArticle(url: String, title: String, description: String,
                      content: String, ts: Timestamp)

/** T-1..T-5 semantics via MemoryStream micro-batches (SURVEY.md §5.4):
  * effectively-once landing under duplicate delivery, validation drops,
  * idempotent re-processing. */
class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("landing is effectively-once under duplicate + redelivery") {
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("graft-land").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    val mem = MemoryStream[Msg]
    mem.addData(
      Msg("https://ex.com/a", "A", ts("2024-01-01 10:00:00")),
      Msg("https://ex.com/a", "A dup", ts("2024-01-01 10:00:01")),   // intra-batch dup key
      Msg("https://ex.com/b", "B", ts("2024-01-01 10:01:00")),
      Msg("", "no url", ts("2024-01-01 10:02:00")),                  // F-1 drop
      Msg("https://ex.com/c", "", ts("2024-01-01 10:03:00")))        // F-1 drop (empty title)

    IngestStream.runLanding(mem.toDF(), "newsapi", "url", "ts",
      target, ckpt, "title").awaitTermination()

    val landed = spark.read.parquet(target)
    assert(landed.select("key").as[String].collect().toSet ==
      Set("newsapi_https://ex.com/a", "newsapi_https://ex.com/b"))

    // redelivery in a later batch: anti-join sink lands nothing new
    mem.addData(Msg("https://ex.com/a", "A again", ts("2024-01-01 10:10:00")),
      Msg("https://ex.com/d", "D", ts("2024-01-01 10:11:00")))
    IngestStream.runLanding(mem.toDF(), "newsapi", "url", "ts",
      target, ckpt, "title").awaitTermination()

    val after = spark.read.parquet(target)
    assert(after.count() == 3)
    assert(after.filter($"key" === "newsapi_https://ex.com/a").count() == 1)
  }

  test("news-processed publish: keyed round-trip, exactly-once under redelivery") {
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("graft-proc").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-proc-ckpt").toString

    val mem = MemoryStream[RawArticle]
    mem.addData(
      RawArticle("https://ex.com/good", "Great news", "wonderful happy success",
        "the best outcome everyone loved it", ts("2024-01-01 10:00:00")),
      RawArticle("https://ex.com/bad", "Terrible news", "awful sad failure",
        "the worst disaster everyone hated it", ts("2024-01-01 10:01:00")))

    def analyzed = graft.plans.BatchPipeline.analyze(
      mem.toDF().select(
        lit("newsapi").as("source_api"),
        $"ts".as("fetched_at"),
        struct($"url", $"title", $"description", $"content").as("article")))

    IngestStream.runProcessedPublish(analyzed, target, ckpt).awaitTermination()

    val out = spark.read.parquet(target)
    assert(out.columns.toSeq == Seq("key", "value"))
    assert(out.select("key").as[String].collect().toSet ==
      Set("newsapi_https://ex.com/good", "newsapi_https://ex.com/bad"))
    // the value is the A.3 processed doc as JSON: parseable, scored
    val parsed = out.select(from_json($"value",
      org.apache.spark.sql.types.StructType.fromDDL(
        "source_api STRING, fetched_at STRING, processed_at STRING, " +
          "article STRUCT<url: STRING, title: STRING, description: STRING, " +
          "content: STRING>, " +
          "sentiment STRUCT<overall: STRING, confidence: DOUBLE, " +
          "vader_compound: DOUBLE, textblob_polarity: DOUBLE>"))
      .as("v"))
    val byUrl = parsed.select($"v.article.url", $"v.sentiment.overall")
      .as[(String, String)].collect().toMap
    assert(byUrl("https://ex.com/good") == "positive")
    assert(byUrl("https://ex.com/bad") == "negative")

    // redelivery + one genuinely new article: exactly one new row lands
    mem.addData(
      RawArticle("https://ex.com/good", "Great news", "wonderful happy success",
        "the best outcome everyone loved it", ts("2024-01-01 10:10:00")),
      RawArticle("https://ex.com/new", "Neutral news", "a report",
        "facts were stated", ts("2024-01-01 10:11:00")))
    IngestStream.runProcessedPublish(analyzed, target, ckpt).awaitTermination()

    val after = spark.read.parquet(target)
    assert(after.count() == 3)
    assert(after.filter($"key" === "newsapi_https://ex.com/good").count() == 1)
  }

  private def landOnce(mem: MemoryStream[Msg], target: String, ckpt: String): Unit =
    IngestStream.runLanding(mem.toDF(), "newsapi", "url", "ts",
      target, ckpt, "title").awaitTermination()

  private def landedKeys(target: String): Seq[String] =
    spark.read.parquet(target).select("key").as[String].collect().toSeq.sorted

  private def keysOf(paths: String*): Seq[String] =
    paths.map(p => s"newsapi_https://ex.com/$p")

  /** Entries of `dir` other than markers and checksums. */
  private def dataFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).toSet.flatten
      .filterNot(f => f.startsWith("_") || f.startsWith("."))

  test("late rule: a row at or before (newest landed - 1 hour) does not land") {
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("graft-late").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-late-ckpt").toString
    val mem = MemoryStream[Msg]
    def m(u: String, t: String) = Msg(s"https://ex.com/$u", u, ts(t))

    // the first batch has no cut: an empty target bounds nothing
    mem.addData(m("a", "2024-01-01 10:00:00.0005"), m("old", "2023-01-01 00:00:00"))
    landOnce(mem, target, ckpt)
    assert(landedKeys(target) == keysOf("a", "old"))

    // newest landed = 10:00:00.0005, truncated to the ms → cut 09:00:00.000
    mem.addData(
      m("at", "2024-01-01 09:00:00"),               // at the cut: late
      m("before", "2024-01-01 08:59:59.999999"),    // older: late
      m("in1us", "2024-01-01 09:00:00.000001"),     // just inside
      m("in400us", "2024-01-01 09:00:00.0004"),     // inside only if max is ms-truncated
      m("new", "2024-01-01 11:00:00"))
    landOnce(mem, target, ckpt)
    assert(landedKeys(target) == keysOf("a", "in1us", "in400us", "new", "old"))

    // the cut moves with what landed: newest is now 11:00 → cut 10:00
    mem.addData(m("at2", "2024-01-01 10:00:00"), m("in2", "2024-01-01 10:00:00.001"))
    landOnce(mem, target, ckpt)
    assert(landedKeys(target) == keysOf("a", "in1us", "in2", "in400us", "new", "old"))
  }

  test("one micro-batch per trigger: one commit, one data file, no state store") {
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("graft-one").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-one-ckpt").toString
    val mem = MemoryStream[Msg]
    def commits = Option(new java.io.File(ckpt, "commits").list()).toSeq.flatten
      .filterNot(_.startsWith("."))

    mem.addData(Msg("https://ex.com/a", "A", ts("2024-01-01 10:00:00")),
      Msg("https://ex.com/b", "B", ts("2024-01-01 10:01:00")))
    landOnce(mem, target, ckpt)
    assert(commits.size == 1)
    val first = dataFiles(target)
    assert(first.size == 1)

    mem.addData(Msg("https://ex.com/c", "C", ts("2024-01-01 10:02:00")),
      Msg("https://ex.com/a", "A again", ts("2024-01-01 10:03:00")))
    landOnce(mem, target, ckpt)
    assert(commits.size == 2)
    val added = dataFiles(target) -- first
    assert(added.size == 1)
    // the added file holds the new row: it is not an empty (no-data) write
    assert(spark.read.parquet(s"$target/${added.head}").count() == 1)
    assert(!new java.io.File(ckpt, "state").exists())
  }

  test("an unreadable target fails the batch and is left byte-unchanged") {
    implicit val sqlCtx = spark.sqlContext
    def corruptTarget(): String = {
      val target = Files.createTempDirectory("graft-corrupt").toString + "/t"
      Files.createDirectories(java.nio.file.Paths.get(target))
      Files.write(java.nio.file.Paths.get(target, "part-00000-corrupt.snappy.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      target
    }

    val landTarget = corruptTarget()
    val before = treeBytes(landTarget)
    val mem = MemoryStream[Msg]
    mem.addData(Msg("https://ex.com/a", "A", ts("2024-01-01 10:00:00")))
    intercept[StreamingQueryException] {
      landOnce(mem, landTarget, Files.createTempDirectory("graft-corrupt-ckpt").toString)
    }
    assert(treeBytes(landTarget) == before)

    val pubTarget = corruptTarget()
    val pubBefore = treeBytes(pubTarget)
    val raw = MemoryStream[RawArticle]
    raw.addData(RawArticle("https://ex.com/good", "Great news", "wonderful",
      "the best", ts("2024-01-01 10:00:00")))
    val analyzed = graft.plans.BatchPipeline.analyze(
      raw.toDF().select(lit("newsapi").as("source_api"), $"ts".as("fetched_at"),
        struct($"url", $"title", $"description", $"content").as("article")))
    intercept[StreamingQueryException] {
      IngestStream.runProcessedPublish(analyzed, pubTarget,
        Files.createTempDirectory("graft-corrupt-pub-ckpt").toString).awaitTermination()
    }
    assert(treeBytes(pubTarget) == pubBefore)
  }

  test("upgrade: a stateful-plan checkpoint resumes on a fresh checkpoint dir") {
    implicit val sqlCtx = spark.sqlContext
    val target = Files.createTempDirectory("graft-upg").toString + "/t"
    val oldCkpt = Files.createTempDirectory("graft-upg-old").toString
    val mem = MemoryStream[Msg]
    mem.addData(Msg("https://ex.com/a", "A", ts("2024-01-01 10:00:00")),
      Msg("https://ex.com/b", "B", ts("2024-01-01 10:01:00")))

    // the earlier landing plan: watermark-bounded state-store dedup
    // ahead of the same sink
    val shaped = IngestStream.producerTransform(mem.toDF(), "newsapi", "url", "title")
    IngestStream.idempotentSink(
        shaped.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("key"),
        target, "key", oldCkpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    assert(new java.io.File(oldCkpt, "state").exists())
    assert(landedKeys(target).size == 2)

    // the standing checkpoint does not resume under the stateless plan
    mem.addData(Msg("https://ex.com/c", "C", ts("2024-01-01 10:02:00")))
    intercept[StreamingQueryException] {
      landOnce(mem, target, oldCkpt)
    }

    // the procedure: a fresh checkpoint over the same target; the source
    // replays from its start (a, b again), plus new (c, d) and repeated (a)
    mem.addData(Msg("https://ex.com/d", "D", ts("2024-01-01 10:03:00")),
      Msg("https://ex.com/a", "A again", ts("2024-01-01 10:04:00")))
    landOnce(mem, target, Files.createTempDirectory("graft-upg-new").toString)
    assert(landedKeys(target) == keysOf("a", "b", "c", "d"))
  }

  test("producerTransform shapes the envelope like the reference") {
    val df = Seq(("https://ex.com/x", "T", ts("2024-01-01 00:00:00"))).toDF("url", "title", "ts")
    val out = IngestStream.producerTransform(df, "gnews", "url", "title")
    val r = out.select("source_api", "key").head()
    assert(r.getString(0) == "gnews")
    assert(r.getString(1) == "gnews_https://ex.com/x")
    assert(out.columns.contains("fetched_at"))
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.operators.Multimodal

  test("asMedia + featurize: schema, determinism, and features flow") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")

    val feats = Multimodal.featurize(media, dim = 8)
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "n_bytes", "content_hash", "width", "height", "feature"))
    val rows = feats.collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getAs[Seq[Float]]("feature").length == 8))
    // deterministic: same input, same hash/features
    val again = Multimodal.featurize(media, dim = 8).collect()
    assert(rows.map(_.getLong(3)).toSeq == again.map(_.getLong(3)).toSeq)
  }

  // -- real container-header parsing (public formats, pure bytes) ----

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(33)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
    bb.putInt(w).putInt(h)
    bb.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    bb.array()
  }

  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ Array(
      (w & 0xff).toByte, ((w >> 8) & 0xff).toByte,
      (h & 0xff).toByte, ((h >> 8) & 0xff).toByte, 0.toByte, 0.toByte, 0.toByte)

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val app0 = Array(0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++
      new Array[Byte](14) // APP0 with 16-byte length
    val sof0 = Array(0xff, 0xc0, 0x00, 0x11, 0x08,
      (h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff, 0x03).map(_.toByte) ++
      new Array[Byte](12)
    Array(0xff.toByte, 0xd8.toByte) ++ app0 ++ sof0
  }

  test("imageHeader parses PNG IHDR, JPEG SOF0, GIF LSD dimensions") {
    assert(Multimodal.imageHeader(pngBytes(640, 480))
      .contains(Multimodal.ImageHeader("png", 640, 480)))
    assert(Multimodal.imageHeader(gifBytes(320, 200))
      .contains(Multimodal.ImageHeader("gif", 320, 200)))
    assert(Multimodal.imageHeader(jpegBytes(1920, 1080))
      .contains(Multimodal.ImageHeader("jpeg", 1920, 1080)))
    // non-images and malformed payloads decode to None, never throw
    assert(Multimodal.imageHeader("plain text".getBytes).isEmpty)
    assert(Multimodal.imageHeader(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
    assert(Multimodal.imageHeader(pngBytes(1, 1).take(20)).isEmpty)
    assert(Multimodal.imageHeader(null).isEmpty)
  }

  test("imageHeader tolerates JPEG 0xFF fill bytes between segments") {
    // ITU-T T.81 §B.1.1.2: markers may be preceded by any number of
    // 0xFF fill bytes; real-world encoders emit them as padding
    val base = jpegBytes(800, 600)
    val soi = base.take(2)
    val rest = base.drop(2)
    val fill = Array.fill(5)(0xff.toByte)
    val padded = soi ++ fill ++ rest.take(18) ++ fill ++ rest.drop(18)
    assert(Multimodal.imageHeader(padded)
      .contains(Multimodal.ImageHeader("jpeg", 800, 600)))
    // a trailing all-0xFF run with no marker still decodes to None
    assert(Multimodal.imageHeader(soi ++ Array.fill(16)(0xff.toByte)).isEmpty)
  }

  private def wavBytes(channels: Int, rate: Int, bits: Int,
                       dataLen: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataLen); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1.toShort); bb.putShort(channels.toShort)
    bb.putInt(rate); bb.putInt(rate * channels * bits / 8)
    bb.putShort((channels * bits / 8).toShort); bb.putShort(bits.toShort)
    bb.put("data".getBytes); bb.putInt(dataLen)
    bb.array()
  }

  test("audioHeader parses WAV fmt/data chunks and derives duration") {
    // 1 s of 16-bit stereo at 8 kHz = 32000 data bytes
    val h = Multimodal.audioHeader(wavBytes(2, 8000, 16, 32000))
    assert(h.contains(Multimodal.AudioHeader("wav", 2, 8000, 16, 1000L)))
    // half a second mono
    val m = Multimodal.audioHeader(wavBytes(1, 16000, 16, 16000))
    assert(m.exists(_.durationMs == 500L))
    assert(Multimodal.audioHeader("RIFFxxxxWAVE".getBytes).isEmpty) // truncated
    assert(Multimodal.audioHeader("not audio at all, truly not".getBytes ++ new Array[Byte](40)).isEmpty)
    assert(Multimodal.audioHeader(null).isEmpty)
  }

  test("featurize reports real dimensions for image payloads") {
    import spark.implicits._
    val media = Seq(
      (1L, pngBytes(100, 50)),
      (2L, jpegBytes(64, 32)),
      (3L, gifBytes(12, 34)),
      (4L, "not an image".getBytes)
    ).toDF("media_id", "payload")
      .select(col("media_id"), org.apache.spark.sql.functions.lit("image").as("modality"),
        col("payload"))
    val out = Multimodal.featurize(media, dim = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(4), r.getInt(5)))).toMap
    assert(out(1L) == ((100, 50)))
    assert(out(2L) == ((64, 32)))
    assert(out(3L) == ((12, 34)))
    // stub path for the non-image payload: byte-derived dims
    val b = "not an image".getBytes
    assert(out(4L) == ((16 + (b.head.toInt % 64), 16 + (b.last.toInt % 64))))
  }
}
