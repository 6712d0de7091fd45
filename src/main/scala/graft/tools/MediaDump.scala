package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, TextAnalysis}
import graft.sources.Tables

/** Dumps the media/DEFLATE no-oracle queries' INPUT payloads joined
  * with the engine's outputs, for the independent cross-executor diff
  * in tools/media_probe.py (round-12 VERDICT directive 2: the x36-x42
  * cluster and x16 are spec-pinned but were never checked against an
  * executor that shares no code with the engine). The probe re-decodes
  * the payload bytes with Python stdlib (struct/zlib) and recomputes
  * every feature column.
  *
  * args: sfDir outDir — writes one parquet dir per probe surface:
  *   audio/    media_id, payload, <featurizeAudio columns>   (x36)
  *   image/    media_id, payload, <featurizeImage columns>   (x37)
  *   video/    doc_id, payload, format, duration_ms, width,
  *             height, n_tracks                              (x39)
  *   compress/ id, text, raw_bytes, deflate_bytes,
  *             ratio_micro                                   (x41)
  *   approx/   l_returnflag, approx_orders                   (x16)
  */
object MediaDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val spark = graft.Sessions.local()

    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")

    val docs = Tables.documents(spark, sfDir)

    // x36: the same payload construction as the gate query, payloads kept
    val wav = udf((id: Long) => Multimodal.synthWav(id))
    val audioMedia = docs.select(col("doc_id").cast("long").as("media_id"),
      wav(col("doc_id")).as("payload"))
    save(audioMedia.join(Multimodal.featurizeAudio(audioMedia), "media_id"),
      "audio")

    // x37: PNG payloads kept beside the decoded feature columns
    val png = udf((id: Long) => Multimodal.synthPng(id))
    val imageMedia = docs.select(col("doc_id").cast("long").as("media_id"),
      png(col("doc_id")).as("payload"))
    save(imageMedia.join(Multimodal.featurizeImage(imageMedia), "media_id"),
      "image")

    // x39: MP4 payloads + the parsed header fields
    val mp4 = udf((id: Long) => Multimodal.synthMp4(id))
    val parse = udf((b: Array[Byte]) =>
      Multimodal.videoHeader(b).map(h =>
        (h.format, h.durationMs, h.width, h.height, h.nTracks)))
    save(docs.select(col("doc_id"), mp4(col("doc_id")).as("payload"))
      .select(col("doc_id"), col("payload"), parse(col("payload")).as("hd"))
      .select(col("doc_id"), col("payload"), col("hd._1").as("format"),
        col("hd._2").as("duration_ms"), col("hd._3").as("width"),
        col("hd._4").as("height"), col("hd._5").as("n_tracks")), "video")

    // x41: raw text kept beside the DEFLATE stats (the probe re-deflates
    // with Python zlib — both sides are RFC 1951 at the same level)
    save(TextAnalysis.compressionStats(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        col("text")), "doc_id"), "compress")

    // x42's compression-gate input: the decorated frame (same junk-tail
    // construction as the gate query); the probe rebuilds the tail from
    // (doc_id, text) and re-deflates — certifying the DEFLATE kernel on
    // exactly the adversarial repetitive-tail class the gate exists for
    val junkTail = repeat(
      concat(lit(" the item"), col("doc_id") * 7 + 1,
        lit(" of the list"), col("doc_id") * 3 + 2, lit(" and")), 100)
    val decorated = docs
      .filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), junkTail))
    save(TextAnalysis.compressionStats(decorated, "doc_id", "text")
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        col("text").as("base_text")), "doc_id"), "compress42")

    // x16: the HLL++ estimates; the probe computes EXACT distincts from
    // the lineitem parquet directly and checks the documented rsd bound
    save(Tables.lineitem(spark, sfDir).groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders")),
      "approx")

    // x38/x40: the gate queries' own outputs — the probe re-derives
    // the PLANTED ground truth from id arithmetic + the documents
    // table (every (2k, 2k+1) PNG/JPEG re-encode pair for x38; the
    // id-range verdict classes and exactly-once fold for x40) and
    // diffs, independent of the engine's LSH/ledger internals
    save(graft.SparkEntry.queries("x38_image_neardup")(spark, sfDir),
      "neardup")
    // the per-seed PNG rasters behind x38: the probe decodes these,
    // recomputes the 4x4 RGB grid embeddings, and derives the expected
    // pair set from its OWN pairwise cosines (so cross-seed rasters
    // that genuinely land inside the threshold are expected, not
    // false-positive noise)
    val rasterPng = udf((seed: Long) =>
      Multimodal.encodePng(Multimodal.synthRaster(seed)))
    save(docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").cast("long").as("seed"),
        rasterPng(col("doc_id")).as("payload")), "neardup_png")
    save(graft.SparkEntry.queries("x40_media_stream_dedup")(spark, sfDir),
      "verdicts")
    // the underlying raster (as lossless PNG) behind every x40
    // participant, keyed by its media_id: batch0 = raster(seed);
    // +1e6 re-encodes share batch0's raster; +2e6 "new" entries are
    // raster(seed + 7777). The probe recomputes grid cosines from
    // these and judges each verdict with a JPEG-noise band, so
    // genuine feature-space collisions between "new" and standing
    // rasters count as correct dup verdicts rather than noise.
    val seeds = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").cast("long").as("seed"))
    val vp = seeds.select(col("seed").as("media_id"), col("seed").as("rseed"))
      .unionByName(seeds.filter(col("seed") % 2 === 0)
        .select((col("seed") + 1000000L).as("media_id"), col("seed").as("rseed")))
      .unionByName(seeds.filter(col("seed") % 2 === 1)
        .select((col("seed") + 2000000L).as("media_id"),
          (col("seed") + 7777L).as("rseed")))
    save(vp.select(col("media_id"), rasterPng(col("rseed")).as("payload")),
      "verdict_png")

    println(s"media dump -> $outDir")
    spark.stop()
  }
}
