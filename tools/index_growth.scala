// Postings growth of an incrementally appended inverted index: appends
// hourly_ingest-shaped batches (the benchmark's article generator, each
// hour's new articles, content clamped to 1000 chars) one by one with
// InvertedIndex.appendBatch, and prints one JSON line with the postings
// data files and bytes at the requested append counts, plus each
// append's wall time and postings file count (a drop marks a fold or
// compaction). Runs against any checkout's benchmark build, so
// two commits compare on the same batches:
//
//   python3 perfbench/build.py        # in the checkout; prints <classes>
//   GROWTH_APPENDS=30 GROWTH_AT=10,30 GROWTH_SEED=7 \
//     spark-shell --master 'local[4]' --driver-class-path <classes> \
//       --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//       -i tools/index_growth.scala
import java.io.File
import org.apache.spark.sql.functions._

val appends = sys.env.getOrElse("GROWTH_APPENDS", "30").toInt
val reportAt = sys.env.getOrElse("GROWTH_AT", "10,30").split(',').map(_.trim.toInt).toSet
val seed = sys.env.getOrElse("GROWTH_SEED", "7").toLong
val work = java.nio.file.Files.createTempDirectory("index-growth").toFile
val dir = new File(work, "index").getPath
graft.sources.Tables.bootstrap(spark)
spark.sparkContext.setLogLevel("ERROR")
import spark.implicits._

def dataFiles(f: File): Seq[File] =
  if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
  else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
  else Seq(f)
def postings(): Seq[File] = dataFiles(new File(dir, "postings"))
// InvertedIndex.SegmentBucket, spelled out so the script also runs
// against builds that predate it
def inSegment(f: File): Boolean = f.getParentFile.getName == "bucket=-1"

val gen = new perfbench.ArticleGen(seed, 150)
val points = scala.collection.mutable.ArrayBuffer.empty[String]
val appendMs = scala.collection.mutable.ArrayBuffer.empty[Long]
val filesAfter = scala.collection.mutable.ArrayBuffer.empty[Int]
(0 until appends).foreach { h =>
  val batch = gen.hour(h).values.flatten
    .filter(a => a.kind == "new" || a.kind == "planted")
    .map(a => (a.url, a.title, a.content.take(1000))).toSeq
    .toDF("url", "title", "content").withColumn("id", xxhash64(col("url")))
  val t0 = System.nanoTime()
  graft.operators.InvertedIndex.appendBatch(batch, "id", Seq("title", "content"), dir)
  appendMs += (System.nanoTime() - t0) / 1000000L
  filesAfter += postings().size
  if (reportAt(h + 1)) {
    val fs = postings()
    val (seg, buckets) = fs.partition(inSegment)
    val index = dataFiles(new File(dir))
    points += s"""{"appends": ${h + 1}, "postings_files": ${fs.size}, """ +
      s""""postings_bytes": ${fs.map(_.length).sum}, "segment_files": ${seg.size}, """ +
      s""""bucket_files": ${buckets.size}, "bucket_dirs": ${buckets.map(_.getParent).distinct.size}, """ +
      s""""index_files": ${index.size}, "index_bytes": ${index.map(_.length).sum}}"""
  }
}
println(s"""GROWTH {"seed": $seed, "points": [${points.mkString(", ")}], """ +
  s""""append_ms": [${appendMs.mkString(", ")}], """ +
  s""""postings_files_after": [${filesAfter.mkString(", ")}]}""")
org.apache.commons.io.FileUtils.deleteDirectory(work)
System.exit(0)
