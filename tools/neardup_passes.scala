// Wall times of the passes of the near-dup graph, in one JVM, on the
// corpus_prep benchmark corpus (seed ND_SEED, default 7; the raw text,
// without the funnel's cleaning). The pair path: `cand` is the
// minhashPairs call (its candidate set is checkpointed eagerly),
// `verify` checkpoints the Jaccard-verified pairs, `cc` counts
// connectedComponents over them. The edge path: `edges` is the
// minhashEdges call (buckets, union-find verification, its edges
// checkpointed), `edges_cc` counts connectedComponents over them. Both
// CC passes run the distributed rounds (graft.cc.localMaxEdges=0), so
// the two CC times compare the same algorithm on the two edge sets.
// One warm-up rep (rep 0, not reported), then ND_REPS timed reps;
// persisted RDDs are dropped and a GC runs before each rep. Prints the
// pair, edge and component-row counts and the edge path's bound, the
// sum of (|bucket| - 1) over the LSH buckets of 2 to 500 rows (one
// minhashIndex group per bucket), then three lines: the times,
// the Janino compiles (CodegenMetrics.METRIC_COMPILATION_TIME count)
// and their compile time in ms (CodeGenerator.compileTime) per pass and
// rep,
//   NDPASSES {"cand": [ms, ...], "verify": [...], "cc": [...], "edges": [...], "edges_cc": [...]}
//   NDCOMPILES {"cand": [n, ...], ...}
//   NDCOMPILE_MS {"cand": [ms, ...], ...}
// Runs against any checkout's benchmark build, so an A/B alternates
// JVMs of two checkouts (a checkout without minhashEdges fails to
// compile this script):
//
//   python3 perfbench/build.py        # in the checkout; prints <classes>
//   ND_DIR=/path/to/scratch ND_REPS=4 \
//     spark-shell --master 'local[4]' --driver-class-path <classes> \
//       --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//       --conf spark.sql.adaptive.enabled=true \
//       --conf spark.sql.session.timeZone=UTC -i tools/neardup_passes.scala
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.types._
import graft.operators.{Checkpoints, Dedup, DedupApprox}
graft.sources.Tables.bootstrap(spark)
spark.sparkContext.setLogLevel("ERROR")
val seed = sys.env.getOrElse("ND_SEED", "7").toLong
val reps = sys.env.getOrElse("ND_REPS", "4").toInt
val path = s"${sys.env("ND_DIR")}/neardup_corpus_$seed"
if (!new java.io.File(path).exists) {
  val gen = new perfbench.CorpusGen(seed, clusters = 26, clusterSize = 200, chains = 20,
    chainLen = 64, unique = 2000)
  spark.createDataFrame(
    spark.sparkContext.parallelize(gen.docs.toSeq.map(d => Row(d.id, d.text)), 4),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    .write.parquet(path)
}
val docs = spark.read.parquet(path)
val passes = Seq("cand", "verify", "cc", "edges", "edges_cc")
val times, compiles, compileMs = passes.map(_ -> new StringBuilder).toMap
def add(to: Map[String, StringBuilder], pass: String, v: Any): Unit =
  to(pass).append(if (to(pass).isEmpty) "" else ", ").append(v)
def timed[T](pass: String, rep: Int)(f: => T): T = {
  val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  val c0 = CodeGenerator.compileTime
  val t0 = System.nanoTime
  val r = f
  if (rep > 0) {
    add(times, pass, ((System.nanoTime - t0) / 1e6).round)
    add(compiles, pass, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
    add(compileMs, pass, ((CodeGenerator.compileTime - c0) / 1e6).round)
  }
  r
}
val bucketBound = DedupApprox.minhashIndex(docs, "id", "text")
  .groupBy("band", "band_hash").agg(count(lit(1)).as("rows"), countDistinct("id").as("k"))
  .filter(col("rows") <= 500 && col("k") > 1)
  .agg(sum(col("k") - 1)).head.getLong(0)
spark.conf.set("graft.cc.localMaxEdges", "0")
for (rep <- 0 to reps) {
  spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  System.gc()
  val pairs = timed("cand", rep)(DedupApprox.minhashPairs(docs, "id", "text", threshold = 0.5))
  val verified = timed("verify", rep)(pairs.localCheckpoint())
  val comps = timed("cc", rep)(Dedup.connectedComponents(verified).count())
  val edges = timed("edges", rep)(DedupApprox.minhashEdges(docs, "id", "text", threshold = 0.5))
  val edgeComps = timed("edges_cc", rep)(Dedup.connectedComponents(edges).count())
  if (rep == 0) println(s"pairs ${verified.count()}, edges ${edges.count()} " +
    s"(bound $bucketBound), component rows $comps (pairs) $edgeComps (edges)")
  Checkpoints.release(edges)
}
def line(tag: String, m: Map[String, StringBuilder]): String =
  s"$tag {" + passes.map(p => s""""$p": [${m(p)}]""").mkString(", ") + "}"
println(line("NDPASSES", times))
println(line("NDCOMPILES", compiles))
println(line("NDCOMPILE_MS", compileMs))
System.exit(0)
