// Wall times of the three passes of the near-dup graph, in one JVM, on
// the corpus_prep benchmark corpus (seed ND_SEED, default 7; the raw
// text, without the funnel's cleaning): `cand` is the minhashPairs call
// (its candidate set is checkpointed eagerly), `verify` checkpoints the
// Jaccard-verified pairs, `cc` counts connectedComponents over them
// with the distributed path forced (graft.cc.localMaxEdges=0). One
// warm-up rep (rep 0, not reported), then ND_REPS timed reps; persisted
// RDDs are dropped and a GC runs before each rep. Prints the pair and
// component-row counts, then one line,
// `NDPASSES {"cand": [ms, ...], "verify": [...], "cc": [...]}`. Runs against any
// checkout's benchmark build, so an A/B alternates JVMs of two
// checkouts:
//
//   python3 perfbench/build.py        # in the checkout; prints <classes>
//   ND_DIR=/path/to/scratch ND_REPS=4 \
//     spark-shell --master 'local[4]' --driver-class-path <classes> \
//       --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//       --conf spark.sql.adaptive.enabled=true \
//       --conf spark.sql.session.timeZone=UTC -i tools/neardup_passes.scala
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.{Dedup, DedupApprox}
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
val times = Map("cand" -> new StringBuilder, "verify" -> new StringBuilder, "cc" -> new StringBuilder)
def timed[T](pass: String, rep: Int)(f: => T): T = {
  val t0 = System.nanoTime
  val r = f
  if (rep > 0) times(pass).append(if (times(pass).isEmpty) "" else ", ")
    .append(((System.nanoTime - t0) / 1e6).round)
  r
}
spark.conf.set("graft.cc.localMaxEdges", "0")
for (rep <- 0 to reps) {
  spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  System.gc()
  val pairs = timed("cand", rep)(DedupApprox.minhashPairs(docs, "id", "text", threshold = 0.5))
  val verified = timed("verify", rep)(pairs.localCheckpoint())
  val comps = timed("cc", rep)(Dedup.connectedComponents(verified).count())
  if (rep == 0) println(s"pairs ${verified.count()}, component rows $comps")
}
println("NDPASSES {" + Seq("cand", "verify", "cc").map(p => s""""$p": [${times(p)}]""")
  .mkString(", ") + "}")
System.exit(0)
