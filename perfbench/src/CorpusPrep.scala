package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.CorpusPipeline

/** The LLM-prep funnel over a seeded corpus: `withVerdicts` then
  * `materialize` to shards, one pass per operation. Its cost is scaling
  * cost: shuffles, MinHash LSH and the connected-components rounds. The
  * templated clusters put more near-duplicate edges in the graph than the
  * engine's driver-local union-find threshold, so the distributed rounds
  * run, and the chains give the graph a diameter that needs several. */
final class CorpusPrep(spark: SparkSession, seed: Long) extends Workload {
  val name = "corpus_prep"
  val opName = "pass"
  val itemName = "prep_docs"
  private val gen = new CorpusGen(seed, clusters = 26, clusterSize = 200,
    chains = 20, chainLen = 64, unique = 2000)

  private var dir: String = _

  def inputs: Seq[String] = Seq(
    s"docs = ${gen.docs.size} (training ${gen.trainingDocs}, benchmark ${gen.docs.size - gen.trainingDocs})",
    s"near-duplicate clusters = ${gen.clusters} x ${gen.clusterSize}, exact-duplicate groups = ${gen.dupGroups.size}, " +
      s"near-duplicate chains = ${gen.chains} x ${gen.chainLen} (window ${gen.chainWindow} sentences)",
    s"planted near-duplicate edges ~ ${gen.plantedEdges}; contaminated docs = " +
      s"${gen.contaminatedIds.size}; boilerplate docs = ${gen.boilerplateIds.size}; junk docs = ${gen.junkIds.size}")

  private def load(g: CorpusGen, path: String): Unit = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType),
      StructField("is_bench", BooleanType)))
    val rows = g.docs.toSeq.map(x => Row(x.id, x.text, x.isBench))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.parquet(path)
  }

  /** Loads the corpus into the lake: the standing input table. */
  def setup(d: String): Unit = {
    dir = d
    load(gen, s"$d/corpus")
  }

  /** Untimed: one pass over a small corpus of the same shape, with the
    * driver-local union-find turned off so connected components runs its
    * distributed rounds, as the timed pass does. The timed pass then
    * runs warm code. */
  def warmup(): Unit = {
    load(new CorpusGen(seed, clusters = 2, clusterSize = 20, chains = 2, chainLen = 16,
      unique = 200), s"$dir/warm/corpus")
    spark.conf.set("graft.cc.localMaxEdges", "0")
    try funnel(s"$dir/warm") finally spark.conf.unset("graft.cc.localMaxEdges")
  }

  /** One pass of the funnel over `<base>/corpus`, written to `<base>/shards`. */
  private def funnel(base: String): Unit = {
    val docs = spark.read.parquet(s"$base/corpus")
    val verdicts = CorpusPipeline.withVerdicts(docs, "id", "text", col("is_bench"))
    CorpusPipeline.materialize(verdicts, "id", s"$base/shards").collect()
  }

  private def pass(tr: Option[Tracer]): Unit =
    tr.fold(funnel(dir))(_.span("plans.funnel")(funnel(dir)))

  def window(seconds: Double, tr: Option[Tracer]): Window =
    Main.closedLoop(seconds) { () =>
      val t0 = System.nanoTime()
      pass(tr)
      Seq(((System.nanoTime() - t0) / 1e6, gen.trainingDocs.toLong, true))
    }

  def check(): (Int, Seq[String]) = {
    val kept = spark.read.parquet(s"$dir/shards").select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val wrong = Seq.newBuilder[String]
    gen.clusterIds.foreach { g =>
      val k = g.count(kept.contains)
      if (k != 1) wrong += s"near-duplicate cluster from id ${g.head} kept $k docs"
    }
    gen.dupGroups.foreach { g =>
      val k = g.count(kept.contains)
      if (k != 1) wrong += s"exact-duplicate group of ${g.size} from id ${g.head} kept $k docs"
    }
    gen.chainIds.foreach { c =>
      val k = c.count(kept.contains)
      if (k != 1) wrong += s"chain from id ${c.head} kept $k docs (one component keeps one)"
    }
    val contaminated = gen.contaminatedIds.count(kept.contains)
    if (contaminated > 0) wrong += s"$contaminated contaminated docs kept"
    val junk = gen.junkIds.count(kept.contains)
    if (junk > 0) wrong += s"$junk junk docs kept"
    val dirty = gen.boilerplateIds.flatMap(kept.get)
      .count(t => gen.boilerplate.exists(b => t.split('\n').contains(b)))
    if (dirty > 0) wrong += s"$dirty kept docs still carry a boilerplate line"
    (gen.clusterIds.size + gen.dupGroups.size + gen.chainIds.size + 3, wrong.result())
  }

  def storedBytesPerItem: (Double, String) = {
    val kept = spark.read.parquet(s"$dir/shards").count()
    (Main.dirBytes(s"$dir/shards").toDouble / kept, "kept_doc")
  }

  def layers(tr: Tracer): Seq[Metric] = {
    // attribution by Spark's recorded call site (the long form names the
    // engine method that issued the job)
    val cc = tr.siteCounters("plans.funnel", "Dedup$.connectedComponents(")
    val mh = tr.siteCounters("plans.funnel", "DedupApprox$.")
    val counts = tr.siteCounts("plans.funnel", "Dedup$.connectedComponents(")
    def avg(f: Seq[Long] => Double) =
      if (counts.isEmpty) 0.0 else counts.map(f).sum / counts.size
    cc.map { case (k, v) => Metric(s"operators.cc.$k", v, Main.unitOf(k)) } ++
      mh.map { case (k, v) => Metric(s"operators.minhash.$k", v, Main.unitOf(k)) } ++
      Seq(Metric("operators.cc.edges", avg(c => c.headOption.getOrElse(0L).toDouble), "count"),
        Metric("operators.cc.rounds", avg(c => math.max(0, c.size - 1).toDouble), "count"))
  }
}
