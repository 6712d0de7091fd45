// Wall times of the corpus funnel's scan-local text passes, each in
// isolation, in one JVM, on the corpus_prep benchmark corpus (seed
// TS_SEED, default 7): `clean` is the C4 line clean of the raw text;
// `lang`, `quality`, `repetition` and `bandkeys` (the LSH band keys
// minhashPairs shuffles on, at its defaults) run over the cleaned text,
// as the funnel runs them; `shingle13` explodes the raw text's 13-gram
// shingles (the decontamination probe's input). Each pass is a `noop`
// write of the pass's own output columns over a cached input frame, so
// a time is the pass's work plus one scan of cached rows. One warm-up
// rep (rep 0, not reported), then TS_REPS timed reps, a GC before each
// rep. Prints the doc count, then one line,
// `TEXTSTAGES {"clean": [ms, ...], "lang": [...], ...}`. Runs against any
// checkout's benchmark build, so an A/B alternates JVMs of two
// checkouts:
//
//   python3 perfbench/build.py        # in the checkout; prints <classes>
//   TS_DIR=/path/to/scratch TS_REPS=5 \
//     spark-shell --master 'local[4]' --driver-class-path <classes> \
//       --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//       --conf spark.sql.session.timeZone=UTC -i tools/text_stages.scala
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{DedupApprox, TextAnalysis}
import graft.plans.CorpusPipeline
graft.sources.Tables.bootstrap(spark)
spark.sparkContext.setLogLevel("ERROR")
val seed = sys.env.getOrElse("TS_SEED", "7").toLong
val reps = sys.env.getOrElse("TS_REPS", "5").toInt
val path = s"${sys.env("TS_DIR")}/text_stages_corpus_$seed"
if (!new java.io.File(path).exists) {
  val gen = new perfbench.CorpusGen(seed, clusters = 26, clusterSize = 200, chains = 20,
    chainLen = 64, unique = 2000)
  spark.createDataFrame(
    spark.sparkContext.parallelize(gen.docs.toSeq.map(d => Row(d.id, d.text)), 4),
    StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    .write.parquet(path)
}
val cfg = CorpusPipeline.Config()
val raw = spark.read.parquet(path).cache()
val cleaned = TextAnalysis.c4LineCleanText(raw, "text", minWords = cfg.lineMinWords,
    requireTerminalPunct = cfg.lineRequireTerminalPunct)
  .select(col("id"), col("text_clean")).cache()
println(s"docs ${raw.count()}, cleaned ${cleaned.count()}")
val passes: Seq[(String, () => DataFrame)] = Seq(
  "clean" -> (() => TextAnalysis.c4LineCleanText(raw, "text", minWords = cfg.lineMinWords,
    requireTerminalPunct = cfg.lineRequireTerminalPunct).select("text_clean")),
  "lang" -> (() => TextAnalysis.withLangId(cleaned, "text_clean")
    .select("lang_pred", "lang_score")),
  "quality" -> (() => TextAnalysis.withQuality(cleaned, "text_clean")
    .select("q_n_tokens", "q_punct_ratio", "q_stopword_ratio", "q_mean_word_len", "q_score")),
  "repetition" -> (() => TextAnalysis.withRepetition(cleaned, "text_clean")
    .select("dup_unigram_frac", "top_bigram_frac")),
  "bandkeys" -> (() => DedupApprox.minhashIndex(cleaned, "id", "text_clean")),
  "shingle13" -> (() => raw.select(explode(DedupApprox.shingles(col("text"), 13)))))
val times = passes.map { case (p, _) => p -> new StringBuilder }.toMap
for (rep <- 0 to reps; (p, df) <- passes) {
  System.gc()
  val t0 = System.nanoTime
  df().write.format("noop").mode("overwrite").save()
  if (rep > 0) times(p).append(if (times(p).isEmpty) "" else ", ")
    .append(((System.nanoTime - t0) / 1e6).round)
}
println("TEXTSTAGES {" + passes.map { case (p, _) => s""""$p": [${times(p)}]""" }
  .mkString(", ") + "}")
System.exit(0)
