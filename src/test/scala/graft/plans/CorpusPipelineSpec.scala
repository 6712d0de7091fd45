package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.DedupApprox
import graft.sources.Tables

/** End-to-end corpus prep: verdict columns, causal funnel, dedup
  * fixpoint, decontamination, sharded export. */
class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private val isBench = col("doc_id") % 97 === 0

  // the synthetic corpus is unpunctuated word soup: C4's terminal-
  // punct line rule would (correctly) reject all of it, so the spec
  // exercises the recipe with that one rule off
  private val cfg = CorpusPipeline.Config(lineRequireTerminalPunct = false)

  private lazy val verdicts =
    CorpusPipeline.withVerdicts(docs, "doc_id", "text", isBench, cfg).cache()

  test("every non-benchmark doc gets exactly one verdict row") {
    val expected = docs.filter(!isBench).count()
    assert(verdicts.count() == expected)
    assert(verdicts.select("doc_id").distinct().count() == expected)
  }

  test("funnel is causally monotone and ends at the keep count") {
    val f = CorpusPipeline.funnel(verdicts).head()
    val vals = f.toSeq.map(_.asInstanceOf[Long])
    assert(vals.zip(vals.tail).forall { case (a, b) => b <= a },
      s"funnel not monotone: $vals")
    assert(vals.last == verdicts.filter($"keep").count())
    assert(vals.last > 0, "recipe must keep a nonempty corpus at sf0.001")
  }

  test("compression gate composes: junk docs drop, funnel gains the stage") {
    // plant one highly repetitive doc and one normal doc on top of
    // the harness slice, gate at a floor the junk doc cannot meet
    val planted = Seq(
      (900001L, (1 to 200).map(i => s"catalog item number $i in stock").mkString("\n")),
      (900002L, {
        val rnd = new scala.util.Random(5)
        (1 to 200).map(_ => (1 to 6).map(_ => rnd.nextInt(100000).toString).mkString(" ")).mkString("\n")
      })
    ).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        lit("en").as("lang"), lit("srcX").as("source"),
        length(col("text")).cast("long").as("n_chars"))
    val all = docs.unionByName(planted)
    val gated = CorpusPipeline.withVerdicts(all, "doc_id", "text", isBench,
      cfg.copy(compressMinRatioMicro = Some(100000L)))
    assert(gated.columns.contains("v_compress"))
    val v = gated.filter(col("doc_id") >= 900001L)
      .select("doc_id", "v_compress").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!v(900001L), "boilerplate doc must fail the ratio floor")
    assert(v(900002L), "varied doc must pass")
    // the funnel report carries the new stage, still monotone
    val f = CorpusPipeline.funnel(gated).head()
    assert(f.schema.fieldNames.contains("after_v_compress"))
    val vals = f.toSeq.map(_.asInstanceOf[Long])
    assert(vals.zip(vals.tail).forall { case (a, b) => b <= a })
    // and with the gate OFF the verdict plan is untouched
    assert(!verdicts.columns.contains("v_compress"))
  }

  test("survivors contain no near-dup pair at the dedup threshold") {
    val kept = verdicts.filter($"keep")
      .select($"doc_id", $"text_clean")
    // keepers of distinct components can never pair (a pair would have
    // merged their components); this asserts that property end-to-end
    assert(DedupApprox.minhashPairs(kept, "doc_id", "text_clean").count() == 0L)
  }

  test("no contaminated doc survives, and benchmark docs are excluded") {
    assert(verdicts.filter($"keep" && $"contaminated").count() == 0L)
    assert(verdicts.filter(isBench).count() == 0L)
  }

  test("rejected docs carry their reason") {
    val rejected = verdicts.filter(!$"keep")
    // every rejected doc fails at least one named stage
    val unexplained = rejected.filter(
      $"v_clean" && $"v_lang" && $"v_quality" && $"v_repetition" &&
        $"v_dedup" && $"v_decontam").count()
    assert(unexplained == 0L)
  }

  test("optional stages: off = absent columns, on = gating verdicts") {
    // base config produces NO blocklist/entropy columns (q74's plan
    // is untouched by the round-6 extension)
    assert(!verdicts.columns.contains("v_blocklist"))
    assert(!verdicts.columns.contains("v_entropy"))

    val extCfg = cfg.copy(
      blockPhrases = Seq(Seq("table", "table"), Seq("big", "big")),
      minEntropyMicroPerChar = 2800000L)
    val ext = CorpusPipeline.withVerdicts(docs, "doc_id", "text",
      isBench, extCfg).cache()
    // verdicts match their evidence columns row by row
    assert(ext.filter($"v_blocklist" =!= ($"bl_matches" === 0L)).count() == 0L)
    assert(ext.filter($"v_entropy" =!=
      ($"ent_micro_total" >= lit(2800000L) * $"ent_n_chars")).count() == 0L)
    // both stages gate: some docs fail each, and keep requires them
    assert(ext.filter(!$"v_blocklist").count() > 0L)
    assert(ext.filter(!$"v_entropy").count() > 0L)
    assert(ext.filter($"keep" && (!$"v_blocklist" || !$"v_entropy"))
      .count() == 0L)
    // funnel gains the two causal columns, between repetition and dedup
    val f = CorpusPipeline.funnel(ext).columns.toSeq
    assert(f.indexOf("after_v_blocklist") == f.indexOf("after_v_repetition") + 1)
    assert(f.indexOf("after_v_entropy") == f.indexOf("after_v_blocklist") + 1)
    // and base-config funnel columns are exactly the pre-extension set
    assert(!CorpusPipeline.funnel(verdicts).columns.exists(
      c => c.contains("blocklist") || c.contains("entropy")))
  }

  test("substr stage: off = absent columns, on = rewrite + gating verdict") {
    // base config (q74's) produces NO substr columns — its plan and
    // oracle are untouched by the stage
    assert(!verdicts.columns.contains("v_substr"))
    assert(!verdicts.columns.contains("substr_n_removed"))
    assert(!CorpusPipeline.funnel(verdicts).columns.contains("after_v_substr"))

    // planted corpus: an 8-token run shared by all three docs; doc 1
    // owns the corpus-first occurrence, doc 2 loses its copy (tail
    // survives), doc 3 IS the run (fully removed)
    val run = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d = Seq(
      (1L, run + " one unique tail continues with several more words"),
      (2L, run + " two other ending words appear here instead now"),
      (3L, run)).toDF("doc_id", "text")
    val out = CorpusPipeline.withVerdicts(d, "doc_id", "text", lit(false),
      cfg.copy(substrMinRun = Some(8))).cache()
    assert(out.columns.contains("v_substr"))
    val m = out.select($"doc_id", $"substr_n_removed", $"v_substr",
        $"text_clean")
      .as[(Long, Long, Boolean, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m(1L)._1 == 0L && m(1L)._2, "winner doc keeps everything")
    assert(m(2L)._1 == 8L && m(2L)._2, "loser run removed, tail survives")
    assert(m(2L)._3 == "two other ending words appear here instead now")
    assert(m(3L)._1 == 8L && !m(3L)._2, "fully-duplicated doc empties")
    assert(m(3L)._3 == "")

    // parity with the operator itself over the same cleaned text
    val rw = graft.operators.SuffixArray.dupRunRewrite(
        graft.operators.TextAnalysis.c4LineCleanText(d, "text",
          minWords = cfg.lineMinWords, requireTerminalPunct = false)
          .select($"doc_id", $"text_clean"),
        "doc_id", "text_clean", 8)
      .select($"doc_id", $"n_removed").as[(Long, Long)].collect().toMap
    assert(m.forall { case (id, (nRem, _, _)) => rw(id) == nRem })

    // causal position: between dedup and decontamination
    val f = CorpusPipeline.funnel(out).columns.toSeq
    assert(f.indexOf("after_v_substr") == f.indexOf("after_v_dedup") + 1)
    assert(f.indexOf("after_v_decontam") == f.indexOf("after_v_substr") + 1)
    // keep respects the new verdict
    assert(out.filter($"keep" && !$"v_substr").count() == 0L)
  }

  test("substr stage is batch-form only: deltaVerdicts rejects it") {
    val d = Seq((1L, "some tokens here")).toDF("doc_id", "text")
    val cleaned = graft.operators.TextAnalysis.c4LineCleanText(d, "text",
        minWords = cfg.lineMinWords, requireTerminalPunct = false)
      .select($"doc_id", $"text_clean")
    val idx = DedupApprox.minhashIndex(cleaned, "doc_id", "text_clean")
    intercept[IllegalArgumentException] {
      CorpusPipeline.deltaVerdicts(d, "doc_id", "text", idx, cleaned,
        d.limit(0), cfg.copy(substrMinRun = Some(8)))
    }
  }

  test("materialize round-trips: shards on disk match the manifest") {
    val dir = java.nio.file.Files.createTempDirectory("corpus-out").toString
    val manifest = CorpusPipeline.materialize(verdicts, "doc_id", dir, cfg)
      .orderBy("shard").collect()
    val onDisk = spark.read.parquet(dir)
    assert(onDisk.count() == manifest.map(_.getAs[Long]("n_rows")).sum)
    assert(onDisk.count() == verdicts.filter($"keep").count())
    // shard column materialized as a partition directory
    assert(onDisk.columns.contains("shard"))
  }

  test("materialize: the local manifest = the manifest of the shards read back, " +
    "and no persistent RDD is left") {
    verdicts.count()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val dir = java.nio.file.Files.createTempDirectory("corpus-out").toString
    val manifest = CorpusPipeline.materialize(verdicts, "doc_id", dir, cfg)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(manifest.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val readBack = graft.operators.Export.manifest(spark.read.parquet(dir), "doc_id", "text",
      cfg.numShards)
    assert(manifest.schema == readBack.schema)
    assert(manifest.orderBy("shard").collect().toSeq == readBack.orderBy("shard").collect().toSeq)
  }
}
