package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Dumps the x14 embedding-near-dup surface for the independent
  * cross-check in tools/neardup_probe.py (round-13 VERDICT directive
  * 4 — the Porter lesson generalized to the last engine-rendered
  * oracle ingredient): x14's DuckDB oracle replays the bucket join
  * with hyperplanes RENDERED FROM Similarity.hyperplanes, so a broken
  * plane generator could not fail that compare. The probe closes the
  * loop with engine-independent signals (exact cosines recomputed
  * from the raw parquet + an LSH collision-rate band derived from
  * each ground-truth pair's own angle).
  *
  * Writes under outDir:
  *  - pairs/    parquet (id_a, id_b, cos) — the engine's x14 result
  *  - buckets/  parquet (id, bucket)      — the engine's bucket
  *    assignment for the same planes, so the probe can additionally
  *    pin the pair set EXACTLY (bucket-join ∩ size-window ∩ threshold)
  *    given the bucketing.
  *
  * args: [sfDir [outDir [mutation]]] — mutation (probe demo only):
  *  - "degenerate": all 4 planes become copies of plane 0 (a broken
  *    generator: buckets collapse to 2, collision rate ~4x the
  *    4-plane expectation → the probe's band check must fire);
  *  - "skew": pairs computed on seed 43's planes while the bucket
  *    dump keeps seed 42 (an inconsistent surface: the probe's
  *    exact-set check must fire). */
object NearDupDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/neardup_dump"
    val mutation = if (args.length > 2) args(2) else "none"
    val spark = graft.Sessions.local()
    val emb = graft.sources.Tables.embeddings(spark, sfDir)

    val pairs = mutation match {
      case "degenerate" =>
        val p0 = Similarity.hyperplanes(64, 4)(0)
        Similarity.nearDupPairsWith(emb, "vec_id", "embedding",
          threshold = 0.35, planes = Seq.fill(4)(p0))
      case "skew" =>
        Similarity.nearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.35, numPlanes = 4, dim = 64, planeSeed = 43L)
      case _ =>
        Similarity.nearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.35, numPlanes = 4, dim = 64)
    }
    pairs.orderBy(col("id_a"), col("id_b"))
      .write.mode("overwrite").parquet(s"$outDir/pairs")

    // bucket dump: the honest seed-42 planes in every mode except
    // "degenerate" (where the dump reflects the same broken planes the
    // pairs used — the probe must catch the bug from the STATISTICS,
    // not from an inconsistency we handed it)
    val planes = mutation match {
      case "degenerate" =>
        Seq.fill(4)(Similarity.hyperplanes(64, 4)(0))
      case _ => Similarity.hyperplanes(64, 4)
    }
    Similarity.withBucket(emb, "embedding", planes)
      .select(col("vec_id").cast("long").as("id"), col("bucket"))
      .write.mode("overwrite").parquet(s"$outDir/buckets")
    println(s"neardup dump -> $outDir (mutation=$mutation)")
    spark.stop()
  }
}
