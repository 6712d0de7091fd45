package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.plans.{Ledger, Maintenance}
import graft.sources.Tables

case class EVec(vec_id: Long, embedding: Seq[Double])

/** Incremental IVF index fold-in: growth without rebuild. The layout
  * built by successive [[Similarity.appendIvfBatch]] calls must be
  * indistinguishable — to membership, to serving — from a one-shot
  * [[Similarity.writeIvfPartitioned]] rebuild, redelivery must land
  * nothing, the membership probe must partition-prune to the delta's
  * cells, and ledger compaction must apply to the cell dirs. */
class IvfIngestSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("incremental fold-in ≡ one-shot rebuild; redelivery lands nothing") {
    val dir = Files.createTempDirectory("ivf_ingest").toString
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.smallestIdCentroids(emb, "vec_id", "embedding", 8)
      .localCheckpoint()

    Seq(0, 1, 2).foreach { sl =>
      Similarity.appendIvfBatch(emb.filter(col("vec_id") % 3 === sl),
        "vec_id", "embedding", cents, s"$dir/inc")
    }
    // redelivery: the whole first slice again — nothing may land
    Similarity.appendIvfBatch(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", cents, s"$dir/inc")

    Similarity.writeIvfPartitioned(emb, "vec_id", "embedding", cents,
      s"$dir/rebuild")

    val inc = spark.read.parquet(s"$dir/inc")
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect()
    val reb = spark.read.parquet(s"$dir/rebuild")
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect()
    assert(inc.length == emb.count(), "redelivered rows must not land")
    assert(inc.sorted.toSeq == reb.sorted.toSeq,
      "fold-in membership/cells must equal the rebuild")

    // serving parity over the grown layout
    val a = Similarity.ivfTopKAtRest(spark, s"$dir/inc", "vec_id",
        "embedding", cents, queryId = 7L, nprobe = 3, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val b = Similarity.ivfTopKAtRest(spark, s"$dir/rebuild", "vec_id",
        "embedding", cents, queryId = 7L, nprobe = 3, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(a == b, "at-rest serving must not see the difference")
  }

  test("PQ fold-in ≡ PQ rebuild: membership, codes, and ADC shortlist") {
    val dir = Files.createTempDirectory("ivfpq_ingest").toString
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.smallestIdCentroids(emb, "vec_id", "embedding", 8)
      .localCheckpoint()
    val codebook = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16).localCheckpoint()

    (Seq(0, 1, 2) :+ 1).foreach { sl => // slice 1 redelivered
      Similarity.appendIvfPqBatch(emb.filter(col("vec_id") % 3 === sl),
        "vec_id", "embedding", cents, codebook, s"$dir/inc")
    }
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      cents, codebook, s"$dir/rebuild")

    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id").cast("long"), col("cell").cast("long"),
        col("codes").cast("string"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows(s"$dir/inc") == rows(s"$dir/rebuild"),
      "fold-in membership/cells/codes must equal the rebuild")

    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def shortlist(p: String) = Similarity.pqShortlistAtRest(spark, p,
        "vec_id", codebook, qv, probes = Seq(0L, 1L, 2L),
        excludeId = 0L, n = 20)
      .select(col("vec_id").cast("long")).as[Long].collect().toSeq
    assert(shortlist(s"$dir/inc") == shortlist(s"$dir/rebuild"),
      "ADC shortlist must not see the difference")
  }

  test("membership probe prunes the standing read to the delta's cells") {
    val dir = Files.createTempDirectory("ivf_prune").toString
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.smallestIdCentroids(emb, "vec_id", "embedding", 8)
      .localCheckpoint()
    Similarity.writeIvfPartitioned(emb, "vec_id", "embedding", cents, dir)

    val delta = Similarity.withCells(emb.filter(col("vec_id") < 5),
      "embedding", cents)
    val standingRaw = spark.read.parquet(dir)
    val pruned = Similarity.ivfStandingIds(standingRaw, "vec_id", delta)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.headOption
    assert(scan.nonEmpty, "expected a FileSourceScanExec leaf")
    assert(scan.get.partitionFilters.nonEmpty,
      "standing read must carry PartitionFilters")

    // semantics: exactly the ids of the delta's cells, nothing else
    val cells = delta.select(col("cell").cast("long"))
      .distinct().as[Long].collect().toSet
    val expected = standingRaw
      .filter(col("cell").cast("long").isin(cells.toSeq: _*))
      .select(col("vec_id").cast("long")).as[Long].collect().toSet
    assert(pruned.select(col("vec_id").cast("long"))
      .as[Long].collect().toSet == expected)

    // a non-layout frame degrades to the full id scan
    val flat = Similarity.ivfStandingIds(
      emb.select(col("vec_id")), "vec_id", delta)
    assert(flat.count() == emb.count())
  }

  test("the sink folds a real stream in; compaction applies to the cell dirs") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("ivf_sink").toString
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.smallestIdCentroids(emb, "vec_id", "embedding", 8)
      .localCheckpoint()
    val vecs = emb.filter(col("vec_id") < 60)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (i, v) => EVec(i, v) }

    val mem = MemoryStream[EVec]
    val q = Ledger.sink(mem.toDF(), s"$dir/ck")((b, _) =>
        Similarity.appendIvfBatch(b, "vec_id", "embedding", cents,
          s"$dir/inc")).start()
    // one processAllAvailable per group forces three separate
    // micro-batches (AvailableNow would drain them all in one)
    vecs.grouped(20).foreach { g =>
      mem.addData(g.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()

    val before = spark.read.parquet(s"$dir/inc")
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(before.map(_._1) == (0L until 60L).toSeq)

    // three micro-batches → multi-file cells; compact to one per cell
    assert(Maintenance.groupStats(spark, s"$dir/inc").exists(_.files > 1))
    Maintenance.compact(spark, s"$dir/inc", Seq("vec_id"), maxFiles = 1)
    assert(Maintenance.groupStats(spark, s"$dir/inc").forall(_.files == 1))
    val after = spark.read.parquet(s"$dir/inc")
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(after == before, "compaction must preserve the index")
  }
}
