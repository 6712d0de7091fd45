package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Similarity

/** Streaming ANN: a live query-vector stream probes the STANDING
  * corpus — the serving-path complement of the batch IVF family, the
  * same shape the incremental-dedup stream gives LSH
  * ([[graft.operators.DedupApprox.minhashPairsAgainstStream]]): the
  * standing side never re-indexes per query, the stream side does
  * scan-local model math, and the only join is stream-static on the
  * cell key (append-mode legal — no stateful operator, no
  * stream-stream join).
  *
  * Plan, per micro-batch:
  *   - each query vector picks its `nprobe` nearest cells under the
  *     broadcast centroid row (the model, k×dim — the SAME coarse
  *     quantizer the at-rest layout was written with), then explodes
  *     to (cell, query) rows — ×nprobe replication of a vector, not a
  *     corpus;
  *   - stream-static inner join against the cell-assigned corpus (a
  *     [[Similarity.writeIvfPartitioned]] layout read back, or any
  *     table carrying `cell`) touches only matching cells' rows;
  *     CACHE the static side — Spark re-evaluates it per micro-batch
  *     otherwise;
  *   - exact cosine re-rank rides the join output.
  *
  * Emits `(query_id, id, cell, cos)` candidates; [[topKSink]] turns
  * them into ranked top-k parquet. A query's candidates all live in
  * its arrival micro-batch (the static side is complete), so
  * per-batch top-k is EXACT per query — no cross-batch state needed.
  */
object AnnStream {

  /** Candidate stream: every corpus row in one of the query's nprobe
    * cells, exact-cosine-scored. `queries` is the streaming side
    * (qidCol, vecCol); `corpusCells` the static cell-assigned corpus
    * (idCol, vecCol, `cell`); `centroids` the (cid, cvec) model. */
  def ivfCandidates(queries: DataFrame, qidCol: String, qvecCol: String,
                    corpusCells: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, nprobe: Int = 3): DataFrame = {
    val cents = centroids
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cents"))
      .localCheckpoint() // model row; broadcast of a live subtree re-runs it
    val probed = queries
      .crossJoin(broadcast(cents))
      .select(col(qidCol).cast("long").as("query_id"),
        Similarity.asDouble(col(qvecCol)).as("__qv"),
        explode(Similarity.probeUdf(Similarity.asDouble(col(qvecCol)),
          col("cents"), lit(nprobe))).as("cell"))
    val corpus = corpusCells.select(col(idCol).cast("long").as("id"),
      Similarity.asDouble(col(vecCol)).as("__v"), col("cell").cast("long"))
    probed.join(corpus, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), col("cell"),
        Similarity.cosineFast(col("__v"), col("__qv")).as("cos"))
  }

  /** Ranked top-k landing: per micro-batch, one mergeable
    * [[graft.functions.TopKAgg]] per query (shuffle = queries×k rows,
    * not candidates), exploded to `(query_id, rank, id, cos)` and
    * appended. Exact per query because candidates never span batches. */
  def topKSink(candidates: DataFrame, k: Int, targetDir: String,
               checkpointDir: String): DataStreamWriter[Row] =
    graft.plans.Ledger.sink(candidates, checkpointDir) { (batch, _) =>
      batch
        .groupBy(col("query_id"))
        .agg(graft.functions.TopKAgg.topk(col("cos"), col("id"), k)
          .as("__top"))
        .select(col("query_id"), posexplode(col("__top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("id"), col("col.score").as("cos"))
        .write.mode("append").parquet(targetDir)
    }
}
