package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph centrality over document-similarity graphs.
  *
  * Motivation (corpus curation): ranking nodes of a similarity /
  * citation / link graph is a standard data-curation signal — Common
  * Crawl publishes harmonic-centrality and PageRank host rankings that
  * pretraining pipelines use to prioritize crawl frontiers and weight
  * sources, and graph centrality over a near-dup similarity graph
  * picks representative documents out of redundant clusters (the
  * cluster-keeper idea q69/x24 apply with quality scores, re-expressed
  * as link analysis). The reference app has no graph operator — this
  * extends the engine's curation toolbox the same way the dedup/ANN
  * families do (Page, Brin, Motwani, Winograd 1999; Boldi, Vigna 2014).
  *
  * FIXED-POINT ARITHMETIC, not floating point: ranks are maintained in
  * integer micro-units (`scale` = 1e6 per node at start). Floating-
  * point PageRank sums contributions in a nondeterministic order under
  * a distributed shuffle, so no two runs (let alone two engines) hash
  * the same bits; with longs, addition is exact and commutative, so
  * the result is bit-identical across partitionings AND exactly
  * replayable in the DuckDB oracle with `//` floor division. The cost
  * is a deterministic rounding floor per (edge, iteration) — bounded
  * by outdeg/scale relative error per hop, irrelevant for ranking.
  *
  * Semantics (pseudo-PageRank, the common non-normalized variant):
  *   r_0(v)   = scale
  *   c_i(u)   = r_i(u) div outdeg(u)              (floor division)
  *   r_{i+1}(v) = (scale - (dampNum·scale) div dampDen)
  *              + (dampNum · Σ_{u→v} c_i(u)) div dampDen
  * Dangling nodes cannot occur in a symmetrized similarity graph
  * (every node has outdeg ≥ 1 by construction); for general edge
  * lists, dangling mass is DROPPED (documented pseudo-PageRank), not
  * redistributed.
  *
  * Scale shape: `outdeg` is joined into the edge list ONCE and the
  * result persisted — each iteration is then one join of the rank
  * table against the edge table on `src` (shuffle on src) plus one
  * aggregation keyed by `dst` (shuffle on dst): 2 shuffles × iters,
  * each bounded by |E|, never all-pairs. Rank tables checkpoint every
  * [[CheckpointEvery]] rounds (lineage truncation — the
  * connectedComponents / SuffixArray discipline), the previous
  * checkpoint freed blocking as the next lands, so at most one
  * checkpoint table is ever resident; between checkpoints the chain
  * is lazy and single-consumer, so it executes without recomputation
  * (measured: per-round eager checkpoints cost a fixed job-scheduling
  * overhead and were no faster). On a real cluster both shuffles
  * hash-partition on the id
  * column, so a pre-bucketed edge table co-locates the probe side and
  * the per-iteration cost is one network pass over the rank table
  * (which is |V|-sized, ≪ |E|).
  *
  * Overflow headroom: values are bounded by |V|·scale·dampNum, which
  * must stay < 2^63 — at scale=1e6 that holds to ~10^11 nodes; beyond
  * that, lower `scale` (the doc for 100 TB: 10^12 docs → scale=1e4).
  */
object Graph {

  /** Lineage-truncation cadence for the iteration loops that still
    * pin it (labelPropagation, and [[graft.Bench.iterKernel]] passes
    * it explicitly so the calibration instrument's job shape stays
    * byte-identical across rounds — see the round-16 note below). */
  val CheckpointEvery = 2

  /** Default checkpoint cadence for the PageRank loops (round 16):
    * each localCheckpoint is one extra job materialization, and the
    * r16 A/B adjudication showed per-job fixed costs are exactly the
    * axis that varies across host instances — so the query path takes
    * one checkpoint every 4 rounds (8 lazily-chained shuffles per
    * materialized job: well inside Catalyst plan-depth comfort, and
    * the chain is single-consumer so nothing recomputes) instead of
    * every 2. Lineage depth stays bounded for any `iters`; callers
    * with very high iteration counts can lower it. */
  val PageRankCheckpointEvery = 4

  /** Default size limit of the PageRank loops' driver-local path: an
    * edge list of at most this many edges (about 8 MB of long pairs)
    * is collected and iterated on the driver. */
  val LocalMaxEdges = 500000L

  /** Fixed-point PageRank over an edge list. Returns `(id, rank_q)`
    * for every node appearing as a source or destination, `rank_q` in
    * micro-units (LONG). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 8,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000L,
               checkpointEvery: Int = PageRankCheckpointEvery,
               localMaxEdges: Option[Long] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val src = col(srcCol).as("src")
    val dst = col(dstCol).as("dst")
    // The edge list is consumed four times below (nodes twice, outdeg,
    // the eDeg join) — persist it ONCE so an expensive upstream plan
    // (the winnow pair derivation in q102) runs once, not four times.
    val e0 = edges.select(src, dst).persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // src, dst, outdeg — joined once, reused every iteration.
    val eDeg = e0.join(outdeg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = eDeg.count() // materialize before the loop so iterations reuse it
    // SIZE-ADAPTIVE local path (round 16, same rationale as
    // Dedup.connectedComponents): an edge list in the broadcast size
    // class is evaluated on the driver instead of through 2·iters
    // distributed shuffles — the fixed-point LONG arithmetic is
    // order-independent (exact commutative sums, truncating division
    // of positives), so the local recurrence reproduces the
    // distributed ranks BIT-FOR-BIT (GraphSpec pins local ==
    // distributed). The collect is |E|-bounded by the threshold (the
    // broadcast-build trade); LONG node ids only; Bench.iterKernel
    // pins localMaxEdges=Some(0) so the calibration sentinel always
    // measures the distributed job shape. At corpus scale the
    // threshold never binds and the loop below runs unchanged.
    val localMax = localMaxEdges.getOrElse(LocalMaxEdges)
    if (nEdges <= localMax &&
        e0.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType)) {
      val rows = e0.collect()
      e0.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      eDeg.unpersist(blocking = false)
      val ea = new Array[Long](rows.length); val eb = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) {
        ea(i) = rows(i).getLong(0); eb(i) = rows(i).getLong(1); i += 1
      }
      val od = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val r = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      i = 0
      while (i < ea.length) {
        od.merge(ea(i), 1L, (x, y) => x + y)
        r.put(ea(i), scale); r.put(eb(i), scale); i += 1
      }
      val baseL = scale - (dampNum * scale) / dampDen
      var it = 0
      while (it < iters) {
        val s = new java.util.HashMap[java.lang.Long, java.lang.Long](r.size())
        i = 0
        while (i < ea.length) {
          val c = r.get(ea(i)) / od.get(ea(i))
          s.merge(eb(i), c, (x, y) => x + y); i += 1
        }
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long](r.size())
        r.keySet().forEach { id =>
          val sv: Long = if (s.containsKey(id)) s.get(id) else 0L
          next.put(id, baseL + (dampNum * sv) / dampDen)
        }
        r.clear(); r.putAll(next); it += 1
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](r.size())
      r.forEach((id, rank) =>
        out.add(org.apache.spark.sql.Row(id.longValue(), rank.longValue())))
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return edges.sparkSession.createDataFrame(out,
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("rank_q", LongType, nullable = false))))
    }

    val base = scale - (dampNum * scale) / dampDen
    var ranks = nodes.select(col("id"), lit(scale).as("r"))
    var lastCheckpoint: Option[DataFrame] = None
    var i = 0
    while (i < iters) {
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("id"))
        .select(col("dst").as("id"), expr("r div outdeg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
            .as("r"))
      i += 1
      // Each rank table feeds exactly one consumer (the next round's
      // join), so the un-checkpointed chain executes as ONE job with
      // no recomputation — eager per-round checkpoints would add a
      // fixed job-scheduling cost per round (measured 8 × ~0.6 s on a
      // sf0.1-sized graph) for nothing. Checkpoints exist here only
      // to bound LINEAGE depth for high iteration counts, so take one
      // every `checkpointEvery` rounds, freeing the previous round-9
      // style (blocking, at most one checkpoint table resident).
      if (i % checkpointEvery == 0 && i < iters) {
        val cp = ranks.localCheckpoint()
        lastCheckpoint.foreach(Checkpoints.release(_, blocking = true))
        lastCheckpoint = Some(cp)
        ranks = cp
      }
    }
    // Materialize the final ranks BEFORE releasing the helper tables —
    // the un-checkpointed tail of the chain still reads them.
    val out = ranks.select(col("id"), col("r").cast("long").as("rank_q"))
      .localCheckpoint()
    lastCheckpoint.foreach(Checkpoints.release(_, blocking = true))
    e0.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    eDeg.unpersist(blocking = false)
    out
  }

  /** [[pageRank]] with EDGE WEIGHTS — the form a similarity graph
    * actually wants (a 9-fingerprint overlap should pull rank harder
    * than a 1-fingerprint brush): contributions split proportionally,
    * `c_i(u→v) = (r_i(u)·w(u,v)) div W(u)` with `W(u) = Σ out-weights`.
    * Same fixed-point discipline, same per-iteration shuffle shape as
    * [[pageRank]] (one join on src + one aggregate on dst, both
    * |E|-bounded). Extra overflow term: r·wmax < 2^63 — with ranks
    * bounded by ~|V|·scale that caps wmax·|V| at ~9e12 at scale=1e6;
    * heavier graphs lower `scale` (the class headroom convention). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iters: Int = 8,
                       dampNum: Long = 85L, dampDen: Long = 100L,
                       scale: Long = 1000000L,
                       checkpointEvery: Int = PageRankCheckpointEvery,
                       localMaxEdges: Option[Long] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wsum = e0.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val eW = e0.join(wsum, "src").persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = eW.count()
    // size-adaptive local path — see [[pageRank]]; weighted recurrence
    // c = (r·w) div W(u), identical positive-long arithmetic.
    val localMax = localMaxEdges.getOrElse(LocalMaxEdges)
    if (nEdges <= localMax &&
        e0.schema.fields.take(2).forall(_.dataType ==
          org.apache.spark.sql.types.LongType)) {
      val rows = e0.collect()
      e0.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
      eW.unpersist(blocking = false)
      val ea = new Array[Long](rows.length)
      val eb = new Array[Long](rows.length)
      val ew = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) {
        ea(i) = rows(i).getLong(0); eb(i) = rows(i).getLong(1)
        ew(i) = rows(i).getLong(2); i += 1
      }
      val ws = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val r = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      i = 0
      while (i < ea.length) {
        ws.merge(ea(i), ew(i), (x, y) => x + y)
        r.put(ea(i), scale); r.put(eb(i), scale); i += 1
      }
      val baseL = scale - (dampNum * scale) / dampDen
      var it = 0
      while (it < iters) {
        val s = new java.util.HashMap[java.lang.Long, java.lang.Long](r.size())
        i = 0
        while (i < ea.length) {
          val c = (r.get(ea(i)) * ew(i)) / ws.get(ea(i))
          s.merge(eb(i), c, (x, y) => x + y); i += 1
        }
        val next = new java.util.HashMap[java.lang.Long, java.lang.Long](r.size())
        r.keySet().forEach { id =>
          val sv: Long = if (s.containsKey(id)) s.get(id) else 0L
          next.put(id, baseL + (dampNum * sv) / dampDen)
        }
        r.clear(); r.putAll(next); it += 1
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](r.size())
      r.forEach((id, rank) =>
        out.add(org.apache.spark.sql.Row(id.longValue(), rank.longValue())))
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return edges.sparkSession.createDataFrame(out,
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("rank_q", LongType, nullable = false))))
    }

    val base = scale - (dampNum * scale) / dampDen
    var ranks = nodes.select(col("id"), lit(scale).as("r"))
    var lastCheckpoint: Option[DataFrame] = None
    var i = 0
    while (i < iters) {
      val contribs = eW.join(ranks, eW("src") === ranks("id"))
        .select(col("dst").as("id"), expr("(r * w) div wsum").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen"))
            .as("r"))
      i += 1
      if (i % checkpointEvery == 0 && i < iters) {
        val cp = ranks.localCheckpoint()
        lastCheckpoint.foreach(Checkpoints.release(_, blocking = true))
        lastCheckpoint = Some(cp)
        ranks = cp
      }
    }
    val out = ranks.select(col("id"), col("r").cast("long").as("rank_q"))
      .localCheckpoint()
    lastCheckpoint.foreach(Checkpoints.release(_, blocking = true))
    e0.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    eW.unpersist(blocking = false)
    out
  }

  /** [[pageRankWeighted]] over an UNDIRECTED weighted pair list. */
  def pageRankWeightedUndirected(pairs: DataFrame, aCol: String,
                                 bCol: String, wCol: String,
                                 iters: Int = 8): DataFrame =
    pageRankWeighted(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"),
          col(wCol).as("w"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"),
          col(wCol).as("w"))),
      "src", "dst", "w", iters)

  /** Radius-2 truncated harmonic centrality over an undirected pair
    * list — the crawl-frontier ranking signal (Common Crawl publishes
    * harmonic-centrality host ranks; Boldi & Vigna 2014 argue it over
    * closeness). Full harmonic centrality needs all-pairs distances;
    * the radius-2 truncation H₂(v) = |N₁(v)| + |N₂₋only(v)|/2 is the
    * exact, oracle-replayable prefix (HyperBall's HLL rounds are the
    * approximate continuation at larger radii). Emitted ×2 so the
    * half stays integral: `h2_x2 = 2·|N₁| + |N₂ \ N₁|`.
    *
    * Scale shape: one self-join of the (deduped, symmetrized) edge
    * list for the 2-hop frontier — bounded by Σ deg², which the
    * caller's pair source must keep sane (the winnow/minhash pair
    * reports are df-capped precisely so hub degrees are bounded;
    * feeding an uncapped hub graph makes ANY radius-2 metric
    * quadratic in the hub degree, not a property of this operator). */
  def harmonic2(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n1 = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("n1"))
    val two = e.select(col("src"), col("dst").as("mid"))
      .join(e.select(col("src").as("mid"), col("dst").as("far")), Seq("mid"))
      .filter(col("src") =!= col("far"))
      .select(col("src"), col("far")).distinct()
      .join(e.select(col("src"), col("dst").as("far")),
        Seq("src", "far"), "left_anti") // 2-hop ONLY: drop direct edges
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("n2only"))
    val out = n1.join(two, Seq("id"), "left")
      .select(col("id"), col("n1"),
        coalesce(col("n2only"), lit(0L)).as("n2only"))
      .withColumn("h2_x2", lit(2L) * col("n1") + col("n2only"))
      .localCheckpoint()
    e.unpersist(blocking = false)
    out
  }

  /** Semi-supervised label propagation over an undirected pair list
    * (Zhu & Ghahramani 2002's hard-label form): `seeds` carry pinned
    * labels; each SYNCHRONOUS round every non-seed node takes the
    * majority label among its labeled neighbors from the PREVIOUS
    * round (ties → the lexicographically smallest label, so the whole
    * fixture is deterministic and the oracle can unroll the rounds);
    * nodes with no labeled neighbor stay unlabeled that round. The
    * corpus use: spread a small set of human/source labels over a
    * near-dup or similarity graph to weak-label the rest.
    *
    * Scale shape per round: one edge⋈labels shuffle + one (node,
    * label)-keyed count + one per-node window — all proportional to
    * the edge list, never all-pairs; the seed table is checkpointed
    * once and reused. Output: `(id, label, is_seed)` for every node
    * labeled after `rounds` rounds. */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
                       seeds: DataFrame, idCol: String, labelCol: String,
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seed = seeds.select(col(idCol).as("id"), col(labelCol).as("label"))
      .localCheckpoint()
    var lab = seed
    var lastCheckpoint: Option[DataFrame] = None
    var k = 0
    while (k < rounds) {
      val counts = e.join(lab, e("src") === lab("id"))
        .select(col("dst").as("nid"), col("label"))
        .join(seed.select(col("id").as("nid")), Seq("nid"), "left_anti")
        .groupBy(col("nid"), col("label")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("nid"))
        .orderBy(col("cnt").desc, col("label"))
      val picks = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("nid").as("id"), col("label"))
      lab = seed.unionByName(picks)
      k += 1
      if (k % CheckpointEvery == 0 && k < rounds) {
        val cp = lab.localCheckpoint()
        lastCheckpoint.foreach(Checkpoints.release(_, blocking = true))
        lastCheckpoint = Some(cp)
        lab = cp
      }
    }
    val out = lab
      .join(seed.select(col("id"), lit(true).as("__s")), Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("__s"), lit(false)).as("is_seed"))
      .localCheckpoint()
    (lastCheckpoint.toSeq :+ seed).foreach(Checkpoints.release(_, blocking = true))
    e.unpersist(blocking = false)
    out
  }

  /** [[pageRank]] over an UNDIRECTED pair list (`id_a`,`id_b`) — each
    * pair contributes both directions, the natural shape for the
    * winnow/minhash near-dup pair reports. */
  def pageRankUndirected(pairs: DataFrame, aCol: String, bCol: String,
                         iters: Int = 8,
                         dampNum: Long = 85L, dampDen: Long = 100L,
                         scale: Long = 1000000L): DataFrame = {
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    pageRank(sym, "src", "dst", iters, dampNum, dampDen, scale)
  }

  /** Per-node TRIANGLE counts over an undirected pair list — the
    * third member of the graph triad (PageRank centrality, connected
    * components, triangles/clustering): co-occurrence cliques are the
    * community signal near-dup/co-purchase graphs are mined for.
    *
    * Algorithm: degree ORIENTATION (Suri & Vassilvitskii 2011 — "the
    * curse of the last reducer"): direct every edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges
    * only at each node's OUT-neighbors, and close them against the
    * directed edge set. Every triangle is counted exactly once (its
    * orientation-smallest vertex owns it), and a hub of degree d
    * contributes wedges bounded by its OUT-degree — O(√|E|) — instead
    * of d²: the skew that makes the naive wedge join explode on a
    * viral node is capped by construction. Two shuffles (wedge join +
    * closing semi-join), integer-exact, no iteration.
    *
    * Returns `(id, n_tri)` for every node of the graph (0 for
    * triangle-free nodes). */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // undirected edge list, deduped, self-loops dropped
    val e = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    val deg = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orientation key: (deg, id) — total order, hubs point nowhere
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    val directed = e.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
    // wedges at s: ordered pairs of out-neighbors; the closing edge
    // is directed low→high in the SAME (deg, id) order, which on the
    // directed set is simply (d1, d2) with d1 before d2 — recover the
    // order via the orientation key of the two endpoints
    val d1 = directed.select(col("s"), col("d").as("x"))
    val d2 = directed.select(col("s"), col("d").as("y"))
    val k1 = deg.select(col("id").as("x"), col("deg").as("kx"))
    val k2 = deg.select(col("id").as("y"), col("deg").as("ky"))
    val wedges = d1.join(d2, "s")
      .join(k1, "x").join(k2, "y")
      .filter(col("kx") < col("ky") ||
        (col("kx") === col("ky") && col("x") < col("y")))
      .select(col("s"), col("x"), col("y"))
    val tri = wedges.join(directed
        .select(col("s").as("x"), col("d").as("y")), Seq("x", "y"),
        "left_semi")
    // attribute each triangle to all three corners
    val corners = tri.select(explode(array(col("s"), col("x"), col("y")))
      .as("id"))
    deg.select(col("id"))
      .join(corners.groupBy(col("id")).agg(count(lit(1)).as("n_tri")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }
}
