package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-equality deduplication — the reference's entire join surface
  * (SURVEY.md §2 J-1/J-2/J-3, O-3).
  *
  * Reference: per-row `find_one({'article.url': url})` before every
  * insert (database/mongodb_handler.py:53-59) plus a full processed-url
  * set difference each hourly run (dags/sentiment_analysis_dag.py:36-47)
  * — a hand-rolled broadcast hash anti-join. Here both collapse into
  * set-oriented operators:
  *
  *   - intra-batch: `dropDuplicates(key)` (hash aggregate, map-side
  *     partial dedup before the shuffle);
  *   - cross-batch: `left_anti` join against the existing table.
  *
  * Scale notes: the anti-join build side (`existing.select(key)`) is a
  * single pruned column — Catalyst broadcasts it while it fits
  * (AQE converts SMJ→BHJ at runtime); at 100 TB both sides shuffle on
  * the key, which is the minimal possible movement for exact dedup.
  * For the approximate/near-dup family see [[DedupApprox]].
  */
object Dedup {

  /** J-1: intra-batch dedup. Keeps one arbitrary row per key — same
    * contract as the reference's first-writer-wins unique index. */
  def dropDupes(df: DataFrame, key: String, more: String*): DataFrame =
    df.dropDuplicates(key +: more)

  /** J-2/J-3: rows of `batch` whose `keys` do not appear in
    * `existing` — the idempotent-append precondition. The build side is
    * the pruned key columns as they are: duplicate keys there cannot
    * change a left-anti join's answer, so no aggregate or shuffle is
    * paid over the whole target. */
  def dedupAgainst(batch: DataFrame, existing: DataFrame, keys: String*): DataFrame =
    batch.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** J-1+J-2 fused: what the foreachBatch sink runs per micro-batch. */
  def idempotentBatch(batch: DataFrame, existing: DataFrame, keys: String*): DataFrame =
    dedupAgainst(batch.dropDuplicates(keys), existing, keys: _*)

  /** Read `dir` as parquet when it holds committed state; `fallback`
    * when it does not (the first batch of an incremental pipeline,
    * before any state has been written). "No committed state" means the
    * path is absent OR exists with no committed data files — a crash
    * during the very first append leaves the dir holding only
    * `_temporary`/`_SUCCESS` markers, and treating that as readable
    * state would fail `spark.read.parquet` identically on every retry
    * (a permanent failure loop on exactly the crash-recovery path).
    * Any OTHER failure (a transient storage error, a corrupt footer)
    * propagates so the enclosing micro-batch FAILS and the streaming
    * engine retries it — silently adjudicating a batch against empty
    * standing state would land permanently wrong verdicts.
    *
    * FALLBACK CONTRACT: `fallback` must be SEMANTICALLY EMPTY (an
    * empty frame with the state schema, or equivalent-to-no-state).
    * The committed-data probe cannot tell a legitimately committed
    * zero-row write (`_SUCCESS`, no part files) from a crashed first
    * append (`_temporary` only) — both read as "no committed state"
    * — so a NON-empty fallback would silently re-seed state on the
    * empty-commit path. Every caller in this codebase passes an
    * empty frame; keep it that way. */
  def readStateOr(spark: SparkSession, dir: String,
                  fallback: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Any non-hidden entry counts: data files for a flat layout,
    // `key=value/` subdirs for a partitioned one. "Hidden" mirrors
    // Spark's own listing rule (HadoopFsUtils.shouldFilterOutPathName):
    // a leading `_` marks a marker file ONLY when the name has no `=`
    // — partition dirs for an underscore-named column (`__bucket=3`)
    // are data. A crashed-first-append dir holds only `_temporary`/
    // `_SUCCESS`, both `=`-free.
    def hasCommittedData: Boolean = fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    }
    if (fs.exists(p) && hasCommittedData) spark.read.parquet(dir)
    else fallback
  }

  /** Exact content dedup for a corpus: group identical normalized text,
    * keep the smallest id, report group size. `md5` of the normalized
    * body is the shuffle key, so the wide rows never shuffle twice. */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(lower(trim(col(textCol)))).cast("string").as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("dups"))

  /** Most canonical edges the driver-local union-find in
    * [[connectedComponents]] can size: its id map holds up to two ids
    * per edge plus slack, and a java HashMap is sized by an Int. */
  private[graft] val LocalCcMaxEdges: Long = (Int.MaxValue - 16L) / 2

  /** `graft.cc.localMaxEdges` (default 500k), clamped to
    * [[LocalCcMaxEdges]]: a larger setting (e.g. Long.MaxValue for
    * "always local") means "local whenever the union-find can size
    * it", and bigger edge sets take the distributed rounds. */
  private[graft] def ccLocalMaxEdges(spark: SparkSession): Long = {
    val conf = spark.conf.getOption("graft.cc.localMaxEdges")
    val v = conf.fold(500000L) { s =>
      s.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft.cc.localMaxEdges must be an integer edge count, got '$s'"))
    }
    math.min(v, LocalCcMaxEdges)
  }

  /** Connected components over a near-dup pair graph (id_a, id_b) via
    * the ALTERNATING large-star / small-star algorithm (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond"):
    * large-star hooks every node's larger neighbors onto its
    * neighborhood minimum, small-star collapses the smaller ones, and
    * the edge set itself contracts toward stars rooted at each
    * component's min id. Round count is O(log² n) REGARDLESS of graph
    * shape — min-label propagation (the previous algorithm here) is
    * O(diameter) on plateau-heavy graphs because pointer jumps
    * through a local minimum are no-ops (measured on x24's
    * 0.35-threshold graph: 9 rounds of label creep vs 5 star rounds),
    * and near-dup chains at 100 TB make diameter, not log², the
    * number to fear.
    *
    * Each round is two groupBy+join passes over the EDGE table (which
    * only ever shrinks toward one edge per non-root node) with a
    * localCheckpoint to cut lineage; convergence = edge-set fixpoint,
    * checked exactly (count + anti-join emptiness — both sides are
    * canonical distinct sets, so equal count plus empty difference is
    * set equality, no hash-collision leap of faith). Exhausting
    * `maxIter` throws rather than silently splitting a true cluster
    * into several "keepers".
    *
    * Emits `(id, comp)` for every id present in `pairs`, comp = the
    * component's minimum id (the same contract the SQL oracles replay
    * with a recursive CTE — the algorithm is invisible to parity). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 16): DataFrame = {
    // canonical undirected edges: (u, v) with u > v, no self-loops.
    // LAZY localCheckpoints throughout the loop: the convergence
    // count() is the materializing action, so each round costs ONE
    // driver action instead of three (eager checkpoint + fresh count
    // of next + recount of edges — the previous round's count is
    // carried in `edgesCount`). Round-16: the r16 A/B adjudication
    // showed per-job fixed costs are the axis that taxes iterative
    // operators, and the CC loop sits under every near-dup verdict
    // (x18/x24/q69/x14/x40 and all five funnels).
    var edges = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct().localCheckpoint(eager = false)
    var edgesCount = edges.count() // materializes the checkpoint
    // SIZE-ADAPTIVE local path (round 16): a canonical edge set that
    // fits the broadcast-join size class is solved by driver-side
    // union-find instead of O(log n) distributed rounds — the exact
    // trade a BroadcastHashJoin makes (collect the small side rather
    // than shuffle), and the r16 A/B adjudication showed chains of
    // short jobs are precisely what a busy cluster/host taxes. The
    // contract is unchanged and algorithm-invisible (comp = the
    // component's min id; union-by-min makes every root the min by
    // construction), so outputs are row-identical to the star rounds
    // — ClusterSpec pins local == distributed on the same pairs. The
    // collect is edge-bounded (≤ localMaxEdges × 16 bytes, the same
    // size class as a broadcast build side); LONG ids only (the one
    // id type the pair producers emit) — anything else keeps the
    // distributed loop. At corpus scale the threshold never binds
    // and the star rounds run exactly as before.
    val localMax = ccLocalMaxEdges(pairs.sparkSession)
    if (edgesCount <= localMax &&
        edges.schema.fields(0).dataType ==
          org.apache.spark.sql.types.LongType) {
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
        (edgesCount * 2).toInt + 16)
      def find(x: Long): Long = {
        var root = x
        while (parent.get(root) != root) root = parent.get(root)
        var c = x
        while (c != root) { val n = parent.get(c); parent.put(c, root); c = n }
        root
      }
      edges.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      parent.keySet().forEach { id =>
        out.add(org.apache.spark.sql.Row(id.longValue(), find(id)))
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      return pairs.sparkSession.createDataFrame(out,
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("comp", LongType, nullable = false))))
    }
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star: over the FULL neighborhood of u (both directions),
      // connect every neighbor v > u to m = min(N(u) ∪ {u}). Output
      // (v, m) is already canonical: v > u ≥ m.
      val dir = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = dir.groupBy(col("u")).agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val afterLarge = dir.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: edges already point big→small, so each u's
      // neighborhood minimum is min(v); re-hang u and all its smaller
      // neighbors (except the min itself) on it. Outputs stay
      // canonical: v > mn for the re-hung neighbors, u > mn for u.
      val ssMin = afterLarge.groupBy(col("u")).agg(min(col("v")).as("__mn"))
      val next = afterLarge.join(ssMin, "u")
        .filter(col("v") =!= col("__mn"))
        .select(col("v").as("u"), col("__mn").as("v"))
        .unionByName(ssMin.select(col("u"), col("__mn").as("v")))
        .distinct().localCheckpoint(eager = false)
      // count() materializes next's checkpoint (it still reads the
      // previous round's checkpointed edges, which stay resident —
      // nothing here unpersists mid-lineage); the exceptAll set-equality
      // confirmation only runs once the counts match (near convergence)
      val nextCount = next.count()
      converged = nextCount == edgesCount &&
        next.exceptAll(edges).head(1).isEmpty
      edges = next
      edgesCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter iterations; " +
          "raise maxIter")
    // fixpoint = disjoint stars rooted at each component min: edges
    // (member, root) ∪ the roots' own self-labels
    edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Full near-dup dedup verdicts: every id in `pairs` mapped to its
    * cluster and a keep/drop mark (keeper = min id per component). At
    * the min-label fixpoint `comp` IS the component's minimum id, so
    * the keeper is `id === comp` directly — no keeper aggregation, no
    * join-back (both were redundant recomputations of the fixpoint
    * invariant; dropping them removes two stages from every caller,
    * x18/x24 included). */
  def clusterVerdicts(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .select(col("id"), col("comp"), (col("id") === col("comp")).as("keep"))

  /** [[clusterVerdicts]] with a caller-supplied QUALITY keeper: the
    * surviving doc per near-dup cluster is the argmax of `score`
    * (ties → smaller id), not the minimum id — what production dedup
    * actually wants (SemDeDup §4, RefinedWeb §4.3 keep the
    * best-quality representative, not an arbitrary one). Takes the
    * full `universe` so singletons (ids in no pair) are emitted with
    * `keep=true`, mirroring [[graft.operators.DedupApprox.dedupCorpus]].
    *
    * Keeper selection is one `max(struct(score, -id))` per component —
    * a plain agg with map-side combine plus one comp-keyed join
    * (unavoidable here: argmax-by-quality is not the CC fixpoint
    * invariant the min-id fast path exploits). Pass an integer-valued
    * score if oracle-grade cross-engine exactness matters; float
    * scores work but tie behavior then rides IEEE comparison. */
  def clusterVerdictsBy(universe: DataFrame, idCol: String, pairs: DataFrame,
                        score: Column): DataFrame = {
    val scored = universe.select(col(idCol).as("id"), score.as("score"))
    val withComp = scored.join(connectedComponents(pairs), Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
    val keepers = withComp.groupBy(col("comp"))
      .agg(max(struct(col("score"), (-col("id")).as("nid"))).as("__b"))
      .select(col("comp"), (-col("__b.nid")).as("__keeper"))
    withComp.join(keepers, Seq("comp"))
      .select(col("id").as(idCol), col("comp"), col("score"),
        (col("id") === col("__keeper")).as("keep"))
  }

  /** Benchmark decontamination — flag training docs that share any
    * word `n`-gram with a held-out evaluation set (the standard
    * pre-training hygiene pass; GPT-3 used 13-gram overlap, Brown et
    * al. 2020 §C). Emits every NON-benchmark doc with its count of
    * distinct contaminated n-grams and a boolean verdict.
    *
    * Scale shape: the benchmark side collapses to DISTINCT n-grams —
    * eval suites are tiny relative to a pretraining corpus, so that
    * set broadcasts and the training side never shuffles for the
    * probe (BroadcastHashJoin inner); the only wide shuffle is the
    * per-doc count keyed on the doc id. For an adversarially large
    * benchmark set `broadcastBenchmark=false` degrades to a plain
    * shuffle join on the gram, same semantics. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isBenchmark: Column, n: Int = 13,
                    broadcastBenchmark: Boolean = true): DataFrame = {
    val flagged = docs.withColumn("__bench", isBenchmark)
    val benchGrams = flagged.filter(col("__bench"))
      .select(explode(DedupApprox.shingles(col(textCol), n)).as("gram"))
      .distinct()
    val maybeBcast: DataFrame => DataFrame =
      if (broadcastBenchmark) broadcast else identity
    val trainGrams = flagged.filter(!col("__bench"))
      .select(col(idCol), explode(DedupApprox.shingles(col(textCol), n)).as("gram"))
    val hits = trainGrams.join(maybeBcast(benchGrams), Seq("gram"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    flagged.filter(!col("__bench")).select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .withColumn("contaminated", col("n_contaminated") > 0)
  }

  /** [[decontaminate]]'s 100 TB shape: the benchmark gram set collapses
    * to a BLOOM FILTER (fixed `numBits/8`-byte artifact — a 10⁷-gram
    * eval suite fits 2 MB at 1% FP where the string set is gigabytes),
    * shipped as a literal, probed scan-locally inside whole-stage
    * codegen with NO join on the training side. The verdict is a
    * SUPERSET of the exact operator's (no false negatives — every
    * truly contaminated doc is flagged; FP rate ≈ (1−e^(−h·n/m))^h
    * flags a few clean docs, the safe direction for hygiene filters).
    * The only wide shuffle left is the per-doc hit count keyed on the
    * doc id. Building the artifact is one mergeable aggregate
    * ([[graft.functions.BloomAgg]], map-side OR-combine); collecting
    * it is a model-artifact collect like kmeansCentroids, bytes not
    * rows. */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         isBenchmark: Column, n: Int = 13,
                         numBits: Int = 1 << 20,
                         numHashes: Int = 5): DataFrame = {
    val flagged = docs.withColumn("__bench", isBenchmark)
    val artifact: Array[Byte] = flagged.filter(col("__bench"))
      .select(explode(DedupApprox.shingles(col(textCol), n)).as("gram"))
      .agg(graft.functions.Bloom.bloomAgg(col("gram"), numBits, numHashes)
        .as("b"))
      .head().getAs[Array[Byte]](0)
    val hits = flagged.filter(!col("__bench"))
      .select(col(idCol),
        explode(DedupApprox.shingles(col(textCol), n)).as("gram"))
      .filter(graft.functions.Bloom.mightContain(lit(artifact), col("gram")))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_flagged"))
    flagged.filter(!col("__bench")).select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_flagged", coalesce(col("n_flagged"), lit(0L)))
      .withColumn("contaminated", col("n_flagged") > 0)
  }

  /** Corpus-wide paragraph-level exact dedup (the RefinedWeb /
    * Falcon recipe, Penedo et al. 2023 §4.3: boilerplate paragraphs —
    * cookie banners, nav text, license blurbs — repeat across
    * millions of pages and survive document-level dedup). Splits each
    * doc on `sep`, keeps only the globally FIRST occurrence of every
    * distinct paragraph (first = min `(doc_id, position)`, a total
    * order so the winner is deterministic), and reassembles the
    * surviving paragraphs in their original in-doc order.
    *
    * Emits one row per input doc: paragraph counts before/after and
    * the md5 of the cleaned text (the parity-proof digest — string
    * outputs survive any comparator normalization).
    *
    * Scale shape: posexplode → ONE wide shuffle keyed on the
    * paragraph hash (a window `row_number`, so the duplicate-class
    * membership never collects anywhere) → one shuffle back on the
    * doc id to reassemble. Both keys are high-cardinality and
    * skew-free (md5 of content; doc id). The paragraph TEXT rides the
    * first shuffle once — at 100 TB that is the unavoidable minimum
    * for exact paragraph dedup, and strictly less than a
    * join-back-to-docs formulation, which would move every paragraph
    * twice. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    // coalesce keeps the one-row-per-input-doc contract for NULL text
    // (split(NULL) would explode to zero rows and silently drop the
    // doc); a NULL doc becomes one empty paragraph, like ''
    val paras = df
      .select(col(idCol), posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("para").cast("binary")))
      .orderBy(col(idCol), col("pos"))
    paras
      .withColumn("__rk", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("__rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        // in-doc order restored before reassembly: sort the (pos,
        // para) structs, then join the surviving texts
        md5(array_join(transform(
          array_sort(collect_list(when(col("__rk") === 1,
            struct(col("pos"), col("para"))))),
          s => s.getField("para")), sep).cast("binary")).as("cleaned_md5"))
  }
}
