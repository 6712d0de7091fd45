package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** [[readStateOr]] for a flat state dir whose layout the engine
    * fixes: `dir` read with its known `schema` (no schema-inference
    * job), or an empty frame of `schema` when it holds no data file.
    * One data file's layout is checked first ([[checkLayout]]), so a
    * dir written with other columns fails here instead of reading them
    * as nulls. */
  def readStateAs(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    graft.plans.Maintenance.dataFiles(spark, dir).headOption match {
      case Some(f) =>
        checkLayout(spark, f, schema)
        spark.read.schema(schema).parquet(dir)
      case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }

  /** Fails unless the parquet file `file` holds every column of
    * `schema` under its type (nullability aside), as its Spark writer
    * recorded them in the footer: the one-file check schema inference
    * makes, read on the driver instead of in a job. */
  def checkLayout(spark: SparkSession, file: Path, schema: StructType): Unit = {
    val footer = ParquetFileReader.readFooter(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val stored = Option(footer.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson).collect { case s: StructType => s }
      .getOrElse(new StructType())
    val missing = schema.fields.filterNot(f => stored.fields.exists(s =>
      s.name == f.name && DataType.equalsIgnoreNullability(s.dataType, f.dataType)))
    if (missing.nonEmpty)
      throw new IllegalStateException(s"$file does not hold the expected layout: " +
        s"missing ${missing.map(_.toDDL).mkString(", ")}; found ${stored.toDDL}")
  }

  /** Exact content dedup for a corpus: group identical normalized text,
    * keep the smallest id, report group size. `md5` of the normalized
    * body is the shuffle key, so the wide rows never shuffle twice. */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(lower(trim(col(textCol)))).cast("string").as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("dups"))

  /** Most canonical edges the driver-local union-find in
    * [[connectedComponents]] can size: its endpoint array holds two ids
    * per edge and is indexed by an Int. */
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

  /** Union-find over long ids in primitive arrays, for the first `n`
    * edges `(us(i), vs(i))`. Returns every endpoint, ascending and
    * distinct, and beside each the minimum id of its component. Ids
    * map to dense indices by their rank (sort, then binary search), so
    * index order is id order and union-by-min makes every root its
    * set's minimum. Memory is two longs per edge plus one int and one
    * long per id; nothing is boxed. The driver-local path and the
    * per-partition pre-contraction of [[connectedComponents]] both run
    * it. */
  private[graft] def unionFindMin(us: Array[Long], vs: Array[Long],
                                  n: Int): (Array[Long], Array[Long]) = {
    val all = new Array[Long](2 * n)
    System.arraycopy(us, 0, all, 0, n)
    System.arraycopy(vs, 0, all, n, n)
    java.util.Arrays.sort(all)
    var m = 0
    var i = 0
    while (i < all.length) {
      if (m == 0 || all(i) != all(m - 1)) { all(m) = all(i); m += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, m)
    val parent = Array.tabulate(m)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    i = 0
    while (i < n) {
      val ra = find(java.util.Arrays.binarySearch(ids, us(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, vs(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    (ids, Array.tabulate(m)(k => ids(find(k))))
  }

  /** Connected components over a near-dup pair graph (id_a, id_b).
    * Emits `(id, comp)` for every id present in `pairs`, comp = the
    * component's minimum id (the same contract the SQL oracles replay
    * with a recursive CTE — the algorithm is invisible to parity).
    *
    * Routing: the canonical edge set (u > v, no self-loops, distinct)
    * is checkpointed and counted. With long ids and at most
    * `graft.cc.localMaxEdges` edges (default 500k) it is collected and
    * solved by a driver-side union-find ([[unionFindMin]]) — the trade
    * a BroadcastHashJoin makes (collect the small side rather than
    * shuffle); the collect is edge-bounded, in the size class of a
    * broadcast build side. Larger sets, and other id types, take the
    * distributed path below. ClusterSpec pins both paths equal.
    *
    * Distributed path:
    *   1. PRE-CONTRACTION (long ids): one `mapPartitions` runs the same
    *      union-find over each partition's edges and emits, for each
    *      node there, the edge (node, its partition-local component
    *      min). Every input edge lies in one partition, so each local
    *      star connects what that partition's edges connect and nothing
    *      more: the union has the same components over the same nodes,
    *      hence the same minimum ids, in about one edge per node per
    *      partition (the benchmark corpus: 523,713 edges → ~13k).
    *   2. The ALTERNATING large-star / small-star rounds (Kiveris et
    *      al. 2014, "Connected Components in MapReduce and Beyond") on
    *      that edge set: large-star hooks every node's larger neighbors
    *      onto its neighborhood minimum, small-star collapses the
    *      smaller ones, and the edge set contracts toward stars rooted
    *      at each component's min id. Round count is O(log² n)
    *      REGARDLESS of graph shape — min-label propagation is
    *      O(diameter) on plateau-heavy graphs (measured on x24's
    *      0.35-threshold graph: 9 rounds of label creep vs 5 star
    *      rounds), and near-dup chains at 100 TB make diameter, not
    *      log², the number to fear.
    * Each round is two groupBy+join passes over the edge table with a
    * lazy localCheckpoint to cut lineage; the round's count() is its
    * one materializing action, after which the table it superseded is
    * released ([[Checkpoints.release]]). The last table is kept,
    * because the result reads it. The rounds stop on the round whose
    * output is a star forest ([[isStarForest]]), the algorithm's
    * fixpoint, checked exactly. Exhausting `maxIter` throws rather than
    * silently splitting a true cluster into several "keepers". */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = pairs.sparkSession
    // The distinct stays even where the pairs are already distinct (as
    // minhashPairs' are): its hash exchange on (u, v) is the partition
    // layout the pre-contraction below works on. Fed the pair stream
    // in candidate order instead, each partition's local stars covered
    // much less of each component: on the corpus_prep benchmark corpus
    // (seed 7, long ids) the star rounds went from 1 to 5 and the CC
    // span from about 3.4 s to 5.4 s.
    var edges = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .distinct().localCheckpoint(eager = false)
    val edgesCount = edges.count() // materializes the checkpoint
    val longIds = edges.schema.fields(0).dataType == LongType
    if (longIds && edgesCount <= ccLocalMaxEdges(spark)) {
      val rows = edges.collect()
      Checkpoints.release(edges)
      val (ids, roots) = unionFindMin(rows.map(_.getLong(0)), rows.map(_.getLong(1)),
        rows.length)
      return spark.createDataFrame(
        java.util.Arrays.asList(ids.indices.map(k => Row(ids(k), roots(k))): _*),
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("comp", LongType, nullable = false))))
    }
    if (longIds) {
      val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
      val contracted = edges.as(enc).mapPartitions { it =>
        val us = new scala.collection.mutable.ArrayBuilder.ofLong
        val vs = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (u, v) => us += u; vs += v }
        val u = us.result()
        val (ids, roots) = unionFindMin(u, vs.result(), u.length)
        ids.indices.iterator.filter(k => ids(k) != roots(k)).map(k => (ids(k), roots(k)))
      }(enc).toDF("u", "v").localCheckpoint(eager = false)
      contracted.count() // reads `edges` a last time
      Checkpoints.release(edges)
      edges = contracted
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
      // count() materializes next's checkpoint; after it nothing reads
      // the previous table
      next.count()
      Checkpoints.release(edges)
      edges = next
      converged = isStarForest(edges)
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

  /** True when canonical edges (u > v) form disjoint stars: every u
    * hangs from exactly one v, and no v hangs from anything. Each star
    * is then rooted at its minimum, and stars are the components. One
    * aggregate over the edges, so the star rounds stop on the round
    * that reaches the fixpoint instead of running one more to see it
    * repeat. */
  private def isStarForest(edges: DataFrame): Boolean =
    edges.select(col("u").as("x"), lit(1).as("up"))
      .unionByName(edges.select(col("v").as("x"), lit(0).as("up")))
      .groupBy(col("x")).agg(sum(col("up")).as("up"), count(lit(1)).as("n"))
      .filter(col("up") > 1 || (col("up") === 1 && col("n") > 1))
      .head(1).isEmpty

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
