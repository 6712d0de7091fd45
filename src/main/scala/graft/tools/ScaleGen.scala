package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a 10× "sf1-equivalent" corpus from the sf0.1 testdata into
  * a scratch dir, for SCALING EXPONENT measurement only (the
  * correctness gate stays on the driver-provided tables; nothing here
  * feeds an oracle). Ten shifted copies, constructed so per-copy
  * structure scales LINEARLY — the failure mode to avoid is ten
  * verbatim copies, which would make every doc a 10-way near-dup and
  * quadratically inflate every pair-finding query into a different
  * (adversarial) workload:
  *
  *  - documents: ids shifted per copy; every token of copies 1..9 gets
  *    a copy-specific suffix (`word` → `wordzz3`), so cross-copy
  *    Jaccard/shingle similarity drops to ~0 while WITHIN-copy
  *    duplicate structure is preserved exactly → total dup pairs scale
  *    ×10, vocab grows ×10 (the heavy-tail shape a genuinely bigger
  *    crawl has). n_chars recomputed (it equals length(text) in the
  *    source data).
  *  - embeddings: ids shifted; the vector is rotated by rotStep·copy
  *    positions (level-2 derivations additionally sign-flip one
  *    copy-indexed dimension so the two levels' transforms compose
  *    injectively — see the embeddings block) — norms and value mix
  *    preserved, cross-copy cosine decorrelated.
  *  - lineitem/orders: join keys shifted per copy, so q95/q98-style
  *    join structure repeats per copy (×10 pairs, not ×100).
  *
  * Output is written at shuffle-partition width (multi-file,
  * multi-task scans — the realistic big-corpus layout, unlike the
  * single-row-group harness files).
  */
object ScaleGen {
  val Copies = 10
  val DefaultIdShift = 10000000L

  /** args: [out [src [idShift [dayShift]]]]. Composes: deriving from an
    * already-derived dir (sf1 → sf10) re-suffixes every token (the
    * regex matches the suffixed words whole, so vocab stays unique per
    * copy-pair) — pass a LARGER idShift (≥ 10× the level-1 shift) and
    * dayShift (≥ 10× 31) so level-2 ids and event windows never
    * collide with level-1's. */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1_derived")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val IdShift = if (args.length > 2) args(2).toLong else DefaultIdShift
    val dayShift = if (args.length > 3) args(3).toInt else 31
    val rotStep = if (args.length > 4) args(4).toInt else 6
    // Each derivation LEVEL must use a distinct suffix token: with a
    // shared "zz", level-2 copy c of level-1 copy 0 ("wordzzc") would
    // equal level-1 copy c inside level-2 copy 0 — 9 identical twins
    // for every base doc, turning linear dup growth quadratic-ish
    // (measured: q135 pairs 29x instead of 10x before this fix).
    val sfx = if (args.length > 5) args(5) else "zz"
    // Level-2 derivations pass flip=1 (see the embeddings block for the
    // injectivity argument); level-1 stays rotation-only (flip=0).
    val flip = if (args.length > 6) args(6).toInt else 0
    // Optional comma-separated table filter for partial regeneration.
    val only: Set[String] =
      if (args.length > 7) args(7).split(",").map(_.trim).toSet else Set.empty
    def wanted(t: String): Boolean = only.isEmpty || only(t)
    val cpus = graft.Sessions.envCpus
    val spark = graft.Sessions.local(cpus)
    // The copies keep the source files' physical column types: read
    // them with Spark's own parquet timestamp mapping, not the
    // bootstrap's (under which a naive events.ts would be rewritten
    // as a UTC-adjusted one).
    Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled")
      .foreach(spark.conf.unset)

    def tenfold(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(c => per(df, c)).reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    if (wanted("documents")) tenfold(docs) { (d, c) =>
      val txt =
        if (c == 0) col("text")
        else regexp_replace(col("text"), "([A-Za-z0-9']+)", s"$$1$sfx$c")
      d.select((col("doc_id") + lit(c * IdShift)).as("doc_id"),
        txt.as("text"), col("lang"), col("source"),
        length(txt).cast("long").as("n_chars"))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    if (wanted("embeddings")) tenfold(emb) { (d, c) =>
      val dim = 64
      // Pure rotation composition is NOT collision-free across two
      // derivation levels: 6·c1 + 13·c2 mod 64 has only 64 values for
      // 100 (c1,c2) pairs (pigeonhole), e.g. (2,4): 12+52 ≡ (0,0) —
      // measured 96k/200k identical cross-level twins at sf10 before
      // this fix. Level 2 therefore also sign-flips dimension index c
      // (0-based) BEFORE its rotation. The composed transform
      // T = R(13·c2) ∘ F(c2) ∘ R(6·c1) is injective over
      // c1,c2 ∈ [0,9]: the sign pattern has no flip iff c2 = 0, else
      // exactly one flip at position −12·c2 mod 64, and −12·Δ ≡ 0
      // mod 64 forces Δ ≡ 0 mod 16 — impossible for distinct
      // c2 ∈ [1,9] — so c2 is recoverable from the sign pattern;
      // given c2, the rotation residue 6·c1 mod 64 recovers c1
      // (6·c1 ∈ {0,6,…,54} all distinct). Distinct transforms give
      // distinct vectors on this data (Gaussian floats are never the
      // exact zeros/symmetries equality would need) — asserted by the
      // rows-vs-distinct count printed below.
      val rot = (rotStep * c) % dim
      val flipped =
        if (flip == 0 || c == 0) col("embedding")
        else transform(col("embedding"),
          (x, i) => when(i === lit(c), -x).otherwise(x))
      val vec =
        if (rot == 0) flipped
        else concat(slice(flipped, rot + 1, dim - rot),
          slice(flipped, 1, rot))
      d.select((col("vec_id") + lit(c * IdShift)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    if (wanted("lineitem")) tenfold(li) { (d, c) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(c * IdShift))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    if (wanted("orders")) tenfold(ord) { (d, c) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(c * IdShift))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")

    // customer: keys shifted per copy; o_custkey is left in the base
    // range, so referential integrity holds via copy 0 while the
    // constraint suite's FK probe faces a 10× parent (q126's sweep)
    val cust = spark.read.parquet(s"$src/customer.parquet")
    if (wanted("customer")) tenfold(cust) { (d, c) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(c * IdShift))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/customer.parquet")

    // part/supplier: TPC-H scales both linearly with SF — keys shifted
    // per copy like customer, so l_partkey/l_suppkey (left in the base
    // range by the lineitem derivation) keep referential integrity via
    // copy 0 while part-side scans and aggregates face a 10x table.
    // Round-15 addition: the r14 sf10 bench attempt failed 8 queries
    // on PATH_NOT_FOUND for these tables — ScaleGen simply never
    // emitted them, so a "full-suite derived-corpus bench" was
    // structurally impossible.
    val prt = spark.read.parquet(s"$src/part.parquet")
    if (wanted("part")) tenfold(prt) { (d, c) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(c * IdShift))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/part.parquet")

    val sup = spark.read.parquet(s"$src/supplier.parquet")
    if (wanted("supplier")) tenfold(sup) { (d, c) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(c * IdShift))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/supplier.parquet")

    // nation/region are FIXED-size in TPC-H (25/5 rows) at every SF:
    // copied verbatim, not tenfolded
    for (t <- Seq("nation", "region") if wanted(t))
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")

    // events: ids/users shifted; each copy's timestamps move forward
    // by copy × 31 days, so the per-copy HOURLY structure (including
    // the genuine gaps q110's fill exercises) repeats end to end —
    // the window count grows ×10 with the data, not ×1 with overlap.
    val ev = spark.read.parquet(s"$src/events.parquet")
    if (wanted("events")) tenfold(ev) { (d, c) =>
      d.withColumn("event_id", col("event_id") + lit(c * IdShift))
        .withColumn("user_id", col("user_id") + lit(c * IdShift))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${c * dayShift} DAYS"))
    }.repartition(cpus).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    Seq("documents", "embeddings", "lineitem", "orders", "customer",
        "part", "supplier", "nation", "region",
        "events").filter(wanted).foreach { t =>
      println(s"$t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    // Injectivity assertion: every derived embedding vector is unique
    // (cross-copy identical twins would re-inflate near-dup pair
    // counts — the failure mode the flip exists to prevent).
    if (wanted("embeddings")) {
      val e = spark.read.parquet(s"$out/embeddings.parquet")
      val (rows, dist) = (e.count(), e.select("embedding").distinct().count())
      println(s"embeddings twin check: rows=$rows distinct=$dist")
      assert(rows == dist, s"identical embedding twins: ${rows - dist}")
    }
    spark.stop()
  }
}
