package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness-table loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * Each table is one parquet dataset under the scale-factor directory.
  * All engine queries read through here so the scan layer stays in one
  * place (schema evolution, bucketing, partitioned layouts at scale).
  *
  * At cluster scale these would be partitioned/bucketed tables in a
  * catalog; filters and projections still reach the parquet scan via
  * Catalyst pushdown either way (SURVEY.md §4).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = load(spark, d, "lineitem")

  /** Parquet-timestamp session defaults for the harness layouts, set
    * ONCE at session creation (Bench, Verify, VerifySubset, the test
    * provider, tools) — NOT from inside an accessor: flipping these
    * session-wide as a side effect of a table read changed how
    * UNRELATED parquet reads in the same session interpreted their
    * timestamp columns depending on read order (round-8 ADVICE).
    * Idempotent; returns the session for builder-style chaining.
    *
    *  - `nanosAsLong`: the legacy harness layout shipped `events.ts`
    *    as parquet TIMESTAMP(NANOS), which the vectorized reader
    *    rejects outright — this reads it as int64 nanos instead;
    *  - `inferTimestampNTZ.enabled=false`: the current µs
    *    (isAdjustedToUTC=false) layout reads as TimestampType
    *    directly, so timestamp predicates push down to the scan. */
  def bootstrap(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark
  }

  /** Schema-adaptive events reader. The harness has shipped `events.ts`
    * in two physical layouts:
    *
    *  - legacy: parquet TIMESTAMP(NANOS) → int64 nanos under
    *    [[bootstrap]]'s `nanosAsLong` (without it the scan itself
    *    errors), exposed as `ts_ns` with the µs-truncated `ts`
    *    TimestampType column derived;
    *  - current: parquet TIMESTAMP(µs, isAdjustedToUTC=false) → native
    *    `ts` TimestampType in a [[bootstrap]]'ed session (timestamp
    *    predicates push down to the parquet scan); in a session
    *    WITHOUT the bootstrap confs the same file infers as
    *    TimestampNTZType — handled by a wall-clock-preserving cast in
    *    the session timezone (UTC everywhere in this harness, so the
    *    values match DuckDB's naive-timestamp read), at the cost of
    *    the cast blocking parquet predicate pushdown on `ts`.
    *
    * Every downstream consumer sees the same two columns either way:
    * `ts` (TimestampType) and `ts_ns` (long, exact for whole-µs data).
    * No session conf is touched here. */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = load(spark, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts_ns div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      case _ =>
        raw.withColumn("ts_ns", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Decouple CPU parallelism from input split count for operators whose
    * expensive work (tokenization, pair expansion, per-token scoring)
    * happens BEFORE their first exchange. A corpus read from few giant
    * files — or single-row-group parquet, like the harness testdata —
    * yields a one-task scan stage, serializing all of that work on one
    * core regardless of cluster size. One explicit round-robin shuffle
    * of the input rows restores scan-width independence at a bounded,
    * predictable cost (the rows were about to be shuffled into the
    * operator's first exchange anyway).
    *
    * Width: the context default parallelism. An explicit numPartitions
    * repartition is also exempt from AQE partition coalescing, so the
    * downstream stage keeps its width even when the shuffled bytes
    * look small. */
  def scanWide(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
}
