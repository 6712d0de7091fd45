package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** X-3/X-4/X-5 threshold edges (dag:76-81; FIXTURES.md A.5). */
class ClassifySpec extends SparkSpec {
  import spark.implicits._

  test("trichotomy at ±0.1 with >= / <= edges") {
    val scores = Seq(-0.11, -0.1, -0.09, 0.0, 0.09, 0.1, 0.11).toDF("s")
    val got = scores.select(col("s"), Classify.overall(col("s")).as("o"))
      .collect().map(r => r.getDouble(0) -> r.getString(1)).toMap
    assert(got(-0.11) == "negative" && got(-0.1) == "negative")
    assert(got(-0.09) == "neutral" && got(0.0) == "neutral" && got(0.09) == "neutral")
    assert(got(0.1) == "positive" && got(0.11) == "positive")
  }

  test("confidence = |avg|, combined = mean of the two scores") {
    val df = Seq((0.5, -0.1)).toDF("v", "t")
    val r = df.select(
      Classify.combined(col("v"), col("t")).as("avg"),
      Classify.confidence(Classify.combined(col("v"), col("t"))).as("conf")).head()
    assert(math.abs(r.getDouble(0) - 0.2) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.2) < 1e-12)
  }

  test("sentiment struct carries all four fields") {
    val df = Seq((0.6, 0.2)).toDF("v", "t")
    val r = df.select(Classify.sentimentStruct(col("v"), col("t")).as("s"))
      .select("s.overall", "s.confidence", "s.vader_compound", "s.textblob_polarity").head()
    assert(r.getString(0) == "positive")
    assert(math.abs(r.getDouble(1) - 0.4) < 1e-12)
  }
}

/** F-1/F-2/F-5/X-8/X-9 (data_validator.py:8-44). */
class ValidateSpec extends SparkSpec {
  import spark.implicits._

  test("requiredFields drops null/empty/bad-url rows") {
    val df = Seq(
      ("ok", "https://example.com/a"),
      ("", "https://example.com/b"),        // empty title
      (null, "https://example.com/c"),      // null title
      ("ok", "notaurl"),                    // bad url
      ("ok", null),                         // null url
      ("ok", "http://ex.com:8080/p?q=1")    // port+query ok
    ).toDF("title", "url")
    val kept = Validate.requiredFields(df, "url", "title")
      .select("url").as[String].collect().toSet
    assert(kept == Set("https://example.com/a", "http://ex.com:8080/p?q=1"))
  }

  test("sanitize strips NULs and trims every string column") {
        val nul = 0.toChar
    val df = Seq((s"  he${nul}llo  ", 7)).toDF("s", "n")
    val r = Validate.sanitize(df).head()
    assert(r.getString(0) == "hello")
    assert(r.getInt(1) == 7)
  }

  test("sanitize is idempotent") {
    val df = Seq((" a" + 0.toChar + "b ", "x"), ("c", " d ")).toDF("p", "q")
    val once = Validate.sanitize(df).collect().toSeq
    val twice = Validate.sanitize(Validate.sanitize(df)).collect().toSeq
    assert(once == twice)
  }
}

/** J-1/J-2/J-3 (mongodb_handler.py:46-69, dag:36-47). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("dropDupes keeps one row per key") {
    val df = Seq(("u1", 1), ("u1", 2), ("u2", 3)).toDF("url", "v")
    assert(Dedup.dropDupes(df, "url").count() == 2)
  }

  test("dedupAgainst = left-anti on the key") {
    val batch = Seq(("u1", 1), ("u2", 2), ("u3", 3)).toDF("url", "v")
    val existing = Seq(("u2", 9)).toDF("url", "v")
    val out = Dedup.dedupAgainst(batch, existing, "url")
      .select("url").as[String].collect().toSet
    assert(out == Set("u1", "u3"))
    // duplicate keys on the build side change nothing, and the build
    // side is the pruned key column as it is: no aggregate over it
    val dupExisting = Seq(("u2", 9), ("u2", 8), ("u2", 9)).toDF("url", "v")
    val dupOut = Dedup.dedupAgainst(batch, dupExisting, "url")
    assert(dupOut.select("url").as[String].collect().toSet == Set("u1", "u3"))
    val aggs = dupOut.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.isEmpty, dupOut.queryExecution.sparkPlan.toString)
  }

  test("idempotentBatch: re-delivery lands nothing new") {
    val batch = Seq(("u1", 1), ("u1", 1), ("u2", 2)).toDF("url", "v")
    val landed = Dedup.idempotentBatch(batch, batch.limit(0), "url")
    assert(landed.count() == 2)
    val again = Dedup.idempotentBatch(batch, landed, "url")
    assert(again.count() == 0)
  }

  test("exactByContent groups normalized duplicates") {
    val df = Seq((1L, "Hello World"), (2L, "  hello world "), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactByContent(df, "doc_id", "text")
      .orderBy("keeper").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keeper") == 1L && out(0).getAs[Long]("dups") == 2L)
  }
}
