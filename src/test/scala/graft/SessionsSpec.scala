package graft

/** [[Sessions.local]] builds the session every main and suite runs on;
  * these are the confs the mains set by hand before it existed. */
class SessionsSpec extends SparkSpec {
  test("the factory session pins the confs the mains set by hand") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
  }
}
