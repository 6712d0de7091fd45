// Wall times of SparkEntry queries by name, in one JVM: one untimed
// warm-up run of each query, then QT_REPS rounds over the list (the
// persisted RDDs dropped and a GC between runs, as graft.Bench does).
// Each run writes the result to the noop sink. Prints one line,
// `QTIMES {"<query>": [ms, ...], ...}`. Runs against any checkout's
// benchmark build, so an A/B alternates JVMs of two checkouts:
//
//   python3 perfbench/build.py        # in the checkout; prints <classes>
//   QT_QUERIES=q116_index_topk,q117_index_incremental QT_REPS=3 \
//     SPARK_GRAFT_SF_DIR=/path/to/sf0.1 \
//     spark-shell --master 'local[4]' --driver-class-path <classes> \
//       --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//       --conf spark.sql.adaptive.enabled=true \
//       --conf spark.sql.session.timeZone=UTC -i tools/query_times.scala
val sfDir = sys.env("SPARK_GRAFT_SF_DIR")
val names = sys.env("QT_QUERIES").split(',').map(_.trim).toSeq
val reps = sys.env.getOrElse("QT_REPS", "3").toInt
graft.sources.Tables.bootstrap(spark)
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(s"$sfDir/lineitem.parquet").count()

def once(name: String): Double = {
  spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  System.gc()
  val t0 = System.nanoTime()
  graft.SparkEntry.queries(name)(spark, sfDir)
    .write.format("noop").mode("overwrite").save()
  (System.nanoTime() - t0) / 1e6
}

names.foreach(once)
val times = (1 to reps).flatMap(_ => names.map(n => n -> once(n)))
println("QTIMES {" + names.map { n =>
  s""""$n": [${times.filter(_._1 == n).map(t => f"${t._2}%.0f").mkString(", ")}]"""
}.mkString(", ") + "}")
System.exit(0)
