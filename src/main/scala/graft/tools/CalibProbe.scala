package graft.tools

/** Measures a Bench sentinel kernel standalone: prints N timed runs so
  * its committed quiet band (records/calib_ref_r16.json) can be set
  * from an unloaded box and re-checked after environment changes.
  * Usage: sbt "runMain graft.tools.CalibProbe [n] [iter]" — n runs
  * (default 12) of the scalar [[graft.Bench.calibKernel]], or of the
  * iterative-plan [[graft.Bench.iterKernel]] with `iter`. */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(12)
    val iter = args.drop(1).headOption match {
      case None => false
      case Some("iter") => true
      case Some(a) => throw new IllegalArgumentException(
        s"usage: CalibProbe [n] [iter], got '$a'")
    }
    val spark = graft.Sessions.local()
    val (label, kernel) =
      if (iter) ("iter", () => graft.Bench.iterKernel(spark))
      else ("calib", () => graft.Bench.calibKernel(spark))
    kernel() // untimed codegen/JIT warm-up
    val ts = (1 to n).map { _ =>
      // match Bench's hygiene between samples
      if (iter) spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val t0 = System.nanoTime()
      kernel()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"$label runs: " + ts.map(t => f"$t%.3f").mkString(", "))
    val sorted = ts.sorted
    println(f"median ${sorted(n / 2)}%.3f  min ${sorted.head}%.3f  max ${sorted.last}%.3f")
    spark.stop()
  }
}
