package graft.tools

import graft.SparkEntry

/** Dev tool: run ONLY the named queries through the Verify dump shape
  * so `tools/check_oracle.py` can gate them without paying for the
  * full ~90-query sweep. Usage:
  *   runMain graft.tools.VerifySubset <sfDir> <outDir> q71_cms_token_freq ...
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    graft.OracleAnalyzer.sfDir = Some(sfDir)
    val spark = graft.Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      // No coalesce(1): it would collapse the final shuffle stage to a
      // single task (a 150M×600M semi-join ran one-threaded at sf100).
      // check_oracle.py reads the multi-file dir with a glob anyway.
      fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    graft.Verify.writeOracleFiles(outDir, names)
    spark.stop()
  }
}
