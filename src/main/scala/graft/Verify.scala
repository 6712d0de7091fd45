package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes `oracle_sql.json` and the staged replacements for
    * sf100-heavy oracles (`oracle_stages.json`, read by
    * tools/check_oracle.py) for the queries `keep` selects. */
  def writeOracleFiles(outDir: String, keep: String => Boolean): Unit = {
    val q = jsonString _
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val stagesJson = SparkEntry.oracleStages.filter(kv => keep(kv._1))
      .map { case (k, (stages, main)) =>
        s"${q(k)}: {${q("stages")}: [${stages.map(q).mkString(",")}], ${q("main")}: ${q(main)}}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_stages.json"), stagesJson)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // the x03/x04 oracles render their stem map from the corpus
    OracleAnalyzer.sfDir = Some(sfDir)
    // optional trailing names: dump only that subset (local iteration);
    // the driver passes exactly two args and gets every query.
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleFiles(outDir, _ => true)
    spark.stop()
  }
}
