package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.functions.{Analyzer, Porter}

/** Dumps the engine's Porter stems as TSV (`term<TAB>stem`) for an
  * independent cross-implementation diff (tools/porter_probe.py, a
  * from-the-paper Python Porter): the vocabulary is the distinct
  * post-stop corpus token set — the exact domain OracleAnalyzer's
  * rendered stem map covers, so a probe pass certifies the x03/x04
  * oracle's one engine-rendered ingredient against an implementation
  * that shares no code with the engine (round-12 VERDICT directive 4:
  * the stem map was the last self-referential oracle input).
  *
  * args: sfDir outTsv [extraWordsFile] — the optional word file (one
  * token per line) extends the domain with adversarial suffix
  * batteries beyond what the corpus happens to contain.
  */
object StemDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val extra: Seq[String] =
      if (args.length > 2)
        scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(Paths.get(args(2)))).asScala.toSeq
          .map(_.trim).filter(_.nonEmpty)
      else Seq.empty
    val spark = graft.Sessions.local()

    val vocab = graft.sources.Tables.documents(spark, sfDir)
      .select(explode(Analyzer.tokensNoStop(col("text"))).as("t"))
      .distinct().collect().map(_.getString(0))
    val all = (vocab ++ extra).distinct.sorted
    val lines = all.map(t => s"$t\t${Porter.stem(t)}")
    Files.write(Paths.get(out),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    println(s"stem dump: ${all.length} terms (${vocab.length} corpus, " +
      s"${extra.distinct.length} extra) -> $out")
    spark.stop()
  }
}
