package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSessionProvider {
  lazy val session: SparkSession = Sessions.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSessionProvider.session
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every regular file under `dir` (hidden ones too), relative path →
    * contents: equal snapshots mean the directory is byte-unchanged. */
  def treeBytes(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
    } finally walk.close()
  }
}
