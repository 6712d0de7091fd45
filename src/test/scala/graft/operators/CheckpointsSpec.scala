package graft.operators

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkSpec

/** `Checkpoints.release` frees a checkpoint's blocks quietly. */
class CheckpointsSpec extends SparkSpec {

  /** The lines logged at WARN or above under `org.apache.spark.rdd`
    * while `f` runs (the suites log at ERROR; the logger is lowered to
    * WARN for the call, then put back). */
  private def rddWarnings(f: => Unit): Seq[String] = {
    val name = "org.apache.spark.rdd"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender(s"rdd-warnings-${System.nanoTime()}", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    Configurator.setLevel(name, Level.WARN)
    ctx.getConfiguration.getLoggerConfig(name).addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try f
    finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    lines.toArray(Array.empty[String]).toSeq
  }

  private def rddOf(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.id
  }

  test("release frees an eager and a lazy checkpoint's blocks and logs no WARN") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val eager = spark.range(2000).selectExpr("id % 7 AS k").localCheckpoint()
    val lzy = spark.range(50).selectExpr("id * 2 AS v").localCheckpoint(eager = false)
    assert(lzy.count() == 50)
    val ids = Seq(rddOf(eager), rddOf(lzy))
    assert(ids.forall(GraftTestBus.rddBlocks(sc, _) > 0))
    assert(ids.toSet.subsetOf(sc.getPersistentRDDs.keySet -- before))
    val warnings = rddWarnings {
      Checkpoints.release(eager, blocking = true)
      Checkpoints.release(lzy, blocking = true)
    }
    assert(warnings.isEmpty, warnings.mkString("\n"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(ids.forall(GraftTestBus.rddBlocks(sc, _) == 0))
    // the logger is back at the suites' level
    assert(!org.apache.logging.log4j.LogManager.getLogger("org.apache.spark.rdd.RDD").isWarnEnabled)
  }
}
