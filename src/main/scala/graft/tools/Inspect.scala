package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkEntry

/** One inspection surface over [[SparkEntry.queries]]. Each mode runs
  * every named query once and prints one report per query:
  *  - `--plan` (the default): the finalized AQE physical plan;
  *  - `--codegen`: how many physical operators sit inside a
  *    whole-stage-codegen span and which sit outside (those pay
  *    virtual calls and row materialization per row; UDF projections
  *    and exchanges legitimately sit outside, anything else is a
  *    candidate to fix);
  *  - `--shuffle`: shuffle bytes written and read, summed over the
  *    task metrics of every job the query runs. Written bytes are what
  *    cross the network on a cluster; `local[N]` runs the same plan,
  *    so the same bytes.
  *
  * Usage: runMain graft.tools.Inspect <sfDir> <query…> [--plan | --codegen | --shuffle]
  * To time queries, run `graft.Bench <query…>`. */
object Inspect {
  private val Usage =
    "usage: Inspect <sfDir> <query...> [--plan | --codegen | --shuffle]"

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val mode = flags.toSeq match {
      case Seq() => "--plan"
      case Seq(m) if Modes(m) => m
      case _ => throw new IllegalArgumentException(Usage)
    }
    require(rest.length >= 2, Usage)
    val names = rest.tail.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.Sessions.local()
    report(spark, rest.head, mode, names).foreach(println)
    spark.stop()
  }

  private val Modes = Set("--plan", "--codegen", "--shuffle")

  /** The lines `main` prints for `mode` over the named queries. */
  def report(spark: SparkSession, sfDir: String, mode: String,
             names: Seq[String]): Seq[String] = {
    def query(n: String): DataFrame = SparkEntry.queries(n)(spark, sfDir)
    mode match {
      case "--plan" => names.flatMap(n => Seq(s"==== $n", plan(query(n))))
      case "--codegen" =>
        f"${"query"}%-30s ${"in"}%4s ${"out"}%4s  outside-codegen operators" +:
          names.map { n =>
            val c = codegen(query(n))
            val outs = c.outsideOps.groupBy(identity)
              .map { case (k, v) => s"$k x${v.size}" }.toSeq.sorted.mkString(", ")
            f"$n%-30s ${c.inside}%4d ${c.outside}%4d  $outs"
          }
      case "--shuffle" =>
        f"${"query"}%-28s ${"shuffleWrite"}%14s ${"shuffleRead"}%14s" +:
          names.map { n =>
            val s = shuffle(spark, query(n))
            f"$n%-28s ${s.written}%,14d ${s.read}%,14d"
          }
    }
  }

  /** Runs `df` and returns its finalized physical plan. `collect()`,
    * not a noop write: a write action clones the plan and leaves this
    * QueryExecution's AQE plan unfinalized. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  def plan(df: DataFrame): String = finalPlan(df).toString

  case class Codegen(inside: Int, outside: Int, outsideOps: Seq[String])

  def codegen(df: DataFrame): Codegen = {
    def walk(p: SparkPlan, inside: Boolean): Codegen = {
      val wrapper = p.isInstanceOf[WholeStageCodegenExec] ||
        p.isInstanceOf[AdaptiveSparkPlanExec] ||
        p.isInstanceOf[InputAdapter] || p.isInstanceOf[QueryStageExec]
      val self =
        if (wrapper) Codegen(0, 0, Nil)
        else if (inside) Codegen(1, 0, Nil)
        else Codegen(0, 1, Seq(p.nodeName))
      // an InputAdapter's (or a new query stage's) subtree is OUTSIDE
      // the enclosing codegen span
      val nowInside = (inside || p.isInstanceOf[WholeStageCodegenExec]) &&
        !p.isInstanceOf[InputAdapter] && !p.isInstanceOf[QueryStageExec]
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => p.children
      }
      kids.map(walk(_, nowInside)).foldLeft(self) { (a, b) =>
        Codegen(a.inside + b.inside, a.outside + b.outside,
          a.outsideOps ++ b.outsideOps)
      }
    }
    walk(finalPlan(df), inside = false)
  }

  case class Shuffle(written: Long, read: Long)

  /** Builds `query` (some queries run jobs as they are built) and runs
    * it into a noop sink, all under its own job group, and sums the
    * shuffle metrics of the tasks of that group's jobs. Listener events
    * arrive in posting order, so once a fence job started after the
    * query is seen, every task of the query has been counted. */
  def shuffle(spark: SparkSession, query: => DataFrame): Shuffle = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val (group, fence) = (s"inspect-$tag", s"inspect-fence-$tag")
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new AtomicLong()
    val read = new AtomicLong()
    val fenced = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart): String =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e) match {
        case `group` => e.stageIds.foreach(stages.add)
        case `fence` => fenced.countDown()
        case _ => ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && stages.contains(e.stageId)) {
          written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "graft.tools.Inspect --shuffle")
      try query.write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
      sc.setJobGroup(fence, "graft.tools.Inspect fence")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.clearJobGroup()
      if (!fenced.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not deliver the fence job")
    } finally sc.removeSparkListener(listener)
    Shuffle(written.get, read.get)
  }
}
