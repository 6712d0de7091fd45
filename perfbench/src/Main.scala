package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one timed window of a workload produced. */
final case class Window(latenciesMs: Seq[Double], items: Long, failed: Long)

/** One workload: a standing state built by [[setup]], a closed loop of
  * operations run by [[window]], and answer checks made outside the
  * timed windows. */
trait Workload {
  def name: String
  /** Input properties the generator produced, as printable lines. */
  def inputs: Seq[String]
  /** Writes the workload's input tables under `work`, once, untimed. */
  def prepare(work: String): Unit = ()
  /** Builds the standing state under the fresh directory `dir`. */
  def setup(dir: String): Unit
  /** Untimed operations run before the first window. */
  def warmup(): Unit
  /** Runs operations back to back for about `seconds` (see [[Main.closedLoop]]). */
  def window(seconds: Double, tr: Option[Tracer]): Window
  /** Post-run answer checks: (checks made, descriptions of failures). */
  def check(): (Int, Seq[String])
  /** Bytes at rest per item, and the item's name. */
  def storedBytesPerItem: (Double, String)
  /** Names of the latency sample and of the throughput item. */
  def opName: String
  def itemName: String
  /** The workload's per-layer metrics from a traced window. */
  def layers(tr: Tracer): Seq[Metric]
  /** Spans reported beside [[Main.spanNames]]. */
  def ownSpans: Seq[(String, Boolean)] = Nil
}

/** Benchmark entry point: one workload, one seed, one fresh session.
  * Prints human-readable lines, then one JSON result line. */
object Main {

  /** Spans every traced run reports (the benchmark's per-layer list), as
    * (name, is a write span); a workload reports 0 for spans it never
    * runs. `search_serve` adds its own spans to these. */
  val spanNames: Seq[(String, Boolean)] = Seq(
    "streaming.land" -> true, "operators.fresh_gate" -> false,
    "plans.analyze" -> true, "operators.index_append" -> true,
    "operators.index_probe" -> false, "plans.funnel" -> true)

  /** Per-layer metrics beyond the span counters, with their units. */
  val extraNames: Seq[(String, String)] = Seq(
    "streaming.land.kept_ratio" -> "ratio",
    "operators.index_append.files" -> "count",
    "operators.index_append.compactions" -> "count") ++
    Seq("operators.cc", "operators.minhash").flatMap(p =>
      Tracer.baseCounters.map(k => s"$p.$k" -> unitOf(k))) ++
    Seq("operators.cc.edges" -> "count", "operators.cc.rounds" -> "count")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val threads = args.getOrElse("threads", "4").toInt
    val work = args("work")

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.sources.Tables.bootstrap(spark)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val wl: Workload = workload match {
        case "hourly_ingest" => new HourlyIngest(spark, seed)
        case "search_serve" => new SearchServe(spark, seed)
        case "corpus_prep" => new CorpusPrep(spark, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run(spark, wl, seconds, trace, work)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, wl: Workload, seconds: Double,
                  trace: Boolean, work: String): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(p: String): Unit =
      println(f"# phase ${wl.name} $p at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
    phase("session ready")
    wl.inputs.foreach(l => println(s"# input ${wl.name}: $l"))
    wl.prepare(work)
    // set up three times in fresh directories; the last state is used
    val setupS = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      wl.setup(s"$work/state$i")
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup done")
    wl.warmup()
    phase("warmup done")
    val plain = wl.window(seconds, None)
    // traced runs: untraced, traced, untraced again, so the overhead
    // estimate is not just the JIT warming up between two windows
    val (traced, after, tracer) =
      if (!trace) (None, None, None)
      else {
        val tr = new Tracer(spark)
        tr.start()
        val w = wl.window(seconds, Some(tr))
        tr.stop()
        (Some(w), Some(wl.window(seconds, None)), Some(tr))
      }
    val windows = Seq(plain) ++ traced ++ after
    phase("windows done")
    val (checks, wrong) = wl.check()
    phase("checks done")
    wrong.foreach(w => println(s"# WRONG ${wl.name}: $w"))
    val heapMb = retainedHeapMb()
    val liveBlocks = spark.sparkContext.getPersistentRDDs.size

    val attempted = windows.map(_.latenciesMs.size).sum + checks
    val failed = windows.map(_.failed).sum + wrong.size
    val lat = Stats(plain.latenciesMs)
    val (stored, storedItem) = wl.storedBytesPerItem
    val perSec = plain.items / (plain.latenciesMs.sum / 1000.0)
    val endToEnd = Seq(
      Metric("setup_s", Stats(setupS).median, "s"),
      Metric("op_ms_p50", lat.median, "ms"),
      Metric("op_ms_tail", lat.tail, "ms"),
      Metric("items_per_s", perSec, "1/s"),
      Metric("stored_bytes_per_item", stored, "bytes"),
      Metric("retained_heap_mb", heapMb, "MB"))
    val workloadNames = Map(
      "op_ms_p50" -> s"${wl.opName}_ms_p50", "op_ms_tail" -> s"${wl.opName}_ms_tail",
      "items_per_s" -> s"${wl.itemName}_per_s",
      "stored_bytes_per_item" -> s"stored_bytes_per_$storedItem")
    endToEnd.foreach { m =>
      println(f"# ${wl.name} ${workloadNames.getOrElse(m.name, m.name)} = ${m.value}%.4f ${m.unit}")
    }
    println(f"# ${wl.name} ${wl.opName} samples = ${lat.n}, tail percentile = p${lat.tailPct}%.1f")
    println(s"# ${wl.name} ${wl.opName} ms in order = ${plain.latenciesMs.map(x => f"$x%.0f").mkString(", ")}")
    println(f"# ${wl.name} failed_ratio = ${failed.toDouble / attempted}%.6f ($failed of $attempted)")
    println(f"# ${wl.name} setup runs = ${setupS.map(s => f"$s%.3f").mkString(", ")} s")

    val metrics = tracer match {
      case None => endToEnd
      case Some(tr) =>
        val tracedP50 = Stats(traced.get.latenciesMs).median
        val untracedP50 = (lat.median + Stats(after.get.latenciesMs).median) / 2
        val overhead = (tracedP50 / untracedP50 - 1.0) * 100.0
        println(f"# ${wl.name} tracing overhead = $overhead%.2f%% (p50 $tracedP50%.2f ms traced, " +
          f"$untracedP50%.2f ms mean of the untraced windows before and after)")
        val spans = (spanNames ++ wl.ownSpans).flatMap { case (s, write) =>
          tr.spanCounters(s, write).map { case (k, v) => Metric(s"$s.$k", v, unitOf(k)) }
        }
        val own = wl.layers(tr).map(m => m.name -> m).toMap
        val extras = extraNames.map { case (n, u) => own.getOrElse(n, Metric(n, 0.0, u)) }
        spans ++ extras ++ Seq(
          Metric("storage.live_blocks", liveBlocks.toDouble, "count"),
          Metric("trace.overhead_pct", overhead, "%"))
    }
    if (trace) metrics.foreach(m => println(f"# layer ${m.name} = ${m.value}%.4f ${m.unit}"))
    println(json(failed == 0, attempted, failed, metrics))
  }

  /** Heap in use after full collections, with the session still alive.
    * Spark's cleaner frees shuffle and broadcast blocks asynchronously
    * once a collection has found their owners unreachable, so collect
    * again until the figure settles. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var i = 0
    while (math.abs(cur - prev) > 0.01 * prev && i < 6) {
      prev = cur
      cur = collect()
      i += 1
    }
    cur
  }

  /** One closed-loop client. Each call of `op` runs one or more
    * operations back to back and returns a (latency ms, items, answer
    * right) sample per operation. `op` runs at least once, and again
    * while the next call is expected to end within `seconds` of the
    * start. */
  def closedLoop(seconds: Double)(op: () => Seq[(Double, Long, Boolean)]): Window = {
    val t0 = System.nanoTime()
    val samples = mutable.ArrayBuffer.empty[(Double, Long, Boolean)]
    var calls = 0
    def elapsedMs = (System.nanoTime() - t0) / 1e6
    do {
      samples ++= op()
      calls += 1
    } while (elapsedMs + elapsedMs / calls <= seconds * 1000)
    Window(samples.map(_._1).toSeq, samples.map(_._2).sum, samples.count(!_._3).toLong)
  }

  def unitOf(counter: String): String = counter match {
    case c if c.endsWith("_ms") || c == "ms" => "ms"
    case c if c.endsWith("_bytes") => "bytes"
    case "kept_ratio" => "ratio"
    case _ => "count"
  }

  private def json(correct: Boolean, attempted: Long, failed: Long,
                   metrics: Seq[Metric]): String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Bytes of the data files under `dir` (hidden and `_` files excluded). */
  def dirBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(dir))
  }

  /** Data files under `dir`, by relative path. */
  def dataFiles(dir: String): Set[String] = {
    val root = new File(dir)
    val out = mutable.Set.empty[String]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_"))
        out += root.toPath.relativize(f.toPath).toString
    walk(root)
    out.toSet
  }
}

/** Median and tail of a latency sample. The tail is the highest
  * percentile with at least ten samples beyond it; a sample too small to
  * have one above the median reports its maximum. */
final case class Stats(xs: Seq[Double]) {
  private val s = xs.sorted
  val n: Int = s.size
  private def at(p: Double): Double = {
    // linear interpolation between closest ranks
    val h = (n - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, n - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median: Double = if (n == 0) Double.NaN else at(0.5)
  val tailPct: Double = if (n > 20) 100.0 * (n - 10) / n else 100.0
  def tail: Double = if (n == 0) Double.NaN else at(tailPct / 100.0)
}
