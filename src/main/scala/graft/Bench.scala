package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Calibration kernel (round-13 VERDICT directive 2): a fixed,
    * deterministic CPU+shuffle micro-query — 20M-row hash projection,
    * 32-way shuffle into a 997-group aggregate — interleaved through
    * the suite every ~20 queries. The single-thread `spin` sentinel
    * catches CPU contention but was blind to the round-13 failure
    * mode (a uniformly ~1.2x-hot driver run: cache/thermal/cgroup
    * effects that tax multi-threaded shuffle work without loading a
    * lone spin core — 13 phantom regressions). This kernel exercises
    * the same executor-pool + shuffle path the real queries use, so
    * its wall time moves with whatever taxes THEM. */
  def calibKernel(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    // chained xxhash64 keeps each row genuinely CPU-bound (codegen'd,
    // no allocation), so the kernel's wall time is dominated by the
    // executor pool's effective throughput rather than by per-job
    // scheduling overhead — 80M rows x 6 hashes lands ~1.5 s unloaded,
    // where the per-job fixed-cost noise (~±0.1 s) sits under 10%.
    val h = (1 to 6).foldLeft(org.apache.spark.sql.functions.col("id"))(
      (c, _) => xxhash64(c))
    spark.range(0L, 80000000L, 1, 32)
      .select((h % 997).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Iterative-plan sentinel (round-15 VERDICT directive 2). The
    * scalar [[calibKernel]] is ONE job — it provably decorrelates
    * from the multi-job iterative family (r15 driver: kernel 1.06x
    * quiet, CC/pagerank/doubling queries 1.2-1.7x): whatever taxes a
    * chain of short shuffle jobs (scheduler latency, checkpoint I/O,
    * inter-job GC) is invisible to a single long job. This kernel is
    * shaped exactly like the blind spot: a 6-iteration fixed-point
    * loop over a synthetic 1M-edge / 100k-node graph driven by the
    * REAL [[graft.operators.Graph.pageRank]] (persist + join + agg
    * per round, localCheckpoint every 2 rounds, blocking unpersist of
    * the previous checkpoint) — i.e. it times q102/q176/x18's inner
    * discipline at a fixed synthetic size. Deterministic input
    * (xxhash64 scatter of a range), so wall time moves only with the
    * environment. */
  def iterKernel(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val edges = spark.range(0L, 250000L, 1, 32)
      .select(pmod(xxhash64(col("id")), lit(25000L)).as("src"),
              pmod(xxhash64(col("id") + 7777777L), lit(25000L)).as("dst"))
    // checkpointEvery pinned to the round-15 value: the INSTRUMENT's
    // job shape must stay byte-identical across rounds even though the
    // query path's PageRank default moved to every-4 (round 16) — a
    // sentinel that changes with the code can't band host weather.
    // localMaxEdges=0: the sentinel must ALWAYS run the distributed
    // loop — the round-16 size-adaptive local path would otherwise
    // collapse it to driver work and blind it to the multi-job axis
    // it exists to measure.
    graft.operators.Graph.pageRank(edges, "src", "dst", iters = 6,
        checkpointEvery = graft.operators.Graph.CheckpointEvery,
        localMaxEdges = Some(0L))
      .write.format("noop").mode("overwrite").save()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // session warm-up (codegen/JIT/FS init), not counted
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // machine-load sentinel: a fixed single-thread integer spin whose
    // wall time is ~0.5 s on an unloaded core and scales with CPU
    // contention. Recorded before and after the suite so a judge can
    // adjudicate "query X read 2x slower" as machine load vs code
    // without re-running (the round-11 noise post-mortem).
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < 400000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val spinPre = spin()
    // Calibration series (round-13 VERDICT directive 2): time the
    // fixed kernel every CalibEvery queries. The whole-run flag trips
    // when the SERIES MEDIAN drifts >10% above the committed quiet
    // band — the round-13 failure mode was a uniformly ~1.2x-hot run,
    // which a median over ~12 samples catches where single samples
    // (±40% scheduling/GC noise measured at this kernel size) cannot.
    // Individual samples >30% hot additionally mark the ~20-query
    // span they close as suspect, so a judge can scope "which
    // queries' times ran under load" without re-running.
    //
    // Round-15 changes (round-14 VERDICT items 1 + 7):
    //  - NO head-sample skip. The old rule dropped samples 0-1 from
    //    both the flag median and the suspect list as "JIT warm-up on
    //    every run" — a premise falsified by the r14 driver record
    //    (sample 0 = 0.411 s, its series MINIMUM, after the same
    //    untimed kernel warm-up) — and the r14 builder gate artifact
    //    fell exactly into that blind spot: samples 0-1 read 1.71 s
    //    (3.4x quiet) while the first 40 queries ran a median 1.35x
    //    hot, unflagged. All samples now carry the same alarm.
    //  - The reference is a per-scale-factor quiet BAND (min/median/
    //    p90 from >=3 quiet sessions), not a point: the quiet envelope
    //    spans 0.37-0.60 at sf0.1 and the sf0.001 settled tail runs
    //    0.65-0.90 (heap pressure from the surrounding suite differs
    //    by sf). Bands live in records/calib_ref_r15.json
    //    (SPARK_GRAFT_CALIB_REF overrides the path) and are read at
    //    startup; re-baselining = editing the committed record, not
    //    this file. Flag base = band median; a missing file or sf key
    //    falls back to the built-in default band below.
    //  - spin_pre/spin_post out of THEIR committed quiet band
    //    (spin_quiet in the same record) mark the opening/closing
    //    span suspect even when no calib sample catches it (the r14
    //    builder artifact's spin_pre read 2.52 = 3x quiet — signal
    //    that was recorded and ignored).
    // Deliberately NOT set from an in-suite median of a long session:
    // the round-14 instrumentation run read calib median 0.72 while
    // the whole suite ran 1.84x over the r13 record with spin at
    // 0.83-0.91 — the box's documented sustained-load throttle state
    // (build.sbt note), i.e. the exact multi-thread degradation this
    // kernel exists to expose. A ref taken from that state would bake
    // the degradation in.
    case class Band(min: Double, median: Double, p90: Double)
    val DefaultBand = Band(0.37, 0.45, 0.60) // sf0.1-class quiet envelope
    val DefaultSpin = Band(0.70, 0.82, 0.95) // quiet records r13a-r14
    val DefaultIter = Band(4.20, 4.60, 5.00) // iterKernel quiet envelope
    val refPath = sys.env.getOrElse("SPARK_GRAFT_CALIB_REF",
      "records/calib_ref_r16.json")
    val sfKey = new java.io.File(sfDir).getName.replace("_derived", "")
    val (band, spinBand, iterBand) = {
      import org.json4s._
      def num(j: JValue): Option[Double] = j match {
        case JDouble(v) => Some(v)
        case JInt(v) => Some(v.toDouble)
        case JDecimal(v) => Some(v.toDouble)
        case _ => None
      }
      def toBand(j: JValue): Option[Band] = for {
        mn <- num(j \ "min"); md <- num(j \ "median"); p9 <- num(j \ "p90")
      } yield Band(mn, md, p9)
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(refPath)), "UTF-8")
        val j = org.json4s.jackson.JsonMethods.parse(txt)
        val b = toBand(j \ "bands" \ sfKey)
          .orElse(toBand(j \ "bands" \ "default")).getOrElse(DefaultBand)
        val s = toBand(j \ "spin_quiet").getOrElse(DefaultSpin)
        val it = toBand(j \ "iter_bands" \ sfKey)
          .orElse(toBand(j \ "iter_bands" \ "default")).getOrElse(DefaultIter)
        (b, s, it)
      } catch { case _: Throwable => (DefaultBand, DefaultSpin, DefaultIter) }
    }
    val CalibRef = band.median
    val CalibEvery = 20
    val IterEvery = 40
    val calibT = scala.collection.mutable.ArrayBuffer[Double]()
    val calibAfter = scala.collection.mutable.ArrayBuffer[Int]()
    def calibSample(after: Int): Unit = {
      // min of 2 back-to-back runs: single kernel runs carry ±40%
      // scheduling/GC spikes; load only ever slows BOTH.
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        calibKernel(spark)
        (System.nanoTime() - t0) / 1e9
      }
      calibT += ts.min
      calibAfter += after
    }
    // Iterative-plan sentinel series (round-15 VERDICT directive 2):
    // the multi-job iterKernel sampled every IterEvery = 40 queries
    // (half the calib cadence — the kernel is ~4.5 s, dominated by
    // per-job fixed costs BY DESIGN, so a 20-query cadence would cost
    // ~18% of the suite's wall time; 40 keeps it under 10% and a
    // ~7-sample median still flags a sustained state). SINGLE run per
    // sample (the kernel internally averages over ~5 jobs x dozens of
    // tasks, so per-run noise is lower than the scalar kernel's) —
    // the flag statistic is the series MEDIAN, robust to single hot
    // samples, and each hot sample still marks its (40-query) span
    // suspect like calib samples do.
    val iterT = scala.collection.mutable.ArrayBuffer[Double]()
    val iterAfter = scala.collection.mutable.ArrayBuffer[Int]()
    def iterSample(after: Int): Unit = {
      val t0 = System.nanoTime()
      iterKernel(spark)
      iterT += (System.nanoTime() - t0) / 1e9
      iterAfter += after
      // the kernel's own checkpoint/persist residue must not tax the
      // next query's timed window
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    calibKernel(spark) // untimed codegen/JIT warm-up of the kernel path
    iterKernel(spark)  // untimed warm-up of the iterative kernel path
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // noop sink forces full materialization of every output column
    // (a bare count() would let Catalyst prune the projections away);
    // min of two runs damps the ±50% run-to-run JIT/GC noise measured
    // at this scale (standard steady-state benching). A failed query
    // reports -1, not its wall time — a regression must not read as
    // a fast run.
    // optional args subset (diagnosis tool; the driver passes none)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
    // untimed dry run of the first query: the lineitem-count warm-up
    // above does not JIT the aggregate/codegen paths, and the
    // alphabetically-first entry was paying ~3-4 s of first-query
    // compilation in-sweep (q01 read 5.4 s in-sweep vs 1.4 s
    // standalone, round 5) — a measurement artifact, not a plan cost
    selected.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Inter-RUN hygiene. (1) localCheckpoint blocks: the CC loops
    // (x18/x24/q69) and the suffix-array chain checkpoint per round,
    // and those RDD blocks stay pinned in executor storage until the
    // driver GC happens to collect the RDD handle — across ~100
    // queries that accumulated into enough heap pressure to inflate
    // late-alphabet queries >10x (x24: 78 s in-bench vs 6.8 s
    // standalone, round 5). Unpersist is deterministic where
    // ContextCleaner is best-effort. (2) GC-settle: BENCH_r02
    // recorded a 7x outlier on x16 (both runs!) that X16Probe (last
    // in b820d97) could not reproduce in steady state; heavy
    // allocators otherwise tax the next run's wall time. Runs
    // BETWEEN repeats of the SAME query too: round 8 measured q87's
    // in-suite median at 115 s vs 21 s standalone because run 1's ~5
    // checkpoint tables stayed pinned under runs 2-3 (the hygiene
    // cost itself is outside the timed window either way).
    def hygiene(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
    }
    calibSample(0)
    iterSample(0)
    val firstPass = selected.zipWithIndex.map { case ((name, fn), i) =>
      hygiene()
      val (t1, ok1) = once(name, fn)
      hygiene()
      val (t2, ok2) = once(name, fn)
      if ((i + 1) % CalibEvery == 0 && i + 1 < selected.size) {
        hygiene(); calibSample(i + 1)
        if ((i + 1) % IterEvery == 0) iterSample(i + 1)
      }
      (name, fn, Seq(t1, t2), ok1 && ok2)
    }
    // the ~10 most expensive entries get a THIRD run and report the
    // median of 3: single-run deltas on these dominate round-over-
    // round totals, and a median is readable where a min-of-2 under
    // ±50% noise is not. The named set extends it to the queries whose
    // driver records have shown machine-load artifacts (the round-11
    // adjudication: q79/q100/q102/q176 read 1.5-2.5x under load and
    // re-measured at par standalone) — a median-of-3 absorbs one
    // loaded run where min-of-2 cannot. The index/funnel mid-weights
    // joined in round 13: their 7-round history shows a ±45% band on
    // byte-identical code (q117 4.49–6.71 s, q74 4.17–5.87 s), which
    // cost the round-12 judge a standalone re-bench to adjudicate.
    val noisy = Set("q79_perplexity_buckets", "q100_suffix_rewrite",
      "q102_pagerank", "q176_pagerank_weighted",
      "q117_index_incremental", "q74_corpus_funnel",
      "q116_index_topk", "q69_dedup_quality_keeper")
    val expensive = firstPass.filter(_._4)
      .sortBy { case (_, _, ts, _) => -ts.min }
      .take(10).map(_._1).toSet ++ noisy.filter(n => firstPass.exists(_._1 == n))
    val results = firstPass.map { case (name, fn, ts, ok) =>
      if (!ok) name -> -1.0
      else if (!expensive(name)) name -> ts.min
      else {
        hygiene()
        val (t3, ok3) = once(name, fn)
        if (!ok3) name -> -1.0
        else name -> (ts :+ t3).sorted.apply(1) // median of 3
      }
    }
    hygiene()
    calibSample(selected.size) // closes the last span + third-run phase
    iterSample(selected.size)
    // flag statistic over ALL samples (no head skip — see the r15
    // note above): the run is flagged when the series median exceeds
    // 1.15x the quiet band's MEDIAN. Calibrated against the known-
    // state r14/r15 runs (records/calib_ref_r15.json): quiet in-suite
    // medians sit at 0.52-0.53 (pass), the r15 uniformly-1.25x-warm
    // run read 0.595 (flags — an earlier p90*1.10 rule missed it by
    // 3%), the 1.84x throttle state read 0.686 (flags). A median of
    // ~13 samples has ±5% noise, so the 15% margin over the quiet
    // median keeps ~10% separation both ways.
    val calibMedian = calibT.sorted.apply(calibT.size / 2)
    val calibFlag = calibMedian > band.median * 1.15
    // iter sentinel: same flag rule over ITS quiet band. Either
    // sentinel flagging marks the run — the scalar kernel catches
    // pool-throughput degradation, the iterative kernel catches the
    // multi-job/short-shuffle taxes the scalar one provably misses.
    val iterMedian = iterT.sorted.apply(iterT.size / 2)
    val iterFlag = iterMedian > iterBand.median * 1.15
    val spinPost = spin()
    val spinHot = (s: Double) => s > spinBand.p90 * 1.30
    // a hot sample marks the ~CalibEvery queries it CLOSES as suspect;
    // the pre-suite sample (after=0) and a hot spin_pre mark the
    // OPENING span; a hot spin_post marks the CLOSING span
    val selNames = selected.map(_._1)
    def span(lo: Int, hi: Int): Seq[String] =
      selNames.slice(math.max(0, lo), math.min(hi, selNames.size))
    def hotSpans(ts: Seq[Double], after: Seq[Int], base: Double,
                 width: Int) =
      ts.zip(after).collect {
        case (t, a) if t > base * 1.30 =>
          if (a == 0) span(0, width) else span(a - width, a)
      }.flatten
    val calibSuspect = (hotSpans(calibT.toSeq, calibAfter.toSeq,
        band.median, CalibEvery)
      ++ hotSpans(iterT.toSeq, iterAfter.toSeq, iterBand.median, IterEvery)
      ++ (if (spinHot(spinPre)) span(0, CalibEvery) else Nil)
      ++ (if (spinHot(spinPost)) span(selNames.size - CalibEvery,
            selNames.size) else Nil)).distinct
    // ROOT locale like fmt below: comma-decimal defaults emit bad JSON
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val calibJson = calibT.map(fmt3).mkString("[", ",", "]")
    val calibAfterJson = calibAfter.mkString("[", ",", "]")
    val calibSuspectJson = calibSuspect.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val runsJson = results.collect {
      case (k, v) if v >= 0 && expensive(k) => "\"" + k + "\":3"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Full-precision line → file (the harness commits it whole).
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val bandJson = s"""{"min":${fmt3(band.min)},"median":${fmt3(band.median)},"p90":${fmt3(band.p90)}}"""
    val spinBandJson = s"""{"min":${fmt3(spinBand.min)},"median":${fmt3(spinBand.median)},"p90":${fmt3(spinBand.p90)}}"""
    val iterBandJson = s"""{"min":${fmt3(iterBand.min)},"median":${fmt3(iterBand.median)},"p90":${fmt3(iterBand.p90)}}"""
    val iterJson = iterT.map(fmt3).mkString("[", ",", "]")
    val iterAfterJson = iterAfter.mkString("[", ",", "]")
    val jsonFull = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"failed":$failed,"runs":$runsJson,"spin_pre":$spinPre,"spin_post":$spinPost,"spin_band":$spinBandJson,"spin_flag":${spinHot(spinPre) || spinHot(spinPost)},"calib":$calibJson,"calib_after":$calibAfterJson,"calib_ref":$CalibRef,"calib_band":$bandJson,"calib_sf_key":"$sfKey","calib_median":${fmt3(calibMedian)},"calib_flag":$calibFlag,"iter":$iterJson,"iter_after":$iterAfterJson,"iter_band":$iterBandJson,"iter_median":${fmt3(iterMedian)},"iter_flag":$iterFlag,"calib_suspect":$calibSuspectJson,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (jsonFull + "\n").getBytes("UTF-8"))
    // stdout line: the capture harness keeps only the LAST 2000 chars
    // of stdout (every BENCH_r* so far has parsed:null because the
    // line's head — metric/value — fell off the front). Two
    // mitigations: compact 2-decimal per-query values, and the
    // summary fields AFTER the queries map (JSON objects are
    // unordered) so total/failed/sf always land inside the tail
    // window even if the head of the queries map is clipped.
    def fmt(v: Double): String = {
      // explicit ROOT locale: a comma-decimal default (de_DE etc.)
      // would emit "0,53" — invalid JSON
      val s = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    val qsCompact = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // suspect names stay out of the stdout line (they can be long and
    // would push the summary out of the 2000-char tail window); the
    // count + flag land here, the names in the full-precision file.
    // Round-17 (r16 VERDICT directive 2): the `runs` map and the
    // calib/iter SAMPLE ARRAYS also stay file-only — the stdout line
    // keeps growing whenever instrumentation grows, and the driver's
    // bounded stdout capture is what feeds PERF's round-over-round
    // comparison, so every byte here competes with the per-query map.
    // The flag statistics (medians + flags + suspect count) remain.
    println(s"""{"queries":$qsCompact,"failed":$failed,"spin_pre":${fmt(spinPre)},"spin_post":${fmt(spinPost)},"spin_flag":${spinHot(spinPre) || spinHot(spinPost)},"calib_ref":${fmt(CalibRef)},"calib_median":${fmt(calibMedian)},"calib_flag":$calibFlag,"iter_median":${fmt(iterMedian)},"iter_flag":$iterFlag,"calib_suspect_n":${calibSuspect.size},"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }
}
