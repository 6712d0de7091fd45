package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession

/** Small-file compaction for append-accumulated parquet state dirs —
  * the maintenance counterpart of [[CorpusPipeline.deltaFunnelBatch]]'s
  * ledgers. Every micro-batch appends one small file per touched
  * `__bucket=N` partition (docs ledger) or per write (flat minhash
  * index), so after B batches a bucket holds up to B part-files and
  * the pruned standing probe pays per-file open/footer overhead
  * instead of bytes — the classic streaming small-files problem the
  * reference never hits only because it re-reads its whole processed
  * set from Mongo every run (sentiment_analysis_dag.py:36-38).
  *
  * Design constraints, in order:
  *
  *  1. SAFE CONCURRENT WITH APPENDS. The writer (a running
  *     [[CorpusPipeline.deltaFunnelBatch]] stream) only ever ADDS
  *     files; compaction reads a recorded snapshot of file paths and
  *     deletes exactly those paths, so a file appended mid-compaction
  *     is never read, rewritten, or deleted — it just waits for the
  *     next pass. Only two compactors racing the same dir are
  *     unsupported (single-maintainer contract, like any OPTIMIZE).
  *  2. CRASH-SAFE BY HEALING, not by atomicity. The add-then-delete
  *     order means a crash between landing the compacted file and
  *     deleting its inputs leaves DUPLICATE rows. Both ledgers
  *     tolerate that window (standing ids feed anti-join builds and
  *     DISTINCT'd candidate pairs), and the next compaction HEALS it:
  *     rows are deduplicated on `dedupCols` (the ledger's natural
  *     key — unique by construction, so dedup is a no-op except on
  *     exactly the crash residue). Temp output lives under an
  *     `=`-free underscore dir, hidden from Spark's listing and from
  *     [[graft.operators.Dedup.readStateOr]]'s committed-state probe.
  *  3. PARTITION-LOCAL. Each `key=value` subdir compacts
  *     independently (bucket membership is a pure id-hash, so
  *     per-bucket dedup sees every copy of a key); a flat dir is one
  *     group at the root. Compacted files are MOVED into the group
  *     dir (job-UUID part names — collision-free), so the partition
  *     column stays encoded in the dir name and the layout
  *     [[CorpusPipeline.standingIdsPruned]] prunes on is preserved.
  */
object Maintenance {

  private val TmpName = "_compact_tmp"

  /** Spark's hidden-path rule (mirrors readStateOr): `_foo` is a
    * marker unless it contains `=` (partition dir of an
    * underscore-named column); dot-files always hidden. */
  private def isHidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The sinks' file-count threshold when their conf is unset. */
  val DefaultMaxFiles: Int = 12

  /** A sink's compaction threshold `key` (`graft.index.compactMaxFiles`,
    * `graft.percolate.compactMaxFiles`; default [[DefaultMaxFiles]],
    * ≤ 0 disables in-place compaction). Sinks read it BEFORE their
    * first write: a malformed value that only threw after the batch's
    * ledger landed would fail every micro-batch past its commit, so
    * the stream would retry forever and never run maintenance. */
  def maxFilesConf(spark: SparkSession, key: String): Int =
    spark.conf.getOption(key).fold(DefaultMaxFiles) { s =>
      s.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be an integer file count, got '$s'"))
    }

  /** One compaction group: a partition subdir (`part` =
    * `"__bucket=3"`) or the flat root (`part` = `""`). */
  final case class GroupStat(part: String, files: Int, bytes: Long)

  final case class CompactReport(groups: Int, compacted: Int,
                                 filesBefore: Int, filesAfter: Int,
                                 bytesRewritten: Long)

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The visible data files directly under `dir`, none when it is
    * missing: the snapshot a compaction or fold reads, then deletes. */
  def dataFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(st => st.isFile && !isHidden(st.getPath.getName))
      .map(_.getPath).toSeq
  }

  /** Move one group's rows elsewhere once it holds more than
    * `maxFiles` data files: `rewrite` gets a frame over a snapshot of
    * the group's files and must land every row before this returns;
    * then exactly the snapshot is deleted. Same add-then-delete
    * contract as [[compact]] — files appended mid-fold wait for the
    * next pass, and a crash between the rewrite and the delete leaves
    * duplicates for the reader's natural-key dedup. Unlike compact it
    * moves rows BETWEEN dirs, so a reader that lists the group and the
    * rewrite's target separately must list the group again after its
    * own listing (see [[graft.operators.InvertedIndex.readPostings]]). */
  def fold(spark: SparkSession, dir: String, maxFiles: Int)
          (rewrite: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val snapshot = dataFiles(spark, dir)
    if (snapshot.length > maxFiles) {
      rewrite(spark.read.parquet(snapshot.map(_.toString): _*))
      val (fs, _) = fsOf(spark, dir)
      snapshot.foreach(s => fs.delete(s, false))
    }
  }

  /** Driver-side listing of the dir's compaction groups. Listing cost
    * is O(files) driver metadata ops — the same cost every planned
    * read of the dir already pays; at object-store scale this is the
    * LIST call the maintenance schedule is there to keep bounded. */
  def groupStats(spark: SparkSession, dir: String): Seq[GroupStat] = {
    val (fs, root) = fsOf(spark, dir)
    if (!fs.exists(root)) return Seq.empty
    val top = fs.listStatus(root).filterNot(st => isHidden(st.getPath.getName))
    val (parts, flat) = top.partition(_.isDirectory)
    val flatStat =
      if (flat.isEmpty) Seq.empty
      else Seq(GroupStat("", flat.length, flat.map(_.getLen).sum))
    flatStat ++ parts.toSeq.map { d =>
      val fsts = fs.listStatus(d.getPath)
        .filter(st => st.isFile && !isHidden(st.getPath.getName))
      GroupStat(d.getPath.getName, fsts.length, fsts.map(_.getLen).sum)
    }
  }

  /** Compact every group of `dir` holding more than `maxFiles` data
    * files into ~`targetFileBytes` files, deduplicating rows on
    * `dedupCols` (empty = exact whole-row dedup — right for the
    * minhash index whose rows are distinct `(id, band, hash)` keys).
    * Returns what was done; no-op groups are untouched (their files
    * keep their identity, so repeated maintenance is cheap). */
  def compact(spark: SparkSession, dir: String, dedupCols: Seq[String],
              maxFiles: Int = 8,
              targetFileBytes: Long = 512L << 20): CompactReport = {
    val (fs, root) = fsOf(spark, dir)
    val tmpRoot = new Path(root, TmpName)
    // stale temp from a crashed prior pass: its data never joined the
    // listing (hidden), so dropping it loses nothing
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    val groups = groupStats(spark, dir)
    var compacted = 0; var after = 0; var rewritten = 0L
    groups.foreach { g =>
      if (g.files <= maxFiles) after += g.files
      else {
        val groupDir = if (g.part.isEmpty) root else new Path(root, g.part)
        // snapshot: exactly these files are read and later deleted;
        // concurrent appends land new names and are left alone
        val snapshot = dataFiles(spark, groupDir.toString)
        val nOut = math.max(1L, (g.bytes + targetFileBytes - 1) / targetFileBytes).toInt
        val df0 = spark.read.parquet(snapshot.map(_.toString): _*)
        val df = (if (dedupCols.isEmpty) df0.dropDuplicates()
                  else df0.dropDuplicates(dedupCols))
          .coalesce(nOut)
        val tmp = new Path(tmpRoot, if (g.part.isEmpty) "root" else g.part)
        df.write.mode("overwrite").parquet(tmp.toString)
        val outs = dataFiles(spark, tmp.toString)
        // add-then-delete: land every compacted file before removing
        // any input (crash here = duplicates, healed next pass)
        outs.foreach(o => fs.rename(o, new Path(groupDir, o.getName)))
        snapshot.foreach(s => fs.delete(s, false))
        compacted += 1; after += outs.length; rewritten += g.bytes
      }
    }
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    CompactReport(groups.length, compacted, groups.map(_.files).sum,
      after, rewritten)
  }

  /** The funnel's full maintenance pass: docs ledger (keyed by id,
    * per-bucket) + minhash index (whole-row keys, flat). Run between
    * micro-batches or concurrently — see the concurrency contract. */
  def compactFunnelState(spark: SparkSession, docsDir: String,
                         indexDir: String, idCol: String,
                         maxFiles: Int = 8): (CompactReport, CompactReport) =
    (compact(spark, docsDir, Seq(idCol), maxFiles),
     compact(spark, indexDir, Seq.empty, maxFiles))

  /** Maintenance for the streaming card's ledger dirs
    * (CorpusPipeline.cardDeltaBatch): each accumulates one small file
    * per micro-batch; compaction dedups on the same natural keys the
    * read side uses, so it is ROW-PRESERVING — it never folds
    * batches together (a semantic fold would re-tag partials and
    * break the crash-replay healing contract: a replayed batch's
    * re-appended rows would no longer be exact duplicates of the
    * folded ones). Bounding the file count is the whole job; the
    * read is already ledger-sized. */
  def compactCardState(spark: SparkSession, baseDir: String,
                       idCol: String, maxFiles: Int = 8): Seq[CompactReport] =
    Seq(
      compact(spark, s"$baseDir/stats", Seq("batch_id", "key"), maxFiles),
      compact(spark, s"$baseDir/hist", Seq("batch_id", "key", "bin"), maxFiles),
      compact(spark, s"$baseDir/hll", Seq("batch_id", "key", "bucket"), maxFiles),
      compact(spark, s"$baseDir/seenIds", Seq(idCol), maxFiles))
}
