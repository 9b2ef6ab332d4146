package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Typed append write with idempotent-replay semantics
  * (SURVEY.md §2 #4), re-expressing the reference's
  * `write_disposition='WRITE_APPEND'` warehouse loads combined with
  * its retry/`depends_on_past` scheduling
  * (/root/reference/dags/stock_data_to_gcp.py:85-91,123-136): a batch
  * that reruns must replace its own rows, never duplicate them.
  *
  * Spark-first: the table is parquet partitioned by a batch column;
  * plain appends are `mode=append`; idempotent re-runs use dynamic
  * partition overwrite so only the partitions present in the incoming
  * batch are rewritten. At 100 TB this is a metadata swap of the
  * affected partitions — no read-modify-write of the whole table.
  *
  * Both writes rebalance the batch on its partition columns first:
  * one extra shuffle of the incoming batch lets AQE coalesce it into
  * files of `spark.sql.adaptive.advisoryPartitionSizeInBytes` per
  * partition value (splitting skewed values), so a small scheduled
  * batch lands as one file instead of one per input partition.
  * [[compactPartition]] / [[compactDay]] remain for files written
  * before this rebalance, and for streaming days that accrete one
  * batch partition per micro-batch.
  */
object AppendSink {

  /** Blind append (the reference's WRITE_APPEND). */
  def append(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    write(df, "append", path, partitionCols)

  /** Idempotent append: re-running the same batch replaces exactly the
    * partitions it writes. */
  def idempotentAppend(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try write(df, "overwrite", path, partitionCols)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** The one table write: rebalance on the partition columns, so AQE
    * sizes the files (see the object doc). */
  private def write(df: DataFrame, mode: String, path: String,
      partitionCols: Seq[String]): Unit =
    df.hint("rebalance", partitionCols.map(col): _*)
      .write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Manifest-aware table read — the reader side of the
    * [[compactDay]] commit protocol. Day dirs with `_batch_id=*`
    * sub-partitions read through the live rule (so an uncommitted
    * compaction generation is invisible even before any manifest
    * exists); day dirs without them, and tables not day-partitioned
    * at all, read as-is. */
  def readBack(spark: SparkSession, path: String): DataFrame = {
    val days = listDayDirs(path)
    if (days.isEmpty || days.forall(d => batchDirs(d).isEmpty))
      spark.read.parquet(path)
    else {
      // A table can mix batch-partitioned days and plain days (e.g. a
      // day written by a non-streaming append). Reading both leaf
      // depths in ONE call makes partition discovery infer conflicting
      // partition columns, so read each depth separately and union
      // (plain-depth rows carry a null _batch_id). A batched day can
      // ALSO hold loose day-level files (a backfill append into a
      // streaming day) — those are read by explicit file path so they
      // are neither silently dropped nor mistaken for a batch dir.
      val (plainDays, batchDays) = days.partition(d => batchDirs(d).isEmpty)
      val live = batchDays.flatMap(liveBatchDirs).map(_.getAbsolutePath)
      val loose = batchDays.flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty).filter(f =>
          f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")).map(_.getAbsolutePath))
      val batched = spark.read.option("basePath", path).parquet(live: _*)
      val plainPaths = plainDays.map(_.getAbsolutePath) ++ loose
      if (plainPaths.isEmpty) batched
      else batched.unionByName(
        spark.read.option("basePath", path).parquet(plainPaths: _*),
        allowMissingColumns = true)
    }
  }

  // --- day-compaction commit protocol (#56b) -------------------------
  //
  // Layout: path/batch_date=D/_batch_id=B/part-*.parquet (see
  // EventStream.writeToWarehouse). Compaction generation G rewrites a
  // day's live set into a single partition `_batch_id=-G`, committed by
  // atomically swapping a per-day manifest `_graft_manifest.json`
  // ({"gen":G,"covers":[B,...]}). Reader rule (liveBatchDirs): with a
  // manifest, live = {-gen} ∪ {B ≥ 0 : B ∉ covers}; without one, all
  // B ≥ 0 (negative dirs require a manifest — that closes the
  // crash window between the data rename and the manifest swap).
  // Every mutation is an atomic POSIX rename, so a concurrent reader
  // sees exactly the old or exactly the new live set, never a half
  // state; on an object store the manifest swap maps to a conditional
  // PUT. Covered batch ids stay excluded even if a replay re-creates
  // their directory (idempotent-replay contract preserved after
  // compaction); GC of covered dirs after the swap is safe to crash.
  //
  // INVARIANT: covered ids assume a batch id never carries NEW data —
  // true while the writer's checkpoint lives as long as the table
  // (foreachBatch ids are checkpoint-scoped). Resetting or replacing
  // the checkpoint restarts ids at 0, and a covered id's new rows
  // would be invisible and eventually GC'd. A checkpoint reset must
  // therefore call [[resetDayManifests]] first (after which the
  // already-compacted `_batch_id=-G` dirs read as... nothing, since
  // negatives need a manifest — so reset re-registers each compacted
  // generation as gen with empty covers instead of deleting).

  private val ManifestName = "_graft_manifest.json"

  private def manifestFile(dayDir: java.io.File) =
    new java.io.File(dayDir, ManifestName)

  private def listDayDirs(path: String): Seq[java.io.File] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch_date="))
      .toSeq.sortBy(_.getName)

  private val BatchDirRe = "_batch_id=(-?\\d+)".r

  private def batchDirs(dayDir: java.io.File): Seq[(Long, java.io.File)] =
    Option(dayDir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      f.getName match {
        case BatchDirRe(id) if f.isDirectory => Some((id.toLong, f))
        case _ => None
      }
    }

  /** (gen, covered ids) from the day's manifest, (0, ∅) if absent. */
  private[graft] def readManifest(dayDir: java.io.File): (Long, Set[Long]) = {
    val f = manifestFile(dayDir)
    if (!f.isFile) (0L, Set.empty)
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val gen = "\"gen\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toLong).getOrElse(0L)
      val covers = "\"covers\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toLong).toSet).getOrElse(Set.empty[Long])
      (gen, covers)
    }
  }

  private def writeManifestAtomic(dayDir: java.io.File, gen: Long,
      covers: Set[Long]): Unit = {
    val body = s"""{"gen":$gen,"covers":[${covers.toSeq.sorted.mkString(",")}]}"""
    val tmp = new java.io.File(dayDir, s".$ManifestName.tmp")
    java.nio.file.Files.write(tmp.toPath,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, manifestFile(dayDir).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The day's live (id, dir) pairs under the manifest rule. */
  private def liveBatchPairs(dayDir: java.io.File): Seq[(Long, java.io.File)] = {
    val (gen, covers) = readManifest(dayDir)
    batchDirs(dayDir).filter { case (id, _) =>
      (id >= 0 && !covers(id)) || (gen > 0 && id == -gen)
    }
  }

  /** The day's live batch directories under the manifest rule. */
  private[graft] def liveBatchDirs(dayDir: java.io.File): Seq[java.io.File] =
    liveBatchPairs(dayDir).map(_._2)

  /** #56b Atomic day compaction: rewrite the day's live micro-batch
    * partitions into one right-sized `_batch_id=-G` partition,
    * committed via the manifest protocol above. Idempotent: a re-run
    * (or a run resumed after a crash at any step) compacts the current
    * live set into the next generation. Readers ([[readBack]]) never
    * observe a half-compacted day. */
  def compactDay(spark: SparkSession, path: String, day: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val dayDir = new java.io.File(s"$path/batch_date=$day")
    if (!dayDir.isDirectory) return
    val livePairs = liveBatchPairs(dayDir)
    if (livePairs.isEmpty) return
    val (prevGen, prevCovers) = readManifest(dayDir)
    // already fully compacted and nothing new arrived → re-running is
    // a structural no-op, not a full-day rewrite into a fresh gen.
    // Still sweep orphans first: a crash between a previous run's
    // manifest swap and its GC leaves covered/stale dirs that would
    // otherwise be retained until new batches force a generation.
    if (prevGen > 0 && livePairs.map(_._1) == Seq(-prevGen)) {
      gcDay(dayDir, liveUnder(prevGen, prevCovers))
      return
    }
    val live = livePairs.map(_._2)
    val liveIds = livePairs.map(_._1).toSet
    // next generation: above both the committed gen and any stale
    // data dir left by a run that crashed before its manifest swap
    val gen = ((batchDirs(dayDir).map(-_._1).filter(_ > 0) :+ prevGen).max) + 1
    val bytes = live.map(org.apache.commons.io.FileUtils.sizeOfDirectory).sum
    val nFiles = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    // 1. stage the compacted data in a hidden dir (invisible to reads)
    val staging = new java.io.File(dayDir, s".compact_staging_$gen")
    org.apache.commons.io.FileUtils.deleteQuietly(staging)
    spark.read.option("basePath", path)
      .parquet(live.map(_.getAbsolutePath): _*)
      .drop("batch_date", "_batch_id")
      .coalesce(nFiles)
      .write.mode("overwrite").parquet(staging.getAbsolutePath)
    // 2. atomically publish the data dir (not yet live: negative ids
    //    are only live once the manifest names this generation)
    val target = new java.io.File(dayDir, s"_batch_id=-$gen")
    org.apache.commons.io.FileUtils.deleteQuietly(target)
    java.nio.file.Files.move(staging.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // 3. commit: swap the manifest (the linearization point); covers
    //    records non-negative ids only — superseded generations are
    //    already unreadable because their id != -gen
    val covers = prevCovers ++ liveIds.filter(_ >= 0)
    writeManifestAtomic(dayDir, gen, covers)
    // 4. GC superseded dirs (crash-safe: covered/stale dirs are
    //    already unreadable under the manifest rule)
    gcDay(dayDir, liveUnder(gen, covers))
  }

  /** The reader rule as a predicate: live = the manifest's generation
    * plus any non-negative id not covered (which keeps a batch id
    * arriving concurrently with the GC listing safe). */
  private def liveUnder(gen: Long, covers: Set[Long])(id: Long): Boolean =
    id == -gen || (id >= 0 && !covers(id))

  /** Delete every batch dir of the day the `keep` predicate rejects —
    * everything else is unreadable under the manifest rule. */
  private def gcDay(dayDir: java.io.File, keep: Long => Boolean): Unit =
    batchDirs(dayDir).foreach { case (id, f) =>
      if (!keep(id)) org.apache.commons.io.FileUtils.deleteQuietly(f)
    }

  /** Prepare a warehouse for a writer whose batch ids restart at 0 (a
    * new or reset streaming checkpoint — see the protocol INVARIANT
    * above). Per day: first FOLD any live positive-id partitions into
    * a compacted generation — a restarted writer's dynamic partition
    * overwrite would otherwise silently REPLACE a colliding live
    * `_batch_id=N` dir with the new batch N — then sweep non-live
    * dirs and clear `covers` so restarted ids are visible again while
    * the compacted data stays live. Must run BEFORE the new writer's
    * first micro-batch. */
  def resetDayManifests(spark: SparkSession, path: String): Unit =
    listDayDirs(path).foreach { dayDir =>
      if (liveBatchPairs(dayDir).exists(_._1 >= 0))
        compactDay(spark, path, dayDir.getName.stripPrefix("batch_date="))
      val (gen, covers) = readManifest(dayDir)
      if (gen > 0) {
        gcDay(dayDir, liveUnder(gen, covers))
        writeManifestAtomic(dayDir, gen, Set.empty)
      }
    }

  /** #56 Small-file compaction: rewrite one partition's many
    * micro-batch files into ceil(bytes/target) right-sized files via
    * dynamic partition overwrite of just that partition. High-cadence
    * appends (the reference's 2-minute DAG) accrete thousands of tiny
    * files per day; at 100 TB the resulting open()/footer overhead
    * dominates scans, so compaction is part of the sink contract, not
    * an afterthought. Safe to re-run (idempotent overwrite). */
  def compactPartition(spark: SparkSession, path: String,
      partitionCol: String, partitionValue: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val part = new java.io.File(s"$path/$partitionCol=$partitionValue")
    val bytes = Option(part.listFiles()).map(_.filter(_.isFile)
      .map(_.length()).sum).getOrElse(0L)
    if (bytes > 0) {
      val nFiles = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
      // stage the compacted slice OUTSIDE the table root (Spark
      // refuses to overwrite a path it is reading, correctly), then
      // swap it in via dynamic partition overwrite
      val tmp = path + s".compact_tmp"
      spark.read.parquet(path)
        .filter(col(partitionCol) === partitionValue)
        .coalesce(nFiles)
        .write.mode("overwrite").parquet(tmp)
      // tmp carries partitionCol as a data column (typed as the
      // original partition), so the overwrite lands in the same
      // directory it came from
      idempotentAppend(spark.read.parquet(tmp), path, Seq(partitionCol))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }
}
