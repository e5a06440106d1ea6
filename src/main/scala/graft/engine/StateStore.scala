package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Versioned parquet snapshot store.
  *
  * Layout: `<root>/<table>/v<N>/part-*.parquet` plus a tiny `_CURRENT`
  * pointer file holding N. A mutation writes the FULL next snapshot to
  * `v<N+1>` and then atomically repoints `_CURRENT` (write-temp + rename) —
  * the Spark-native analog of the reference's atomic index swap
  * (`indexing/registry.py:33-35`): readers of version N are never disturbed,
  * and a crashed writer leaves only an orphaned directory, never a torn
  * table.
  *
  * Scale note: full-snapshot rewrite is O(table) per mutation BATCH — the
  * engine's contract is batch mutation (C3 bulk upsert is "the natural
  * Spark shape", SURVEY §2.10), so cost amortizes over the batch. Tables
  * are written partitioned by `library_id` where applicable, so reads prune
  * to one library and a later optimization can rewrite only the touched
  * partitions.
  */
final class StateStore(spark: SparkSession, root: String) {

  private def tableDir(table: String) = s"$root/$table"
  private def currentFile(table: String) = Paths.get(tableDir(table), "_CURRENT")

  /** Materialize a directory listing, CLOSING the underlying stream —
    * Files.list/walk hold an open fd until closed, and every mutating verb
    * walks these dirs (autoVacuumKeep runs vacuum per verb), so unclosed
    * streams leak driver fds in long ingest loops (ADVICE r2).
    */
  private def listDir(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
  private def walkDir(dir: Path): Seq[Path] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq)

  def currentVersion(table: String): Option[Long] = {
    val f = currentFile(table)
    if (Files.exists(f)) Some(new String(Files.readAllBytes(f)).trim.toLong)
    else None
  }

  def exists(table: String): Boolean = currentVersion(table).isDefined

  /** Read the current snapshot; empty DataFrame with the given schema when
    * the table has never been written.
    */
  def read(table: String, schema: StructType): DataFrame =
    currentVersion(table) match {
      case Some(v) => readVersion(table, v, schema)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** TIME TRAVEL: read a specific snapshot version. Every mutation leaves
    * the previous `v<N>` directory intact (only `_CURRENT` moves), so any
    * historical version remains readable until explicitly vacuumed —
    * the same contract as Delta/Iceberg `VERSION AS OF`.
    */
  def readVersion(table: String, version: Long, schema: StructType): DataFrame = {
    val dir = s"${tableDir(table)}/v$version"
    if (!Files.exists(Paths.get(dir)))
      throw new IllegalArgumentException(
        s"$table has no snapshot v$version (current: ${currentVersion(table)})")
    // enforce column order/types independent of parquet layout
    spark.read.schema(schema).parquet(dir)
      .select(schema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Retention: delete snapshot directories older than the newest
    * `keepLast` versions (the current pointer is always kept). Bounds the
    * storage cost of time travel; after `vacuum(table, 1)` only the
    * current snapshot remains readable.
    */
  def vacuum(table: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val current = currentVersion(table).getOrElse(return 0)
    val cutoff = current - keepLast + 1
    val dir = Paths.get(tableDir(table))
    if (!Files.exists(dir)) return 0
    val victims = listDir(dir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
        n.drop(1).toLong < cutoff
    }
    victims.foreach { p =>
      walkDir(p).reverse.foreach(Files.delete)
    }
    victims.size
  }

  /** Write the next snapshot and atomically repoint _CURRENT.
    * Unpartitioned tables (libraries, documents when partitionBy=Nil) are
    * metadata-scale: coalesce(1) keeps each snapshot one file/one task
    * instead of shuffle.partitions tiny files.
    */
  def write(table: String, df: DataFrame, partitionBy: Seq[String] = Seq("library_id")): Long = {
    val next = currentVersion(table).getOrElse(0L) + 1
    val dir = s"${tableDir(table)}/v$next"
    val out = if (partitionBy.isEmpty) df.coalesce(1) else df
    val writer = out.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir)
    repoint(table, next)
  }

  /** SMALL-FILE COMPACTION: rewrite the current snapshot with each
    * partition-key group collapsed to (about) one file — a bulk ingest
    * with N shuffle partitions leaves N part files per key, and a
    * read-heavy table wants few large files (footer/open overhead and
    * row-group-level stats both improve). One repartition-by-key shuffle
    * routes each group to a single task, then the normal versioned
    * write + repoint: readers of the old version are never disturbed and
    * vacuum reclaims it later. `partitionBy` follows [[write]]'s
    * contract (must match how the table is laid out); tables written
    * with `partitionBy = Nil` compact to a single file. Returns the new
    * version, or -1 when the table has no snapshot yet.
    */
  def compact(table: String, schema: StructType,
      partitionBy: Seq[String] = Seq("library_id")): Long =
    if (!exists(table)) -1L
    else {
      val df = read(table, schema)
      val collapsed =
        if (partitionBy.isEmpty) df.coalesce(1)
        else df.repartition(partitionBy.map(col): _*)
      write(table, collapsed, partitionBy)
    }

  /** Number of data files in the CURRENT snapshot of one library's
    * partition — the fragmentation telemetry behind
    * `VectorEngine.optimizeIfFragmented` (a driver-side directory
    * listing: metadata-scale, zero Spark jobs). 0 when the table or
    * partition doesn't exist.
    */
  def partitionFileCount(table: String, libraryId: String): Int =
    partitionFiles(table, libraryId).size

  /** The parquet data files of the current snapshot of one library's
    * partition (driver-side listing; empty when the table or partition
    * doesn't exist).
    */
  private[graft] def partitionFiles(table: String,
      libraryId: String): Seq[Path] = {
    val cur = currentVersion(table).getOrElse(return Nil)
    val dir = Paths.get(tableDir(table), s"v$cur", s"library_id=$libraryId")
    if (!Files.exists(dir)) Nil
    else listDir(dir).filter(p => !Files.isDirectory(p) &&
      p.getFileName.toString.endsWith(".parquet"))
  }

  /** PARTITION-SELECTIVE rewrite: the next snapshot replaces ONLY the
    * given library's partition; every other `library_id=*` directory is
    * HARDLINKED from the current version (immutable files, same
    * filesystem — zero copy, zero read). A mutation scoped to one library
    * therefore costs O(that library), not O(table) — the difference
    * between a per-library ingest and a full-corpus rewrite at 100 TB.
    * Vacuum stays correct: deleting an old version removes its links,
    * never the inodes still referenced by newer versions.
    *
    * `newRows` must contain ONLY rows of `libraryId` (caller filters);
    * the library_id column is dropped and re-derived from the partition
    * directory on read, exactly as a partitionBy write lays it out.
    */
  def writeLibraryPartition(table: String, libraryId: String,
      newRows: DataFrame): Long = {
    val cur = currentVersion(table)
    val next = cur.getOrElse(0L) + 1
    val nextDir = Paths.get(tableDir(table), s"v$next")
    Files.createDirectories(nextDir)
    cur.foreach { v =>
      linkPartitionsExcept(Paths.get(tableDir(table), s"v$v"), nextDir,
        s"library_id=$libraryId")
    }
    newRows.drop("library_id").write.mode("overwrite")
      .parquet(nextDir.resolve(s"library_id=$libraryId").toString)
    repoint(table, next)
  }

  /** PARTITION-SELECTIVE APPEND (optimization r15): the next snapshot is
    * the current one with `deltaRows` ADDED to the given library's
    * partition — every existing file (including that partition's own) is
    * HARDLINKED forward and only the delta is written, so an append-shaped
    * mutation (index add after build, streaming ingest batch) costs
    * O(delta), not O(partition). This is the difference between an LSM-ish
    * append and a full-partition rewrite at 100 TB; [[compact]] remains
    * the periodic collapse of the accumulated small delta files, exactly
    * the Iceberg/Delta `rewrite_data_files` discipline (guide §6).
    * Readers are never disturbed (same repoint protocol); vacuum stays
    * correct (deleting an old version removes its links, never inodes
    * still referenced by newer versions). `deltaRows` must contain ONLY
    * rows of `libraryId`, exactly like [[writeLibraryPartition]].
    */
  def appendLibraryPartition(table: String, libraryId: String,
      deltaRows: DataFrame): Long = {
    // AUTO-COMPACT (optimization r16, VERDICT r15 #7 / guide §6): an
    // unbounded append sequence would otherwise grow one-plus parquet
    // files per mutation and degrade every subsequent read (the classic
    // small-files problem). Past the file threshold the append FOLDS the
    // delta into a coalesced full-partition rewrite instead — the LSM
    // compaction discipline, amortized O(partition/threshold) per append.
    // The rewrite writes one file per `spark.sql.files.maxPartitionBytes`
    // of the listed partition bytes (at least one), so a large partition
    // is not funnelled through a single task, and the threshold counts
    // the files BEYOND that byte-sized count (48 files in all for a
    // partition that rewrites to one file): a rewrite of 48 or more
    // files is never itself over the threshold, so the next append is a
    // plain delta again, not another full rewrite. Crucially it is the
    // SAME single version bump as the plain append (never a separate
    // compaction version), so version arithmetic (time travel, snapshot
    // CDC) observes identical history either way.
    val files = partitionFiles(table, libraryId)
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val bytes = files.map(Files.size).sum
    val nFiles = math.max(1L, (bytes + maxBytes - 1) / maxBytes).toInt
    if (files.size >= nFiles + AutoCompactFileThreshold - 1) {
      val cur = currentVersion(table).get // threshold > 0 ⇒ partition exists
      val partDir = Paths.get(tableDir(table), s"v$cur",
        s"library_id=$libraryId")
      val existing = spark.read.parquet(partDir.toString)
      val delta = deltaRows.drop("library_id")
      return writeCompactedPartition(table, libraryId,
        existing.unionByName(delta).coalesce(nFiles))
    }
    val cur = currentVersion(table)
    val next = cur.getOrElse(0L) + 1
    val nextDir = Paths.get(tableDir(table), s"v$next")
    Files.createDirectories(nextDir)
    cur.foreach { v =>
      val curDir = Paths.get(tableDir(table), s"v$v")
      listDir(curDir).foreach { sub =>
        val name = sub.getFileName.toString
        if (Files.isDirectory(sub) && name.startsWith("library_id=")) {
          val dst = nextDir.resolve(name)
          Files.createDirectories(dst)
          listDir(sub).foreach { f =>
            // skip zero-byte commit markers: the delta write commits its
            // own _SUCCESS, and overwriting a hardlinked marker in place
            // would touch the shared inode
            if (!Files.isDirectory(f) &&
                f.getFileName.toString != "_SUCCESS")
              Files.createLink(dst.resolve(f.getFileName.toString), f)
          }
        }
      }
    }
    deltaRows.drop("library_id").write.mode("append")
      .parquet(nextDir.resolve(s"library_id=$libraryId").toString)
    repoint(table, next)
  }

  /** Delta-file bound per library partition before an append folds into a
    * byte-sized coalesced rewrite (see [[appendLibraryPartition]]): the
    * files a partition may hold beyond the rewrite's file count, plus one.
    * 48 keeps read plans a few dozen delta files per partition at worst
    * while amortizing the rewrite over that many appends.
    */
  private val AutoCompactFileThreshold = 48

  /** The compaction arm of [[appendLibraryPartition]]: next snapshot with
    * every OTHER partition hardlinked and this library's partition written
    * fresh from `merged` (already library-scoped, library_id dropped).
    */
  private def writeCompactedPartition(table: String, libraryId: String,
      merged: DataFrame): Long = {
    val cur = currentVersion(table)
    val next = cur.getOrElse(0L) + 1
    val nextDir = Paths.get(tableDir(table), s"v$next")
    Files.createDirectories(nextDir)
    cur.foreach { v =>
      linkPartitionsExcept(Paths.get(tableDir(table), s"v$v"), nextDir,
        s"library_id=$libraryId")
    }
    merged.write.mode("overwrite")
      .parquet(nextDir.resolve(s"library_id=$libraryId").toString)
    repoint(table, next)
  }

  /** Whether the current snapshot has a partition for this library — a
    * filesystem stat, zero Spark jobs (the export verb's table guard).
    */
  def hasLibraryPartition(table: String, libraryId: String): Boolean =
    currentVersion(table).exists(v =>
      Files.exists(Paths.get(tableDir(table), s"v$v", s"library_id=$libraryId")))

  /** PARTITION DROP: the next snapshot is the current one minus the given
    * library's partition — every surviving partition is hardlinked, so
    * deleting a library from an N-library table costs ZERO Spark jobs and
    * O(#files-of-other-libraries) link syscalls, not an O(table) rewrite.
    * No-op (no version bump) when the partition doesn't exist.
    */
  def dropLibraryPartition(table: String, libraryId: String): Long = {
    val cur = currentVersion(table).getOrElse(return 0L)
    val curDir = Paths.get(tableDir(table), s"v$cur")
    if (!Files.exists(curDir.resolve(s"library_id=$libraryId"))) return cur
    val next = cur + 1
    val nextDir = Paths.get(tableDir(table), s"v$next")
    Files.createDirectories(nextDir)
    linkPartitionsExcept(curDir, nextDir, s"library_id=$libraryId")
    repoint(table, next)
  }

  /** Hardlink every `library_id=*` partition dir of `curDir` into
    * `nextDir`, except `skip` (immutable files, same filesystem).
    */
  private def linkPartitionsExcept(curDir: Path, nextDir: Path,
      skip: String): Unit =
    listDir(curDir).foreach { sub =>
      val name = sub.getFileName.toString
      if (Files.isDirectory(sub) && name.startsWith("library_id=") &&
          name != skip) {
        val dst = nextDir.resolve(name)
        Files.createDirectories(dst)
        listDir(sub).foreach { f =>
          if (!Files.isDirectory(f))
            Files.createLink(dst.resolve(f.getFileName.toString), f)
        }
      }
    }

  private def repoint(table: String, next: Long): Long = {
    Files.createDirectories(Paths.get(tableDir(table)))
    val tmp = Paths.get(tableDir(table), s"_CURRENT.tmp$next")
    Files.write(tmp, next.toString.getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, currentFile(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }
}
