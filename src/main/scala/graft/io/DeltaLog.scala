package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Append-only delta log for streaming state tables — the O(batch)-write
 * successor of rewriting whole state tables per micro-batch. The
 * reference's incremental passes write only dirty records back
 * (classes/RecordManager.php:1988-1994); this is the same contract for a
 * Spark table: each micro-batch APPENDS a batch-stamped delta directory,
 * readers union the manifest-listed deltas (every row carries its `_batch`
 * stamp), and resolution (latest-per-key, liveness joins) happens at read.
 * Periodic compaction rewrites the resolved view as one delta — LSM-style
 * amortized O(corpus / compactEvery) per batch.
 *
 * Layout: `root/<table>/d<batchId>` (append) or `root/<table>/c<batchId>`
 * (compaction), plus `root/<table>.deltas.json` listing live directories.
 * Each append or compaction is one StorageFormat write (its row count
 * is the manifest's `rows`). Crash safety mirrors TableIO: data directory
 * first (a `.tmp-*` dir, then renamed), manifest (temp file + atomic
 * move) last — a crash leaves an orphan dir the manifest never references,
 * and the next write of the table deletes leftover temp dirs. Re-delivery
 * of the same batchId (at-least-once streaming) overwrites its own
 * directory and manifest entry: idempotent.
 */
object DeltaLog {

  final case class Entry(dir: String, rows: Long, batchId: Long)

  private def manifestPath(root: String, table: String): Path =
    Paths.get(root, s"$table.deltas.json")

  def list(root: String, table: String): Seq[Entry] = {
    val p = manifestPath(root, table)
    if (!Files.exists(p)) return Nil
    val s = Files.readString(p)
    """\{"dir":"([^"]+)","rows":(\d+),"batchId":(-?\d+)\}""".r
      .findAllMatchIn(s)
      .map(m => Entry(m.group(1), m.group(2).toLong, m.group(3).toLong))
      .toSeq
  }

  private def writeManifest(root: String, table: String, entries: Seq[Entry]): Unit = {
    val json = entries
      .map(e => s"""{"dir":"${e.dir}","rows":${e.rows},"batchId":${e.batchId}}""")
      .mkString("[", ",", "]")
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, s"$table.deltas.json.tmp-${java.util.UUID.randomUUID}")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(root, table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Next batch id = max committed + 1 (0 on an empty log). */
  def nextBatchId(root: String, table: String): Long =
    list(root, table).map(_.batchId).maxOption.map(_ + 1L).getOrElse(0L)

  /** Append `df` as the delta of `batchId`, stamping every row with
    * `_batch = batchId`. Idempotent per batchId. Returns rows written.
    *
    * `partitionCols` (e.g. a url-hash `_ub` bucket the caller attached)
    * directory-partitions the delta, so readers filtering on those columns
    * get parquet partition pruning — the mechanism behind StreamingDedup's
    * touched-bucket-only per-batch state reads. Readers union deltas by
    * column name and fill a column a delta lacks with nulls, so a table
    * whose layout changed (a partition column dropped) still reads. */
  def append(df: DataFrame, root: String, table: String, batchId: Long,
             partitionCols: Seq[String] = Nil): Long =
    writeDelta(df.withColumn("_batch", lit(batchId)), root, table,
      dirName = s"d$batchId", batchId = batchId,
      replace = list(root, table).filterNot(_.dir == s"d$batchId"),
      partitionCols = partitionCols)

  /** Replace the whole log with `resolved` (which must RETAIN each row's
    * original `_batch` stamp — liveness joins depend on it). */
  def compact(root: String, table: String, resolved: DataFrame, upToBatch: Long,
              partitionCols: Seq[String] = Nil): Long = {
    val old = list(root, table)
    val rows = writeDelta(resolved, root, table, dirName = s"c$upToBatch",
      batchId = upToBatch, replace = Nil, partitionCols = partitionCols)
    // old dirs are unreferenced now; best-effort cleanup
    old.filterNot(_.dir == s"c$upToBatch")
      .foreach(e => StorageFormat.delete(Paths.get(root, table, e.dir)))
    rows
  }

  private def writeDelta(df: DataFrame, root: String, table: String,
                         dirName: String, batchId: Long,
                         replace: Seq[Entry],
                         partitionCols: Seq[String] = Nil): Long = {
    val tableDir = Paths.get(root, table)
    Files.createDirectories(tableDir)
    // temp dirs of writes that crashed before their rename
    StorageFormat.sweep(tableDir, ".")
    val tmp = tableDir.resolve(s".tmp-${java.util.UUID.randomUUID}")
    val rows = StorageFormat.write(df, tmp.toString, partitionCols)
    val dst = tableDir.resolve(dirName)
    StorageFormat.delete(dst)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    writeManifest(root, table, replace :+ Entry(dirName, rows, batchId))
    rows
  }

  /** Union of all committed deltas (None on an empty log). Every row
    * carries its `_batch` stamp. */
  def read(spark: SparkSession, root: String, table: String): Option[DataFrame] =
    readWhere(spark, root, table, _ => true)

  /** Union by column name of the committed deltas whose manifest entry
    * passes `keep` (None if none match); a column missing from some deltas
    * reads as null in their rows. Readers that resolve the compacted baseline
    * (`c…` dir) and the post-compaction appends (`d…` dirs) differently
    * select each side without scanning the other. */
  def readWhere(spark: SparkSession, root: String, table: String,
                keep: Entry => Boolean): Option[DataFrame] = {
    val entries = list(root, table).filter(keep)
    if (entries.isEmpty) None
    else Some(entries
      .map(e => StorageFormat.read(spark, Paths.get(root, table, e.dir).toString))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Manifest entries of the single compacted baseline dir (empty before
    * the first compaction). */
  def isCompacted(e: Entry): Boolean = e.dir.startsWith("c")
}
