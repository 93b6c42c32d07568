package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Iceberg-shaped table layer over local Parquet directories.
 *
 * The reference persists every long pass behind resumable state: the
 * `state` checkpoint collection (classes/SolrUpdater.php:292-302,651-654)
 * and the memoized `mr_record_<hash>` worklists that are built into a
 * `_tmp` collection and atomically renamed, then reused when the query
 * hash + data watermark match (classes/SolrUpdater.php:333-448).
 *
 * `TableIO` reproduces those semantics Spark-side: each pipeline stage is
 * committed with write-to-temp + atomic rename, carries a manifest
 * {stage, configHash, inputFingerprint, rows, snapshotId}, and is reused
 * on re-run when configHash + inputFingerprint still match — which makes
 * any run resumable mid-pipeline. No Iceberg runtime jar ships in this
 * sandbox (offline resolver), so the backing store is Parquet; swapping
 * in `iceberg-spark-runtime` replaces only StorageFormat's read/write
 * calls, not the pipeline above it.
 */
object TableIO {

  final case class Manifest(
      stage: String,
      configHash: String,
      inputFingerprint: String,
      rows: Long,
      snapshotId: String)

  private def dataDir(root: String, stage: String): Path = Paths.get(root, stage)
  private def manifestPath(root: String, stage: String): Path =
    Paths.get(root, s"$stage.manifest.json")

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def writeManifest(root: String, m: Manifest): Unit = {
    val json =
      s"""{"stage":"${esc(m.stage)}","configHash":"${esc(m.configHash)}","inputFingerprint":"${esc(m.inputFingerprint)}","rows":${m.rows},"snapshotId":"${esc(m.snapshotId)}"}"""
    Files.createDirectories(Paths.get(root))
    Files.writeString(manifestPath(root, m.stage), json)
  }

  def readManifest(root: String, stage: String): Option[Manifest] = {
    val p = manifestPath(root, stage)
    if (!Files.exists(p)) return None
    val s = Files.readString(p)
    def field(k: String): Option[String] =
      ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(s).map(_.group(1))
    def num(k: String): Option[Long] =
      ("\"" + k + "\":(\\d+)").r.findFirstMatchIn(s).map(_.group(1).toLong)
    for {
      st <- field("stage"); ch <- field("configHash")
      fp <- field("inputFingerprint"); r <- num("rows"); sid <- field("snapshotId")
    } yield Manifest(st, ch, fp, r, sid)
  }

  /** True when a committed stage exists for this (config, input) — the
    * reuse test the reference applies to its memoized worklists
    * (classes/SolrUpdater.php:341-358). */
  def isCurrent(root: String, stage: String, configHash: String, inputFingerprint: String): Boolean =
    readManifest(root, stage).exists(m =>
      m.configHash == configHash && m.inputFingerprint == inputFingerprint &&
        Files.exists(dataDir(root, stage)))

  /** Commit a stage: write to `<stage>.tmp-*`, atomically rename to
    * `<stage>`, then write the manifest (rename-then-manifest ordering
    * means a crash can leave data without manifest = stage not committed,
    * never the reverse — at-least-once, like the reference's
    * watermark-before-pass protocol, classes/SolrUpdater.php:292-302).
    * The manifest's row count comes from the write; the next commit of
    * the stage deletes the temp dirs of commits that crashed. */
  def commit(df: DataFrame, root: String, stage: String, configHash: String,
             inputFingerprint: String): DataFrame = {
    StorageFormat.sweep(Paths.get(root), s"$stage.tmp-")
    val tmp = Paths.get(root, s"$stage.tmp-${java.util.UUID.randomUUID}")
    val dst = dataDir(root, stage)
    val rows = StorageFormat.write(df, tmp.toString)
    // Invalidate the OLD manifest before touching the data dir: a crash
    // anywhere between here and writeManifest can then only yield
    // data-without-manifest (= uncommitted, recomputed on resume), never
    // new data under a stale-but-matching manifest.
    Files.deleteIfExists(manifestPath(root, stage))
    StorageFormat.delete(dst)
    Files.createDirectories(dst.getParent)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    writeManifest(root, Manifest(stage, configHash, inputFingerprint, rows,
      snapshotId = s"$stage-$configHash-$inputFingerprint"))
    read(df.sparkSession, root, stage)
  }

  def read(spark: SparkSession, root: String, stage: String): DataFrame =
    StorageFormat.read(spark, dataDir(root, stage).toString)

  /** Run `compute` unless a current committed copy exists (resume path). */
  def stage(spark: SparkSession, root: Option[String], stageName: String,
            configHash: String, inputFingerprint: String)(compute: => DataFrame): DataFrame =
    root match {
      case None => compute
      case Some(r) =>
        if (isCurrent(r, stageName, configHash, inputFingerprint)) read(spark, r, stageName)
        else commit(compute, r, stageName, configHash, inputFingerprint)
    }
}
