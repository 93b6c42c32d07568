package graft.io

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * THE storage-format seam. Every byte the library persists — TableIO
 * stage commits and DeltaLog delta directories — flows through these two
 * methods; no other file calls `spark.read.parquet` or `df.write.parquet`
 * on state paths. The backing store is plain Parquet (no Iceberg runtime
 * jar offline), with TableIO/DeltaLog supplying the Iceberg-shaped
 * semantics (atomic commit, manifest, snapshot reuse) one level up.
 *
 * A write is one Spark job and an open is none: `write` takes the row
 * count from an observed metric of the write itself and stores the schema
 * (partition columns last, as a read-back infers it) beside the files as
 * `_graft_schema.json`, which plain `spark.read.parquet` skips. `read`
 * uses it instead of schema inference (a job per directory), so an empty
 * partitioned write — no part file at all — still reads as 0 rows of the
 * right schema; directories without it fall back to inference.
 *
 * Swapping in `iceberg-spark-runtime` changes exactly these two bodies
 * (`writeTo(table)` / `spark.table(table)`): Iceberg's snapshot metadata
 * carries the schema and the row counts, so it replaces the sidecar and
 * the observed count, and the callers' atomic-rename dance collapses into
 * its snapshot commit. See README §"Iceberg".
 */
private[io] object StorageFormat {

  private val schemaFile = "_graft_schema.json"

  /** Write `df` to `path` (overwrite); returns the rows written. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Long = {
    val rows = Observation()
    val w = df.observe(rows, count(lit(1))).write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    val (data, parts) = df.schema.partition(f => !partitionCols.contains(f.name))
    Files.writeString(Paths.get(path, schemaFile), StructType(data ++ parts).json)
    // posted as the write's query ends; should a plan ever drop the
    // metric, count the files rather than wait without bound
    try Await.result(rows.future, 1.minute).getLong(0)
    catch { case _: TimeoutException => read(df.sparkSession, path).count() }
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = Paths.get(path, schemaFile)
    if (!Files.exists(schema)) spark.read.parquet(path)
    else spark.read.schema(DataType.fromJson(Files.readString(schema)).asInstanceOf[StructType])
      .parquet(path)
  }

  /** Delete the entries of `dir` named `prefix*`: the temp dirs of writes
    * that crashed before their rename. */
  def sweep(dir: Path, prefix: String): Unit =
    if (Files.isDirectory(dir)) Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith(prefix)).foreach(delete)

  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
