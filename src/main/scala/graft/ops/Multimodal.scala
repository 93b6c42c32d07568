package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: media payloads ride as opaque `binary`
 * columns with typed metadata beside them (the reference stores its blobs
 * the same way — `original_data` as BinData, classes/RecordManager.php:
 * 1102-1107). No image/audio codec ships with the project, so the payload
 * is never decoded: only its length and magic bytes are exposed.
 */
object Multimodal {

  /** Column-level metadata extraction (codegen'd built-ins only). */
  def mediaMeta(pages: DataFrame, binCol: String = "html"): DataFrame =
    pages.select(
      col("url"),
      length(col(binCol)).cast("long").as("byte_length"),
      lower(hex(substring(col(binCol), 1, 4))).as("magic_hex"))
}
