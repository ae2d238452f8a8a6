package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Shared scan builder for open-format tables whose PARTITION COLUMN
  * VALUES live in the table's own metadata (Delta `add.partitionValues`,
  * Iceberg manifest `partition` tuples) rather than in the data files.
  *
  * ONE scan of every surviving file + a broadcast join against the
  * metadata's (file → values) map, keyed on the file basename — the
  * executor writers of both formats name every file by its own UUID,
  * so basenames are unique; an external table with a collision is
  * rejected loudly, never mis-joined. Partition columns are restored
  * as typed casts FROM THE METADATA, the formats' source of truth —
  * file paths are opaque. A per-partition-tuple union of scans would
  * build thousands of plans at real partition counts; this stays one
  * scan + one broadcast hash join at any count.
  */
private[sources] object PartitionedScan {

  /** Scan `files` (absolute or scheme paths, each with its partition
    * values AS STRINGS, null allowed) and return `schema`-shaped rows
    * with the partition columns (`partCols`, all members of `schema`)
    * reconstructed from the metadata values. Data files must carry
    * exactly the non-partition columns. */
  /** `preProject` runs on the raw scan BEFORE any projection — the
    * hook delete-aware callers use to filter/anti-join on the hidden
    * `_metadata` columns while they are still referable. `carryCols`
    * names columns `preProject` added that must SURVIVE the final
    * schema projection (row-identity columns a DELETE needs after
    * partition columns are restored). */
  def scan(spark: SparkSession, schema: StructType, partCols: Seq[String],
           files: Seq[(String, Map[String, String])],
           preProject: DataFrame => DataFrame = identity,
           carryCols: Seq[String] = Seq.empty): DataFrame = {
    require(partCols.nonEmpty, "PartitionedScan needs partition columns")
    val dataSchema = StructType(
      schema.filterNot(f => partCols.contains(f.name)))
    if (files.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema)
    def base(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val names = files.map(f => base(f._1))
    require(names.distinct.size == names.size,
      "duplicate data-file basenames in one snapshot — cannot key " +
        "partitionValues by file identity")
    val pvRows: java.util.List[Row] = files.sortBy(_._1)
      .map { case (p, pv) =>
        Row.fromSeq(base(p) +:
          partCols.map(c => pv.get(c).filter(_ != null).orNull))
      }.asJava
    val pvT = StructType(StructField("_file", StringType) +:
      partCols.map(c => StructField(s"_pv_$c", StringType, nullable = true)))
    val pvDf = spark.createDataFrame(pvRows, pvT)
    // _metadata.file_name is the basename as a per-file CONSTANT
    // column — a regexp over input_file_name costs ~20µs/row (it
    // re-scans the full path per row) and dominated the whole read.
    // Attached BEFORE preProject: the hook may join, after which the
    // hidden metadata stops resolving.
    preProject(
      spark.read.schema(dataSchema).parquet(files.map(_._1).sorted: _*)
        .withColumn("_file", col("_metadata.file_name")))
      .join(broadcast(pvDf), Seq("_file"))
      .select(schema.map { f =>
        if (partCols.contains(f.name))
          col(s"_pv_${f.name}").cast(f.dataType).as(f.name)
        else col(f.name)
      } ++ carryCols.map(col): _*)
  }

  /** Decode one hive-style path segment value (Spark escapes
    * filesystem-hostile chars as %XX; '+' is literal, so a URL
    * decoder would corrupt it). */
  def hiveUnescape(s: String): String =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
}
