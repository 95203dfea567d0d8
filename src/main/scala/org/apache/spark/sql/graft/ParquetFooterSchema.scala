// Placed under org.apache.spark to reach Spark's own listing filter
// (private[spark]) and the session's SQL conf (private[sql]).
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The data schema Spark's parquet inference would give `dirs`, read
  * from ONE footer on the driver instead of inside a one-task Spark job
  * (the inference path with `mergeSchema` off):
  *   - the file: the leaf files under `dirs` by Spark's listing filter,
  *     sorted by path; a `_common_metadata`, else `_metadata` summary,
  *     else the first data file;
  *   - the schema: `ParquetFileFormat.readSchemaFromFooter` — the
  *     writer's `org.apache.spark.sql.parquet.row.metadata` schema when
  *     present (field metadata included), else the parquet message type
  *     converted under the session's SQL conf.
  * Partition columns are not in it; Spark's partition discovery adds
  * them. None when `dirs` hold no file. */
object ParquetFooterSchema {

  def of(spark: SparkSession, dirs: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves(fs, _))
    val files = dirs.flatMap { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) leaves(fs, fs.getFileStatus(p)) else Seq.empty
    }.sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.view.flatMap(n => files.find(_.getPath.getName == n))
      .headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    file.map { f =>
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }
}
