package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.graft.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Schema-pinned store reads: every standing-store parquet read hands
 * Spark its schema (`spark.read.schema(s).parquet(...)`), so building
 * the frame runs NO Spark job. Left to itself, Spark infers the schema
 * with a footer-reading job per read — on the serving path that fixed
 * cost was most of a point lookup's time.
 *
 * The schema is the one Spark's inference would produce, derived the
 * same way on the driver: the same leaf files (hidden `_`/`.` names
 * skipped, `k=v` partition dirs descended into), sorted by path; the
 * same footer key (Spark's row-schema JSON, falling back to the parquet
 * schema conversion for files Spark did not write); the first file
 * only, or every file folded with Spark's own merge when the site
 * merges schemas. Partition columns are left to Spark's file index,
 * which infers them from the directory names without a job.
 *
 * Footer schemas are memoized per immutable data file (path + length +
 * mtime) in a bounded LRU, so a warm store pays a listing, not a
 * footer read. A location with no data file falls back to Spark's
 * inference, and so to its usual error.
 */
object StoreRead {

  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  private val MemoCap = 4096

  private final case class FileKey(path: String, length: Long, mtime: Long)

  private val memo = new java.util.LinkedHashMap[FileKey, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[FileKey, StructType]): Boolean =
      size() > MemoCap
  }

  /** `paths` as one parquet relation under the footer-derived schema. */
  def parquet(spark: SparkSession, paths: Seq[String], merge: Boolean = false): DataFrame =
    footerSchema(spark, paths, merge) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", merge.toString).parquet(paths: _*)
    }

  /** The schema [[parquet]] reads unpartitioned `paths` under (a
    * partitioned read appends its partition columns to it). */
  def schema(spark: SparkSession, paths: Seq[String], merge: Boolean = false): StructType =
    footerSchema(spark, paths, merge).getOrElse(parquet(spark, paths, merge).schema)

  /** The data schema (no partition columns), nullable as every parquet
    * relation's is; None when inference must decide. */
  private def footerSchema(spark: SparkSession, paths: Seq[String],
                           merge: Boolean): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val files = paths.flatMap(p => leafFiles(conf, new Path(p))).sortBy(_.getPath.toString)
    if (files.isEmpty) None
    else {
      val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
      val schemas = (if (merge) files else files.take(1)).map(f => fileSchema(spark, conf, f))
      Some(SchemaBridge.asNullable(
        schemas.reduceLeft((a, b) => SchemaBridge.merge(a, b, caseSensitive))))
    }
  }

  /** Spark's listing filter: `_` and `.` names are hidden unless they
    * are `k=v` partition dirs. (Stores write no parquet summary files,
    * the one hidden kind inference would consult.) */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def leafFiles(conf: Configuration, p: Path): Seq[FileStatus] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st)
      else fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) leafFiles(conf, s.getPath) else Seq(s)
      }
    }
  }

  private def fileSchema(spark: SparkSession, conf: Configuration, f: FileStatus): StructType = {
    val key = FileKey(f.getPath.toString, f.getLen, f.getModificationTime)
    memo.synchronized(Option(memo.get(key))).getOrElse {
      val s = readFooter(spark, conf, f)
      memo.synchronized(memo.put(key, s))
      s
    }
  }

  private def readFooter(spark: SparkSession, conf: Configuration, f: FileStatus): StructType = {
    val opts = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), opts)
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(SparkRowSchemaKey))
      .flatMap(js => scala.util.Try(DataType.fromJson(js)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
  }
}
