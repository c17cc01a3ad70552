package graft.api

import graft.operators.FanOut
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that run no Spark job while the frame is built.
  *
  * `spark.read.parquet(path)` infers its schema through Spark's
  * `SchemaMergeUtils.mergeSchemasInParallel`, which starts a whole job
  * to read ONE footer even with `mergeSchema` off and a single file.
  * The reference takes its schema from the footer in-process
  * (`ReadParquet._meta`, `io/parquet.py:190-197`). [[read]] does the
  * same: [[resolve]] reads, on the driver, the one footer Spark's
  * `ParquetUtils.inferSchema` would read, and the schema is handed to
  * `spark.read.schema(...)`, which then infers nothing. The relation,
  * its partition columns and its plan are the ones the inferring read
  * builds.
  *
  * Fallbacks to the plain inferring read: `mergeSchema` is on (every
  * footer must be merged, which is the job's real work), or there is
  * no readable file to take the schema from — Spark then raises its
  * own error ("Unable to infer schema", a missing path, a corrupt
  * footer) exactly as before.
  *
  * A read that Spark scans in one partition comes back marked as a
  * single-split read (`coalesce(1)`,
  * [[graft.operators.FanOut.singleSplit]]), so aggregates, windows,
  * sorts and joins over it plan no exchange. */
object FooterSchema {

  /** parquet summary files, in the order schema inference prefers them */
  private val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** `spark.read.parquet(path)` with the schema resolved on the driver,
    * marked single-split when the listing packs into one partition. */
  def read(spark: SparkSession, path: String): DataFrame =
    FanOut.singleSplit(resolve(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    })

  /** The data schema `spark.read.parquet(path)` infers, from one footer
    * read on the driver; `None` in the fallback cases above. The pick
    * follows `ParquetUtils.inferSchema` with `mergeSchema` off: leaf
    * files in path order, `_common_metadata`, then `_metadata`, then the
    * first data file. The conversion is Spark's own
    * (`readSchemaFromFooter`: the Spark row metadata when the writer left
    * it, else the session-configured parquet converter), so
    * `nanosAsLong`, `binaryAsString` and INT96 read as they always did. */
  def resolve(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val files = Option(fs.globStatus(root)).toSeq.flatten
      .flatMap(listed(fs, _)).sortBy(_.getPath.toString)
    val pick = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    pick.flatMap { f =>
      try {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        Some(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(conf)))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** The files Spark's file index offers schema inference under `root`:
    * the root itself when it is a file; a partitioned directory's leaf
    * files at any depth; an unpartitioned directory's direct children.
    * Names Spark's listing skips are skipped at every level: `.`-hidden,
    * `_`-prefixed without `=` (`_SUCCESS`, `_spark_metadata`) except the
    * two summary files, and `._COPYING_` leftovers. */
  private def listed(fs: FileSystem, root: FileStatus): Seq[FileStatus] = {
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      val skip = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !skip || summaries.exists(n.startsWith)
    }
    def children(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.filter(visible)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) children(st.getPath).flatMap(leaves) else Seq(st)
    if (!root.isDirectory) Seq(root).filter(visible)
    else {
      val top = children(root.getPath)
      if (top.exists(c => c.isDirectory && c.getPath.getName.contains("=")))
        top.flatMap(leaves)
      else top.filterNot(_.isDirectory)
    }
  }
}
