package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one schema-less parquet read of the library's own files: store
  * data files, deletion vectors and the parquet sidecars
  * ([[SidecarDelta]]'s layout). `ParquetRead(spark, paths)` is
  * `spark.read.parquet(paths: _*)` with the same schema, the same rows
  * and the same errors, but without the schema-inference Spark job:
  * the storage schema comes from the one footer inference would read,
  * read in the calling process, and is handed to
  * `spark.read.schema(...)`. */
private[graft] object ParquetRead {

  /** `spark.read.options(options).parquet(paths: _*)`, planned without
    * a Spark job whenever [[footerSchema]] can give inference's
    * answer. */
  def apply(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame =
    apply(spark, paths, options, spark.sessionState.newHadoopConf())

  /** [[apply]] with the caller's Hadoop conf, made only if needed. */
  private[sources] def apply(spark: SparkSession, paths: Seq[String],
      options: Map[String, String], conf: => Configuration): DataFrame = {
    val reader = spark.read.options(options)
    footerSchema(spark, paths, options, conf).fold(reader)(reader.schema)
      .parquet(paths: _*)
  }

  def apply(spark: SparkSession, path: String): DataFrame =
    apply(spark, Seq(path))

  /** The data schema `spark.read.options(options).parquet(paths: _*)`
    * infers, read in the calling process from the one footer that
    * inference reads. A path is an explicit file, or a flat
    * directory standing for its visible files (the names Spark's
    * listing keeps: not `_`/`.`-prefixed, not `._COPYING_`). With
    * `mergeSchema` off, Spark's parquet inference
    * (`ParquetUtils.inferSchema`) prefers a `_common_metadata` or
    * `_metadata` summary file, else reads the first data file in
    * qualified-path order, and converts its footer with
    * `readSchemaFromFooter` and a converter built from the session
    * confs; both are repeated here without the inference job.
    *
    * None (the caller lets Spark infer) when the answer could differ:
    * `mergeSchema` on (by option or session conf), an option other
    * than `basePath`, a glob character in a path, a directory holding
    * a visible subdirectory (recursion or partition discovery) or a
    * visible `_` file (a summary), an explicit `_`/`.` file name, no
    * file at all, a stored column that is also a `name=value`
    * directory (partition typing would then follow the given schema),
    * or any failure to read the footer, which inference then reports
    * as it always did. */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[String],
      options: Map[String, String],
      hadoopConf: => Configuration): Option[StructType] = try {
    val sql = spark.sessionState.conf
    val merge = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean
    }.getOrElse(sql.isParquetSchemaMergingEnabled)
    val plain = !merge &&
      options.keys.forall(k => k.equalsIgnoreCase("basePath") ||
        k.equalsIgnoreCase("mergeSchema")) &&
      paths.forall(_.forall(c => !"{}[]*?\\".contains(c)))
    lazy val conf = hadoopConf
    // each path's leaves; None for a directory that is not flat
    def leavesOf(f: String): Option[Seq[Path]] = {
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      if (!fs.getFileStatus(p).isDirectory) Some(Seq(fs.makeQualified(p)))
      else {
        val visible = fs.listStatus(p).filterNot(c => hidden(c.getPath.getName))
        Some(visible.map(_.getPath).toSeq).filter(_ => !visible.exists(_.isDirectory))
      }
    }
    val listed = if (plain) paths.map(leavesOf) else Nil
    val leaves = listed.flatten.flatten.sortBy(_.toString)
    val odd = listed.exists(_.isEmpty) || leaves.exists { p =>
      val n = p.getName
      n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
    }
    leaves.headOption.filter(_ => !odd).flatMap { path =>
      val st = path.getFileSystem(conf).getFileStatus(path)
      val footer = new Footer(path, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
      // the converter ParquetFileFormat.mergeSchemasInParallel builds
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
      val schema = ParquetFileFormat.readSchemaFromFooter(footer, converter)
      val dirKeys = leaves.flatMap { p =>
        Iterator.iterate(p.getParent)(_.getParent).takeWhile(_ != null)
          .map(_.getName).filter(_.contains("=")).map(_.takeWhile(_ != '=').toLowerCase)
      }.toSet
      Some(schema).filter(_.fieldNames.forall(n => !dirKeys(n.toLowerCase)))
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** A name Spark's file listing skips (`HadoopFSUtils.
    * shouldFilterOutPathName`): `_` names without `=` other than the
    * parquet summaries, `.` names and `._COPYING_` uploads. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
}
