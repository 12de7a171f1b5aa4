package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The per-file (path, length, modification time) listing of a file
  * input, sorted by path: the one definition of "the same input" that
  * the schema memo of [[ParquetInput]] and the [[Artifacts]] key
  * ([[PlanKey]]) both validate against. It is read off a FileIndex the
  * caller already holds (an InMemoryFileIndex lists once, when its
  * DataFrame is built), so taking it costs no second listing. */
private[operators] object FileSnapshot {
  type Snapshot = Vector[(String, Long, Long)]

  /** None when the index cannot be listed: callers fail open (treat the
    * input as changed), never closed (reuse on an unknown snapshot). */
  def of(location: FileIndex): Option[Snapshot] =
    try Some(location.listFiles(Nil, Nil).iterator.flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .toVector.sorted)
    catch { case NonFatal(_) => None }
}

/** The one way graft opens a parquet input. `spark.read.parquet(path)`
  * infers the schema on every call, and Spark runs that inference as a
  * one-task job (`ParquetFileFormat.mergeSchemasInParallel`): a
  * scheduler round-trip per input before an entry's plan exists. Here
  * no read of a flat input runs a job:
  *
  *  - First read. For a flat input (no reader options, schema merging
  *    off, no subdirectories, no `_metadata`/`_common_metadata` summary
  *    file), the footer of the first data file is read on the driver
  *    and converted the way Spark's non-merging inference converts it
  *    (`ParquetUtils.inferSchema` touches exactly that file when there
  *    is no summary file). The schema is passed with `.schema(s)` and
  *    kept only if the FileIndex of the returned DataFrame lists exactly
  *    the files the footer was picked from.
  *  - Later reads pass the memoized schema back with `.schema(s)`, which
  *    skips inference but still lists the files.
  *  - Fallback. Any other layout (reader options such as `mergeSchema`,
  *    `batch=`-style partition directories, summary files, globs, a
  *    non-classic session) or any error reading the footer uses Spark's
  *    own inference, which runs the one-task job.
  *
  * Key: the paths, the reader options and the session's parquet
  * inference confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`:
  * `nanosAsLong` and `inferTimestampNTZ.enabled` change column types).
  * Validity: a memoized schema is served only while the input's
  * [[FileSnapshot]], taken from the FileIndex the returned DataFrame
  * scans, equals the snapshot it was derived from. Otherwise the
  * schema is derived again and the entry replaced, so a directory
  * rewritten in place is never read with a stale schema. */
object ParquetInput {

  private final case class Key(paths: Seq[String],
      options: Map[String, String], confs: Seq[(String, String)])
  private final case class Entry(schema: StructType,
      snapshot: FileSnapshot.Snapshot)

  private val schemas = new ConcurrentHashMap[Key, Entry]()

  def read(spark: SparkSession, paths: String*): DataFrame =
    read(spark, Map.empty[String, String], paths: _*)

  def read(spark: SparkSession, options: Map[String, String],
      paths: String*): DataFrame = {
    val key = Key(paths.toVector, options, inferenceConfs(spark))
    // a DataFrameReader is mutable: `.schema(s)` must not leak into the
    // inferring read
    def reader = spark.read.options(options)
    def withSchema(e: Entry): Option[DataFrame] = {
      val df = reader.schema(e.schema).parquet(paths: _*)
      if (snapshot(df).contains(e.snapshot)) Some(df) else None
    }
    Option(schemas.get(key)).flatMap(withSchema).orElse {
      footerEntry(spark, options, paths).flatMap { e =>
        val df = withSchema(e)
        df.foreach(_ => schemas.put(key, e))
        df
      }
    }.getOrElse {
      val df = reader.parquet(paths: _*)
      snapshot(df).foreach(s => schemas.put(key, Entry(df.schema, s)))
      df
    }
  }

  /** The schema and expected snapshot of a flat input, from the footer
    * of its first data file (sorted by path, as Spark's inference sorts
    * its listing). The expected snapshot is this listing: a DataFrame
    * whose FileIndex lists anything else falls back to inference. */
  private def footerEntry(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[Entry] = spark match {
    case c: org.apache.spark.sql.classic.SparkSession
        if options.isEmpty && !c.sessionState.conf.isParquetSchemaMergingEnabled =>
      try {
        val conf = c.sessionState.newHadoopConf()
        val files = paths.flatMap { p =>
          val path = new Path(p)
          path.getFileSystem(conf).listStatus(path).toSeq
        }.filterNot(s => hidden(s.getPath.getName))
          .sortBy(_.getPath.toString)
        if (files.isEmpty || files.exists(s => s.isDirectory ||
            summary(s.getPath.getName))) None
        else {
          val first = files.head
          val footer = new Footer(first.getPath, ParquetFooterReader
            .readFooter(HadoopInputFile.fromStatus(first, conf),
              ParquetMetadataConverter.SKIP_ROW_GROUPS))
          val sql = c.sessionState.conf
          // the converter `mergeSchemasInParallel` builds: these five
          // flags from the session, the rest at their defaults
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sql.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
            nanosAsLong = sql.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              sql.parquetReaderRespectUnknownTypeAnnotation)
          Some(Entry(ParquetFileFormat.readSchemaFromFooter(footer, converter),
            files.map(f => (f.getPath.toString, f.getLen,
              f.getModificationTime)).toVector))
        }
      } catch { case NonFatal(_) => None }
    case _ => None
  }

  /** Names a FileIndex skips (`HadoopFSUtils.shouldFilterOutPathName`),
    * except the summary files, which it keeps. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=") && !summary(name)) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The plan of a plain read is one relation over its FileIndex. */
  private def snapshot(df: DataFrame): Option[FileSnapshot.Snapshot] =
    df.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        FileSnapshot.of(fs.location)
      case _ => None
    }

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }.toVector.sorted
}
