package graft.operators

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation}
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
  * the schema is inferred on the first read of a path only; later reads
  * pass it back with `.schema(s)`, which skips the job but still lists
  * the files.
  *
  * Key: the paths, the reader options and the session's parquet
  * inference confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`:
  * `nanosAsLong` and `inferTimestampNTZ.enabled` change column types).
  * Validity: a memoized schema is served only while the input's
  * [[FileSnapshot]], taken from the FileIndex the returned DataFrame
  * scans, equals the snapshot it was inferred from. Otherwise the
  * schema is inferred again and the entry replaced, so a directory
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
    val memoized = Option(schemas.get(key)).flatMap { e =>
      val df = reader.schema(e.schema).parquet(paths: _*)
      if (snapshot(df).contains(e.snapshot)) Some(df) else None
    }
    memoized.getOrElse {
      val df = reader.parquet(paths: _*)
      snapshot(df).foreach(s => schemas.put(key, Entry(df.schema, s)))
      df
    }
  }

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
