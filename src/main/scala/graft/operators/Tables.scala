package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types._

/** Canonical, drift-tolerant readers for the corpus tables. The driver
  * regenerates the testdata between rounds and physical schemas DRIFT —
  * round 6 shipped `events.ts` as TIMESTAMP_NTZ (plus a new `props`
  * column) and broke three operators at analysis time. Every operator
  * reads documents/embeddings through these entry points, which cast
  * each KNOWN column to its canonical engine type when the file differs
  * (int ids → long, float64 embeddings → float32, …) and pass unknown
  * extra columns through untouched. On an already-canonical file every
  * cast is a no-op that Catalyst erases — zero plan overhead.
  * (`Relational.events` plays the same role for the events table, where
  * the timestamp needs real logic, not just casts.) */
object Tables {

  /** documents.parquet: doc_id BIGINT, text STRING, lang STRING,
    * source STRING, n_chars BIGINT (+ anything the generator adds). */
  def documents(spark: SparkSession, dir: String): DataFrame =
    normalize(ParquetInput.read(spark, dir + "/documents.parquet"), Map(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))

  /** embeddings.parquet: vec_id BIGINT, embedding ARRAY<FLOAT>,
    * label INT (+ extras). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    normalize(ParquetInput.read(spark, dir + "/embeddings.parquet"), Map(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  /** Loud verify-time guard for float64 embedding drift: [[embeddings]]
    * canonicalizes a float64 file down to ARRAY<FLOAT>, which is exact
    * only while every stored value is float32-representable (true of a
    * generator that computed in float32 and merely WROTE float64). The
    * DuckDB oracles read the raw file at full precision, so a LOSSY
    * downcast would not fail — it would silently shift round(..., 4)
    * cosines and top-k tie-breaks. This check turns that silent
    * divergence into an error at verify time: no-op unless the physical
    * element type is float64, one narrow scan (explode → filter →
    * limit 1, Spark NaN-equality semantics make NaN round-trip clean)
    * when it is. Wired into `graft.Verify`; spec-pinned on both a
    * lossless and a lossy float64 fixture. */
  def assertLosslessEmbeddingDrift(spark: SparkSession, dir: String): Unit = {
    val raw = ParquetInput.read(spark, dir + "/embeddings.parquet")
    val lossy = raw.schema.fields.find(_.name == "embedding")
      .map(_.dataType) match {
      case Some(ArrayType(DoubleType, _)) =>
        raw.select(explode(col("embedding")).as("x"))
          .filter(col("x") =!= col("x").cast("float").cast("double"))
          .limit(1).count() > 0
      case _ => false
    }
    require(!lossy,
      s"$dir/embeddings.parquet stores float64 values that do not " +
        "survive the float32 canonicalization — oracle comparisons " +
        "would silently diverge. Keep the engine side on DOUBLE for " +
        "this corpus (drop the downcast in Tables.embeddings) or " +
        "regenerate the file in float32.")
  }

  /** Cast only within a type family (numeric↔numeric, numeric-array↔
    * numeric-array): physical-width drift (int32 ids, float64 vectors)
    * normalizes, while a SEMANTICALLY different column (e.g. a string
    * label in a caller-built fixture) passes through rather than
    * failing an ANSI cast at runtime. */
  private def compatible(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (_: NumericType, _: NumericType) => true
      case (ArrayType(f: NumericType, _), ArrayType(t: NumericType, _)) =>
        compatible(f, t)
      case _ => false
    }

  private def normalize(df: DataFrame, want: Map[String, DataType]): DataFrame =
    want.foldLeft(df) { case (acc, (name, t)) =>
      acc.schema.fields.find(_.name == name) match {
        case Some(f) if f.dataType != t && compatible(f.dataType, t) =>
          acc.withColumn(name, col(name).cast(t))
        case _ => acc
      }
    }
}
