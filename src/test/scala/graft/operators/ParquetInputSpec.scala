package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types._

/** Pins the schema memo of [[ParquetInput]]: a first read of a flat
  * input and a warm read of an unchanged input run no Spark job and see
  * exactly the inferred schema, while a rewritten input or a changed
  * inference conf is derived again, and a partitioned or merging read
  * falls back to Spark's inference. */
class ParquetInputSpec extends SparkSpec {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  /** `<tmp>/events.parquet` holding one event whose `ts` is an INT64
    * TIMESTAMP(`unit`, not UTC-adjusted), written with parquet-mr: Spark
    * cannot write NANOS, and a Spark-written file carries its own Spark
    * schema in the footer, which inference would follow instead. */
  private def writeEvents(prefix: String, unit: String, ts: Long): String = {
    val dir = tmpDir(prefix)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        s"required int64 ts (TIMESTAMP($unit,false)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(
        s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try writer.write(new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", ts))
    finally writer.close()
    dir
  }

  test("a second read of an unchanged directory runs no job and keeps the " +
      "inferred schema") {
    import spark.implicits._
    val dir = tmpDir("pqin_warm")
    Seq((1L, "x", Seq(1.5f)), (2L, "y", Seq.empty[Float]))
      .toDF("id", "v", "vec").write.mode("overwrite").parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    val (cold, coldJobs) = jobsDuring(ParquetInput.read(spark, dir))
    assert(coldJobs === 0, "the first read takes the schema from a footer")
    val (warm, warmJobs) = jobsDuring(ParquetInput.read(spark, dir))
    assert(warmJobs === 0, "the warm read must not run schema inference")
    assert(cold.schema === inferred)
    assert(warm.schema === inferred)
    assert(rows(warm) === rows(spark.read.parquet(dir)))
  }

  test("a directory rewritten in place with a different schema is seen on " +
      "the next read") {
    import spark.implicits._
    val dir = tmpDir("pqin_rewrite")
    Seq((1, "x"), (2, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    assert(ParquetInput.read(spark, dir).schema("id").dataType === IntegerType)
    ParquetInput.read(spark, dir) // memoized
    // widened type + added column, same path
    Seq((3L, "z", 0.5)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(dir)
    val (df, jobs) = jobsDuring(ParquetInput.read(spark, dir))
    assert(jobs === 0, "a changed snapshot is read from the new footer")
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(df.schema("id").dataType === LongType)
    assert(df.columns.toSeq === Seq("id", "v", "w"))
    assert(rows(df) === Set(Seq(3L, "z", 0.5)))
  }

  test("parquet inference confs are part of the key: nanosAsLong and " +
      "inferTimestampNTZ flip the events.ts type") {
    val dir = writeEvents("pqin_nanos", "NANOS", 1704110400000000000L)
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true") {
      assert(Relational.table(spark, dir, "events").schema("ts").dataType ===
        LongType)
      val ev = Relational.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.selectExpr("unix_micros(ts)").head().getLong(0) ===
        1704110400000000L)
    }
    withConf(nanos, "false") {
      // inferred again under the new conf, not served the LongType schema
      val e = intercept[AnalysisException](Relational.events(spark, dir))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
    }
    withConf(nanos, "true") {
      val (df, jobs) = jobsDuring(Relational.table(spark, dir, "events"))
      assert(df.schema("ts").dataType === LongType)
      assert(jobs === 0, "the original conf's entry is still valid")
    }
    // the current testdata shape: timestamp[us] without a time zone
    val ntz = writeEvents("pqin_ntz", "MICROS", 1704110400000000L)
    val inferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    Seq("true" -> TimestampNTZType, "false" -> TimestampType,
        "true" -> TimestampNTZType).foreach { case (v, t) =>
      withConf(inferNtz, v) {
        assert(Relational.table(spark, ntz, "events").schema("ts").dataType
          === t, s"$inferNtz=$v")
        assert(Relational.events(spark, ntz).schema("ts").dataType ===
          TimestampType)
      }
    }
  }

  test("a partitionBy directory keeps its partition column in place") {
    import spark.implicits._
    val dir = tmpDir("pqin_part")
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)).toDF("id", "p", "n")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val inferred = spark.read.parquet(dir)
    ParquetInput.read(spark, dir)
    val (warm, jobs) = jobsDuring(ParquetInput.read(spark, dir))
    assert(jobs === 0)
    assert(warm.schema === inferred.schema)
    assert(warm.columns.toSeq === Seq("id", "n", "p"))
    assert(rows(warm) === rows(inferred))
    assert(rows(warm.filter($"p" === "a").select("id")) ===
      Set(Seq(1L), Seq(3L)))
  }

  /** Fresh copies of fixture tables under a new directory: paths no
    * earlier read has memoized, so the next read is a first read. */
  private def fixtureCopy(prefix: String, tables: String*): String = {
    val dir = java.nio.file.Paths.get(tmpDir(prefix))
    tables.foreach(t => java.nio.file.Files.copy(
      java.nio.file.Paths.get(sfDir, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally walk.close()
  }

  /** A first read runs no job and sees exactly `spark.read.parquet`'s
    * schema and rows. */
  private def assertFirstRead(path: String): Unit = {
    val (df, jobs) = jobsDuring(ParquetInput.read(spark, path))
    assert(jobs === 0, s"first read of $path")
    val inferred = spark.read.parquet(path)
    assert(df.schema === inferred.schema, path)
    assert(rows(df) === rows(inferred), path)
  }

  test("the first read of a flat fixture input runs no job: documents, " +
      "embeddings, events with nanosAsLong on and off") {
    val dir = fixtureCopy("pqin_first", "documents", "embeddings", "events")
    assertFirstRead(s"$dir/documents.parquet")
    assertFirstRead(s"$dir/embeddings.parquet")
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    Seq("true", "false").foreach { v =>
      withConf(nanos, v)(assertFirstRead(s"$dir/events.parquet"))
    }
    // a TIMESTAMP(NANOS) column converts under the session's conf
    val ns = writeEvents("pqin_first_ns", "NANOS", 1704110400000000000L)
    withConf(nanos, "true") {
      assertFirstRead(s"$ns/events.parquet")
      assert(ParquetInput.read(spark, s"$ns/events.parquet")
        .schema("ts").dataType === LongType)
    }
  }

  test("the first read of each written set-similarity artifact runs no " +
      "job: sets, prefix, prefix2") {
    val built = Dedup.materializeSetSimTables(spark,
      fixtureCopy("pqin_setsim", "documents"))
    val copy = tmpDir("pqin_setsim_copy")
    Seq("sets", "prefix", "prefix2").foreach { t =>
      copyTree(s"$built/$t", s"$copy/$t")
      assertFirstRead(s"$copy/$t")
    }
  }

  test("a batch=-partitioned sink and a mergeSchema read fall back to " +
      "Spark's inference and keep the partition column in place") {
    import spark.implicits._
    val dir = tmpDir("pqin_batches")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/batch=0")
    Seq((2L, "b", 0.5)).toDF("id", "v", "w").write.parquet(s"$dir/batch=1")
    val (df, jobs) = jobsDuring(ParquetInput.read(spark, dir))
    assert(jobs > 0, "a partitioned layout is inferred by Spark")
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(df.columns.toSeq === Seq("id", "v", "batch"))
    val merge = Map("mergeSchema" -> "true")
    val (merged, mergeJobs) =
      jobsDuring(ParquetInput.read(spark, merge, dir))
    assert(mergeJobs > 0, "a mergeSchema read is inferred by Spark")
    assert(merged.schema === spark.read.options(merge).parquet(dir).schema)
    assert(merged.columns.toSeq === Seq("id", "v", "w", "batch"))
    assert(rows(merged) === Set(Seq(1L, "a", null, 0), Seq(2L, "b", 0.5, 1)))
  }
}
