package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the two soundness properties of the shared probe-memo key
  * (r17, advisor findings): no field truncation in the plan rendering,
  * and invalidation when a file leaf's contents change at the same
  * path. */
class PlanKeySpec extends SparkSpec {

  test("wide plans beyond maxToStringFields render distinct keys") {
    import spark.implicits._
    // 30 columns > spark.sql.debug.maxToStringFields (25): the default
    // toString elides the tail as '... N more fields', so two plans
    // differing only there used to collide.
    val base = Seq((1L, 2L)).toDF("a", "b")
    val cols = (0 until 30).map(i => lit(i).as(s"c$i"))
    val wideA = base.select(col("a") +: cols: _*)
    val wideB = base.select(col("a") +: cols.dropRight(1) :+ lit(999).as("c29"): _*)
    assert(PlanKey.of(wideA) != PlanKey.of(wideB),
      "keys must differ when only a truncated-away field differs")
    assert(PlanKey.of(wideA) == PlanKey.of(wideA.select(col("*"))),
      "semantically identical plans must share a key")
  }

  test("file leaf key changes when the path's contents change") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plankey").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val k1 = PlanKey.of(spark.read.parquet(dir).filter(col("id") > 0))
    // append at the SAME path: a stale memo would keep pricing the old
    // snapshot (the defeated-safety-gate direction the advisor flagged)
    Seq((3L, "z"), (4L, "w"), (5L, "u")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    val k2 = PlanKey.of(spark.read.parquet(dir).filter(col("id") > 0))
    assert(k1 != k2, "appending files at the same path must change the key")
    // unchanged contents, fresh read: key is stable (memo still hits)
    val k3 = PlanKey.of(spark.read.parquet(dir).filter(col("id") > 0))
    assert(k2 == k3, "same snapshot must key identically across reads")
  }

  test("file leaf key tells apart rewrites with equal count, bytes and " +
      "max mtime") {
    import spark.implicits._
    def partFile(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-")).toSeq match {
        case Seq(f) => f
        case fs => fail(s"expected one part file in $dir, got $fs")
      }
    val dir = java.nio.file.Files.createTempDirectory("plankey_eq").toString
    val other = java.nio.file.Files.createTempDirectory("plankey_eq").toString
    Seq((1L, "x")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").option("compression", "none").parquet(dir)
    Seq((2L, "y")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").option("compression", "none").parquet(other)
    val (a, b) = (partFile(dir), partFile(other))
    assert(a.length == b.length, "fixture must match on bytes")
    val k1 = PlanKey.of(spark.read.parquet(dir))
    // swap in different rows: one file, same length, same mtime
    val mtime = a.lastModified()
    assert(a.delete())
    val swapped = new java.io.File(dir, b.getName)
    java.nio.file.Files.move(b.toPath, swapped.toPath)
    assert(swapped.setLastModified(mtime))
    val k2 = PlanKey.of(spark.read.parquet(dir))
    assert(k1 != k2, "a count:bytes:maxMtime collision must not share a key")
  }
}
