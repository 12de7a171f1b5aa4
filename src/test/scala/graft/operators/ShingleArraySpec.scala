package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters, Passed}

/** [[DedupCore.shingleArray]]'s linear form (k shifted slices zipped)
  * against the quadratic lambda-over-`words` form it replaced, kept as
  * `shingleArrayRecompute`: the same arrays, order included, and the
  * same type, for k in {1, 2, 3, 5}, in codegen and interpreted mode. */
class ShingleArraySpec extends SparkSpec {

  private val ks = Seq(1, 2, 3, 5)

  private val word: Gen[String] = Gen.oneOf(
    Gen.oneOf("a", "b", "the", "fox", "x1"),
    Gen.oneOf("السودان", "الخرطوم", "中文", "naïve", "🙂", "é"),
    Gen.alphaNumStr.map(_.take(6)))
  private val gap: Gen[String] = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")

  /** Texts: null, empty, whitespace-only, fewer words than k, and
    * longer texts over a small vocabulary (repeated shingles), with
    * leading and trailing whitespace. */
  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    1 -> Gen.listOfN(3, gap).map(_.mkString),
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" ")),
    4 -> (for {
      n <- Gen.choose(5, 40)
      ws <- Gen.listOfN(n, Gen.frequency(3 -> Gen.oneOf("a", "b"), 2 -> word))
      gs <- Gen.listOfN(n + 1, gap)
    } yield gs.zip(ws :+ "").map { case (g, w) => g + w }.mkString))

  private def assertSame(texts: Seq[String]): Boolean = {
    import spark.implicits._
    // an RDD relation, not a LocalRelation: the projection runs in a
    // task under the session's codegen mode, not folded on the driver
    val df = spark.sparkContext.parallelize(texts, 2).toDF("text")
    val cols = ks.flatMap(k => Seq(
      Dedup.shingleArray(col("text"), k).as(s"got$k"),
      Dedup.shingleArrayRecompute(col("text"), k).as(s"ref$k")))
    val out = df.select(col("text") +: cols: _*)
    ks.foreach { k =>
      assert(out.schema(s"got$k").dataType === out.schema(s"ref$k").dataType)
    }
    out.collect().foreach { r =>
      ks.foreach { k =>
        val got = Option(r.getAs[Seq[String]](s"got$k"))
        val ref = Option(r.getAs[Seq[String]](s"ref$k"))
        assert(got === ref, s"k=$k text=${Option(r.getString(0))}")
      }
    }
    true
  }

  test("the linear form equals the quadratic reference, order included, " +
      "in codegen and interpreted mode") {
    val fixed = Seq(null, "", " ", " \t\n ", "a", "a b", "a b c d",
      "a a a a a a a", "a b a b a b a b", "  the quick  brown\tfox  ",
      "السودان الخرطوم السودان الخرطوم", "中文 🙂 naïve é 中文 🙂")
    val wholeStage = "spark.sql.codegen.wholeStage"
    val factory = "spark.sql.codegen.factoryMode"
    try Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, ws) =>
        spark.conf.set(factory, mode)
        spark.conf.set(wholeStage, ws)
        assertSame(fixed)
        val prop = Prop.forAll(Gen.listOfN(60, text))(assertSame)
        val res = check(Parameters.default.withMinSuccessfulTests(5), prop)
        assert(res.status === Passed, s"$mode: ${res.status}")
    } finally {
      spark.conf.unset(factory)
      spark.conf.unset(wholeStage)
    }
  }

  test("a shingle width below 1 is rejected") {
    intercept[IllegalArgumentException](Dedup.shingleArray(col("text"), 0))
    intercept[IllegalArgumentException](
      Dedup.charShingleArray(col("text"), 0))
    assert(Dedup.shingleArray(col("text"), 1) != null)
    assert(Dedup.charShingleArray(col("text"), 1) != null)
  }
}
