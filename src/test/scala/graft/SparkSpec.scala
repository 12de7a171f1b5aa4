package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (Test/fork is
  * on, so suites share the forked JVM's session via getOrCreate). Built
  * by [[GraftSession.builder]] and carrying graft's whole surface
  * ([[graft.functions.GraftExtensions.install]]), so specs run with the
  * same confs, functions, rules and strategy as the Verify/Bench gate. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftExtensions.install(s)
    s
  }

  /** Smallest fixture dir: ~6k lineitem rows, 500 docs/embeddings. */
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same forked JVM
    super.afterAll()
  }
}
