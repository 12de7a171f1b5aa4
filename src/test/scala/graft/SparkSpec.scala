package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. One session per JVM (Test/fork is
  * on, so suites share the forked JVM's session via getOrCreate). Built
  * by [[GraftSession.local]] like the Verify/Bench gate: the same confs,
  * functions, rules and strategy, UI off and Spark logging at WARN. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("4")

  /** Smallest fixture dir: ~6k lineitem rows, 500 docs/embeddings. */
  val sfDir = "/root/testdata/sf0.001"

  private val JobTagKey = "graft.spec.jobsDuring"

  /** Runs `body` with the given session confs set, then restores each
    * to its prior value (or unsets it). */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` and counts the Spark jobs it submitted from this
    * thread. Listener events arrive asynchronously, so a marker job is
    * submitted afterwards and awaited: events reach a listener in order,
    * so once the marker is seen every earlier job start has been too. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"run-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTagKey)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTagKey, tag)
      val out = body
      sc.setLocalProperty(JobTagKey, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "marker job never reached listener")
      (out, seen.asScala.count(_ == tag))
    } finally {
      sc.setLocalProperty(JobTagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = {
    // keep the session alive for other suites in the same forked JVM,
    // but release the frames this suite persisted on it
    spark.catalog.clearCache()
    super.afterAll()
  }
}
