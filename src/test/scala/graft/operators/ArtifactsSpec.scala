package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** [[Artifacts]]: one build per key under concurrency, nested builds,
  * retry after a failed build, the key's parts, and the directory
  * lifecycle of [[Artifacts.clear]]. */
class ArtifactsSpec extends SparkSpec {

  // a Range leaf keys by its identity, so each test reuses one frame
  private lazy val in3 = spark.range(3).toDF("id")
  private lazy val in4 = spark.range(4).toDF("id")

  test("a nested build (materializeClusters from an empty store) " +
      "completes") {
    Artifacts.clear()
    // clusters → pairs → signatures: each build asks the store for its
    // parent while its own cell is being forced
    val p = Dedup.materializeClusters(spark, sfDir)
    assert(new java.io.File(p).isDirectory)
    assert(Dedup.materializeClusters(spark, sfDir) === p)
    val labels = ParquetInput.read(spark, p)
    assert(labels.count() ===
      Dedup.minHashClustersRecompute(spark, sfDir).count())
  }

  test("two threads asking for one key run the build once") {
    val builds = new AtomicInteger(0)
    val in = spark.range(7).toDF("id")
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            Artifacts("spec_concurrent", (), in) {
              builds.incrementAndGet()
              Thread.sleep(300)
              42
            }
          }
        })
      }
      start.countDown()
      assert(calls.map(_.get(60, TimeUnit.SECONDS)) === Seq(42, 42))
      assert(builds.get === 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry, and the next call succeeds") {
    val builds = new AtomicInteger(0)
    def call(fail: Boolean): String =
      Artifacts("spec_retry", (), in3) {
        builds.incrementAndGet()
        if (fail) throw new IllegalStateException("build failed")
        "built"
      }
    val e = intercept[IllegalStateException](call(fail = true))
    assert(e.getMessage === "build failed")
    assert(call(fail = false) === "built")
    assert(call(fail = true) === "built", "the second build was kept")
    assert(builds.get === 2)
  }

  test("params, kind and input are each part of the key") {
    val builds = new AtomicInteger(0)
    def get(kind: String, params: Any,
        in: org.apache.spark.sql.DataFrame): Int =
      Artifacts(kind, params, in)(builds.incrementAndGet())
    val a = get("spec_key", (1, 0.5), in3)
    assert(get("spec_key", (1, 0.5), in3) === a)
    assert(get("spec_key", (2, 0.5), in3) !== a, "params")
    assert(get("spec_key_other", (1, 0.5), in3) !== a, "kind")
    assert(get("spec_key", (1, 0.5), in4) !== a, "input")
    assert(builds.get === 4)
  }

  test("clear deletes every directory it created and forgets the " +
      "entries") {
    val written = Artifacts.dir("spec_dir", (), in4) { p =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "part"), "x"): Unit
    }
    assert(Artifacts.dir("spec_dir", (), in4)(_ => fail("rebuilt")) ===
      written)
    val extra = Artifacts.newDir("spec_extra")
    assert(new java.io.File(written, "part").exists())
    Artifacts.clear()
    assert(!new java.io.File(written).exists())
    assert(!new java.io.File(extra).exists())
    val again = Artifacts.dir("spec_dir", (), in4)(_ => ())
    assert(again !== written, "a cleared entry is built again")
    Artifacts.clear()
  }

  test("clear deletes the spanGuard demo index dirs") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"c$i").mkString(" ")
    val docs = (0 until 10).map(i => (i.toLong,
      s"${(0 until 10).map(j => s"d${i}x$j").mkString(" ")} $boiler"))
    val tmp = java.nio.file.Files.createTempDirectory("sgcache").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def gramIndexDirs(): Set[java.io.File] =
      new java.io.File(System.getProperty("java.io.tmpdir"))
        .listFiles().filter(_.getName.startsWith("gramindex")).toSet
    Artifacts.clear()
    val before = gramIndexDirs()
    Dedup.spanGuard(spark, tmp).count()
    val dirs = gramIndexDirs() -- before
    assert(dirs.nonEmpty, "spanGuard must build its demo index in the store")
    Artifacts.clear()
    assert(dirs.forall(!_.exists()),
      "clear must delete the temp index dirs, not just forget them")
    Artifacts.deleteRecursively(new java.io.File(tmp))
  }
}
