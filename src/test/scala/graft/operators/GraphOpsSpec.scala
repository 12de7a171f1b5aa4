package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // bow-tie: triangles {1,2,3} and {3,4,5} sharing node 3
  private def bowtie =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
      .toDF("src", "dst")

  test("undirect: reverses, duplicates, and self-loops collapse") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 3L), (1L, 3L))
      .toDF("a", "b")
    val got = GraphOps.undirect(pairs, "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L)))
  }

  test("triangles: hand-computed bow-tie counts, zero for untriangled") {
    val withTail = bowtie.union(Seq((5L, 6L)).toDF("src", "dst"))
    val got = GraphOps.triangles(GraphOps.undirect(withTail, "src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // node -> (degree, triangle count); 3 closes both triangles
    assert(got === Map(
      1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((4L, 2L)),
      4L -> ((2L, 1L)), 5L -> ((3L, 1L)), 6L -> ((1L, 0L))))
  }

  test("pageRank: mass conserved, hub ranks highest, deterministic") {
    val edges = GraphOps.undirect(bowtie, "src", "dst")
    val got = GraphOps.pageRank(edges, iters = 10, roundTo = 9).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // no dangling nodes → total mass stays 1
    assert(math.abs(got.values.sum - 1.0) < 1e-6, got.toString)
    assert(got.values.forall(_ > 0))
    // the shared corner of the bow-tie dominates
    assert(got(3L) === got.values.max)
    // symmetric positions tie exactly (same neighborhoods)
    assert(got(1L) === got(2L) && got(4L) === got(5L))
    val again = GraphOps.pageRank(edges, iters = 10, roundTo = 9).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again === got)
  }

  test("pageRank honors a session checkpoint dir: reliable checkpoints, " +
      "identical ranks (the documented cluster mode)") {
    val edges = GraphOps.undirect(bowtie, "src", "dst")
    val expect = GraphOps.pageRank(edges, iters = 10, roundTo = 9).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ckpt = java.nio.file.Files.createTempDirectory("prckpt").toString
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite must start without a dir")
    sc.setCheckpointDir(ckpt)
    try {
      val got = GraphOps.pageRank(edges, iters = 10, roundTo = 9).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got === expect, "ranks identical under reliable checkpointing")
      // the loop really wrote reliable checkpoints: executor loss
      // mid-iteration recovers from storage, not a 2i-join lineage
      def rddDirs(f: java.io.File): Int =
        if (f.getName.startsWith("rdd-")) 1
        else Option(f.listFiles()).fold(0)(_.map(rddDirs).sum)
      assert(rddDirs(new java.io.File(ckpt)) >= 3,
        "edges + degrees + ≥1 iteration must checkpoint to the dir")
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("personalized PageRank: mass stays near the seed cohort, " +
      "conserved, seeds validated") {
    import spark.implicits._
    val edges = GraphOps.undirect(bowtie, "src", "dst")
    val got = GraphOps.personalizedPageRank(edges,
        Seq(1L).toDF("node"), iters = 20, roundTo = 9)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(2), r.getDouble(3))))
      .toMap
    assert(got(1L)._1 && !got(2L)._1, "seed flag")
    // connected graph: all teleported mass circulates, total stays ~1
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-6)
    // affinity decays with distance from the seed: the seed outranks its
    // triangle, which outranks the far triangle's rim
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(4L)._2)
    // symmetric positions relative to the seed tie exactly
    assert(got(4L)._2 === got(5L)._2)
    // a seed set disjoint from the graph is a loud error
    val e = intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(edges, Seq(99L).toDF("node"))
    }
    assert(e.getMessage.contains("seed"))
  }

  test("knn-graph entries: keyed joins only, never a cartesian product") {
    val tri = GraphOps.knnTriangles(spark, sfDir)
    val plan = tri.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    val rows = tri.collect()
    assert(rows.nonEmpty)
    // triangle participation can never exceed deg·(deg−1)/2 wedges
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) * (r.getLong(1) - 1) / 2, r)
    }
    val pr = GraphOps.knnPageRank(spark, sfDir).collect()
    assert(math.abs(pr.map(_.getDouble(2)).sum - 1.0) < 1e-4)
  }

  test("materialized knn edges: identical graph results, edge pipeline " +
      "absent from the consuming plan") {
    Artifacts.clear()
    try {
      val edges = GraphOps.knnEdgesRecompute(spark, sfDir)
      val direct = GraphOps.triangles(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val mat = GraphOps.knnTriangles(spark, sfDir)
      assert(mat.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq ===
        direct.toSeq)
      // the LSH pair pipeline (hyperplane bucket expr + top-k window)
      // must be GONE: the consumer scans the build-once edge parquet
      val plan = mat.queryExecution.executedPlan.toString
      assert(!plan.contains("hyperplane"), plan.take(2000))
      val pr = GraphOps.knnPageRank(spark, sfDir)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val prDirect = GraphOps.pageRank(edges)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // same edge SET but different physical partitionings: double
      // summation order can differ in the low bits, so compare with a
      // tolerance rather than 9-dp string equality
      assert(pr.keySet === prDirect.keySet)
      pr.foreach { case (n, v) =>
        assert(math.abs(v - prDirect(n)) < 1e-8, s"node $n") }
    } finally Artifacts.clear()
  }
}
