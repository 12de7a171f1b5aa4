package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

class MultimodalSpec extends SparkSpec {

  test("assets: binary payload + typed metadata, deterministic modality") {
    val df = Multimodal.assets(spark, sfDir)
    assert(df.schema("payload").dataType === BinaryType)
    assert(df.schema("meta").dataType.typeName === "struct")
    val m = df.select("modality").distinct().collect().map(_.getString(0)).toSet
    assert(m === Set("image", "audio", "video"))
    // payload round-trips the source text bytes
    val r = df.filter(col("asset_id") === 0L)
      .select(col("payload"), col("meta.n_bytes")).collect()(0)
    assert(r.getAs[Array[Byte]](0).length === r.getLong(1))
  }

  test("feature extraction: fixed-size normalized histogram per asset") {
    val rows = Multimodal.features(spark, sfDir).limit(20).collect()
    rows.foreach { r =>
      val f = r.getSeq[Double](2)
      assert(f.length === 16)
      assert(math.abs(f.sum - 1.0) < 1e-6) // normalized histogram
    }
  }

  test("fakeDecode is deterministic and total") {
    val b = "hello world".getBytes("UTF-8")
    assert(Multimodal.fakeDecode(b).toSeq === Multimodal.fakeDecode(b).toSeq)
    assert(Multimodal.fakeDecode(Array.empty[Byte]).toSeq === Seq.fill(16)(0.0))
    assert(Multimodal.fakeDecode(null).toSeq === Seq.fill(16)(0.0))
  }

  test("frame sampling: video assets only, n frames per asset") {
    val frames = Multimodal.frameSample(spark, sfDir, nFrames = 4)
    val perAsset = frames.groupBy("asset_id").count().collect()
    assert(perAsset.nonEmpty)
    assert(perAsset.forall(_.getLong(1) === 4L))
    assert(frames.filter(col("frame_len") <= 0).count() === 0)
  }

  test("resize: every payload hits the target byte budget") {
    val out = Multimodal.resize(spark, sfDir, targetBytes = 128)
    assert(out.filter(col("resized_len") =!= 128).count() === 0)
  }

  // ---------------------------------------------- real image codec path

  test("PNG round-trip is exact: decode(renderPng(id)) == pixel rule") {
    Seq(0L, 1L, 7L, 255L, 256L, 12345L).foreach { id =>
      val (w, h) = Multimodal.imageDims(id)
      val px = Multimodal.decodeGray(Multimodal.renderPng(id))
      assert(px.length === h && px(0).length === w, s"dims of asset $id")
      for (y <- 0 until h; x <- 0 until w)
        assert(px(y)(x) === Multimodal.pixelValue(id, x, y),
          s"pixel ($x,$y) of asset $id survived the codec")
    }
    // the planted periodicity: id and id+256 render byte-identical images
    assert(Multimodal.renderPng(3L).toSeq === Multimodal.renderPng(259L).toSeq)
  }

  test("avgPool: exact integer boxes on a known matrix") {
    // 4×2 matrix pooled to 2×1: boxes are the left and right 2×2 quads
    val m = Array(Array(0, 10, 20, 30), Array(40, 50, 60, 70))
    val pooled = Multimodal.avgPool(m, 2, 1)
    assert(pooled.length === 1 && pooled(0).length === 2)
    assert(pooled(0)(0) === (0 + 10 + 40 + 50) / 4.0)
    assert(pooled(0)(1) === (20 + 30 + 60 + 70) / 4.0)
  }

  test("imageMeta decodes real dimensions and mean luminance") {
    val rows = Multimodal.imageMeta(spark, sfDir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = Multimodal.imageDims(id)
      assert(r.getLong(1) === w && r.getLong(2) === h)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 255.0)
    }
  }

  test("dHash: deterministic, split halves in 32-bit range, and the " +
      "planted identical images share a hash") {
    val hs = Multimodal.imageDHash(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hs.size === 500)
    hs.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
    // pixel-identical images (id ≡ id' mod 256, equal dims) → same hash
    assert(hs(3L) === hs(259L))
  }

  test("GFV1 video: demux recovers every frame, per-frame PNG decode " +
      "matches the frame rule") {
    Seq(0L, 3L, 257L).foreach { id =>
      val frames = Multimodal.demuxVideo(Multimodal.renderVideo(id))
      assert(frames.length === Multimodal.videoFrames(id))
      val (w, h) = Multimodal.imageDims(id)
      frames.zipWithIndex.foreach { case (png, f) =>
        val px = Multimodal.decodeGray(png)
        assert(px.length === h && px(0).length === w)
        for (y <- 0 until h; x <- 0 until w)
          assert(px(y)(x) === Multimodal.framePixelValue(id, f, x, y),
            s"asset $id frame $f pixel ($x,$y)")
      }
    }
    // corrupted magic is rejected loudly, not silently mis-parsed
    intercept[IllegalArgumentException] {
      Multimodal.demuxVideo(Array[Byte](1, 2, 3, 4, 0, 0, 0, 0))
    }
  }

  test("videoFrameStats: one row per (asset, frame), real decode stats") {
    val rows = Multimodal.videoFrameStats(spark, sfDir)
      .groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length === 500)
    rows.foreach { case (id, n) =>
      assert(n === Multimodal.videoFrames(id), s"asset $id")
    }
  }

  test("streaming image dedup: live payloads matched against the " +
      "materialized dHash index, batch twin agrees") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Artifacts.clear()
    // probe: a pixel-identical re-upload of asset 3 under a new id, and
    // a genuinely novel image. NOTE: the synthetic rule is fully periodic
    // mod 256 and ids 0..499 cover every residue class, so ANY
    // renderPng(id) duplicates some corpus asset — novelty needs a
    // pattern the rule cannot produce (hard 0/255 vertical stripes vs
    // the rule's diagonal ramps).
    val dup = Multimodal.renderPng(3L)
    val novel = {
      val img = new java.awt.image.BufferedImage(
        20, 20, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 20; x <- 0 until 20)
        img.getRaster.setSample(x, y, 0, if (x % 2 == 0) 0 else 255)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // batch twin
    val probe = Seq((9001L, dup), (9002L, novel)).toDF("asset_id", "png")
    val batch = Multimodal.streamImageNearDup(probe, spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.exists(p => p._1 === 9001L && p._2 === 3L && p._3 === 0L),
      s"re-upload must match its source at hamming 0: ${batch.toSeq}")
    // the planted periodicity: asset 259 is pixel-identical to 3 → also 0
    assert(batch.exists(p => p._1 === 9001L && p._2 === 259L && p._3 === 0L))
    assert(!batch.exists(_._1 === 9002L), "novel image matches nothing")
    // streaming mode through a MemoryStream (at-least-once per band:
    // collapse repeats with toSet)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val query = Multimodal.streamImageNearDup(
        input.toDF().toDF("asset_id", "png"), spark, sfDir)
      .writeStream.format("memory").queryName("img_stream").start()
    try {
      input.addData((9001L, dup), (9002L, novel))
      query.processAllAvailable()
      val got = spark.table("img_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((9001L, 3L)) && !got.exists(_._1 == 9002L), got)
    } finally query.stop()
  }

  test("WAV round-trip is exact: decodePcm(renderWav(id)) == sample rule") {
    Seq(0L, 1L, 255L, 256L, 9999L).foreach { id =>
      val pcm = Multimodal.decodePcm(Multimodal.renderWav(id))
      assert(pcm.length === Multimodal.audioLen(id), s"clip length of $id")
      pcm.zipWithIndex.foreach { case (s, t) =>
        assert(s === Multimodal.sampleValue(id, t),
          s"sample $t of asset $id survived the codec")
      }
    }
  }

  test("audioMeta decodes real sample counts, peak, rms, zero crossings") {
    val rows = Multimodal.audioMeta(spark, sfDir).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === Multimodal.audioLen(id))
      assert(r.getLong(2) <= 32768L && r.getLong(2) >= 0L)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 32768.0)
      // every clip oscillates: the wrap-every-~8-samples ramp guarantees
      // sign flips in a ≥256-sample clip
      assert(r.getLong(4) > 0L && r.getLong(4) < r.getLong(1))
    }
    // spot-check one asset against a direct scalar computation
    val pcm = Multimodal.decodePcm(Multimodal.renderWav(7L))
    val expectRms = math.sqrt(pcm.map(s => s.toLong * s).sum.toDouble / pcm.length)
    val got = rows.find(_.getLong(0) === 7L).get
    assert(got.getDouble(3) === expectRms)
  }

  test("image near-dup rejects maxHamming > 3 (pigeonhole bound)") {
    // 4 bands of 16 bits guarantee a shared band only for <= 3 flipped
    // bits; a silent recall degradation at 4+ must be a loud error
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(spark, sfDir, maxHamming = 4)
    }
    assert(e1.getMessage.contains("pigeonhole"))
    val e2 = intercept[IllegalArgumentException] {
      Multimodal.streamImageNearDup(
        spark.read.parquet(s"$sfDir/documents.parquet"), spark, sfDir,
        maxHamming = 4)
    }
    assert(e2.getMessage.contains("pigeonhole"))
  }

  test("image near-dup: planted identical pairs surface at hamming 0; " +
      "candidates come from a banded equi-join, not a cartesian product") {
    val pairs = Multimodal.imageNearDupPairsRecompute(spark, sfDir,
      maxHamming = 2)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every id pair 256 apart (same image) must appear with hamming 0
    val planted = got.filter(p => p._2 - p._1 === 256L)
    assert(planted.nonEmpty)
    planted.foreach(p => assert(p._3 === 0L, s"pair $p"))
    // scale guard: no cartesian product in the plan (same contract as
    // the MinHash pair pipeline)
    val plan = pairs.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the materialized (build-once parquet index) path yields identical
    // pairs, reuses its directory across calls, and never re-decodes:
    // its plan carries no codec UDF, only the parquet scan of the index
    Artifacts.clear()
    val mat = Multimodal.imageNearDupPairs(spark, sfDir, maxHamming = 2)
    assert(mat.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq === got.sorted.toSeq)
    assert(!mat.queryExecution.sparkPlan.toString.contains("UDF"),
      "materialized join must read the index, not re-run the codec")
    val p1 = Multimodal.materializeDHashIndex(spark, sfDir)
    assert(Multimodal.materializeDHashIndex(spark, sfDir) === p1)
    Artifacts.clear()
    assert(!new java.io.File(p1).exists())
  }

  test("imageNearDupKeep == asset-level CC over the pair operator: one " +
      "min-id survivor per transitive cluster, singletons untouched, " +
      "and the quadratic side lives on DISTINCT hashes only") {
    try {
      val pairs = Multimodal.imageNearDupPairs(spark, sfDir,
        maxHamming = 2)
      val assets = Multimodal.imageDHash(spark, sfDir)
        .select("asset_id").collect().map(_.getLong(0)).toSet
      // reference: asset-level CC, drop non-min members
      val labels = Dedup.connectedComponents(pairs,
          aCol = "asset_a", bCol = "asset_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = assets.filter(a => labels.getOrElse(a, a) == a)
      val got = Multimodal.imageNearDupKeep(spark, sfDir)
        .select("asset_id").collect().map(_.getLong(0)).toSet
      assert(got === want,
        s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
      // scale shape: no cartesian/BNLJ anywhere in the keep plan
      val plan = Multimodal.imageNearDupKeep(spark, sfDir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
    } finally Artifacts.clear()
  }
}
