package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOf, Dedup, Multimodal,
  RangeJoin, Relational, Similarity, TextOps}
import OracleLib._

/** Multimodal family: real image/audio/video codec
  * paths with codec-free oracles.
  *
  * Split out of the monolithic `graft.SparkEntry` (round 11): one module
  * per operator family, each holding the family's `queries` entries and
  * their DuckDB `oracleSql` twins. `SparkEntry` aggregates the modules;
  * `SparkEntrySpec` still guards queries↔oracle key parity on the
  * aggregate. Shared oracle SQL fragments live in [[OracleLib]].
  */
private[graft] object MultimodalEntries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LLM-pipeline: multimodal family
    "q_multimodal_meta" -> (Multimodal.assetMeta _),
    "q_frame_sample" -> ((s, d) => Multimodal.frameSample(s, d)
      .select(col("asset_id"), col("frame_no"), col("frame_len"))),
    // REAL image codec path (JDK ImageIO): the oracle recomputes every
    // value from the synthetic pixel rule WITHOUT a codec, so the hash
    // compare proves the PNG encode→decode round trips are exact
    "q_image_meta" -> (Multimodal.imageMeta _),
    "q_image_resize" -> ((s, d) => Multimodal.imageResize(s, d)),
    "q_image_dhash" -> (Multimodal.imageDHash _),
    "q_image_neardup" -> ((s, d) => Multimodal.imageNearDupPairs(s, d)),
    // linear-scale dedup form: distinct-dHash band join + CC, one
    // canonical asset per transitive near-dup cluster (the pair set is
    // output-quadratic on duplication-heavy corpora — see scaladoc)
    "q_image_keep" -> ((s, d) => Multimodal.imageNearDupKeep(s, d)),
    // REAL audio codec path (JDK javax.sound.sampled WAV): same
    // codec-free-oracle contract as the image family
    "q_audio_meta" -> (Multimodal.audioMeta _),
    // video: GFV1 container demux + REAL per-frame PNG decode
    "q_video_frames" -> (Multimodal.videoFrameStats _),
  )

  val oracleSql: Map[String, String] = Map(
    // frame sampling: the byte-slice arithmetic (step = len DIV n, start
    // = min(i·step, len−1), end = min(start+step, len)) re-derived from
    // strlen alone — no blob functions needed to check the sampler
    "q_frame_sample" ->
      ("SELECT doc_id AS asset_id, CAST(i AS INTEGER) AS frame_no, " +
        "CAST(least(least(i * step, len - 1) + step, len) - " +
        "least(i * step, len - 1) AS INTEGER) AS frame_len FROM " +
        "(SELECT doc_id, len, greatest(1, len // 4) AS step, " +
        "unnest(range(0, 4)) AS i FROM " +
        "(SELECT doc_id, strlen(text) AS len FROM documents " +
        "WHERE doc_id % 3 = 2)) t WHERE len > 0"),
    "q_multimodal_meta" ->
      ("SELECT doc_id AS asset_id, " +
        "CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' " +
        "WHEN 1 THEN 'audio' ELSE 'video' END AS modality, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST((doc_id * 7 + n_chars) % 1024 + 64 AS INTEGER) AS width, " +
        "CAST((doc_id * 13 + n_chars) % 768 + 64 AS INTEGER) AS height " +
        "FROM documents"),
    // real-codec image family: the oracle re-derives pixels from the
    // synthetic rule (pure integer arithmetic, no codec), pooled cells
    // as ONE exact-integer IEEE division — every value the Spark side
    // produces comes through TWO real PNG round-trips, so a hash match
    // here is a codec-exactness proof, not a tautology
    "q_image_meta" ->
      (imagePxCte +
        " SELECT asset_id, CAST(w AS BIGINT) AS width, " +
        "CAST(h AS BIGINT) AS height, " +
        "CAST(sum(g) AS DOUBLE) / count(*) AS mean_luma " +
        "FROM px GROUP BY asset_id, w, h"),
    "q_image_resize" ->
      (imagePxCte +
        ", cell AS (SELECT asset_id, y*8//h AS v, x*8//w AS u, " +
        "CAST(floor(CAST(sum(g) AS DOUBLE)/count(*)) AS BIGINT) AS gray " +
        "FROM px GROUP BY 1, 2, 3) " +
        "SELECT asset_id, CAST(v AS BIGINT) AS v, CAST(u AS BIGINT) AS u, " +
        "gray FROM cell"),
    "q_image_dhash" ->
      (imagePxCte + s", $imageDHashCte " +
        "SELECT asset_id, dhash_hi, dhash_lo FROM hs"),
    "q_image_neardup" ->
      (imagePxCte + s", $imageDHashCte " +
        "SELECT a.asset_id AS asset_a, b.asset_id AS asset_b, " +
        "CAST(bit_count(xor(a.dhash_hi, b.dhash_hi)) + " +
        "bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT) AS hamming " +
        "FROM hs a JOIN hs b ON a.asset_id < b.asset_id AND " +
        "(a.dhash_lo % 65536 = b.dhash_lo % 65536 OR " +
        "a.dhash_lo // 65536 = b.dhash_lo // 65536 OR " +
        "a.dhash_hi % 65536 = b.dhash_hi % 65536 OR " +
        "a.dhash_hi // 65536 = b.dhash_hi // 65536) " +
        "WHERE bit_count(xor(a.dhash_hi, b.dhash_hi)) + " +
        "bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 2"),
    // keep-filter: recursive closure over DISTINCT-hash edges (all-pairs
    // over distinct hashes is exactly the engine's banded join by the
    // 4-band pigeonhole), min asset per cluster survives — the oracle
    // mirrors the hash-level reduction, so it stays cheap even on a
    // duplication-heavy corpus where the pair oracle is output-quadratic
    "q_image_keep" ->
      (imagePxCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s", $imageDHashCte, " +
        "dh AS (SELECT dhash_hi, dhash_lo, min(asset_id) AS rep " +
        "FROM hs GROUP BY 1, 2), " +
        "e AS (SELECT a.rep AS ra, b.rep AS rb FROM dh a JOIN dh b " +
        "ON a.rep < b.rep AND " +
        "bit_count(xor(a.dhash_hi, b.dhash_hi)) + " +
        "bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 2), " +
        "edges AS (SELECT ra AS src, rb AS dst FROM e " +
        "UNION ALL SELECT rb, ra FROM e), " +
        "walk(v, u) AS (SELECT src, dst FROM edges " +
        "UNION SELECT w.v, e2.dst FROM walk w JOIN edges e2 " +
        "ON e2.src = w.u), " +
        "comp AS (SELECT v AS rep, least(v, min(u)) AS cl " +
        "FROM walk GROUP BY v), " +
        "lab AS (SELECT dh.dhash_hi, dh.dhash_lo, " +
        "coalesce(c.cl, dh.rep) AS keep_id FROM dh " +
        "LEFT JOIN comp c ON c.rep = dh.rep) " +
        "SELECT hs.asset_id, hs.dhash_hi, hs.dhash_lo FROM hs " +
        "JOIN lab ON lab.dhash_hi = hs.dhash_hi " +
        "AND lab.dhash_lo = hs.dhash_lo " +
        "WHERE hs.asset_id = lab.keep_id"),
    // per-frame video stats: frame rule re-derived in SQL (no codec) —
    // the Spark side demuxes the GFV1 container and PNG-decodes every
    // frame for real, so the hash match proves framing + codec exactness
    "q_video_frames" ->
      ("WITH px AS (SELECT d.doc_id AS asset_id, f.f AS f, " +
        "16 + d.doc_id % 16 AS w, 16 + d.doc_id % 8 AS h, " +
        "(d.doc_id*31 + f.f*17 + x.x*7 + y.y*13) % 256 AS g " +
        "FROM documents d, " +
        "unnest(range(0, 2 + d.doc_id % 4)) AS f(f), " +
        "unnest(range(0, 16 + d.doc_id % 16)) AS x(x), " +
        "unnest(range(0, 16 + d.doc_id % 8)) AS y(y)) " +
        "SELECT asset_id, CAST(f AS BIGINT) AS frame_no, " +
        "CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, " +
        "CAST(sum(g) AS DOUBLE) / count(*) AS mean_luma " +
        "FROM px GROUP BY asset_id, f, w, h"),
    // real-codec audio family: sample rule re-derived in SQL; peak/rms/
    // zero-crossings over the decoded PCM must match the rule exactly
    // (WAV is uncompressed 16-bit PCM — lossless round trip)
    "q_audio_meta" ->
      ("WITH sm AS (SELECT d.doc_id AS asset_id, t.t AS t, " +
        "(d.doc_id*31 + t.t*7919) % 65536 - 32768 AS s " +
        "FROM documents d, " +
        "unnest(range(0, 256 + d.doc_id % 256)) AS t(t)), " +
        "lagd AS (SELECT asset_id, t, s, " +
        "lag(s) OVER (PARTITION BY asset_id ORDER BY t) AS prev FROM sm) " +
        "SELECT asset_id, count(*) AS n_samples, " +
        "CAST(max(abs(s)) AS BIGINT) AS peak, " +
        "sqrt(CAST(sum(s*s) AS DOUBLE) / count(*)) AS rms, " +
        "CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (s < 0)) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings " +
        "FROM lagd GROUP BY asset_id"),
  )
}
