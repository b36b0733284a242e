package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.functions.TextFunctions._
import Fixtures._

/** Multimodal: binary payloads and their metadata (real header decode). */
object MultimodalQueries {
  val all: Seq[Q] = Seq(

    // ---- multimodal: binary payloads + metadata (real header decode) -----
    Q("q_multimodal_meta", oracleSql = """
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
             octet_length(encode(text)) +
               CASE WHEN doc_id % 3 = 0 THEN 33
                    WHEN doc_id % 3 = 1 THEN 44 ELSE 52 END AS size_bytes,
             CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS content_type
      FROM documents ORDER BY doc_id""",
      build = (s, d) =>
      Multimodal.withMeta(Multimodal.syntheticCorpus(t(s, d, "documents")))
        .select(col("id").as("doc_id"), col("modality"),
          col("meta.size_bytes").as("size_bytes"),
          col("meta.content_type").as("content_type"))
        .orderBy("doc_id")),
    // Real byte-level header parsing (PNG IHDR / WAV fmt+data / MP4 mvhd)
    // over synthesized-but-valid headers; the DuckDB oracle recomputes the
    // same metadata from the corpus construction rule, so every parsed
    // field is exact-value checked.
    // q_multimodal_decode: recompute the header fields the Spark side
    // PARSES out of the synthesized-but-valid PNG/WAV/MP4 bytes, from the
    // same construction rule (Multimodal.syntheticCorpus scaladoc)
    Q("q_multimodal_decode", oracleSql = """
      WITH f AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
               CASE WHEN doc_id % 3 = 0 THEN 16 * (1 + doc_id % 64)
                    ELSE 0 END AS width,
               CASE WHEN doc_id % 3 = 0 THEN
                      (CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END)
                    WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2
                    ELSE 0 END AS channels,
               CASE WHEN doc_id % 3 = 1 THEN
                      (octet_length(encode(text)) * 1000)
                        // (16000 * (1 + doc_id % 2) * 2)
                    WHEN doc_id % 3 = 2 THEN octet_length(encode(text)) * 40
                    ELSE 0 END AS duration_ms
        FROM documents)
      SELECT modality, count(*) AS n, round(avg(width), 4) AS avg_width,
             round(avg(channels), 4) AS avg_channels,
             round(avg(duration_ms), 4) AS avg_duration_ms
      FROM f GROUP BY modality ORDER BY modality""",
      build = (s, d) => {
      import org.apache.spark.sql.Encoders
      val corpus = Multimodal.syntheticCorpus(t(s, d, "documents"))
      Multimodal.decode(
          corpus.as[Multimodal.MediaRow](Encoders.product[Multimodal.MediaRow]))
        .groupBy("modality")
        .agg(count(lit(1)).as("n"), round(avg("width"), 4).as("avg_width"),
          round(avg("channels"), 4).as("avg_channels"),
          round(avg("durationMs"), 4).as("avg_duration_ms"))
        .orderBy("modality")
    }),
    // REAL codec decode under the exact oracle: every document id becomes a
    // complete spec-valid PNG (ImageIO-encoded, deterministic closed-form
    // pixels), decoded BACK through the ImageIO codec; the integer
    // channel-byte sums survive the round trip exactly, and DuckDB
    // recomputes them from the closed form — so a hash match proves the
    // decoder really read the IDAT rasters, not the construction rule.
    // Video frame sampling with REAL per-frame decode: each document is a
    // 6-frame container of complete PNGs; every 2nd frame (0,2,4) is
    // decoded through the ImageIO codec — unsampled frames are skipped by
    // length prefix, never decoded — and the sampled rasters' exact
    // channel-byte sums are hash-checked against DuckDB's closed-form
    // recomputation. A hash match proves the sampler really read the IDAT
    // rasters of exactly the sampled frames.
    // q_multimodal_pixels: recompute the per-image channel-byte sums from
    // the closed-form pixel rule (pixel (x,y,c) of image id =
    // (id + 7y + 13x + 101c) mod 256, dims 8·(1+id%16) × 8·(1+id%9)) —
    // the Spark side must arrive at the same integers by actually DECODING
    // the PNGs it encoded (Multimodal.pixelCorpus/decodeImage scaladoc)
    Q("q_multimodal_video", oracleSql = """
      WITH d AS (
        SELECT doc_id, 8*(1+doc_id%8) AS w, 8*(1+doc_id%5) AS h,
          list_sum(list_transform([0, 2, 4], f ->
            list_sum(list_transform(range(0, 8*(1+doc_id%5)), y ->
              list_sum(list_transform(range(0, 8*(1+doc_id%8)), x ->
                list_sum(list_transform(range(0, 3), c ->
                  (doc_id + 1000003*f + 7*y + 13*x + 101*c) % 256))))))))
            AS ps
        FROM documents)
      SELECT doc_id, CAST(3 AS BIGINT) AS n_sampled,
             CAST(w AS INT) AS w, CAST(h AS INT) AS h,
             CAST(ps AS BIGINT) AS sum_channel_bytes
      FROM d ORDER BY doc_id""",
      build = (s, d) => {
      Multimodal.sampleVideoFrames(
          Multimodal.videoCorpus(t(s, d, "documents"), nFrames = 6),
          stride = 2)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          max("width").as("w"), max("height").as("h"),
          sum("channel_sum").as("sum_channel_bytes"))
        .orderBy("doc_id")
    }),

    // Perceptual near-dup detection (dHash): REAL PNG decode → 9×8
    // floor-boundary block-mean luma grid → 64 row-gradient bits in two
    // 32-bit halves → Manku 4×16-bit block candidates (pigeonhole-
    // complete for hamming ≤ 3) → exact popcount verify. Every 7th doc
    // plants a brightness-shifted variant (same dims, pixel seed + 1)
    // through the real encoder; DuckDB replays decode via the closed
    // pixel formula and pins the FULL hamming ≤ 3 pair set — which also
    // independently proves banding completeness.
    // dHash near-dups replayed exactly from the closed pixel formula:
    // block means with NULL empty columns (w < 9), gradient bits, two
    // 32-bit halves, and the FULL all-pairs popcount <= 3 set (the
    // banded Spark path must recover exactly this — pigeonhole).
    Q("q_multimodal_phash", oracleSql = """
      WITH imgs AS (
        SELECT doc_id, doc_id AS seed,
               8*(1+doc_id%16) AS w, 8*(1+doc_id%9) AS h
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000, doc_id + 1,
               8*(1+doc_id%16), 8*(1+doc_id%9)
        FROM documents WHERE doc_id % 7 = 0),
      cells AS MATERIALIZED (
        SELECT i.doc_id, cy, cx,
          CASE WHEN (cx+1)*w//9 = cx*w//9 THEN NULL ELSE
            list_sum(list_transform(range(cy*h//8, (cy+1)*h//8), y ->
              list_sum(list_transform(range(cx*w//9, (cx+1)*w//9), x ->
                299*((i.seed + 7*y + 13*x) % 256) +
                587*((i.seed + 7*y + 13*x + 101) % 256) +
                114*((i.seed + 7*y + 13*x + 202) % 256)))))
            // (((cy+1)*h//8 - cy*h//8) * ((cx+1)*w//9 - cx*w//9))
          END AS cell
        FROM imgs i CROSS JOIN unnest(range(0,8)) t1(cy)
        CROSS JOIN unnest(range(0,9)) t2(cx)),
      bits AS (
        SELECT g1.doc_id, g1.cy*8 + g1.cx AS k,
               CASE WHEN g2.cell > g1.cell THEN 1 ELSE 0 END AS bit
        FROM cells g1 JOIN cells g2 ON g2.doc_id = g1.doc_id
          AND g2.cy = g1.cy AND g2.cx = g1.cx + 1),
      halves AS MATERIALIZED (
        SELECT doc_id,
          CAST(sum(CASE WHEN k < 32
            THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
            AS h_lo,
          CAST(sum(CASE WHEN k >= 32
            THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
            AS BIGINT) AS h_hi
        FROM bits GROUP BY 1)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(bit_count(xor(a.h_lo, b.h_lo)) +
                  bit_count(xor(a.h_hi, b.h_hi)) AS BIGINT) AS hamming
      FROM halves a JOIN halves b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h_lo, b.h_lo)) +
            bit_count(xor(a.h_hi, b.h_hi)) <= 3
      ORDER BY a_id, b_id""",
      build = (s, d) => withShufflePartitions(s, 8) {
      import graft.operators.Phash
      Phash.nearDupPairs(
          Phash.dHash(Phash.variantCorpus(t(s, d, "documents"))).toDF(),
          maxHamming = 3)
        .orderBy("a_id", "b_id")
    }),

    Q("q_multimodal_pixels", oracleSql = """
      WITH d AS (
        SELECT doc_id, 8*(1+doc_id%16) AS w, 8*(1+doc_id%9) AS h,
          list_sum(list_transform(range(0, 8*(1+doc_id%9)), y ->
            list_sum(list_transform(range(0, 8*(1+doc_id%16)), x ->
              list_sum(list_transform(range(0, 3), c ->
                (doc_id + 7*y + 13*x + 101*c) % 256)))))) AS ps
        FROM documents)
      SELECT doc_id % 4 AS grp, count(*) AS n,
             CAST(sum(w) AS BIGINT) AS sum_w,
             CAST(sum(h) AS BIGINT) AS sum_h,
             CAST(sum(w * h) AS BIGINT) AS sum_px,
             CAST(sum(ps) AS BIGINT) AS sum_channel_bytes
      FROM d GROUP BY 1 ORDER BY 1""",
      build = (s, d) => {
      Multimodal.decodeImage(Multimodal.pixelCorpus(t(s, d, "documents")))
        .groupBy((col("id") % 4).as("grp"))
        .agg(count(lit(1)).as("n"), sum("width").as("sum_w"),
          sum("height").as("sum_h"),
          sum(col("width") * col("height")).as("sum_px"),
          sum("pixSum").as("sum_channel_bytes"))
        .orderBy("grp")
    }),
    // REAL audio sample decode under the exact oracle: the synthetic WAVs
    // carry the document's UTF-8 bytes as 16-bit LE PCM, the Spark side
    // walks the RIFF chunks and reduces the ACTUAL data-chunk samples to
    // integer invariants, and DuckDB rebuilds the same samples from the
    // construction rule (hex-pair extraction) — a hash match proves the
    // decoder read the real PCM stream.
    // q_multimodal_audio: rebuild the 16-bit LE PCM samples from the UTF-8
    // text bytes (the synthetic WAV's data chunk) via hex-pair extraction,
    // and recompute the exact integer invariants the Spark decoder reports
    Q("q_multimodal_audio", oracleSql = """
      WITH b AS (SELECT doc_id, hex(encode(text)) AS h,
                        octet_length(encode(text)) AS n
                 FROM documents WHERE doc_id % 3 = 1),
      s AS (SELECT doc_id, n,
              list_transform(range(0, n // 2), i ->
                CAST(('0x' || substr(h, 4*i+3, 2) || substr(h, 4*i+1, 2))
                  AS INTEGER)) AS raw
            FROM b),
      v AS (SELECT doc_id, n, list_transform(raw, x ->
              CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) AS sm
            FROM s)
      SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS channels,
             CAST(n // 2 AS BIGINT) AS n_samples,
             CAST(coalesce(list_sum(list_transform(sm, x ->
               CAST(x AS BIGINT) * x)), 0) AS BIGINT) AS sum_sq,
             CAST(coalesce(list_max(list_transform(sm, x -> abs(x))), 0)
               AS INT) AS peak
      FROM v ORDER BY doc_id""",
      build = (s, d) => {
      import org.apache.spark.sql.Encoders
      val corpus = Multimodal.syntheticCorpus(t(s, d, "documents"))
        .filter(col("modality") === "audio")
      Multimodal.decodeAudio(
          corpus.as[Multimodal.MediaRow](Encoders.product[Multimodal.MediaRow]))
        .select(col("id").as("doc_id"), col("channels"),
          col("nSamples").as("n_samples"), col("sumSq").as("sum_sq"),
          col("peak"))
        .orderBy("doc_id")
    }),
  )
}
