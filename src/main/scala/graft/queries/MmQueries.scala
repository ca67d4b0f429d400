package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Layout, Multimodal}

/** Multimodal (`mm_*`): image, audio and video-frame operators over
  * deterministic synthetic media derived from the fixtures: metadata,
  * resizing and resampling, frame sampling and scene cuts, perceptual
  * hashes and near-duplicates, audio energy and silence.
  */
object MmQueries {

  /** Shared CTE chain restating [[Multimodal.dHash64]] over the
    * [[Multimodal.gradientFixture]] cell function: per-cell grays →
    * adjacent-cell comparison bits → the signed-64 signature assembled
    * from two ≤31-bit halves (BIGINT shifts never overflow; the hi
    * half's sign handling reproduces two's-complement exactly).
    */
  private val phashSigCtes: String =
    """cells AS (
      |  SELECT d.doc_id, cx.cx, cy.cy,
      |    32 + ((d.doc_id // 2) * 7 + cx.cx * 5 + cy.cy * 3 +
      |          (d.doc_id % 2) *
      |          (CASE WHEN cx.cx = 4 AND cy.cy = 3 THEN 9 ELSE 0 END)) % 64
      |      AS g
      |  FROM documents d,
      |       (SELECT unnest(generate_series(0, 8)) AS cx) cx,
      |       (SELECT unnest(generate_series(0, 7)) AS cy) cy),
      |bits AS (
      |  SELECT a.doc_id, CAST(a.cy * 8 + a.cx AS BIGINT) AS k
      |  FROM cells a JOIN cells b
      |    ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      |  WHERE b.g > a.g),
      |halves AS (
      |  SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN b.k < 32 THEN 1::BIGINT << b.k END),
      |                  0) AS BIGINT) AS lo,
      |    CAST(coalesce(sum(CASE WHEN b.k >= 32
      |                           THEN 1::BIGINT << (b.k - 32) END),
      |                  0) AS BIGINT) AS hi
      |  FROM documents d LEFT JOIN bits b USING (doc_id)
      |  GROUP BY d.doc_id),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN hi >= 2147483648
      |              THEN (hi - 4294967296) * 4294967296 + lo
      |              ELSE hi * 4294967296 + lo END AS BIGINT) AS phash
      |  FROM halves)""".stripMargin

  val all: Seq[Q] = Seq(

    Q("mm_meta",
      "Multimodal metadata with a REAL image codec: each doc_id becomes a " +
        "genuine ImageIO-encoded solid-gray PNG (dimensions/fill are pure " +
        "functions of the id), then extractMeta decodes it with " +
        "javax.imageio and reports the decoded width/height/format and an " +
        "md5 over the raw pixel bytes. PNG is lossless, so DuckDB predicts " +
        "every decoded value without a codec: md5(repeat(chr(gray), w*h)).",
      (s, d) => Multimodal.extractMeta(
          Multimodal.imageFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "payload")
        .select(col("doc_id"), col("meta.width"), col("meta.height"),
          col("meta.format"), col("meta.pixel_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(4 + doc_id % 13 AS BIGINT) AS width,
             |  CAST(4 + (doc_id * 7) % 17 AS BIGINT) AS height,
             |  'png' AS format,
             |  md5(repeat(chr(CAST(32 + doc_id % 64 AS INT)),
             |      CAST((4 + doc_id % 13) * (4 + (doc_id * 7) % 17) AS INT)))
             |    AS pixel_md5
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    Q("mm_resize",
      "Multimodal resize with a REAL codec roundtrip: genuine solid-gray " +
        "PNG per doc_id → javax.imageio decode → Graphics2D bilinear " +
        "rescale to 16×16 → PNG re-encode → decode AGAIN for the reported " +
        "metadata. Bilinear over a constant image is that constant, so " +
        "DuckDB predicts the resized pixel md5 as md5(repeat(chr(gray), " +
        "256)) — the codec work is real, the expectation is constructed. " +
        "The codec stage reads byte-budget partitions " +
        "(Layout.repartitionByBytes), not row-count partitions, so " +
        "variable-size payloads can't produce straggler decode tasks.",
      (s, d) => Multimodal.resize(
          Layout.repartitionByBytes(
            Multimodal.imageFixture(
              Tables.documents(s, d).select(col("doc_id")), "doc_id"),
            "payload", targetBytes = 64L << 20),
          "payload", width = 16, height = 16)
        .select(col("doc_id"),
          col("resized_meta.width"), col("resized_meta.height"),
          col("resized_meta.format"), col("resized_meta.pixel_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
             |  'png' AS format,
             |  md5(repeat(chr(CAST(32 + doc_id % 64 AS INT)), 256)) AS pixel_md5
             |FROM documents
             |ORDER BY doc_id""".stripMargin)),

    Q("mm_frames",
      "Multimodal frame sampling with a REAL multi-frame decoder: each " +
        "doc_id becomes a genuine animated GIF (2-5 solid frames, fills " +
        "a pure function of (id, frame)), then javax.imageio's GIF " +
        "reader walks the sequence and every 2nd frame emits its DECODED " +
        "dimensions and an md5 over getRGB bytes — representation-proof " +
        "(palette-indexed and truecolor decodes hash identically), so " +
        "DuckDB predicts every frame as md5(repeat(chr(g), w*h*3)). " +
        "Frames decode over byte-budget partitions " +
        "(Layout.repartitionByBytes) — per-task codec work tracks bytes, " +
        "not row count.",
      (s, d) => Multimodal.sampleImageFrames(
          Layout.repartitionByBytes(
            Multimodal.gifFixture(
              Tables.documents(s, d).select(col("doc_id")), "doc_id"),
            "payload", targetBytes = 64L << 20),
          "doc_id", "payload", stride = 2)
        .orderBy("doc_id", "frame_no"),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    unnest(generate_series(0, CAST(2 + doc_id % 4 AS INT) - 1)) AS i
             |  FROM documents)
             |SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
             |  CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
             |  md5(repeat(chr(CAST(32 + (doc_id * 7 + i * 11) % 64 AS INT)),
             |      8 * 6 * 3)) AS rgb_md5
             |FROM f WHERE i % 2 = 0
             |ORDER BY doc_id, frame_no""".stripMargin)),

    Q("mm_phash",
      "Perceptual image hashing with a REAL codec: each doc_id becomes " +
        "a genuine 18x16 grayscale PNG of 2x2 constant cells (grays a " +
        "pure function of the id, consecutive id pairs near-identical " +
        "by construction), ImageIO decodes it, and dHash64 computes the " +
        "64-bit difference hash — integer luma, exact integer area " +
        "partition into a 9x8 grid, adjacent-cell mean comparisons via " +
        "cross-multiplied sums, no floating point anywhere. The fixture " +
        "makes each grid cell exactly one fixture cell, so DuckDB " +
        "restates the whole signature from the cell function without a " +
        "codec — the decode is real, the expectation is constructed.",
      (s, d) => Multimodal.perceptualHash(
          Multimodal.gradientFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "payload")
        .select(col("doc_id"), col("phash"))
        .orderBy("doc_id"),
      Some(s"""WITH $phashSigCtes
              |SELECT doc_id, phash FROM sig ORDER BY doc_id""".stripMargin)),

    Q("mm_neardup",
      "Image NEAR-DUPLICATE pairs — the multimodal analogue of MinHash " +
        "dedup: dHash64 signatures over the gradient fixture (planted: " +
        "each odd id differs from its even partner in ONE bumped cell, " +
        "<= 2 signature bits), paired by the SAME Hamming pigeonhole " +
        "blocking as dedup_simhash — 4 disjoint 16-bit chunks, " +
        "candidates from an equi-join on (chunk, value), never a cross " +
        "join, exact bit_count(xor) verify <= 3. The oracle computes " +
        "signatures from the cell function and brute-forces all pairs " +
        "— complete-recall blocking is the gated claim.",
      (s, d) => {
        val sig = Multimodal.perceptualHash(
            Multimodal.gradientFixture(
              Tables.documents(s, d).select(col("doc_id")), "doc_id"),
            "payload")
          .select(col("doc_id"), col("phash").as("simhash"))
        Dedup.simhashPairs(sig, "doc_id", maxHamming = 3, bits = 64)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $phashSigCtes
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
              |         AS hamming
              |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.phash, b.phash)) <= 3
              |ORDER BY id_a, id_b""".stripMargin)),

    Q("mm_audio_meta",
      "Multimodal AUDIO with a REAL codec: each doc_id becomes a " +
        "genuine RIFF/WAV container (AudioSystem-encoded PCM16 mono, " +
        "8 kHz, sample values and counts pure integer functions of the " +
        "id), javax.sound.sampled parses the header and streams the " +
        "frames, and audioMeta reports integer-EXACT signal stats: " +
        "n_samples, sum, sum of squares and zero crossings — the " +
        "content fingerprint a SQL oracle can predict for constructed " +
        "signals (an md5 of raw PCM bytes could not be restated " +
        "portably). The codec work is real, the expectations are " +
        "constructed — the mm_meta contract, audio edition.",
      (s, d) => Multimodal.audioMeta(
          Multimodal.wavFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "payload")
        .select(col("doc_id"), col("audio.sample_rate"),
          col("audio.n_samples"), col("audio.sum_samples"),
          col("audio.sum_squares"), col("audio.zero_crossings"))
        .orderBy("doc_id"),
      Some("""WITH s AS (
             |  SELECT d.doc_id, g.i,
             |    ((d.doc_id // 2) * 31 + g.i * 17) % 2001 - 1000
             |      + (d.doc_id % 2) *
             |        (CASE WHEN g.i // 8 = 7 THEN 25 ELSE 0 END) AS v
             |  FROM documents d, generate_series(0, 599) g(i)
             |  WHERE g.i < 400 + ((d.doc_id // 2) % 5) * 40)
             |SELECT doc_id,
             |  CAST(8000 AS BIGINT) AS sample_rate,
             |  count(*) AS n_samples,
             |  CAST(sum(v) AS BIGINT) AS sum_samples,
             |  CAST(sum(v * v) AS BIGINT) AS sum_squares,
             |  CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
             |             AND ((prev >= 0) <> (v >= 0)) THEN 1 END), 0)
             |       AS BIGINT) AS zero_crossings
             |FROM (SELECT doc_id, i, v,
             |        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
             |      FROM s)
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    Q("mm_audio_energy",
      "Frame-level audio energy — the feature-extraction shape every " +
        "VAD/quality gate starts from: decode the WAV fixture, split " +
        "into 160-sample frames (20 ms at 8 kHz, last frame ragged), " +
        "emit each frame's exact sum-of-squares. Decode runs batched " +
        "per partition; the oracle restates frames as i // 160 groups " +
        "over the sample function.",
      (s, d) => Multimodal.audioFrameEnergy(
          Multimodal.wavFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "doc_id", "payload")
        .orderBy("doc_id", "frame_no"),
      Some("""WITH s AS (
             |  SELECT d.doc_id, g.i,
             |    ((d.doc_id // 2) * 31 + g.i * 17) % 2001 - 1000
             |      + (d.doc_id % 2) *
             |        (CASE WHEN g.i // 8 = 7 THEN 25 ELSE 0 END) AS v
             |  FROM documents d, generate_series(0, 599) g(i)
             |  WHERE g.i < 400 + ((d.doc_id // 2) % 5) * 40)
             |SELECT doc_id, i // 160 AS frame_no,
             |  count(*) AS n_in_frame,
             |  CAST(sum(v * v) AS BIGINT) AS energy
             |FROM s
             |GROUP BY doc_id, frame_no
             |ORDER BY doc_id, frame_no""".stripMargin)),

    Q("mm_audio_resample",
      "Real audio RESAMPLE roundtrip (the mm_resize contract, audio " +
        "edition): decode the 8 kHz WAV fixture, linear-interpolate to " +
        "6 kHz with EXACT integer rational arithmetic (out(i) = " +
        "(s(lo)*(dst-r) + s(lo+1)*r) / dst truncated toward zero, lo = " +
        "i*src div dst, last sample clamped), re-encode as a genuine " +
        "WAV, decode AGAIN and report the integer-exact stats of the " +
        "re-decoded signal — the roundtrip proves the codec. Oracle " +
        "restates every interpolated sample from the fixture function.",
      (s, d) => Multimodal.audioResample(
          Multimodal.wavFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "payload", dstRate = 6000)
        .select(col("doc_id"), col("resampled_meta.sample_rate"),
          col("resampled_meta.n_samples"),
          col("resampled_meta.sum_samples"),
          col("resampled_meta.sum_squares"),
          col("resampled_meta.zero_crossings"))
        .orderBy("doc_id"),
      Some("""WITH s AS (
             |  SELECT d.doc_id, g.i,
             |    ((d.doc_id // 2) * 31 + g.i * 17) % 2001 - 1000
             |      + (d.doc_id % 2) *
             |        (CASE WHEN g.i // 8 = 7 THEN 25 ELSE 0 END) AS v
             |  FROM documents d, generate_series(0, 599) g(i)
             |  WHERE g.i < 400 + ((d.doc_id // 2) % 5) * 40),
             |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
             |oidx AS (
             |  SELECT n.doc_id, n.n,
             |    unnest(generate_series(0,
             |      CAST((n.n * 6000 + 7999) // 8000 AS INT) - 1)) AS i
             |  FROM n),
             |o AS (
             |  SELECT x.doc_id, x.i,
             |    (sa.v * (6000 - (x.i * 8000) % 6000)
             |     + sb.v * ((x.i * 8000) % 6000)) // 6000 AS v
             |  FROM oidx x
             |  JOIN s sa ON sa.doc_id = x.doc_id
             |    AND sa.i = least((x.i * 8000) // 6000, x.n - 1)
             |  JOIN s sb ON sb.doc_id = x.doc_id
             |    AND sb.i = least((x.i * 8000) // 6000 + 1, x.n - 1))
             |SELECT doc_id,
             |  CAST(6000 AS BIGINT) AS sample_rate,
             |  count(*) AS n_samples,
             |  CAST(sum(v) AS BIGINT) AS sum_samples,
             |  CAST(sum(v * v) AS BIGINT) AS sum_squares,
             |  CAST(coalesce(sum(CASE WHEN prev IS NOT NULL
             |             AND ((prev >= 0) <> (v >= 0)) THEN 1 END), 0)
             |       AS BIGINT) AS zero_crossings
             |FROM (SELECT doc_id, i, v,
             |        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
             |      FROM o)
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    Q("mm_audio_neardup",
      "Audio NEAR-DUPLICATE pairs — near-dup completed across all three " +
        "modalities (text SimHash, image dHash, now audio): the 64-bit " +
        "energy-delta hash (bit f set iff the exact 8-sample frame " +
        "energy rises from frame f to f+1 — lossless under PCM " +
        "re-encode, invariant to uniform gain, local edits flip only " +
        "their frames' bits) over the WAV fixture, whose consecutive " +
        "id pairs share the signal up to one bumped frame (<= 2 bits), " +
        "paired by the SAME 64-bit Hamming pigeonhole equi-join as " +
        "mm_neardup. Oracle: frame energies, delta bits and the " +
        "two-halves signed signature restated from the sample " +
        "function, brute-force pair join.",
      (s, d) => {
        val sig = Multimodal.audioDHash(
            Multimodal.wavFixture(
              Tables.documents(s, d).select(col("doc_id")), "doc_id"),
            "payload")
          .select(col("doc_id"), col("ahash").as("simhash"))
        Dedup.simhashPairs(sig, "doc_id", maxHamming = 3, bits = 64)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH s AS (
             |  SELECT d.doc_id, g.i,
             |    ((d.doc_id // 2) * 31 + g.i * 17) % 2001 - 1000
             |      + (d.doc_id % 2) *
             |        (CASE WHEN g.i // 8 = 7 THEN 25 ELSE 0 END) AS v
             |  FROM documents d, generate_series(0, 599) g(i)
             |  WHERE g.i < 400 + ((d.doc_id // 2) % 5) * 40),
             |e AS (
             |  SELECT doc_id, i // 8 AS f, CAST(sum(v * v) AS BIGINT) AS en
             |  FROM s GROUP BY 1, 2),
             |bits AS (
             |  SELECT a.doc_id, CAST(a.f AS BIGINT) AS k
             |  FROM e a JOIN e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
             |  WHERE b.en > a.en AND a.f < 64),
             |halves AS (
             |  SELECT d.doc_id,
             |    CAST(coalesce(sum(CASE WHEN b.k < 32 THEN 1::BIGINT << b.k END),
             |                  0) AS BIGINT) AS lo,
             |    CAST(coalesce(sum(CASE WHEN b.k >= 32
             |                           THEN 1::BIGINT << (b.k - 32) END),
             |                  0) AS BIGINT) AS hi
             |  FROM documents d LEFT JOIN bits b USING (doc_id)
             |  GROUP BY d.doc_id),
             |sig AS (
             |  SELECT doc_id,
             |    CAST(CASE WHEN hi >= 2147483648
             |              THEN (hi - 4294967296) * 4294967296 + lo
             |              ELSE hi * 4294967296 + lo END AS BIGINT) AS ahash
             |  FROM halves)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT)
             |         AS hamming
             |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    Q("mm_pipeline",
      "The MULTIMODAL CURATION FLAGSHIP — the ops composing end-to-end " +
        "the way an image-corpus curation run chains them: real PNG " +
        "decode -> integer-exact brightness gate (sum of fixed-point " +
        "lumas >= threshold — the exposure/quality filter) -> dHash64 " +
        "signatures -> Hamming pigeonhole near-dup pairs among the " +
        "SURVIVING images only -> connected components -> min-id " +
        "survivor per cluster (singletons are their own cluster). One " +
        "lazy plan up to the CC driver loop; the gate and the hash ride " +
        "the same decode pass. The pair stage runs simhashPairs in " +
        "CAPPED mode (maxChunkDf = 256): the round-12 100x probe " +
        "measured the exact-mode pigeonhole going quadratic when " +
        "signature density grows (2.4 GB shuffle at 10x, on track for " +
        "~240 GB at 100x). The cap degrades an oversized chunk group " +
        "to an id-ordered chain — O(group) pairs instead of " +
        "O(group^2). Approximation honesty: for a group of IDENTICAL " +
        "signatures (the mass-duplicate case the cap targets) " +
        "components are unchanged; for a group of merely-similar " +
        "signatures the chain may MERGE clusters exact mode keeps " +
        "apart (chain pairs keep their true hamming and are not " +
        "re-filtered — dropping them would disconnect the group), so " +
        "capped mode over-merges, never splits: acceptable for a " +
        "dedup CLUSTERING consumer (conservative — at worst it " +
        "removes extra near-dups), wrong for pair-level verify " +
        "consumers, which must use exact mode. At fixture scale no " +
        "group reaches the cap, so capped == exact and the oracle " +
        "stays bit-identical. " +
        "Oracle: the whole chain restated — cell lumas, gate, " +
        "signatures, brute-force pairs, recursive-CTE reachability.",
      (s, d) => {
        val imgs = Multimodal.perceptualHash(
          Multimodal.imageLumaStats(
            Multimodal.gradientFixture(
              Tables.documents(s, d).select(col("doc_id")), "doc_id"),
            "payload"),
          "payload")
        val gated = graft.core.Caches.track(
          imgs.filter(col("sum_luma") >= 18144000L)
            .select(col("doc_id"), col("phash").as("simhash")))
        val pairs = Dedup.simhashPairs(gated, "doc_id", maxHamming = 3,
          bits = 64, maxChunkDf = 256)
        val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
        gated.select(col("doc_id"))
          .join(cc.select(col("id").as("doc_id"),
            col("label").as("cluster")), Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("is_survivor", col("doc_id") === col("cluster"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $phashSigCtes,
              |lum AS (
              |  SELECT doc_id, CAST(sum(4000 * g) AS BIGINT) AS sum_luma
              |  FROM cells GROUP BY doc_id),
              |gated AS (
              |  SELECT doc_id FROM lum WHERE sum_luma >= 18144000),
              |gsig AS (
              |  SELECT s.doc_id, s.phash FROM sig s JOIN gated USING (doc_id)),
              |gpairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM gsig a JOIN gsig b ON a.doc_id < b.doc_id
              |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
              |edges AS (
              |  SELECT id_a AS src, id_b AS dst FROM gpairs
              |  UNION SELECT id_b, id_a FROM gpairs),
              |reach AS (
              |  SELECT src AS id, src AS lab FROM edges
              |  UNION
              |  SELECT e.dst AS id, r.lab FROM reach r
              |  JOIN edges e ON e.src = r.id),
              |cc AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
              |fullset AS (
              |  SELECT g.doc_id, coalesce(cc.cluster, g.doc_id) AS cluster
              |  FROM gated g LEFT JOIN cc ON cc.id = g.doc_id)
              |SELECT doc_id, cluster,
              |       count(*) OVER (PARTITION BY cluster) AS cluster_size,
              |       doc_id = cluster AS is_survivor
              |FROM fullset ORDER BY doc_id""".stripMargin)),

    Q("mm_scenecut",
      "Video scene-cut detection with a REAL multi-frame decoder: the " +
        "animated-GIF fixture decodes per frame into an exact integer " +
        "RGB energy, and a cut is a frame whose mean per-pixel gray " +
        "jumps >= 16 levels from its predecessor - compared as " +
        "|dE| >= 16*3*n_pixels, cross-multiplied integers, no " +
        "division. Per video: frames, cuts, first cut frame (the " +
        "fixture's mod-64 gray walk wraps at deterministic frames - " +
        "|delta| is 11 or 53, so the 16 threshold detects exactly the " +
        "wraps). One per-id window lag + one keyed aggregate.",
      (s, d) => Multimodal.sceneCuts(
        Multimodal.frameEnergies(
          Multimodal.gifFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "doc_id", "payload"),
        "doc_id", threshold = 16),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    unnest(generate_series(0,
             |      CAST(2 + doc_id % 4 AS INT) - 1)) AS i
             |  FROM documents),
             |e AS (
             |  SELECT doc_id, i,
             |    CAST(3 * 48 * (32 + (doc_id * 7 + i * 11) % 64)
             |      AS BIGINT) AS energy
             |  FROM f),
             |d AS (
             |  SELECT doc_id, i,
             |    abs(energy - lag(energy) OVER (PARTITION BY doc_id
             |      ORDER BY i)) AS de
             |  FROM e)
             |SELECT doc_id, count(*) AS n_frames,
             |  CAST(sum(CASE WHEN de >= 16 * 3 * 48 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_cuts,
             |  min(CASE WHEN de >= 16 * 3 * 48 THEN i END) AS first_cut
             |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("mm_audio_silence",
      "Silence-span structure over the real-codec WAV fixture - the " +
        "audio pass a speech pipeline runs before chunking (cut at " +
        "silences, not mid-word): 40-sample frames from the decoded " +
        "PCM, a frame is silent when energy < 300000 * n_in_frame " +
        "(mean per-sample energy, cross-multiplied integers), runs " +
        "collapse via the gaps-and-islands trick (frame_no - " +
        "row_number constant per run). Per clip: frames, silent " +
        "frames, span count, longest span - all exact integers from " +
        "the decode.",
      (s, d) => Multimodal.silenceReport(
        Multimodal.audioFrameEnergy(
          Multimodal.wavFixture(
            Tables.documents(s, d).select(col("doc_id")), "doc_id"),
          "doc_id", "payload", frameSize = 40),
        "doc_id", threshold = 300000L),
      Some("""WITH s AS (
             |  SELECT d.doc_id, g.i,
             |    ((d.doc_id // 2) * 31 + g.i * 17) % 2001 - 1000
             |      + (d.doc_id % 2) *
             |        (CASE WHEN g.i // 8 = 7 THEN 25 ELSE 0 END) AS v
             |  FROM documents d, generate_series(0, 599) g(i)
             |  WHERE g.i < 400 + ((d.doc_id // 2) % 5) * 40),
             |fr AS (
             |  SELECT doc_id, i // 40 AS frame_no, count(*) AS n,
             |    sum(v * v) AS e
             |  FROM s GROUP BY doc_id, frame_no),
             |sil AS (
             |  SELECT doc_id, frame_no,
             |    CASE WHEN e < 300000 * n THEN 1 ELSE 0 END AS sl
             |  FROM fr),
             |isl AS (
             |  SELECT doc_id, frame_no,
             |    frame_no - row_number() OVER (PARTITION BY doc_id
             |      ORDER BY frame_no) AS grp
             |  FROM sil WHERE sl = 1),
             |spans AS (
             |  SELECT doc_id, grp, count(*) AS len FROM isl
             |  GROUP BY doc_id, grp),
             |agg AS (
             |  SELECT doc_id, count(*) AS n_spans,
             |    CAST(max(len) AS BIGINT) AS longest FROM spans
             |  GROUP BY doc_id)
             |SELECT sil.doc_id, count(*) AS n_frames,
             |  CAST(sum(sl) AS BIGINT) AS n_silent,
             |  COALESCE(any_value(a.n_spans), 0) AS n_spans,
             |  COALESCE(any_value(a.longest), 0) AS longest_span
             |FROM sil LEFT JOIN agg a ON a.doc_id = sil.doc_id
             |GROUP BY sil.doc_id ORDER BY sil.doc_id""".stripMargin))
  )
}
