package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.Q.t
import graft.Fence.FenceOps

/** Multimodal plumbing: media as opaque `binary` columns with typed
  * metadata, decoded partition-locally with a REAL codec
  * (`javax.imageio.ImageIO`). Test media are deterministic synthetic
  * grayscale PNGs derived from `doc_id`
  * ([[graft.multimodal.MediaPipeline.synthPng]]), so the oracle can
  * recompute every decoded statistic from the generating formula in
  * pure SQL — certifying the encode→decode round trip without DuckDB
  * ever parsing a PNG.
  */
object MultimodalQueries {

  private val qMeta = Q("q_multimodal_meta",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
      |  CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height,
      |  hex(encode(substr(text, 1, 4))) AS magic
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bin = col("text").cast("binary")
    val n = length(bin).cast("long")
    t(s, d, "documents").select(
      col("doc_id"),
      n.as("n_bytes"),
      (n % 640).cast("int").as("fake_width"),
      ((n * 7) % 480).cast("int").as("fake_height"),
      hex(substring(col("text"), 1, 4).cast("binary")).as("magic"))
      .orderBy(col("doc_id"))
  }

  /** The partition-local batch-decode path (MediaPipeline
    * .extractFeatures over mapPartitions — the Scala analog of a
    * mapInPandas decode stage): synthesize a real PNG per document,
    * decode it back with ImageIO, emit per-image channel statistics.
    * The oracle recomputes width/height/brightness/min/max from the
    * synthetic images' closed form (pixel i of doc j is
    * (j·31 + i) mod 256), so a hash match proves the JVM encode →
    * binary column → decode → feature path is pixel-exact. Integer
    * sums throughout; ONE double division at the end, rounded to 6 dp
    * identically on both engines. */
  private val qFeatures = Q("q_multimodal_features",
    """WITH px AS (
      |  SELECT doc_id,
      |    CAST(doc_id % 13 + 4 AS INT) AS width,
      |    CAST(doc_id % 7 + 3 AS INT) AS height,
      |    unnest(range(0, (doc_id % 13 + 4) * (doc_id % 7 + 3))) AS i
      |  FROM documents),
      |v AS (SELECT doc_id, width, height, (doc_id * 31 + i) % 256 AS v FROM px)
      |SELECT doc_id, width, height,
      |  round(CAST(sum(v) AS DOUBLE) / (width * height * 255.0), 6) AS brightness,
      |  CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
      |FROM v GROUP BY doc_id, width, height
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.multimodal.MediaPipeline
    MediaPipeline.extractFeatures(s, MediaPipeline.toMediaPng(s, t(s, d, "documents")))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"),
        round(col("brightness"), 6).as("brightness"),
        col("px_min"), col("px_max"))
      .orderBy(col("doc_id"))
  }

  /** Pigeonhole segmentation of the 64-bit dHash: Hamming ≤ 4 →
    * 5 segments, at least one bit-identical per qualifying pair
    * (Manku et al., WWW'07 §3 — same operator as
    * `q_dedup_simhash_pairs`, shared via
    * [[graft.operators.Pigeonhole]]). */
  private val PhashHamMax = 4
  private val ph = graft.operators.Pigeonhole(64, PhashHamMax)

  /** The textured-image dHash grid, recomputed in pure SQL from the
    * generating formula ([[graft.multimodal.MediaPipeline
    * .phashGridVal]]) — integer arithmetic only, so it bit-matches
    * the engine's decode of the real PNGs. Bit 63 cannot be built by
    * `1::BIGINT << 63` in DuckDB (overflow error), so it gets the
    * signed-min literal — the same two's-complement value Scala's
    * `1L << 63` wraps to. */
  private val phashSigCtes: String =
    """cells AS (
      |  SELECT doc_id, CAST(xs.r AS BIGINT) AS x, CAST(ys.r AS BIGINT) AS y
      |  FROM documents, range(0, 9) AS xs(r), range(0, 8) AS ys(r)),
      |g AS (
      |  SELECT doc_id, x, y,
      |    ((doc_id // 4) * (x*7 + y*11 + 13)
      |     + ((doc_id // 4) // 256) * (x*17 + y*23 + 29)
      |     + x*x*5 + y*y*3
      |     + CASE WHEN (doc_id % 7 = 0 AND y = (doc_id % 72) // 9)
      |              OR (doc_id % 7 <> 0 AND x = (doc_id % 72) % 9
      |                  AND y = (doc_id % 72) // 9)
      |            THEN 128 ELSE 0 END) % 256 AS v
      |  FROM cells),
      |bits AS (
      |  SELECT l.doc_id, l.y * 8 + l.x AS k
      |  FROM g l JOIN g r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
      |  WHERE l.x < 8 AND l.v < r.v),
      |sig AS (
      |  SELECT d.doc_id,
      |    coalesce(bit_or(CASE WHEN b.k = 63
      |                         THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |                         ELSE CAST(1 AS BIGINT) << CAST(b.k AS INT) END),
      |             CAST(0 AS BIGINT)) AS phash
      |  FROM documents d LEFT JOIN bits b USING (doc_id)
      |  GROUP BY d.doc_id)""".stripMargin

  /** Perceptual-hash image dedup: REAL PNG decode → 64-bit dHash
    * (Krawetz, "Kind of Like That", 2013) → pigeonhole-banded
    * candidate pairs at Hamming ≤ 4. The media are the textured
    * synthetic family ([[graft.multimodal.MediaPipeline
    * .synthTexturedPng]]): groups of 4 consecutive doc_ids share a
    * base pattern shipped at 3 different resolutions, so the SAME
    * image content dedups across resizes — the defining perceptual
    * property byte-level dedup cannot see. The oracle recomputes every
    * hash from the integer closed form without decoding a PNG; a hash
    * match therefore certifies encode → binary column → partition-
    * local decode → NN-resample → dHash end to end.
    *
    * Scale shape: payload bytes never shuffle — only (doc_id, 8-byte
    * phash) leaves the decode stage; banding replaces the all-pairs
    * self-join with an equi-join on (segment, segment value), exact-
    * recall at the Hamming cut by the pigeonhole argument; the
    * first-matching-segment predicate dedups k-fold candidate hits
    * inside codegen with zero extra exchanges (same design as
    * `q_dedup_simhash_pairs`). */
  /** Unique banded CANDIDATE pairs (a_id < b_id, ≥ 1 bit-identical
    * segment, deduped to the first matching segment) BEFORE the
    * Hamming verify, with both signatures attached. PLANS.md
    * "Media-family scale probe (round 9)" records the candidate
    * volume the pigeonhole join generates against the all-pairs
    * count it avoids. */
  /** (doc_id, phash) over the textured corpus — ONE decode pass,
    * checkpointed so every consumer joins the 16-byte/row signature
    * table instead of re-decoding. */
  private[graft] def phashSig(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import graft.multimodal.MediaPipeline
    MediaPipeline.phashOf(s,
        MediaPipeline.toTexturedMediaPng(s, t(s, d, "documents")))
      .toDF().fenced()
  }

  private[graft] def phashCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // decode once, reuse on both join sides (the encode+decode is the
    // expensive stage; the signature table is 16 bytes/row)
    val sig = phashSig(s, d)
    val seg = explode(array((0 until ph.segments).map(j =>
      struct(lit(j).as("seg"), ph.segmentValue(col("phash"), j).as("sv"))): _*))
    val bands = sig.select(col("doc_id"), col("phash"), seg.as("b"))
      .select(col("doc_id"), col("phash"),
        col("b.seg").as("seg"), col("b.sv").as("sv"))
    def segEq(j: Int) =
      ph.segmentValue(col("sa"), j) === ph.segmentValue(col("sb"), j)
    val earlierMatch = (0 until ph.segments - 1)
      .map(j => col("seg") > j && segEq(j))
      .reduce(_ || _)
    bands
      .select(col("doc_id").as("a_id"), col("seg"), col("sv"),
        col("phash").as("sa"))
      .join(bands.select(col("doc_id").as("b_id"), col("seg").as("seg2"),
        col("sv").as("sv2"), col("phash").as("sb")),
        col("seg") === col("seg2") && col("sv") === col("sv2") &&
          col("a_id") < col("b_id"))
      .where(!earlierMatch)
  }

  /** Banded near-dup pair generation over the decoded dHashes:
    * (a_id, b_id, hamming), a_id < b_id, Hamming ≤ [[PhashHamMax]] —
    * shared by the pair query and the cluster-resolution manifest. */
  private def phashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val ham = bit_count(col("sa").bitwiseXOR(col("sb")))
    phashCandidates(s, d)
      .where(ham <= PhashHamMax)
      .select(col("a_id"), col("b_id"), ham.cast("int").as("hamming"))
  }

  private val qDedupPhash = Q("q_dedup_phash",
    s"""WITH $phashSigCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamMax
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    phashPairs(s, d).orderBy(col("a_id"), col("b_id"))
  }

  /** `q_dedup_phash` re-run through the WIDENED pigeonhole banding
    * ([[graft.operators.Pigeonhole]] s=6/c=2: keys = both segments of
    * every 2-subset of 6 segments concatenated, ~21-bit join keys) —
    * the measured knob for corpora where the default banding's random
    * collision mass pushes the verify stage to dominance
    * (3.5× fewer collisions for 3× banding fanout at sf1, PLANS.md
    * "Round-10: pigeonhole segment-width knob — measured"). Exact
    * recall is a theorem (≥ s−h clean segments ⇒ one clean 2-subset),
    * so the oracle is UNCHANGED — the identical all-pairs SQL as
    * `q_dedup_phash`; a
    * hash match proves the widened candidate generation loses no
    * pair. K-fold candidate hits dedup by first matching combo, the
    * same codegen predicate pattern as the default banding. */
  private val phWide = graft.operators.Pigeonhole(64, PhashHamMax, 6)

  private val qDedupPhashWide = Q("q_dedup_phash_wide",
    s"""WITH $phashSigCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamMax
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val sig = phashSig(s, d)
    val combo = explode(array(phWide.combos.indices.map(ix =>
      struct(lit(ix).as("cx"), phWide.comboValue(col("phash"), ix).as("cv"))): _*))
    val bands = sig.select(col("doc_id"), col("phash"), combo.as("b"))
      .select(col("doc_id"), col("phash"),
        col("b.cx").as("cx"), col("b.cv").as("cv"))
    def comboEq(ix: Int) =
      phWide.comboValue(col("sa"), ix) === phWide.comboValue(col("sb"), ix)
    val earlierMatch = (0 until phWide.combos.size - 1)
      .map(ix => col("cx") > ix && comboEq(ix))
      .reduce(_ || _)
    val ham = bit_count(col("sa").bitwiseXOR(col("sb")))
    bands.select(col("doc_id").as("a_id"), col("cx"), col("cv"),
        col("phash").as("sa"))
      .join(bands.select(col("doc_id").as("b_id"), col("cx").as("cx2"),
        col("cv").as("cv2"), col("phash").as("sb")),
        col("cx") === col("cx2") && col("cv") === col("cv2") &&
          col("a_id") < col("b_id"))
      .where(!earlierMatch && ham <= PhashHamMax)
      .select(col("a_id"), col("b_id"), ham.cast("int").as("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** The image-dedup MANIFEST a corpus build ships: every document
    * resolved to its perceptual-duplicate cluster (singletons
    * included), keeper = smallest doc_id, `keep` the drop decision.
    * Composition: banded dHash pairs → connected components
    * (diameter-independent alternating-star, the same
    * [[graft.operators.ConnectedComponents]] operator as
    * `q_dedup_cc_star`) → corpus left-join. Scale shape: the CC loop
    * shuffles only the (tiny) pair graph, never the corpus; the final
    * labels join is a shuffled equi-join on unique doc_id —
    * deliberately NOT broadcast, labels are corpus-scaled at a
    * realistic dup rate. Oracle: recursive transitive closure over
    * the closed-form pair graph + min label. */
  private val qDedupPhashCc = Q("q_dedup_phash_cc",
    s"""WITH RECURSIVE $phashSigCtes,
       |pairs AS (
       |  SELECT a.doc_id AS ai, b.doc_id AS bi
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamMax),
       |e2 AS (SELECT ai AS s, bi AS t FROM pairs
       |       UNION ALL SELECT bi, ai FROM pairs),
       |reach(s, t) AS (
       |  SELECT s, t FROM e2
       |  UNION
       |  SELECT r.s, e.t FROM reach r JOIN e2 e ON r.t = e.s),
       |lbl AS (SELECT s AS doc_id, least(s, min(t)) AS cluster_id
       |        FROM reach GROUP BY s)
       |SELECT d.doc_id,
       |  CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       |  coalesce(l.cluster_id, d.doc_id) = d.doc_id AS keep
       |FROM documents d LEFT JOIN lbl l USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val edges = phashPairs(s, d)
      .select(col("a_id").as("ai"), col("b_id").as("bi")).fenced()
    val labels = graft.operators.ConnectedComponents.resolveAlternating(edges)
      .select(col("id").as("doc_id"), col("lbl").cast("long").as("cid"))
    t(s, d, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cid"), col("doc_id")) === col("doc_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Frame-sampling geometry (shared with
    * [[graft.multimodal.MediaPipeline.frameOffsets]]): complete
    * [[FrameChars]]-wide frames only, every [[FrameEveryK]]-th kept. */
  private val FrameChars = 64
  private val FrameEveryK = 3

  /** Deterministic frame sampling over an opaque payload column — the
    * video-pipeline plumbing shape (decode stubbed: the payload is the
    * document text, the "frame" a fixed-width segment, the per-frame
    * feature a portable 60-bit content digest). Every k-th complete
    * frame is kept ([[graft.multimodal.MediaPipeline.frameOffsets]]'s
    * kernel, spec-pinned equivalent in MultimodalSpec).
    *
    * Scale shape: a pure per-row explode in the scan stage — the
    * payload never shuffles; only (doc_id, frame_ix, 8-byte digest)
    * rows exist after the projection, so a 100 TB video corpus moves
    * k-sampled digests, not frames. No exchange before the
    * presentation sort. */
  private val qFrames = Q("q_multimodal_frames",
    s"""WITH f AS (
       |  SELECT doc_id, text, length(text) // $FrameChars AS nf FROM documents),
       |ix AS (
       |  SELECT doc_id, text,
       |    CAST(unnest(range(0, nf, $FrameEveryK)) AS BIGINT) AS frame_ix
       |  FROM f WHERE nf > 0)
       |SELECT doc_id, frame_ix,
       |  ('0x'||substr(md5(substr(text, CAST(frame_ix*$FrameChars+1 AS INT), $FrameChars)),1,15))::BIGINT AS frame_sig
       |FROM ix ORDER BY doc_id, frame_ix""".stripMargin) { (s, d) =>
    import graft.functions.PortableHash
    val nf = floor(char_length(col("text")) / FrameChars)
    t(s, d, "documents")
      .select(col("doc_id"), col("text"), nf.as("nf"))
      .where(col("nf") > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("nf") - 1L, lit(FrameEveryK.toLong)))
          .as("frame_ix"))
      .select(col("doc_id"), col("frame_ix"),
        PortableHash.md5Long(
          col("text").substr(col("frame_ix") * FrameChars + 1, lit(FrameChars)))
          .as("frame_sig"))
      .orderBy(col("doc_id"), col("frame_ix"))
  }

  /** Audio modality: REAL RIFF/WAVE round trip via the JDK codec
    * (`javax.sound.sampled` — pure PCM parsing, headless-safe),
    * decoded partition-locally like the image path. Test clips are
    * deterministic synthetic PCM (sample i of doc j =
    * (j·37 + i·251) mod 65536 − 32768), so the oracle recomputes
    * every decoded statistic — peak amplitude, strict-sign zero
    * crossings, normalized RMS — from the closed form in pure SQL; a
    * hash match certifies the encode → binary column → decode →
    * feature path sample-exactly. Integer sums throughout, one
    * sqrt+division at the end under the shared round(…,6) discipline. */
  private val qAudio = Q("q_multimodal_audio",
    """WITH px AS (
      |  SELECT doc_id, CAST(doc_id % 500 + 100 AS BIGINT) AS n,
      |    CAST(unnest(range(0, doc_id % 500 + 100)) AS BIGINT) AS i
      |  FROM documents),
      |v AS (SELECT doc_id, n, i,
      |        (doc_id*37 + i*251) % 65536 - 32768 AS s FROM px),
      |w AS (SELECT doc_id, n, i, s,
      |        lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS sp FROM v)
      |SELECT doc_id, CAST(n AS INT) AS n_samples,
      |  CAST(max(abs(s)) AS INT) AS peak,
      |  CAST(coalesce(sum(CASE WHEN s * sp < 0 THEN 1 END), 0) AS BIGINT) AS zero_cross,
      |  round(sqrt(CAST(sum(s*s) AS DOUBLE) / n) / 32768.0, 6) AS rms
      |FROM w GROUP BY doc_id, n ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.multimodal.MediaPipeline
    MediaPipeline.extractAudioFeatures(s,
        MediaPipeline.toAudioWav(s, t(s, d, "documents")))
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("peak"),
        col("zero_cross"), round(col("rms"), 6).as("rms"))
      .orderBy(col("doc_id"))
  }

  /** The acoustic fingerprint recomputed in pure SQL from the
    * clip-generating formula ([[graft.multimodal.MediaPipeline
    * .groupWavAmp]]): the mixed per-frame amplitudes, squared-
    * amplitude (energy) comparisons between successive frames, bits
    * packed with the same bit-63 signed-min special case as the
    * phash CTE. All BIGINT-safe: every multiply is bounded by
    * 2147483646·2654435761 < 2^63, so DuckDB (which errors on
    * BIGINT overflow rather than wrapping) evaluates the identical
    * arithmetic the Scala synthesizer's wrapping Longs do. */
  private val afpSigCtes: String =
    """frames AS (
      |  SELECT doc_id, doc_id // 4 AS g, CAST(doc_id % 4 AS BIGINT) AS v,
      |         CAST(fr.r AS BIGINT) AS f
      |  FROM documents, range(0, 65) AS fr(r)),
      |mx0 AS (
      |  SELECT doc_id, g, v, f,
      |    ((g % 2147483647) * 2654435761 + f * 40503 + 99991) % 2147483647 AS h0
      |  FROM frames),
      |mx1 AS (SELECT doc_id, g, v, f,
      |          xor((h0 * 48271) % 2147483647,
      |              ((h0 * 48271) % 2147483647) >> 13) AS h1 FROM mx0),
      |mx2 AS (SELECT doc_id, g, v, f,
      |          xor((h1 * 16807) % 2147483647,
      |              ((h1 * 16807) % 2147483647) >> 11) AS h2 FROM mx1),
      |mx3 AS (SELECT doc_id, g, v, f, (h2 * 69621) % 2147483647 AS h FROM mx2),
      |amps AS (
      |  SELECT doc_id, f,
      |    (CASE WHEN v >= 1 AND f = v * 16 + (g % 13)
      |          THEN 22000 + h % 1000
      |          ELSE 1000 + h % 20000 END) * (8 + v) // 8 AS a
      |  FROM mx3),
      |abits AS (
      |  SELECT l.doc_id, l.f AS k
      |  FROM amps l JOIN amps r ON r.doc_id = l.doc_id AND r.f = l.f + 1
      |  WHERE l.f < 64 AND r.a * r.a > l.a * l.a),
      |asig AS (
      |  SELECT d.doc_id,
      |    coalesce(bit_or(CASE WHEN b.k = 63
      |                         THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |                         ELSE CAST(1 AS BIGINT) << CAST(b.k AS INT) END),
      |             CAST(0 AS BIGINT)) AS afp
      |  FROM documents d LEFT JOIN abits b USING (doc_id)
      |  GROUP BY d.doc_id)""".stripMargin

  /** (doc_id, afp) over the near-dup audio family — ONE decode pass,
    * checkpointed so both join sides reuse the 16-byte/row signature
    * table (same shape as [[phashSig]]). */
  private[graft] def afpSig(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    import graft.multimodal.MediaPipeline
    MediaPipeline.afpOf(s,
        MediaPipeline.toGroupAudioWav(s, t(s, d, "documents")))
      .toDF().fenced()
  }

  /** Acoustic near-dup pairs: REAL WAV decode → 64-bit energy-delta
    * fingerprint (Haitsma & Kalker, ISMIR 2002 — bit = sign of the
    * inter-frame energy difference, invariant to uniform gain) →
    * pigeonhole-banded pairs at Hamming ≤ [[PhashHamMax]]. The media
    * are the near-dup clip family ([[graft.multimodal.MediaPipeline
    * .synthGroupWav]]): groups of 4 consecutive doc_ids are the SAME
    * recording at 4 volumes, three with one spliced loud frame — so
    * byte-distinct WAVs dedup acoustically (within-group Hamming ≤ 4
    * vs cross-group min 11 at sf0.1, full-pairs measured), the
    * perceptual property byte-level dedup cannot see. Completes the
    * modality dedup matrix: image (`q_dedup_phash`), video
    * (`q_dedup_video`), audio (this).
    *
    * Scale shape: identical to `q_dedup_phash` — payload bytes never
    * shuffle (only the 8-byte fingerprint leaves the decode stage),
    * banding replaces the all-pairs self-join with an equi-join on
    * (segment, value) with exact recall at the Hamming cut, and the
    * first-matching-segment predicate dedups k-fold candidate hits
    * inside codegen. */
  private val qDedupAudio = Q("q_dedup_audio",
    s"""WITH $afpSigCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
       |FROM asig a JOIN asig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.afp, b.afp)) <= $PhashHamMax
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val sig = afpSig(s, d)
    val seg = explode(array((0 until ph.segments).map(j =>
      struct(lit(j).as("seg"), ph.segmentValue(col("afp"), j).as("sv"))): _*))
    val bands = sig.select(col("doc_id"), col("afp"), seg.as("b"))
      .select(col("doc_id"), col("afp"),
        col("b.seg").as("seg"), col("b.sv").as("sv"))
    def segEq(j: Int) =
      ph.segmentValue(col("sa"), j) === ph.segmentValue(col("sb"), j)
    val earlierMatch = (0 until ph.segments - 1)
      .map(j => col("seg") > j && segEq(j))
      .reduce(_ || _)
    val ham = bit_count(col("sa").bitwiseXOR(col("sb")))
    bands
      .select(col("doc_id").as("a_id"), col("seg"), col("sv"),
        col("afp").as("sa"))
      .join(bands.select(col("doc_id").as("b_id"), col("seg").as("seg2"),
        col("sv").as("sv2"), col("afp").as("sb")),
        col("seg") === col("seg2") && col("sv") === col("sv2") &&
          col("a_id") < col("b_id"))
      .where(!earlierMatch && ham <= PhashHamMax)
      .select(col("a_id"), col("b_id"), ham.cast("int").as("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Benchmark-image decontamination — the image analog of the n-gram
    * `q_decontaminate` pass: drop training images PERCEPTUALLY
    * matching a held-out benchmark/eval set (Hamming ≤ 4 on the
    * dHash), not just byte-identical ones. The benchmark is the
    * deterministic `doc_id % 97 = 0` slice — fixed-size by
    * construction, like a real eval set, so BROADCASTING its banded
    * segments is the scale-correct plan (the corpus side streams
    * map-side through a broadcast hash join on (segment, value),
    * exact recall at the Hamming cut by the pigeonhole argument;
    * first-matching-segment keeps each (train, bench) hit exactly
    * once before the per-doc rollup). Output: contaminated docs with
    * hit count, the smallest matching benchmark id, and the closest
    * Hamming distance. */
  private val qDecontaminateMedia = Q("q_decontaminate_media",
    s"""WITH $phashSigCtes,
       |bench AS (SELECT doc_id AS bench_id, phash AS bsig FROM sig
       |          WHERE doc_id % 97 = 0),
       |hits AS (
       |  SELECT t.doc_id, b.bench_id,
       |    bit_count(xor(t.phash, b.bsig)) AS ham
       |  FROM sig t, bench b
       |  WHERE t.doc_id % 97 <> 0 AND bit_count(xor(t.phash, b.bsig)) <= $PhashHamMax)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(min(bench_id) AS BIGINT) AS min_bench,
       |  CAST(min(ham) AS INT) AS min_hamming
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sig = phashSig(s, d)
    val segOf = (sigCol: Column) => explode(array((0 until ph.segments).map(j =>
      struct(lit(j).as("seg"), ph.segmentValue(sigCol, j).as("sv"))): _*))
    val bench = sig.where(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("phash").as("sb"), segOf(col("phash")).as("b"))
      .select(col("bench_id"), col("sb"), col("b.seg").as("seg"), col("b.sv").as("sv"))
    val train = sig.where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("phash").as("sa"), segOf(col("phash")).as("b"))
      .select(col("doc_id"), col("sa"), col("b.seg").as("seg2"), col("b.sv").as("sv2"))
    def segEq(j: Int) =
      ph.segmentValue(col("sa"), j) === ph.segmentValue(col("sb"), j)
    val earlierMatch = (0 until ph.segments - 1)
      .map(j => col("seg") > j && segEq(j))
      .reduce(_ || _)
    val ham = bit_count(col("sa").bitwiseXOR(col("sb")))
    train.join(broadcast(bench),
        col("seg") === col("seg2") && col("sv") === col("sv2"))
      .where(ham <= PhashHamMax && !earlierMatch)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("bench_id")).as("min_bench"),
        min(ham).cast("int").as("min_hamming"))
      .orderBy(col("doc_id"))
  }

  /** Multimodal-CONSISTENT near-dup pairs: document pairs near in
    * BOTH modalities — text (32-bit simhash, Hamming ≤ 6, same lang —
    * exactly `q_dedup_simhash_pairs`) AND image (64-bit dHash,
    * Hamming ≤ 4 — exactly `q_dedup_phash`). The curation signal an
    * image-text training-pair pipeline keys dedup on: agreement
    * across modalities separates true duplicate pairs from caption
    * collisions (same text, different image) and re-renders (same
    * image, different text).
    *
    * Plan (round 10 rewrite): ANCHOR ON THE WIDER SIGNATURE. The
    * original plan materialized both banded pair graphs and
    * intersected them — but a 32-bit simhash SATURATES as the corpus
    * grows (random pairs collide at Hamming ≤ 6 with p ≈ 2.7·10⁻⁴,
    * so its pair graph goes quadratic: measured 14.7 M text pairs vs
    * 214 k image pairs at the synthetic sf1, HeavyScaleProbe round
    * 10), while the 64-bit dHash graph stays density-linear. The
    * intersection never needs the saturated side as a SET: generate
    * pairs from the 64-bit side only, then evaluate the text
    * condition (same lang, simhash Hamming ≤ 6) as a PER-PAIR
    * predicate via two slim (doc_id, lang, simhash) lookup joins —
    * exactly equivalent (the text side's membership is a pure
    * predicate on the pair), with the text pair graph never
    * materialized. Oracle: unchanged — the two declarative pair CTEs
    * intersected, which DuckDB can afford at oracle scale. */
  private val qDedupMultimodal = Q("q_dedup_multimodal",
    s"""WITH ${graft.queries.DedupQueries.simhashCtes},
       |$phashSigCtes,
       |tp AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS txt_hamming
       |  FROM sg a JOIN sg b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
       |ip AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS img_hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHamMax)
       |SELECT a_id, b_id, txt_hamming, img_hamming
       |FROM tp JOIN ip USING (a_id, b_id)
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val img = phashPairs(s, d)
      .withColumnRenamed("hamming", "img_hamming")
    // slim lookup table, computed once (one corpus agg), joined twice
    val sg = graft.queries.DedupQueries.simhashOf(s, d).fenced()
    val txtHam = bit_count(col("ha").bitwiseXOR(col("hb")))
    img
      .join(sg.select(col("doc_id").as("a_id"), col("lang").as("la"),
        col("simhash").as("ha")), "a_id")
      .join(sg.select(col("doc_id").as("b_id"), col("lang").as("lb"),
        col("simhash").as("hb")), "b_id")
      .where(col("la") === col("lb") && txtHam <= 6)
      .select(col("a_id"), col("b_id"), txtHam.cast("int").as("txt_hamming"),
        col("img_hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Per-(video, frame) dHash recomputed in pure SQL: the frame's
    * pattern id `p` ([[graft.multimodal.MediaPipeline
    * .videoPatternId]]) drives the same textured-grid closed form the
    * image oracle uses, keyed on (doc_id, f). */
  private val videoSigCtes: String =
    s"""vf AS (SELECT doc_id, CAST(fs.r AS BIGINT) AS f,
      |         CASE WHEN CAST(fs.r AS BIGINT) = doc_id % 4
      |              THEN ${graft.multimodal.MediaPipeline.VideoVariantBase} + doc_id
      |              ELSE (doc_id // 4) * 8 + CAST(fs.r AS BIGINT) END AS p
      |       FROM documents, range(0, 4) AS fs(r)),
      |vcells AS (SELECT doc_id, f, p,
      |             CAST(xs.r AS BIGINT) AS x, CAST(ys.r AS BIGINT) AS y
      |           FROM vf, range(0, 9) AS xs(r), range(0, 8) AS ys(r)),
      |vg AS (SELECT doc_id, f, x, y,
      |         ((p // 4) * (x*7 + y*11 + 13)
      |          + ((p // 4) // 256) * (x*17 + y*23 + 29)
      |          + x*x*5 + y*y*3
      |          + CASE WHEN (p % 7 = 0 AND y = (p % 72) // 9)
      |                   OR (p % 7 <> 0 AND x = (p % 72) % 9
      |                       AND y = (p % 72) // 9)
      |                 THEN 128 ELSE 0 END) % 256 AS v
      |       FROM vcells),
      |vbits AS (SELECT l.doc_id, l.f, l.y * 8 + l.x AS k
      |          FROM vg l JOIN vg r ON r.doc_id = l.doc_id AND r.f = l.f
      |            AND r.y = l.y AND r.x = l.x + 1
      |          WHERE l.x < 8 AND l.v < r.v),
      |vsig AS (SELECT vf.doc_id, vf.f,
      |           coalesce(bit_or(CASE WHEN b.k = 63
      |                                THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |                                ELSE CAST(1 AS BIGINT) << CAST(b.k AS INT) END),
      |                    CAST(0 AS BIGINT)) AS fhash
      |         FROM vf LEFT JOIN vbits b ON b.doc_id = vf.doc_id AND b.f = vf.f
      |         GROUP BY vf.doc_id, vf.f)""".stripMargin

  /** Temporal (video) near-dup detection: demux the frame container
    * partition-locally, dHash every REAL PNG frame, and call two
    * videos near-duplicates when ≥ half their frames match
    * bit-identically AT THE SAME position — re-encodes and resolution
    * changes hash equal (dHash is resize-invariant), edited frames
    * don't. The planted family shares 2 of 4 frames within a group
    * (each member edits a different position) and none across groups.
    *
    * Scale shape: frames never shuffle — the equi-join runs on
    * (f, 8-byte hash) rows, its fanout per bucket bounded by how many
    * videos genuinely share that exact frame; the per-pair rollup is
    * a map-side-combinable count. Oracle: the same (f, fhash)
    * self-join over closed-form hashes. */
  private val qDedupVideo = Q("q_dedup_video",
    s"""WITH $videoSigCtes
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(count(*) AS BIGINT) AS n_match
       |FROM vsig a JOIN vsig b
       |  ON a.f = b.f AND a.fhash = b.fhash AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING count(*) >= 2
       |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    val media = graft.multimodal.MediaPipeline
      .toVideoMedia(s, t(s, d, "documents"))
    val fh = graft.multimodal.MediaPipeline
      .videoFrameHashes(s, media)
      .toDF().fenced()
    fh.select(col("doc_id").as("a_id"), col("f"), col("fhash"))
      .join(fh.select(col("doc_id").as("b_id"), col("f").as("f2"),
        col("fhash").as("h2")),
        col("f") === col("f2") && col("fhash") === col("h2") &&
          col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_match"))
      .where(col("n_match") >= 2)
      .orderBy(col("a_id"), col("b_id"))
  }

  val all: Seq[Q] =
    Seq(qMeta, qFeatures, qDedupPhash, qDedupPhashWide, qDedupPhashCc,
      qFrames, qAudio, qDedupAudio, qDecontaminateMedia, qDedupMultimodal,
      qDedupVideo)
}
