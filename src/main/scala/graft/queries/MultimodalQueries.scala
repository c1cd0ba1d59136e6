package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Multimodal
import graft.sources.Tables
import Det.{big, ordered}

/** Multimodal plumbing surface: binary payload columns + typed metadata,
  * batched stub decode, frame sampling. The oracles independently
  * recompute the deterministic fake decode (byte histogram) in SQL,
  * proving the partition-batched Scala path end-to-end. */
object MultimodalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** OP-80: decode features (batched mapPartitions) → exact witnesses. */
  val op80Features: Q = (s, d) =>
    ordered(Multimodal.featureTable(s, d), "doc_id")

  /** OP-81: frame sampling — per-frame byte counts (exact integers). */
  val op81Frames: Q = (s, d) => {
    import s.implicits._
    ordered(
      Multimodal.sampleFrames(Multimodal.synthesize(s, d), 4)
        .toDF()
        .select(col("doc_id"), big(col("frame_idx")).as("frame_idx"),
          big(length(col("frame"))).as("frame_bytes")),
      "doc_id", "frame_idx")
  }

  /** op80's REAL-codec twin: formula pixels → JDK PNG/BMP encode →
    * javax.imageio decode → exact channel sums; the oracle evaluates
    * the same generative formula independently, so a hash match proves
    * a genuine encode→decode round-trip (not a fake) in the batched
    * mapPartitions path. */
  val op80ImageCodec: Q = (s, d) =>
    ordered(
      Multimodal.decodeImageStats(Multimodal.synthesizeImages(s, d)).toDF()
        .select(col("doc_id"), col("format"),
          big(col("width")).as("width"), big(col("height")).as("height"),
          col("sum_r"), col("sum_g"), col("sum_b")),
      "doc_id")

  /** op133: the image leg's AUDIO twin — formula PCM → JDK WAV encode →
    * javax.sound.sampled decode → exact sample sums; the oracle
    * evaluates the same generative formula independently, so a hash
    * match proves a genuine RIFF/WAVE encode→decode round-trip in the
    * batched mapPartitions path. */
  val op133AudioCodec: Q = (s, d) =>
    ordered(
      Multimodal.decodeAudioStats(Multimodal.synthesizeAudio(s, d)).toDF()
        .select(col("doc_id"), col("format"), col("sample_rate"),
          col("n_samples"), col("sum_samples"), col("sum_abs")),
      "doc_id")

  /** op135: the codec family's VIDEO twin — formula frames → JDK
    * animated-GIF encode → javax.imageio frame-SAMPLED decode (every
    * 2nd frame; non-sampled frames skipped, not transcoded) → exact
    * pixel sums; the oracle evaluates the same generative formula for
    * the sampled indices independently, so a hash match proves a
    * genuine multi-frame container round-trip. Closes the last
    * declared multimodal stub: image, audio, AND video are now real
    * codecs. */
  val op135VideoCodec: Q = (s, d) =>
    ordered(
      Multimodal.sampleVideoStats(Multimodal.synthesizeVideos(s, d)).toDF()
        .select(col("doc_id"), col("format"), col("frame_idx"),
          col("n_frames"), col("width"), col("height"), col("sum_gray")),
      "doc_id", "frame_idx")

  /** op228: 64-bit perceptual average-hash (aHash) from REAL decoded
    * payloads — gray pooling onto an 8×8 cell grid, bit = cell above
    * the mean, carried as two 32-bit halves (sign-safe on both
    * engines). The oracle evaluates the generative pixel formula, so
    * a hash match proves codec round-trip + pooling + thresholding. */
  val op228ImageAhash: Q = (s, d) =>
    ordered(
      Multimodal.imageAHash(Multimodal.synthesizeImages(s, d)).toDF()
        .select(col("doc_id"), col("h_lo"), col("h_hi")),
      "doc_id")

  /** op229: perceptual NEAR-DUP pairs — candidates from an 8-band
    * (8-bit) LSH join over op228's hashes, verified at Hamming ≤ 7.
    * The threshold is chosen BELOW the band count, so banding is
    * PROVABLY lossless (pigeonhole: ≤ 7 differing bits cannot touch
    * all 8 bands — some band matches exactly), and the oracle's
    * identical banded join is exhaustive, not best-effort. The image
    * counterpart of op63's minhash banding: candidates by equi-join,
    * only candidates pay the verify. */
  val op229ImageNeardup: Q = (s, d) => {
    val hh = Multimodal.imageAHash(Multimodal.synthesizeImages(s, d))
      .toDF()
    val bands = hh.select(col("doc_id"), col("h_lo"), col("h_hi"),
        explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("bv", expr(
        "CASE WHEN b < 4 THEN shiftright(h_lo, CAST(8*b AS INT)) & 255 " +
          "ELSE shiftright(h_hi, CAST(8*(b-4) AS INT)) & 255 END"))
    val a = bands.select(col("doc_id").as("doc_a"),
      col("h_lo").as("la"), col("h_hi").as("ha"), col("b"), col("bv"))
    val bb = bands.select(col("doc_id").as("doc_b"),
      col("h_lo").as("lb"), col("h_hi").as("hb"), col("b"), col("bv"))
    val cand = a.join(bb, Seq("b", "bv"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "la", "ha", "lb", "hb").distinct()
    ordered(
      cand.withColumn("hamming", expr(
          "CAST(bit_count(la ^ lb) + bit_count(ha ^ hb) AS BIGINT)"))
        .where(col("hamming") <= 7)
        .select("doc_a", "doc_b", "hamming"),
      "doc_a", "doc_b")
  }

  /** op283: audio NEAR-DUP pairs — the audio modality's op229,
    * completing the multimodal near-dup matrix (text: op61/op63,
    * image: op229, audio: here). Fingerprints are
    * [[Multimodal.audioFingerprint]]'s 30-bit 2-band Haar energy-delta
    * signs over the REAL WAV decode; candidates come from a 6-band
    * (5-bit) LSH equi-join over the fingerprints, verified at Hamming
    * ≤ 5. The threshold is chosen BELOW the band count, so banding is
    * PROVABLY lossless (pigeonhole: ≤ 5 differing bits cannot touch
    * all 6 bands — some band matches exactly) and the oracle's
    * identical banded join is exhaustive, not best-effort.
    *
    * 100 TB shape: op63's — candidates by equi-join on band values,
    * only candidates pay the verify; never all-pairs. */
  val op283AudioNeardup: Q = (s, d) => {
    val fps = Multimodal.audioFingerprint(Multimodal.synthesizeFpAudio(s, d))
      .toDF()
    val bands = fps.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(5))).as("b"))
      .withColumn("bv", expr("shiftright(fp, CAST(5*b AS INT)) & 31"))
    val a = bands.select(col("doc_id").as("doc_a"), col("fp").as("fa"),
      col("b"), col("bv"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("fp").as("fb"),
      col("b"), col("bv"))
    val cand = a.join(bb, Seq("b", "bv"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "fa", "fb").distinct()
    ordered(
      cand.withColumn("hamming",
          expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .where(col("hamming") <= 5)
        .select("doc_a", "doc_b", "hamming"),
      "doc_a", "doc_b")
  }

  /** op284: video NEAR-DUP pairs — the last cell of the multimodal
    * near-dup matrix (text: op61/op63, image: op229, audio: op283,
    * video: here). Fingerprints are
    * [[Multimodal.videoFingerprint]]'s 16-bit 4-frame × 2×2 spatial
    * aHash over the REAL animated-GIF decode (integer-mean bits —
    * exactly invariant to the planted uniform brightness shifts);
    * candidates come from a 4-band (4-bit) LSH equi-join, verified at
    * Hamming ≤ 2. Threshold below band count ⇒ banding is
    * pigeonhole-lossless, and the oracle's identical banded join is
    * exhaustive, not best-effort.
    *
    * 100 TB shape: op63's — candidates by band equi-join, only
    * candidates pay the verify; never all-pairs. */
  val op284VideoNeardup: Q = (s, d) => {
    val fps = Multimodal.videoFingerprint(Multimodal.synthesizeNdVideos(s, d))
      .toDF()
    val bands = fps.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("bv", expr("shiftright(fp, CAST(4*b AS INT)) & 15"))
    val a = bands.select(col("doc_id").as("doc_a"), col("fp").as("fa"),
      col("b"), col("bv"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("fp").as("fb"),
      col("b"), col("bv"))
    val cand = a.join(bb, Seq("b", "bv"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "fa", "fb").distinct()
    ordered(
      cand.withColumn("hamming",
          expr("CAST(bit_count(fa ^ fb) AS BIGINT)"))
        .where(col("hamming") <= 2)
        .select("doc_a", "doc_b", "hamming"),
      "doc_a", "doc_b")
  }

  /** op294: STREAMING audio near-dup gate — op283 maintained online
    * through [[graft.streaming.FpDedupStream]] (the op231 protocol
    * generalized over the banding spec): arrivals are WAV-decoded and
    * fingerprinted per micro-batch, 6×5-bit-band-joined against the
    * persisted accepted-fingerprint store AND within their own batch,
    * flagged at Hamming ≤ 5, then appended to the store. Flag union
    * over any batch split equals the batch pair set — op283's
    * UNCHANGED oracle. */
  val op294StreamAudioNeardup: Q = (s, d) => {
    import s.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_audiodedup_state").toString
    val recs = Multimodal.synthesizeFpAudio(s, d).toDF()
      .select("doc_id", "payload")
    ordered(graft.streaming.FpDedupStream.maintainedFlags(s, recs,
        df => Multimodal.audioFingerprint(
          df.as[Multimodal.AudioRecord]).toDF(),
        nBands = 6, bandBits = 5, maxHamming = 5, stateDir),
      "doc_a", "doc_b")
  }

  /** op295: STREAMING video near-dup gate — op284 maintained online
    * through the same [[graft.streaming.FpDedupStream]] engine with
    * the video banding spec (4×4-bit bands, Hamming ≤ 2) and the real
    * GIF decode in the per-batch fingerprint step. op284's UNCHANGED
    * oracle; with op231/op294 this makes the streaming near-dup gate
    * total across all non-text modalities. */
  val op295StreamVideoNeardup: Q = (s, d) => {
    import s.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_videodedup_state").toString
    val recs = Multimodal.synthesizeNdVideos(s, d).toDF()
      .select("doc_id", "payload")
    ordered(graft.streaming.FpDedupStream.maintainedFlags(s, recs,
        df => Multimodal.videoFingerprint(
          df.as[Multimodal.VideoRecord]).toDF(),
        nBands = 4, bandBits = 4, maxHamming = 2, stateDir),
      "doc_a", "doc_b")
  }

  /** op230: cross-modal consistency audit — every TEXT near-dup pair
    * (op61's jaccard ≥ 70% candidates, verbatim machinery) gets the
    * image-side verdict: aHash Hamming distance between the two docs'
    * images, img_match = 1 iff ≤ 7 (op229's threshold). The curation
    * check a multimodal pipeline runs BEFORE collapsing "duplicates":
    * near-identical caption + distant image is a mislabel or join bug,
    * not a duplicate — and the fixture's formula images differ per
    * doc, so the text-dup pairs genuinely exercise the mismatch arm.
    *
    * 100 TB shape: candidates are op61's banded/capped pair list (the
    * audit pays nothing beyond the dedup pass already running); the
    * two hash attaches are vertex-keyed equi-joins. No all-pairs
    * anywhere. */
  val op230ModalConsistency: Q = (s, d) => {
    val pairs = graft.functions.Dedup.jaccardPairs(
        Tables.documents(s, d), "doc_id", "text", 7000L, Some(100L))
      .select("doc_a", "doc_b", "jaccard_bp")
    val hh = Multimodal.imageAHash(Multimodal.synthesizeImages(s, d))
      .toDF()
    ordered(
      pairs
        .join(hh.select(col("doc_id").as("doc_a"),
          col("h_lo").as("kl"), col("h_hi").as("kh")), "doc_a")
        .join(hh.select(col("doc_id").as("doc_b"), col("h_lo").as("dl"),
          col("h_hi").as("dh")), "doc_b")
        .withColumn("hamming", expr(
          "CAST(bit_count(kl ^ dl) + bit_count(kh ^ dh) AS BIGINT)"))
        .withColumn("img_match", expr(
          "CAST(CASE WHEN bit_count(kl ^ dl) + bit_count(kh ^ dh) <= 7 " +
            "THEN 1 ELSE 0 END AS BIGINT)"))
        .select("doc_a", "doc_b", "jaccard_bp", "hamming", "img_match"),
      "doc_a", "doc_b")
  }

  /** op231: STREAMING image near-dup gate — op229 maintained online
    * (the image modality's op132): arrivals are decoded and aHashed
    * per micro-batch, band-joined against the persisted accepted-hash
    * store AND within their own batch, flagged at Hamming ≤ 7, then
    * appended to the store. Every qualifying unordered pair flags
    * exactly once, so the flag union over any batch split equals the
    * batch pair set — op229's UNCHANGED oracle.
    * See [[graft.streaming.ImageDedupStream]]. */
  val op231StreamImageNeardup: Q = (s, d) => {
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_imgdedup_state").toString
    ordered(graft.streaming.ImageDedupStream
      .maintainedNearDupFlags(s, d, stateDir), "doc_a", "doc_b")
  }

  /** op248: energy VAD segmentation — the speech-pipeline primitive
    * between decode and transcription: REAL WAV decode reduced to
    * per-64-sample-frame integer energies (Σ v²), a frame is ACTIVE
    * iff its per-sample energy exceeds the clip mean
    * (cross-multiplied — e·n_total > tot_e·n_frame, no division),
    * and active runs collapse to segments with op173's gaps-and-
    * islands (frame_idx − row_number). The oracle evaluates the
    * generative PCM formula independently, so a hash match proves
    * decode → framing → threshold → segmentation end-to-end.
    *
    * 100 TB shape: decode is batched mapPartitions (the op133 path);
    * everything after is grid algebra on the per-clip frame grid
    * (≤ samples/64 rows per clip) — windows partition per clip, no
    * cross-clip state. Real VADs swap the threshold for a learned
    * one; the segmentation algebra is unchanged. */
  val op248AudioVad: Q = (s, d) => {
    val frames = Multimodal.decodeAudioFrameEnergy(
      Multimodal.synthesizeVadAudio(s, d)).toDF()
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val act = frames
      .withColumn("tot_e", sum("energy").over(wd))
      .withColumn("n_total", sum("n_in_frame").over(wd))
      .where(expr("energy * n_total > tot_e * n_in_frame"))
      .withColumn("grp", expr("frame_idx") -
        row_number().over(wd.orderBy("frame_idx")))
    ordered(
      act.groupBy("doc_id", "grp")
        .agg(min("frame_idx").as("seg_start"),
          max("frame_idx").as("seg_end"),
          big(count(lit(1))).as("n_frames"))
        .select("doc_id", "seg_start", "seg_end", "n_frames"),
      "doc_id", "seg_start")
  }

  val defs: Map[String, Q] = Map(
    "op248_audio_vad" -> op248AudioVad,
    "op228_image_ahash" -> op228ImageAhash,
    "op229_image_neardup" -> op229ImageNeardup,
    "op283_audio_neardup" -> op283AudioNeardup,
    "op284_video_neardup" -> op284VideoNeardup,
    "op294_stream_audio_neardup" -> op294StreamAudioNeardup,
    "op295_stream_video_neardup" -> op295StreamVideoNeardup,
    "op230_modal_consistency" -> op230ModalConsistency,
    "op231_stream_image_neardup" -> op231StreamImageNeardup,
    "op80_media_decode" -> op80Features,
    "op80_image_codec" -> op80ImageCodec,
    "op81_media_frames" -> op81Frames,
    "op133_audio_codec" -> op133AudioCodec,
    "op135_video_codec" -> op135VideoCodec,
  )

  /** Shared CTE prefix computing the aHash halves from the generative
    * pixel formula (op228/op229's oracles). */
  private val ahashCtes: String =
    """geom AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (
      |  SELECT g.doc_id, g.w, g.h, tx.x, ty.y,
      |    (((g.doc_id*31 + tx.x*7 + ty.y*13) % 256) +
      |     ((g.doc_id*17 + tx.x*3 + ty.y*5) % 256) +
      |     ((g.doc_id*7 + tx.x*11 + ty.y*3) % 256)) // 3 AS gray
      |  FROM geom g,
      |       LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS y) ty),
      |cells AS (
      |  SELECT doc_id, (x*8)//w AS ci, (y*8)//h AS cj,
      |    sum(gray)//count(*) AS a
      |  FROM px GROUP BY 1, 2, 3),
      |mn AS (SELECT doc_id, sum(a)//64 AS m FROM cells GROUP BY 1),
      |bits AS (
      |  SELECT c.doc_id, ci*8 + cj AS pos,
      |    CASE WHEN c.a > mn.m THEN 1 ELSE 0 END AS b
      |  FROM cells c JOIN mn USING (doc_id)),
      |hh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN pos < 32
      |          THEN b * (CAST(1 AS BIGINT) << CAST(pos AS INT))
      |          ELSE 0 END) AS BIGINT) AS h_lo,
      |    CAST(sum(CASE WHEN pos >= 32
      |          THEN b * (CAST(1 AS BIGINT) << CAST(pos - 32 AS INT))
      |          ELSE 0 END) AS BIGINT) AS h_hi
      |  FROM bits GROUP BY 1)""".stripMargin

  /** op229's oracle — shared verbatim by op231 (stream ≡ batch). */
  private lazy val imageNeardupSql: String =
      s"""WITH $ahashCtes,
         |bands AS (
         |  SELECT doc_id, h_lo, h_hi, t.b,
         |    CASE WHEN t.b < 4 THEN (h_lo >> CAST(8*t.b AS INT)) & 255
         |         ELSE (h_hi >> CAST(8*(t.b-4) AS INT)) & 255 END AS bv
         |  FROM hh, unnest([0,1,2,3,4,5,6,7]) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, a.h_lo AS la,
         |    a.h_hi AS ha, b2.doc_id AS doc_b, b2.h_lo AS lb,
         |    b2.h_hi AS hb
         |  FROM bands a JOIN bands b2
         |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb))
         |       AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 7
         |ORDER BY doc_a, doc_b""".stripMargin

  /** op283's replay: DuckDB evaluates the PCM formula straight into the
    * 2-band Haar frame energies, delta-sign bits, the 30-bit
    * fingerprint, and the SAME 6×5-bit banded join — Spark's
    * fingerprints went through the real WAV encode+decode. */
  private val audioNeardupSql: String =
    """WITH g AS (
      |  SELECT doc_id, 256 + doc_id % 129 AS n FROM documents),
      |s AS (
      |  SELECT g.doc_id, t.i // 16 AS t, (t.i % 16) // 2 AS j,
      |         t.i % 2 AS m,
      |         (((((g.doc_id // 3) * 2654435761 % 1000003 + 1)
      |            * (t.i + 17) * (t.i + 29)) % 1000003 % 4096) - 2048)
      |           * (1 + g.doc_id % 3) AS v
      |  FROM g,
      |       LATERAL (SELECT unnest(generate_series(0, g.n - 1)) AS i) t
      |  WHERE t.i // 16 <= 15),
      |p AS (
      |  SELECT doc_id, t, j,
      |         sum(CASE WHEN m = 0 THEN v ELSE 0 END) AS a,
      |         sum(CASE WHEN m = 1 THEN v ELSE 0 END) AS b
      |  FROM s GROUP BY 1, 2, 3),
      |e AS (
      |  SELECT doc_id, t,
      |         CAST(sum((a + b) * (a + b)) AS BIGINT) AS low_e,
      |         CAST(sum((a - b) * (a - b)) AS BIGINT) AS high_e
      |  FROM p GROUP BY 1, 2),
      |bits AS (
      |  SELECT c.doc_id, c.t,
      |         CASE WHEN nx.low_e > c.low_e THEN 1 ELSE 0 END AS bl,
      |         CASE WHEN nx.high_e > c.high_e THEN 1 ELSE 0 END AS bh
      |  FROM e c JOIN e nx ON nx.doc_id = c.doc_id AND nx.t = c.t + 1
      |  WHERE c.t < 15),
      |fp AS (
      |  SELECT doc_id,
      |         CAST(sum(bl * (CAST(1 AS BIGINT) << CAST(t AS INT))) +
      |              sum(bh * (CAST(1 AS BIGINT) << CAST(15 + t AS INT)))
      |           AS BIGINT) AS fp
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, fp, t.b, (fp >> CAST(5 * t.b AS INT)) & 31 AS bv
      |  FROM fp, unnest([0, 1, 2, 3, 4, 5]) AS t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fa,
      |         b2.doc_id AS doc_b, b2.fp AS fb
      |  FROM bands a JOIN bands b2
      |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(fa, fb)) <= 5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** op284's replay: DuckDB evaluates the brightness-shift pixel
    * formula straight into the per-frame integer means, quadrant bits
    * ((x·2)//w cell rule, frame-major ci-then-cj packing — Spark's
    * exact loop order), the 16-bit fingerprint, and the SAME 4×4-bit
    * banded join — Spark's fingerprints went through the real
    * animated-GIF encode + decode. */
  private val videoNeardupSql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id // 3 AS grp, doc_id % 3 AS m FROM documents),
      |geo AS (
      |  SELECT doc_id, grp, m, 8 + grp % 9 AS w, 8 + grp % 7 AS h,
      |         (grp * 2654435761) % 1000003 AS u
      |  FROM g),
      |px AS (
      |  SELECT geo.doc_id, geo.w, geo.h, tf.f, tx.x, ty.y,
      |    ((((geo.u + 1) * ((tf.f * geo.w * geo.h + ty.y * geo.w + tx.x) + 17)
      |       * ((tf.f * geo.w * geo.h + ty.y * geo.w + tx.x) + 29))
      |      % 1000003) % 192) + geo.m * 32 AS v
      |  FROM geo,
      |       LATERAL (SELECT unnest(generate_series(0, 3)) AS f) tf,
      |       LATERAL (SELECT unnest(generate_series(0, geo.w - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, geo.h - 1)) AS y) ty),
      |fm AS (
      |  SELECT doc_id, f, sum(v) // (w * h) AS fmean
      |  FROM px GROUP BY doc_id, f, w, h),
      |cells AS (
      |  SELECT doc_id, f, (x * 2) // w AS ci, (y * 2) // h AS cj,
      |         sum(v) // count(*) AS cmean
      |  FROM px GROUP BY 1, 2, 3, 4),
      |bits AS (
      |  SELECT c.doc_id, c.f * 4 + c.ci * 2 + c.cj AS bit,
      |         CASE WHEN c.cmean > fm.fmean THEN 1 ELSE 0 END AS b
      |  FROM cells c JOIN fm ON fm.doc_id = c.doc_id AND fm.f = c.f),
      |fp AS (
      |  SELECT doc_id,
      |         CAST(sum(b * (CAST(1 AS BIGINT) << CAST(bit AS INT)))
      |           AS BIGINT) AS fp
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, fp, t.b, (fp >> CAST(4 * t.b AS INT)) & 15 AS bv
      |  FROM fp, unnest([0, 1, 2, 3]) AS t(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fa,
      |         b2.doc_id AS doc_b, b2.fp AS fb
      |  FROM bands a JOIN bands b2
      |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(fa, fb)) <= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracle: Map[String, String] = Map(
    "op283_audio_neardup" -> audioNeardupSql,
    "op284_video_neardup" -> videoNeardupSql,
    // the streaming twins flag exactly the batch pair sets (flag-once
    // protocol over any batch split) — stream ≡ batch, shared oracles
    "op294_stream_audio_neardup" -> audioNeardupSql,
    "op295_stream_video_neardup" -> videoNeardupSql,
    // the VAD twin: DuckDB evaluates the PCM formula; Spark's energies
    // went through the real WAV encode+decode
    "op248_audio_vad" ->
      """WITH g AS (
        |  SELECT doc_id, 256 + doc_id % 129 AS n FROM documents),
        |s AS (
        |  SELECT g.doc_id, t.i // 64 AS frame_idx,
        |         CASE WHEN ((t.i // 64) + g.doc_id) % 3 = 0
        |           THEN ((g.doc_id * 7 + t.i * 3) % 201) - 100
        |           ELSE ((g.doc_id * 31 + t.i * 17) % 65536) - 32768
        |         END AS v
        |  FROM g,
        |       LATERAL (SELECT unnest(generate_series(0, g.n - 1)) AS i) t),
        |fr AS (
        |  SELECT doc_id, frame_idx, CAST(count(*) AS BIGINT) AS n_in_frame,
        |         CAST(sum(v * v) AS BIGINT) AS energy
        |  FROM s GROUP BY 1, 2),
        |w AS (
        |  SELECT doc_id, frame_idx, n_in_frame, energy,
        |         CAST(sum(energy) OVER (PARTITION BY doc_id) AS BIGINT)
        |           AS tot_e,
        |         CAST(sum(n_in_frame) OVER (PARTITION BY doc_id)
        |           AS BIGINT) AS n_total
        |  FROM fr),
        |act AS (
        |  SELECT doc_id, frame_idx,
        |         frame_idx - row_number() OVER (PARTITION BY doc_id
        |           ORDER BY frame_idx) AS grp
        |  FROM w WHERE energy * n_total > tot_e * n_in_frame)
        |SELECT doc_id, CAST(min(frame_idx) AS BIGINT) AS seg_start,
        |  CAST(max(frame_idx) AS BIGINT) AS seg_end,
        |  CAST(count(*) AS BIGINT) AS n_frames
        |FROM act GROUP BY doc_id, grp
        |ORDER BY doc_id, seg_start""".stripMargin,
    "op228_image_ahash" ->
      s"""WITH $ahashCtes
         |SELECT doc_id, h_lo, h_hi FROM hh ORDER BY doc_id""".stripMargin,
    "op230_modal_consistency" ->
      s"""WITH $ahashCtes,
         |sh AS (SELECT DISTINCT doc_id, shingle
         |       FROM (${DedupQueries.trigramSql})),
         |kp AS (SELECT shingle FROM sh GROUP BY shingle
         |       HAVING count(*) <= 100),
         |shc AS (SELECT sh.* FROM sh JOIN kp USING (shingle)),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         count(*) AS overlap
         |       FROM shc a JOIN shc b USING (shingle)
         |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT doc_a, doc_b,
         |        CAST(overlap * 10000 // (ca.n_sh + cb.n_sh - overlap)
         |             AS BIGINT) AS jaccard_bp
         |      FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
         |              JOIN cnt cb ON ov.doc_b = cb.doc_id
         |      WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap)
         |            >= 7000)
         |SELECT p.doc_a, p.doc_b, p.jaccard_bp,
         |  CAST(bit_count(xor(a.h_lo, b.h_lo)) +
         |       bit_count(xor(a.h_hi, b.h_hi)) AS BIGINT) AS hamming,
         |  CAST(CASE WHEN bit_count(xor(a.h_lo, b.h_lo)) +
         |                 bit_count(xor(a.h_hi, b.h_hi)) <= 7
         |       THEN 1 ELSE 0 END AS BIGINT) AS img_match
         |FROM p
         |JOIN hh a ON p.doc_a = a.doc_id
         |JOIN hh b ON p.doc_b = b.doc_id
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,
    // op231 is op229 maintained online; shared oracle = stream ≡ batch
    "op231_stream_image_neardup" -> imageNeardupSql,
    "op229_image_neardup" -> imageNeardupSql,
    "op80_media_decode" ->
      """WITH bytes AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |hist AS (
        |  SELECT doc_id, ascii(ch) % 32 AS bin, count(*) AS cnt
        |  FROM bytes GROUP BY 1, 2),
        |quant AS (
        |  SELECT h.doc_id,
        |         CAST(floor(CAST(CAST(h.cnt AS FLOAT) / CAST(length(d.text) AS FLOAT) AS DOUBLE)
        |              * 1000000) AS BIGINT) AS q
        |  FROM hist h JOIN documents d USING (doc_id))
        |SELECT d.doc_id,
        |       ['png', 'jpeg', 'wav'][CAST(d.doc_id % 3 AS INT) + 1] AS format,
        |       CAST(strlen(d.text) AS BIGINT) AS n_bytes,
        |       CAST(coalesce(qs.s, 0) AS BIGINT) AS feat_sum_q
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, sum(q) AS s FROM quant GROUP BY doc_id) qs
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // the image-codec twin: DuckDB evaluates the pixel formula directly;
    // Spark's number went through a real PNG/BMP encode+decode
    "op80_image_codec" ->
      """WITH geom AS (
        |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
        |px AS (
        |  SELECT g.doc_id, g.w, g.h, tx.x, ty.y
        |  FROM geom g,
        |       LATERAL (SELECT unnest(generate_series(0, g.w - 1)) AS x) tx,
        |       LATERAL (SELECT unnest(generate_series(0, g.h - 1)) AS y) ty)
        |SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(sum((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
        |       CAST(sum((doc_id*17 + x*3 + y*5) % 256) AS BIGINT) AS sum_g,
        |       CAST(sum((doc_id*7 + x*11 + y*3) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id, w, h
        |ORDER BY doc_id""".stripMargin,
    "op81_media_frames" ->
      """SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
        |       CAST((k + 1) * length(text) // 4 - k * length(text) // 4 AS BIGINT) AS frame_bytes
        |FROM documents, unnest([0, 1, 2, 3]) AS t(k)
        |WHERE length(text) > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // the audio-codec twin: DuckDB evaluates the PCM formula directly;
    // Spark's numbers went through a real WAV encode+decode
    "op133_audio_codec" ->
      """WITH g AS (
        |  SELECT doc_id, 256 + doc_id % 129 AS n FROM documents),
        |s AS (
        |  SELECT g.doc_id, g.n,
        |         ((g.doc_id * 31 + t.i * 17) % 65536) - 32768 AS v
        |  FROM g,
        |       LATERAL (SELECT unnest(generate_series(0, g.n - 1)) AS i) t)
        |SELECT doc_id, 'wav' AS format,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(n AS BIGINT) AS n_samples,
        |       CAST(sum(v) AS BIGINT) AS sum_samples,
        |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY doc_id, n
        |ORDER BY doc_id""".stripMargin,
    // the video-codec twin: DuckDB evaluates the frame formula for the
    // SAMPLED indices directly; Spark's numbers went through a real
    // animated-GIF encode + frame-sampled decode
    "op135_video_codec" ->
      """WITH g AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS nf,
        |         8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
        |fr AS (
        |  SELECT g.doc_id, g.nf, g.w, g.h, t.f
        |  FROM g, LATERAL (SELECT unnest(generate_series(0,
        |         CAST(g.nf - 1 AS BIGINT), 2)) AS f) t),
        |px AS (
        |  SELECT fr.doc_id, fr.nf, fr.w, fr.h, fr.f, tx.x, ty.y
        |  FROM fr,
        |       LATERAL (SELECT unnest(generate_series(0, fr.w - 1)) AS x) tx,
        |       LATERAL (SELECT unnest(generate_series(0, fr.h - 1)) AS y) ty)
        |SELECT doc_id, 'gif' AS format, CAST(f AS BIGINT) AS frame_idx,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(sum((doc_id*31 + f*19 + x*7 + y*13) % 256) AS BIGINT) AS sum_gray
        |FROM px GROUP BY doc_id, nf, w, h, f
        |ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
