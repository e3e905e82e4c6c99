package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Image, audio and video plumbing: decoders, perceptual hashes,
  * frame sampling and feature extraction. */
object MultimodalQueries {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(
    // Batch decode over a binary media column (Dataset mapPartitions —
    // the Scala analogue of mapInPandas). As of round 11 the decode is
    // a REAL pure-JVM codec (graft.ops.ImageCodec: binary PPM + 24-bit
    // BMP) over imageTable's real encoded payloads; the oracle replays
    // the deterministic image generator and certifies the parsed
    // headers, container framing (n_bytes) and full pixel plane
    // (px_sum) cross-engine.
    // Frame-offset sampling over a "video" payload: pure column math on
    // the binary length (no decode needed for planning-level ops).
    QueryDef("multimodal_frames", (s, d) => {
      ops.Multimodal.mediaTable(t(s, d, "documents"))
        .select(col("doc_id"),
          size(ops.Multimodal.frameOffsets(col("content"), 10, 5))
            .cast("bigint").as("n_frames"))
        .orderBy(col("doc_id"))
    },
      // n_frames = |slice(sequence(0, len-1, 10), 1, 5)| =
      // least(5, floor((len-1)/10) + 1) for len >= 1.
      """SELECT doc_id,
        |  least(5, (strlen(text) - 1) // 10 + 1) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
      key = "mfr"),

    QueryDef("multimodal_decode", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("n_bytes"), col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the imageTable generator (dims from the first two text
      // codepoints, pixel byte i = (cp0*7+cp1*13+31i) mod 256, PPM for
      // even cp0 / BMP for odd) and certifies what the REAL codec parsed
      // back: header dims, sniffed format, container byte length (PPM
      // ASCII header + plane; BMP 54-byte headers + padded bottom-up
      // rows), and the full decoded pixel plane as px_sum.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    ascii(substr(text, 2, 1)) AS cp1,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  CASE WHEN cp0 % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS format,
        |  cast(CASE WHEN cp0 % 2 = 0
        |       THEN 9 + strlen(cast(w as varchar))
        |            + strlen(cast(h as varchar)) + w * h * 3
        |       ELSE 54 + h * (w * 3 + (4 - (w * 3) % 4) % 4) END
        |    as bigint) AS n_bytes,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
      key = "mde"),

    // ★ r11: audio FINGERPRINT dedup — the classic energy-delta
    // signature (bit j set iff frame-energy(j+1) > energy(j),
    // strict integer comparison over 64-sample frames): volume-
    // robust, order-exact, and composed here with the same
    // exact-match grouping as pipeline_media_dedup (agg + join-back;
    // the checkpointed (id, fp) table is 24 B/clip). The oracle
    // replays frame energies, the lead-comparison bits, the hex
    // packing, and the group sizes.
    QueryDef("multimodal_audio_fp", (s, d) => {
      val fps = ops.Multimodal.audioFingerprintAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")),
        frameLen = 64)
        .toDF()
        .select(col("doc_id"), col("fp"), col("n_frames"),
          col("n_rising"))
        .localCheckpoint(true)
      val groups = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("group_size"))
      fps.join(groups, Seq("fp"))
        .select(col("doc_id"), col("fp"), col("n_frames"),
          col("n_rising"), col("group_size"))
        .orderBy(col("doc_id"))
    },
      // Replays the fingerprint end-to-end: 64-sample frame energies
      // from the quadratic generator, bit j from the lead(e) > e
      // strict comparison (last frame's NULL lead falls to the ELSE 0
      // arm, same as the Scala loop bound), %016x packing, exact-match
      // group sizes.
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM sz, LATERAL unnest(generate_series(0, n - 1)) t(i)),
        |en AS (
        |  SELECT doc_id, i // 64 AS f, sum(s * s) AS e
        |  FROM smp GROUP BY doc_id, i // 64),
        |bits AS (
        |  SELECT doc_id, f,
        |    CASE WHEN f < 64 AND
        |        lead(e) OVER (PARTITION BY doc_id ORDER BY f) > e
        |      THEN (CAST(1 AS BIGINT) << f) ELSE 0 END AS b,
        |    CASE WHEN f < 64 AND
        |        lead(e) OVER (PARTITION BY doc_id ORDER BY f) > e
        |      THEN 1 ELSE 0 END AS r
        |  FROM en),
        |fp AS (
        |  SELECT doc_id, printf('%016x', cast(sum(b) as bigint)) AS fp,
        |    cast(count(*) as bigint) AS n_frames,
        |    cast(sum(r) as bigint) AS n_rising
        |  FROM bits GROUP BY doc_id),
        |grp AS (
        |  SELECT fp, cast(count(*) as bigint) AS group_size
        |  FROM fp GROUP BY fp)
        |SELECT doc_id, fp.fp, n_frames, n_rising, grp.group_size
        |FROM fp JOIN grp USING (fp)
        |ORDER BY doc_id""".stripMargin),

    // ★ r11: per-frame video perceptual hash — the frame-level
    // signature video dedup / scene clustering blocks on: decode
    // each Y4M frame, 8×8 grid over the LUMA plane, the image
    // aHash's strict integer mean threshold, two 32-bit hex halves.
    // The oracle re-derives every frame's 64 grid lumas from the
    // generator and replays threshold + packing bit-for-bit.
    QueryDef("multimodal_video_phash", (s, d) => {
      ops.Multimodal.videoFrameHashAll(s,
        ops.Multimodal.videoTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("vhash"),
          col("n_bright"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Re-derives every frame's 8×8 grid lumas from the Y4M generator
      // (luma byte iy·w + ix of frame f), then the strict gray·64 > Σ
      // threshold and the two-half hex packing — certifying frame
      // extraction + plane indexing + hash arithmetic per frame.
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 12) * 2 + 8 AS w,
        |    (ascii(substr(text, 2, 1)) % 12) * 2 + 8 AS h,
        |    (ascii(substr(text, 1, 1)) +
        |     ascii(substr(text, 2, 1))) % 5 + 2 AS nf,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, s0, f
        |  FROM sz, LATERAL unnest(generate_series(0, nf - 1)) t(f)),
        |g AS (
        |  SELECT doc_id, f, y * 8 + x AS i,
        |    (s0 + 11 * f + 31 * ((y * h // 8) * w + (x * w // 8)))
        |      % 256 AS gray
        |  FROM fr,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (
        |  SELECT doc_id, f, sum(gray) AS total
        |  FROM g GROUP BY doc_id, f),
        |b AS (
        |  SELECT g.doc_id, g.f,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |      THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |      as bigint) AS hi,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |      THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |      as bigint) AS lo,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total THEN 1 ELSE 0 END)
        |      as bigint) AS n_bright
        |  FROM g JOIN t USING (doc_id, f) GROUP BY g.doc_id, g.f)
        |SELECT doc_id, cast(f as bigint) AS frame_idx,
        |  printf('%08x%08x', hi, lo) AS vhash, n_bright
        |FROM b ORDER BY doc_id, frame_idx""".stripMargin),

    // ★ r11: REAL COMPRESSED-format decode — the same deterministic
    // picture per doc as multimodal_decode, but encoded as true PNG
    // (ops.PngCodec: chunk framing with verified CRC-32s, zlib
    // DEFLATE via the JDK, scanline filters cycling y mod 5 so every
    // payload exercises None/Sub/Up/Average/Paeth reconstruction).
    // The oracle replays the pixel generator; matching px_sum
    // certifies inflate + all five unfilter paths byte-for-byte,
    // raw_len the decompressed scanline serialization. The container
    // (deflate output) length is implementation-defined and stays out
    // of the contract.
    QueryDef("multimodal_png", (s, d) => {
      ops.Multimodal.decodePngAll(s,
        ops.Multimodal.pngImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("raw_len"), col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the shared image generator for the PNG variant: same
      // dims / pixel arithmetic, raw_len = h·(1+3w) witnesses the
      // decompressed scanline serialization the Spark side must have
      // inflated to, px_sum the fully unfiltered plane (filters cycle
      // y mod 5, so a single wrong reconstruction arm would shift the
      // sum).
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  'png' AS format,
        |  cast((1 + 3 * w) * h as bigint) AS raw_len,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r11: HETEROGENEOUS-corpus decode — format varies PER ROW
    // (cp0 mod 3 → PPM / BMP / PNG), the shape of a real media
    // crawl: the decode stage dispatches by MAGIC BYTES, not a
    // table-level format flag. The oracle's px_sum would shift
    // immediately if the sniffer routed a row to the wrong parser
    // (BMP's padded bottom-up BGR vs PPM's raw plane vs PNG's
    // filtered+deflated scanlines).
    QueryDef("multimodal_mixed", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.mixedImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the shared image generator with the per-row format
      // split (cp0 mod 3) — the witness is the same full-plane px_sum,
      // so a sniffer mis-route shows up as a value mismatch.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * i) % 256) as bigint) AS px_sum
        |  FROM sz, LATERAL unnest(generate_series(0, w * h * 3 - 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  CASE cp0 % 3 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
        |    ELSE 'png' END AS format,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r12: REAL BASELINE JPEG decode — the format a real media
    // crawl is overwhelmingly made of: per doc a constant-block
    // grayscale picture encoded as interleaved 4:2:0 baseline JPEG
    // (real DQT/DHT/SOF0/SOS syntax, Huffman-coded DC deltas through
    // the spec's Annex K DC table), decoded by a full general
    // baseline decoder (ops.JpegCodec: canonical Huffman
    // construction, entropy scan with byte unstuffing, dequant,
    // exact separable IDCT, chroma upsampling, JFIF color convert).
    // Constant blocks under all-ones quantization survive JPEG
    // EXACTLY (only DC is nonzero), so the oracle replays the full
    // decoded pixel plane from the generator arithmetic; general AC
    // / ZRL / restart decoding is gated by hand-assembled streams in
    // JpegCodecSpec. Container length is Huffman-output-defined and
    // stays out of the contract (the PNG discipline).
    QueryDef("multimodal_jpeg", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.jpegImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the constant-block generator: w/h from the first two
      // codepoints (multiples of 16), block b flat gray
      // (s0 + 17·b) mod 256, px_sum = 192·Σ block values (64 pixels ×
      // 3 channels per block). A match certifies the WHOLE baseline
      // decode chain — Huffman DC deltas, dequant, IDCT, 4:2:0
      // upsample, color convert — reproduced every pixel.
      multimodalJpegOracleSql),

    // ★ r13: PROGRESSIVE JPEG decode (SOF2) — the multi-scan layout
    // real web JPEGs actually ship in: spectral selection (the AC
    // band as its own scan, coded as EOB runs) + successive
    // approximation (DC high bits first, a raw-bit refinement scan) —
    // T.81 Annex G over the existing canonical-Huffman/IDCT
    // machinery, with coefficients accumulated across scans and one
    // dequant+IDCT at EOI. The oracle replays the full pixel plane
    // (the DC quantizer folds out exactly); general AC-first /
    // AC-refinement arms and an independent cross-decoder conformance
    // check (javax.imageio over the SAME bytes) are gated in
    // JpegCodecSpec.
    QueryDef("multimodal_jpeg_progressive", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.progressiveJpegTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // progressive JPEG decodes the SAME constant-block picture the
      // baseline arm certifies — one pixel-plane oracle serves both
      multimodalJpegOracleSql),

    // ★ r12: the FOUR-format heterogeneous corpus (cp0 mod 4 → PPM /
    // BMP / PNG / JPEG over the shared constant-block picture) — the
    // media-crawl mix including the lossy format, dispatched per row
    // by magic bytes through the same sniffer. A mis-route of any
    // row to the wrong parser shifts px_sum immediately.
    QueryDef("multimodal_mixed4", (s, d) => {
      ops.Multimodal.decodeAll(s,
        ops.Multimodal.mixed4ImageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"), col("format"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // The 4-format split over the same block generator — the witness
      // is the shared full-plane px_sum, so a sniffer mis-route shows
      // up as a value mismatch in any arm.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    (ascii(substr(text, 1, 1)) % 4 + 1) * 16 AS w,
        |    (ascii(substr(text, 2, 1)) % 4 + 1) * 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum(192 * ((s0 + 17 * b) % 256)) as bigint) AS px_sum
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, (w // 8) * (h // 8) - 1))
        |      t(b)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  CASE cp0 % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
        |    WHEN 2 THEN 'png' ELSE 'jpeg' END AS format,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r11: rate normalization — decode → deinterleave channel 0 →
    // integer nearest-neighbor resample to 8 kHz (the pass a speech
    // corpus runs so every clip feeds the model at one rate; the
    // generator's four source rates hit the identity, 1/2, 2/3 and
    // 2/5 ratios). All-integer index math, replayed exactly by the
    // oracle down to the resampled energy.
    QueryDef("multimodal_audio_resample", (s, d) => {
      ops.Multimodal.resampleAudioAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")),
        targetRate = 8000)
        .toDF()
        .select(col("doc_id"), col("n_in"), col("n_out"),
          col("r_sq_sum"))
        .orderBy(col("doc_id"))
    },
      // Replays the resample index math: frames = n div ch,
      // n_out = frames·8000 div rate, output j reads channel-0 frame
      // j·frames div n_out (interleaved index ×ch), then the quadratic
      // sample formula and the energy sum.
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    8000 + (ascii(substr(text, 2, 1)) % 4) * 4000 AS rate,
        |    ascii(substr(text, 2, 1)) % 2 + 1 AS ch,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n // ch AS frames,
        |    (n // ch) * 8000 // rate AS n_out, ch, s0
        |  FROM sz),
        |idx AS (
        |  SELECT doc_id, frames, n_out,
        |    (j * frames // n_out) * ch AS i, s0
        |  FROM o, LATERAL unnest(generate_series(0, n_out - 1)) t(j)),
        |smp AS (
        |  SELECT doc_id, frames, n_out,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM idx)
        |SELECT doc_id,
        |  cast(max(frames) as bigint) AS n_in,
        |  cast(max(n_out) as bigint) AS n_out,
        |  cast(sum(s * s) as bigint) AS r_sq_sum
        |FROM smp GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // ★ r11: REAL AUDIO decode — deterministic WAV/PCM16 clips
    // (ops.AudioCodec: RIFF chunk walk with untrusted-size checks,
    // odd-chunk padding, fmt/data extraction) + the integer-exact
    // signal features a speech pipeline computes (energy as Σs²,
    // strict-sign zero crossings, peak |s|, integer-division
    // duration). The oracle replays the quadratic sample generator
    // and every feature — a match certifies container parse + sample
    // decode + all four feature kernels.
    QueryDef("multimodal_audio", (s, d) => {
      ops.Multimodal.decodeAudioAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"),
          col("sample_rate").cast("int").as("sample_rate"),
          col("channels").cast("int").as("channels"),
          col("n_samples"), col("dur_ms"), col("sq_sum"),
          col("n_zc"), col("peak"))
        .orderBy(col("doc_id"))
    },
      // Replays the audio generator (even sample count, rate/channels
      // from cp1, quadratic waveform) and all four integer feature
      // kernels; zero crossings via a lag window over the replayed
      // samples (the NULL first-lag row falls to the ELSE 0 arm, same
      // as Spark's i=1 start).
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    8000 + (ascii(substr(text, 2, 1)) % 4) * 4000 AS rate,
        |    ascii(substr(text, 2, 1)) % 2 + 1 AS ch,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM sz, LATERAL unnest(generate_series(0, n - 1)) t(i)),
        |zc AS (
        |  SELECT doc_id,
        |    CASE WHEN (s < 0) !=
        |      (lag(s) OVER (PARTITION BY doc_id ORDER BY i) < 0)
        |      THEN 1 ELSE 0 END AS z
        |  FROM smp),
        |feat AS (
        |  SELECT doc_id,
        |    cast(sum(s * s) as bigint) AS sq_sum,
        |    cast(max(abs(s)) as bigint) AS peak
        |  FROM smp GROUP BY doc_id),
        |zcs AS (
        |  SELECT doc_id, cast(sum(z) as bigint) AS n_zc
        |  FROM zc GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(rate as integer) AS sample_rate,
        |  cast(ch as integer) AS channels,
        |  cast(n as bigint) AS n_samples,
        |  cast((n // ch) * 1000 // rate as bigint) AS dur_ms,
        |  feat.sq_sum, zcs.n_zc, feat.peak
        |FROM sz JOIN feat USING (doc_id) JOIN zcs USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // ★ r11: framed audio energy — consecutive 256-sample frames of
    // the decoded stream, each with its integer energy (the windowed
    // pass before VAD/segmentation). Decode + framing share the row
    // (flatMap in the partition-wise slot); only (id, frame, n,
    // energy) rows travel. Oracle groups the replayed samples by
    // i div 256.
    QueryDef("multimodal_audio_frames", (s, d) => {
      ops.Multimodal.audioFramesAll(s,
        ops.Multimodal.audioTable(s, t(s, d, "documents")),
        frameLen = 256)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("f_n"),
          col("f_sq_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Groups the replayed samples into 256-sample frames (i div 256)
      // — the tail frame's short count is part of the contract.
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 768 + 256) * 2 AS n,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |smp AS (
        |  SELECT doc_id, i,
        |    ((s0 + 37 * i * i + 11 * i) % 4001) - 2000 AS s
        |  FROM sz, LATERAL unnest(generate_series(0, n - 1)) t(i))
        |SELECT doc_id,
        |  cast(i // 256 as bigint) AS frame_idx,
        |  cast(count(*) as bigint) AS f_n,
        |  cast(sum(s * s) as bigint) AS f_sq_sum
        |FROM smp GROUP BY doc_id, i // 256
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // ★ r11: REAL VIDEO decode — deterministic Y4M streams
    // (ops.VideoCodec: ASCII header tokenization, FRAME markers,
    // planar 4:2:0 extraction) exploded to one row per frame with
    // integer luma/chroma plane witnesses. The oracle replays the
    // per-frame byte generator and both plane sums — certifying
    // header parse, frame framing, and plane-boundary arithmetic.
    QueryDef("multimodal_video_frames", (s, d) => {
      ops.Multimodal.videoFramesAll(s,
        ops.Multimodal.videoTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("fps_num").cast("int").as("fps_num"),
          col("n_frames"), col("frame_idx"), col("y_sum"),
          col("c_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Replays the Y4M generator per (doc, frame): plane byte i =
      // (s0 + 11f + 31i) mod 256, split at the w·h luma/chroma
      // boundary; total planar size w·h·3/2 (even dims).
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) AS cp0,
        |    (ascii(substr(text, 1, 1)) % 12) * 2 + 8 AS w,
        |    (ascii(substr(text, 2, 1)) % 12) * 2 + 8 AS h,
        |    (ascii(substr(text, 1, 1)) +
        |     ascii(substr(text, 2, 1))) % 5 + 2 AS nf,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, nf, s0, f
        |  FROM sz, LATERAL unnest(generate_series(0, nf - 1)) t(f)),
        |px AS (
        |  SELECT doc_id, f,
        |    cast(sum(CASE WHEN i < w * h
        |      THEN (s0 + 11 * f + 31 * i) % 256 END) as bigint) AS y_sum,
        |    cast(sum(CASE WHEN i >= w * h
        |      THEN (s0 + 11 * f + 31 * i) % 256 END) as bigint) AS c_sum
        |  FROM fr,
        |    LATERAL unnest(generate_series(0, w * h * 3 // 2 - 1)) t(i)
        |  GROUP BY doc_id, f)
        |SELECT sz.doc_id,
        |  cast(w as integer) AS width,
        |  cast(h as integer) AS height,
        |  cast(CASE WHEN cp0 % 2 = 0 THEN 25 ELSE 30 END
        |    as integer) AS fps_num,
        |  cast(nf as bigint) AS n_frames,
        |  cast(f as bigint) AS frame_idx,
        |  px.y_sum, px.c_sum
        |FROM px JOIN sz USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // ★ r11: scene-cut detection over decoded video — per-clip count
    // of frames whose luma-plane sum jumps by ≥ w·h against the
    // previous frame (lag window PARTITIONED BY clip — bounded
    // frames per partition key, never global), plus the first cut
    // index. This is the cross-frame composition a curation pipeline
    // runs to segment clips before sampling; the oracle replays the
    // same lag/threshold over the re-derived luma sums.
    QueryDef("multimodal_video_scenes", (s, d) => {
      val wspec = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_idx")
      ops.Multimodal.videoFramesAll(s,
        ops.Multimodal.videoTable(s, t(s, d, "documents")))
        .toDF()
        .withColumn("prev", lag(col("y_sum"), 1).over(wspec))
        .withColumn("cut",
          when(col("prev").isNotNull &&
            abs(col("y_sum") - col("prev")) >=
              col("width").cast("long") * col("height"), 1L)
            .otherwise(0L))
        .groupBy(col("doc_id"))
        .agg(max(col("n_frames")).as("n_frames"),
          sum(col("cut")).as("n_cuts"),
          coalesce(min(when(col("cut") === 1L, col("frame_idx"))),
            lit(-1L)).as("first_cut"))
        .orderBy(col("doc_id"))
    },
      // Replays the luma sums, then the same lag/threshold scene-cut
      // rule (|Δy_sum| ≥ w·h, first frame never a cut) and the
      // first-cut index with the -1 no-cut sentinel.
      """WITH sz AS (
        |  SELECT doc_id,
        |    (ascii(substr(text, 1, 1)) % 12) * 2 + 8 AS w,
        |    (ascii(substr(text, 2, 1)) % 12) * 2 + 8 AS h,
        |    (ascii(substr(text, 1, 1)) +
        |     ascii(substr(text, 2, 1))) % 5 + 2 AS nf,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, nf, s0, f
        |  FROM sz, LATERAL unnest(generate_series(0, nf - 1)) t(f)),
        |ys AS (
        |  SELECT doc_id, f, max(w) AS w, max(h) AS h, max(nf) AS nf,
        |    sum((s0 + 11 * f + 31 * i) % 256) AS y_sum
        |  FROM fr, LATERAL unnest(generate_series(0, w * h - 1)) t(i)
        |  GROUP BY doc_id, f),
        |cuts AS (
        |  SELECT doc_id, f, nf,
        |    CASE WHEN abs(y_sum -
        |        lag(y_sum) OVER (PARTITION BY doc_id ORDER BY f))
        |        >= w * h
        |      THEN 1 ELSE 0 END AS cut
        |  FROM ys)
        |SELECT doc_id,
        |  cast(max(nf) as bigint) AS n_frames,
        |  cast(sum(cut) as bigint) AS n_cuts,
        |  cast(coalesce(min(CASE WHEN cut = 1 THEN f END), -1)
        |    as bigint) AS first_cut
        |FROM cuts GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // ★ r11: TRUE average-hash over REAL decoded pixels — grayscale →
    // 8×8 nearest-neighbor grid → strict-integer mean threshold → 64
    // bits as hex (ImageCodec.averageHash). The oracle re-derives all
    // 64 grid grays from the generator arithmetic, replays the
    // gray·64 > Σgrays comparison, and packs the same two 32-bit
    // halves — certifying the whole perceptual-hash pipeline
    // (decode → sample → threshold → pack) bit-for-bit cross-engine.
    QueryDef("multimodal_ahash", (s, d) => {
      ops.Multimodal.averageHashAll(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")))
        .toDF()
        .select(col("doc_id"), col("ahash"), col("n_bright"))
        .orderBy(col("doc_id"))
    },
      // Replays the full perceptual-hash pipeline from the generator:
      // 8×8 nearest-neighbor grid grays ((r+g+b) div 3 from the
      // (s0+31i) mod 256 pixel formula), the strict-integer
      // gray·64 > Σgrays threshold, and the two zero-padded 32-bit hex
      // halves — the Spark side computed all of it from REAL decoded
      // bytes, so equality certifies decode + sample + threshold + pack.
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, y * 8 + x AS i,
        |    ((s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3)) % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 1))
        |       % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 2))
        |       % 256) // 3 AS gray
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
        |b AS (
        |  SELECT g.doc_id,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |      THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |      as bigint) AS hi,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |      THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |      as bigint) AS lo,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total THEN 1 ELSE 0 END)
        |      as bigint) AS n_bright
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id)
        |SELECT doc_id, printf('%08x%08x', hi, lo) AS ahash, n_bright
        |FROM b ORDER BY doc_id""".stripMargin),

    // ★ r11: near-dup detection over REAL decoded pixels — the aHash
    // kernel feeding the shared 4×16-bit banded blocking + exact
    // Hamming verify (any pair within Hamming 3 shares a band by
    // pigeonhole). The oracle re-derives every image's 64-bit aHash
    // from the generator arithmetic, replays banding, candidate
    // generation (DISTINCT a<b pairs), two-half Hamming verification
    // and the per-image partner count — the full image-dedup pipeline
    // certified end-to-end over real pixel bytes.
    QueryDef("multimodal_ahash_dups", (s, d) => {
      ops.Multimodal.ahashDupSummary(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")))
        .orderBy(col("doc_id"))
    },
      // Replays the full image near-dup pipeline from the generator:
      // per-doc aHash (as two 32-bit halves — a packed signed long would
      // overflow BIGINT arithmetic at bit 63), 4×16-bit banding over the
      // halves, DISTINCT a<b candidate pairs, two-half Hamming verify,
      // symmetric partner counts. Mirrors DedupOps.hammingNearDupSummary
      // + ImageCodec.averageHash exactly (bucket caps are structural at
      // oracle scale: 500 docs < maxBucket).
      """WITH sz AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS w,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS h,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, y * 8 + x AS i,
        |    ((s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3)) % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 1))
        |       % 256
        |     + (s0 + 31 * (((y * h // 8) * w + (x * w // 8)) * 3 + 2))
        |       % 256) // 3 AS gray
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, 7)) ty(y),
        |    LATERAL unnest(generate_series(0, 7)) tx(x)),
        |t AS (SELECT doc_id, sum(gray) AS total FROM g GROUP BY doc_id),
        |hh AS (
        |  SELECT g.doc_id,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i >= 32
        |      THEN (CAST(1 AS BIGINT) << (g.i - 32)) ELSE 0 END)
        |      as bigint) AS hi,
        |    cast(sum(CASE WHEN g.gray * 64 > t.total AND g.i < 32
        |      THEN (CAST(1 AS BIGINT) << g.i) ELSE 0 END)
        |      as bigint) AS lo
        |  FROM g JOIN t USING (doc_id) GROUP BY g.doc_id),
        |band AS (
        |  SELECT doc_id, bb AS band_id,
        |    CASE bb WHEN 0 THEN lo & 65535
        |            WHEN 1 THEN (lo >> 16) & 65535
        |            WHEN 2 THEN hi & 65535
        |            ELSE (hi >> 16) & 65535 END AS band_val
        |  FROM hh, LATERAL unnest(generate_series(0, 3)) t(bb)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |    ON x.band_id = y.band_id AND x.band_val = y.band_val
        |   AND x.doc_id < y.doc_id),
        |near AS (
        |  SELECT c.a, c.b FROM cand c
        |  JOIN hh pa ON pa.doc_id = c.a
        |  JOIN hh pb ON pb.doc_id = c.b
        |  WHERE bit_count(xor(pa.hi, pb.hi))
        |      + bit_count(xor(pa.lo, pb.lo)) <= 3),
        |sym AS (SELECT a AS id FROM near
        |        UNION ALL SELECT b AS id FROM near),
        |cnt AS (SELECT id, count(*) AS n FROM sym GROUP BY id)
        |SELECT hh.doc_id, printf('%08x%08x', hi, lo) AS ahash,
        |  cast(coalesce(c.n, 0) as bigint) AS n_near
        |FROM hh LEFT JOIN cnt c ON c.id = hh.doc_id
        |ORDER BY doc_id""".stripMargin),

    // REAL thumbnail pass: ImageCodec decode + nearest-neighbor
    // resample of the actual pixels (fit into a 48px box, never
    // upscale), one partition-wise batch. px_sum witnesses every
    // RESAMPLED byte — the oracle re-derives the sampling grid and the
    // generator's pixel values and must land on the same sum.
    QueryDef("multimodal_resize", (s, d) => {
      ops.Multimodal.resizeAll(s,
        ops.Multimodal.imageTable(s, t(s, d, "documents")), maxSide = 48)
        .toDF()
        .select(col("doc_id"), col("width").cast("int").as("width"),
          col("height").cast("int").as("height"),
          col("out_width").cast("int").as("out_width"),
          col("out_height").cast("int").as("out_height"),
          col("px_sum"))
        .orderBy(col("doc_id"))
    },
      // Mirrors ImageCodec.resizeNearest over the imageTable generator.
      // The scale factor is computed division-first (48.0 / longest,
      // then multiply) in BOTH engines so the IEEE operation order — and
      // any half-way rounding — is identical; the nearest-neighbor
      // sampling grid is integer division (oy*h // oh, ox*w // ow), so
      // px_sum re-derives every RESAMPLED pixel byte from the generator
      // formula and must equal what the real codec produced.
      """WITH dec AS (
        |  SELECT doc_id,
        |    ascii(substr(text, 1, 1)) % 64 + 16 AS width,
        |    ascii(substr(text, 2, 1)) % 64 + 16 AS height,
        |    (ascii(substr(text, 1, 1)) * 7 +
        |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
        |  FROM documents),
        |sz AS (
        |  SELECT doc_id, width, height, s0,
        |    cast(CASE WHEN greatest(width, height) <= 48 THEN width
        |         ELSE greatest(1, cast(round(width *
        |           (48.0 / greatest(width, height))) as integer)) END
        |      as bigint) AS ow,
        |    cast(CASE WHEN greatest(width, height) <= 48 THEN height
        |         ELSE greatest(1, cast(round(height *
        |           (48.0 / greatest(width, height))) as integer)) END
        |      as bigint) AS oh
        |  FROM dec),
        |px AS (
        |  SELECT doc_id,
        |    cast(sum((s0 + 31 * (((oy * height // oh) * width
        |      + (ox * width // ow)) * 3 + c)) % 256) as bigint)
        |      AS px_sum
        |  FROM sz,
        |    LATERAL unnest(generate_series(0, oh - 1)) ty(oy),
        |    LATERAL unnest(generate_series(0, ow - 1)) tx(ox),
        |    LATERAL unnest(generate_series(0, 2)) tc(c)
        |  GROUP BY doc_id)
        |SELECT sz.doc_id,
        |  cast(width as integer) AS width,
        |  cast(height as integer) AS height,
        |  cast(ow as integer) AS out_width,
        |  cast(oh as integer) AS out_height,
        |  px.px_sum
        |FROM sz JOIN px USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
      key = "mrs"),

    // Feature extraction over binary payloads (stub embedding model:
    // deterministic unit-norm 16-float signature; real model swaps in
    // per-partition). Rows-only — invariants (unit norm, determinism,
    // ANN composability) are MultimodalSpec-gated.
    QueryDef("multimodal_features", (s, d) => {
      ops.Multimodal.featureExtractAll(s,
        ops.Multimodal.mediaTable(t(s, d, "documents")), dim = 16)
        .toDF()
        .select(col("doc_id"),
          round(element_at(col("feature"), 1), 4).as("f0"),
          size(col("feature")).cast("bigint").as("dim"))
        .orderBy(col("doc_id"))
    },
      featuresOracleSql,
      key = "mft"),

    // Opaque-binary column handling: bytes + content hash over a binary
    // payload column (text encoded as the stand-in payload; the decode
    // step itself is stubbed — see graft.ops.Multimodal).
    QueryDef("multimodal_meta", (s, d) => {
      t(s, d, "documents")
        .select(
          col("doc_id"),
          octet_length(col("text")).cast("bigint").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("content_hash"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
      key = "mmt"),

    // Perceptual-hash near-duplicate detection over binary payloads —
    // the image analogue of dedup_simhash: a stubbed average-hash (64
    // sampled "pixels", mean threshold; a real codec swaps into the
    // same partition-wise batch), 4×16-bit banded blocking, exact
    // Hamming verify ≤ 3 (simhash's discipline; 8-bit bands measured
    // quadratic — see scaladoc). Candidate volume is bucket-bounded, the
    // verify moves only 16-byte (id, hash) pairs — payload bytes never
    // shuffle. Rows-only; planted-duplicate detection and determinism
    // are MultimodalSpec-gated.
    QueryDef("multimodal_phash", (s, d) => {
      ops.Multimodal.phashDupSummary(s,
        ops.Multimodal.mediaTable(t(s, d, "documents")))
        .orderBy(col("doc_id"))
    },
      phashOracleSql,
      key = "mph"),

    // Deterministic frame-offset sampling over binary media payloads
    // (ops.Multimodal.frameOffsets — every 64th byte offset, capped
    // at 8 frames/asset): the planning-level manifest a video
    // pipeline hands its decode stage, needing NO codec — pure
    // integer column math over (length, stride, cap), zero shuffle
    // beyond the presentation sort. The oracle replays the stride
    // arithmetic over the same stand-in payloads (text bytes).
    QueryDef("multimodal_framesample", (s, d) => {
      val media = ops.Multimodal.mediaTable(t(s, d, "documents"))
      media.select(col("doc_id"),
          length(col("content")).cast("bigint").as("n_bytes"),
          posexplode(ops.Multimodal.frameOffsets(col("content"),
            stride = 64, maxFrames = 8)))
        .select(col("doc_id"), col("n_bytes"),
          col("pos").cast("bigint").as("frame_idx"),
          col("col").cast("bigint").as("byte_off"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
      // Frame sampling: text is the stand-in payload (the mediaTable
      // contract), so byte length = strlen; offsets are the stride grid
      // capped at 8.
      """WITH m AS (SELECT doc_id, strlen(text) AS n_bytes
        |           FROM documents),
        |f AS (SELECT doc_id, n_bytes,
        |        (generate_series(0, n_bytes - 1, 64))[1:8] AS offs
        |      FROM m)
        |SELECT doc_id, n_bytes, i - 1 AS frame_idx, offs[i] AS byte_off
        |FROM f, LATERAL unnest(generate_series(1, len(offs))) t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin)
  )

  /** DuckDB mirror of the stub perceptual-hash near-dup summary: the
    * payload is the text's UTF-8 bytes, so the 64 sampled "pixels"
    * extract from the hex-encoded blob (byte at floor(i·len/64),
    * byte-exact even for multibyte text), the mean threshold packs
    * into a BIGINT (bit 63 via the most-negative-long addition — a
    * 1<<63 literal overflows), and the 4×16-bit banded-Hamming tail
    * replays with arithmetic-shift-then-mask (== unsigned shift under
    * the 16-bit mask), xor + bit_count verification. */
  private lazy val phashOracleSql: String =
    """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
      |            octet_length(encode(text)) AS len FROM documents),
      |px AS (SELECT doc_id, i,
      |  CASE WHEN len = 0 THEN 0
      |       ELSE ('0x' || substr(hx, 2*((i*len)//64) + 1, 2))::INT
      |  END AS p
      |  FROM b, LATERAL unnest(generate_series(0, 63)) t(i)),
      |pm AS (SELECT doc_id, i, p,
      |  avg(p) OVER (PARTITION BY doc_id) AS mean FROM px),
      |ph AS (SELECT doc_id,
      |  cast(sum(CASE WHEN p > mean AND i < 63
      |                THEN (1::BIGINT << i) ELSE 0 END) as BIGINT)
      |  + CASE WHEN max(CASE WHEN i = 63 AND p > mean
      |                       THEN 1 ELSE 0 END) = 1
      |         THEN (-9223372036854775808)::BIGINT ELSE 0 END AS phash
      |  FROM pm GROUP BY doc_id),
      |band AS (SELECT doc_id, bb AS band_id,
      |  (phash >> (bb*16)) & 65535 AS band_val
      |  FROM ph, LATERAL unnest(generate_series(0, 3)) t(bb)),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM band x JOIN band y
      |    ON x.band_id = y.band_id AND x.band_val = y.band_val
      |   AND x.doc_id < y.doc_id),
      |near AS (SELECT c.a, c.b FROM cand c
      |  JOIN ph pa ON pa.doc_id = c.a
      |  JOIN ph pb ON pb.doc_id = c.b
      |  WHERE bit_count(xor(pa.phash, pb.phash)) <= 3),
      |sym AS (SELECT a AS id FROM near
      |        UNION ALL SELECT b AS id FROM near),
      |cnt AS (SELECT id, count(*) AS n FROM sym GROUP BY id)
      |SELECT p.doc_id, p.phash,
      |  cast(coalesce(c.n, 0) as bigint) AS n_near
      |FROM ph p LEFT JOIN cnt c ON c.id = p.doc_id
      |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the stub feature extractor: Hash64 (FNV-1a with
    * a seed-mixed initial state + the splitmix64 finalizer — wrapping
    * 64-bit multiplies emulated via [[sqlWrapMul]], unsigned shifts
    * via shift-and-mask) replayed per (doc, lane) with a recursive CTE
    * walking the payload bytes, then the exact unit-norm arithmetic:
    * v = float(hash / Long.MaxValue), norm = sqrt of the lane-ordered
    * double square sum, f0 = float(v0 / norm) rounded to 4dp. */
  private lazy val featuresOracleSql: String = {
    val FnvPrime = 0x100000001b3L
    val Gold = 0x9e3779b97f4a7c15L
    val C1 = 0xbf58476d1ce4e5b9L
    val C2 = 0x94d049bb133111ebL
    val FnvOffset = 0xcbf29ce484222325L // -3750763034362895579 signed
    val initH = s"xor(${FnvOffset}::BIGINT, " +
      s"${sqlWrapMul("(lane+1)::BIGINT", Gold)})"
    val stepH = sqlWrapMul(
      "xor(r.h, ('0x' || substr(b.hx, 2*r.pos + 1, 2))::BIGINT)",
      FnvPrime)
    val mix1 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 30)})", C1)
    val mix2 = sqlWrapMul(s"xor(h, ${sqlUshr("h", 27)})", C2)
    s"""WITH RECURSIVE
       |b AS (SELECT doc_id, hex(encode(text)) AS hx,
       |        octet_length(encode(text)) AS len FROM documents),
       |lanes AS (SELECT unnest(generate_series(0, 15)) AS lane),
       |rec(doc_id, lane, pos, h) AS (
       |  SELECT b.doc_id, lanes.lane, 0, $initH
       |  FROM b CROSS JOIN lanes
       |  UNION ALL
       |  SELECT r.doc_id, r.lane, r.pos + 1, $stepH
       |  FROM rec r JOIN b ON b.doc_id = r.doc_id
       |  WHERE r.pos < b.len),
       |fin AS (SELECT r.doc_id, r.lane, r.h
       |        FROM rec r JOIN b ON b.doc_id = r.doc_id
       |        WHERE r.pos = b.len),
       |m1 AS (SELECT doc_id, lane, $mix1 AS h FROM fin),
       |m2 AS (SELECT doc_id, lane, $mix2 AS h FROM m1),
       |hv AS (SELECT doc_id, lane,
       |  CAST(xor(h, ${sqlUshr("h", 31)})::DOUBLE /
       |    9223372036854775807::DOUBLE AS FLOAT) AS v FROM m2),
       |vl AS (SELECT doc_id, list(v::DOUBLE ORDER BY lane) AS vs
       |       FROM hv GROUP BY doc_id),
       |nm AS (SELECT doc_id, vs,
       |  sqrt(list_sum(list_transform(vs, x -> x * x))) AS norm
       |  FROM vl)
       |SELECT doc_id,
       |  CASE WHEN norm = 0.0 THEN round(CAST(vs[1] AS FLOAT), 4)
       |       ELSE round(CAST(vs[1] / norm AS FLOAT), 4) END AS f0,
       |  16::BIGINT AS dim
       |FROM nm ORDER BY doc_id""".stripMargin
  }

  private lazy val multimodalJpegOracleSql: String =
    """WITH sz AS (
      |  SELECT doc_id,
      |    (ascii(substr(text, 1, 1)) % 4 + 1) * 16 AS w,
      |    (ascii(substr(text, 2, 1)) % 4 + 1) * 16 AS h,
      |    (ascii(substr(text, 1, 1)) * 7 +
      |     ascii(substr(text, 2, 1)) * 13) % 256 AS s0
      |  FROM documents),
      |px AS (
      |  SELECT doc_id,
      |    cast(sum(192 * ((s0 + 17 * b) % 256)) as bigint) AS px_sum
      |  FROM sz,
      |    LATERAL unnest(generate_series(0, (w // 8) * (h // 8) - 1))
      |      t(b)
      |  GROUP BY doc_id)
      |SELECT sz.doc_id,
      |  cast(w as integer) AS width,
      |  cast(h as integer) AS height,
      |  'jpeg' AS format,
      |  px.px_sum
      |FROM sz JOIN px USING (doc_id)
      |ORDER BY doc_id""".stripMargin
}
