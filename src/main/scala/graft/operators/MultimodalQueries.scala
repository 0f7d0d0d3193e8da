package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact.{dsum, sqlSum}
import graft.multimodal.MultimodalPipeline

/** Declared, oracle-checked query over the multimodal pipeline (SURVEY.md §7
  * extensions; round-1 verdict item 9): the full asset → decode →
  * frame-sample path runs for real (binary payloads, per-partition decode in
  * `mapPartitions`, repartition-by-asset), with the honestly-stubbed codec
  * producing deterministic dimensions — so the plumbing that matters at
  * 100 TB is exercised and CORRECTNESS-gated even though the container has
  * no image/audio libraries. */
object MultimodalQueries {

  private val Stride = 2
  /** Integer box-pool factor for mm2's resize (2×2 spatial / ×4 temporal). */
  private val ResizeK = 2

  /** PCM window size (samples) for mm4; the 256-sample assets yield 4 full
    * windows each. */
  private val WinSize = 64

  /** Tile grid for mm5 (16×16 PPMs → 2×2 grid of 8×8 tiles). */
  private val TileGrid = 2

  /** mm6's cut threshold: the expected SAD of two INDEPENDENT uniform
    * 192-byte rasters is 192·E|a−b| = 192·(255/3) = 16320 — a pair at or
    * above the independent-content expectation is a shot boundary, below
    * it is intra-scene motion. The md5-generated frames sit right at the
    * expectation, so the declared query exercises both outcomes. */
  private val CutSad = 16320L

  /** mm7's near-dup verdict threshold: ≤ [[DupMaxHamming]] differing bits
    * of 64 (the usual dHash operating point — identical content with mild
    * brightness/noise edits lands at 0–10, unrelated images center at
    * ~32). */
  private val DupMaxHamming = 12

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm1_decode_stats" -> mm1,
    "mm2_resize_features" -> mm2,
    "mm3_codec_decode" -> mm3,
    "mm4_audio_windows" -> mm4,
    "mm5_image_tiles" -> mm5,
    "mm6_scene_cuts" -> mm6,
    "mm7_image_phash" -> mm7,
    "mm8_audio_fingerprint" -> mm8,
    "mm10_scene_keyframes" -> mm10,
    "mm9_integrity_audit" -> mm9,
    "mm11_png_decode" -> mm11,
    "mm12_jpeg_audit" -> mm12,
    "mm13_png_phash" -> mm13,
    "mm14_jpeg_fidelity" -> mm14,
    "mm15_mp3_audit" -> mm15,
    "mm16_mp4_audit" -> mm16,
    "mm17_adpcm_fidelity" -> mm17,
    "mm18_image_dup_verdict" -> mm18,
    "mm19_audio_dup_verdict" -> mm19)

  /** mm11: REAL-WORLD format decode — every image-modality document as a
    * spec-conformant truecolor PNG (zlib IDAT, CRC32-validated chunks),
    * decoded end-to-end by the hand-rolled [[graft.multimodal.RealFormats]]
    * decoder (chunk walk, CRC verify, inflate, five-filter scanline
    * reconstruction) and reduced to integer channel sums. PNG is lossless,
    * so the oracle recomputes the sums from the md5 generation formula
    * with no binary parsing (the mm3/mm5 discipline on a real container
    * format): one bad filter reconstruction, CRC skip, or inflate slip
    * anywhere breaks the hash match. Cross-encoder reads (ImageIO's
    * adaptive filtering) are pinned in RealFormatsSpec. */
  private def mm11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.pngAssets(s, d)
    MultimodalPipeline.decodePngStats(assets).toDF()
      .select($"assetId".as("asset_id"),
        $"width".cast("long").as("width"), $"height".cast("long").as("height"),
        $"nChunks".cast("long").as("n_chunks"),
        $"sR".as("s_r"), $"sG".as("s_g"), $"sB".as("s_b"))
      .orderBy($"asset_id")
  }

  /** mm12: REAL-WORLD compressed-format structural audit — the same rasters
    * baseline-JPEG-encoded by the JDK codec, then marker-walked by the
    * hand-rolled [[graft.multimodal.RealFormats.parseJpeg]] (SOI, segment
    * lengths, SOF frame header, entropy-scan skip with byte-stuffing and
    * restart-marker rules, EOI). The oracle states what the frame header
    * MUST say from the generation formula (dims/components/precision are
    * properties of the encoded image, not the encoder), so a misread
    * big-endian field or a scan-skip that swallows a segment breaks the
    * match. Lossy pixel values are deliberately NOT in the query — decode
    * fidelity and dHash recompression invariance are pinned in
    * RealFormatsSpec, where determinism is per-JDK rather than closed-form. */
  private def mm12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.jpegAssets(s, d)
    MultimodalPipeline.jpegAudit(assets).toDF()
      .select($"assetId".as("asset_id"),
        $"width".cast("long").as("width"), $"height".cast("long").as("height"),
        $"nComponents".cast("long").as("n_components"),
        $"precision".cast("long").as("precision"), $"ok")
      .orderBy($"asset_id")
  }

  /** mm15: REAL-WORLD audio-container structural audit — every
    * audio-modality document as a spec-conformant MPEG-1 Layer III stream
    * (ID3v2 prefix, alternating-padding frame chain, Xing VBR header),
    * frame-sync-walked by the hand-rolled
    * [[graft.multimodal.RealContainers.parseMp3]] (sync/version/layer
    * bits, the public bitrate and sample-rate index tables, per-frame
    * `⌊144·bitrate/sr⌋ + pad` jumps, Xing extraction, exact stream
    * consumption). The oracle derives what the walk MUST measure from the
    * generation formula alone — one mis-sized frame, a swallowed padding
    * bit, or a mis-skipped ID3 tag breaks the hash match. Malformed
    * streams quarantine as `ok = false` rows (RealContainersSpec pins
    * that path with planted corruption). */
  private def mm15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    MultimodalPipeline.mp3Audit(MultimodalPipeline.mp3Assets(s, d)).toDF()
      .select($"assetId".as("asset_id"),
        $"nFrames".cast("long").as("n_frames"),
        $"sampleRate".cast("long").as("sample_rate"),
        $"bitrateKbps".cast("long").as("bitrate_kbps"),
        $"nStreamBytes".as("n_stream_bytes"),
        $"nSamples".as("n_samples"),
        $"xingFrames".cast("long").as("xing_frames"), $"ok")
      .orderBy($"asset_id")
  }

  /** mm16: REAL-WORLD video-container structural audit — every
    * video-modality document as a spec-conformant single-track ISO-BMFF
    * file, box-walked by [[graft.multimodal.RealContainers.parseMp4]]
    * (recursive size+fourcc tiling, mvhd/mdhd version handling, and the
    * demuxer cross-checks: Σ stsz == mdat payload, stco offset == mdat
    * payload file offset). The oracle states the closed-form structure
    * (box census, 40 ticks/sample duration, 192-byte samples, total
    * `522 + 196·n` bytes) from the generation formula — a box walk that
    * drops a level, misreads a version-1 width, or miscounts mdat breaks
    * the match. Malformed files quarantine as `ok = false` rows. */
  private def mm16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    MultimodalPipeline.mp4Audit(MultimodalPipeline.mp4Assets(s, d)).toDF()
      .select($"assetId".as("asset_id"),
        $"nBoxes".cast("long").as("n_boxes"),
        $"majorBrand".as("major_brand"),
        $"timescale".cast("long").as("timescale"),
        $"durationTicks".cast("long").as("duration_ticks"),
        $"nSamples".cast("long").as("n_samples"),
        $"mdatBytes".as("mdat_bytes"), $"totalBytes".as("total_bytes"), $"ok")
      .orderBy($"asset_id")
  }

  /** mm1: per-modality decode statistics — asset/frame counts and mean
    * decoded dimensions after frame-sampling every 2nd frame, over the
    * REAL mixed corpus (PNG/WAV/GRFV) with every dimension measured by the
    * real parsers; the oracle states the encoder-contract dims the decode
    * must recover. `modality` rides the decoded frame, so no second pass
    * over the asset source. */
  private def mm1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.realMediaAssets(s, d)
    val decoded = MultimodalPipeline.decode(assets, stride = Stride)
    decoded.toDF()
      .groupBy($"modality")
      .agg(
        countDistinct($"assetId").as("n_assets"),
        count(lit(1)).as("n_frames"),
        (sum($"width").cast("double") / count(lit(1))).as("avg_width"),
        (sum($"height").cast("double") / count(lit(1))).as("avg_height"))
      .orderBy($"modality")
  }

  /** mm2: resize + feature-extraction statistics over the REAL corpus —
    * decoded frames box-pooled by [[MultimodalPipeline.resize]] (2×2
    * spatial average on pixels, ×4 temporal pool on samples, truncating
    * integer division) and summarized by [[MultimodalPipeline
    * .bucketFeatures]] (16 bucket means, each ONE float32 division of two
    * exact integers). Per modality: decimal-exact sum and min/max over
    * every feature element — the oracle rebuilds pixels/samples from the
    * md5 generation chain, pools with `//`, and reproduces the float32
    * division in REAL, bit-identical. */
  private def mm2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.realMediaAssets(s, d)
    val resized = MultimodalPipeline.resize(
      MultimodalPipeline.decode(assets, stride = Stride), ResizeK)
    resized
      .map(f => (f.modality, f.assetId, f.frameIdx,
        MultimodalPipeline.bucketFeatures(f)))
      .toDF("modality", "assetId", "frameIdx", "features")
      .select($"modality", $"assetId", $"frameIdx", explode($"features").as("f"))
      .groupBy($"modality")
      .agg(
        countDistinct($"assetId" * 100 + $"frameIdx").as("n_frames"),
        count(lit(1)).as("n_vals"),
        dsum($"f".cast("double")).as("feat_sum"),
        min($"f").cast("double").as("feat_min"),
        max($"f").cast("double").as("feat_max"))
      .orderBy($"modality")
  }

  /** mm3: the REAL-codec path — actual PPM/WAV/GRFV bytes generated
    * deterministically, parsed with the real [[graft.multimodal.Codec]]
    * parsers (header validation, RIFF chunk walking, frame-index
    * extraction), aggregated as integer channel/sample sums. The oracle
    * recomputes the sums from the generation formula WITHOUT parsing any
    * binary, so a single misread byte anywhere in the decode path breaks
    * the hash match. */
  private def mm3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.codecAssets(s, d)
    val decoded = MultimodalPipeline.decodeCodec(assets, stride = Stride)
    decoded.toDF()
      .join(assets.toDF().select($"assetId", $"modality"), "assetId")
      .groupBy($"modality")
      .agg(
        countDistinct($"assetId").as("n_assets"),
        count(lit(1)).as("n_frames"),
        sum($"s1").as("sum1"),
        sum($"s2").as("sum2"),
        sum($"s3").as("sum3"))
      .orderBy($"modality")
  }

  /** mm6: scene-cut detection over the GRFV video containers — per
    * consecutive frame pair, the raster sum-of-absolute-differences and a
    * cut verdict at [[CutSad]] (the standard shot-boundary pipeline step
    * that decides which video frames a training pipeline keeps). Every
    * frame decodes ONCE ([[MultimodalPipeline.frameDeltas]] carries the
    * previous raster across the pair loop), work is per-asset-parallel
    * after one assetId repartition, and the stats are integers so the
    * oracle rebuilds them from the generation formula without parsing a
    * byte of container. */
  private def mm6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.codecAssets(s, d)
    MultimodalPipeline.frameDeltas(assets).toDF()
      .select($"assetId".as("asset_id"), $"frameIdx".as("frame_idx"),
        $"sad", $"maxd", ($"sad" >= CutSad).as("is_cut"))
      .orderBy($"asset_id", $"frame_idx")
  }

  /** mm10: shot segmentation — mm6's cut verdicts rolled into SHOT
    * segments (per asset: shot id, start frame, frame count), the
    * keyframe/clip manifest a video-curation pipeline feeds to sampling
    * (take one frame per shot) and captioning (one clip per shot): a cut
    * between frames (f, f+1) starts a new shot at f+1, frame 0 starts
    * shot 0. Built FROM the mm6 delta rows — one filter, one
    * frame-count-bounded per-asset window for shot numbering and the
    * lead-based lengths, one per-asset count join; decoding cost is
    * exactly mm6's (each frame still decodes once). Shot-frame masses
    * telescope to the asset's frame count (spec-pinned). */
  private def mm10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // snapshot: the delta subtree is referenced three times (counts twice
    // via the final join, plus the cut filter) and carries the per-frame
    // decode — un-checkpointed, every branch would re-decode the corpus
    val deltas = mm6(s, d).localCheckpoint(eager = false)
    val counts = deltas.groupBy($"asset_id")
      .agg((max($"frame_idx") + 2).cast("long").as("n_frames"))
    val starts = counts.select($"asset_id", lit(0L).as("start_frame"))
      .unionAll(deltas.filter($"is_cut")
        .select($"asset_id", ($"frame_idx" + 1).cast("long").as("start_frame")))
    val w = Window.partitionBy($"asset_id").orderBy($"start_frame")
    starts
      .withColumn("shot_id", (row_number().over(w) - 1).cast("long"))
      .withColumn("next_start", lead($"start_frame", 1).over(w))
      .join(counts, "asset_id")
      .select($"asset_id", $"shot_id", $"start_frame",
        (coalesce($"next_start", $"n_frames") - $"start_frame").as("shot_frames"))
      .orderBy($"asset_id", $"shot_id")
  }

  /** mm4: windowed audio features over the REAL WAV decode — per
    * [[WinSize]]-sample window of each PCM16 stream: sample count, sum,
    * min, max, and integer energy (Σ v²). The oracle regenerates the
    * samples from the md5 chain WITHOUT parsing binary (window w = the
    * samples of blocks 8w..8w+7), so a misplaced window boundary or a
    * misread sample anywhere in the chunk walk breaks the hash match. */
  private def mm4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.codecAssets(s, d)
    MultimodalPipeline.decodeWavWindows(assets, WinSize).toDF()
      .select($"assetId".as("asset_id"),
        $"winIdx".cast("long").as("win_idx"),
        $"nSamples".cast("long").as("n_samples"),
        $"sSum".as("s_sum"), $"sMin".as("s_min"), $"sMax".as("s_max"),
        $"energy")
      .orderBy($"asset_id", $"win_idx")
  }

  /** mm5: tiled image features over the REAL PPM decode — the 16×16 raster
    * splits into a 2×2 grid of 8×8 tiles, per-tile integer channel sums
    * (the patch/crop stage of a vision pipeline). The oracle regenerates
    * every raster byte from the md5 chain and re-derives each byte's
    * (pixel, channel, tile) coordinates arithmetically, so a transposed
    * tile boundary or channel order anywhere in the decode breaks the
    * hash match. */
  private def mm5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val assets = MultimodalPipeline.codecAssets(s, d)
    MultimodalPipeline.decodeImageTiles(assets, TileGrid).toDF()
      .select($"assetId".as("asset_id"),
        $"tileIdx".cast("long").as("tile_idx"),
        $"w".cast("long").as("tile_w"), $"h".cast("long").as("tile_h"),
        $"sR".as("s_r"), $"sG".as("s_g"), $"sB".as("s_b"))
      .orderBy($"asset_id", $"tile_idx")
  }

  /** Per-document media fingerprint rows (doc_id, modality, sig_lo,
    * sig_hi, bands) for a documents frame — mm7's image dHash and mm8's
    * acoustic fingerprint in ONE narrow table (audio packs into sig_lo,
    * sig_hi 0). Derivations need only the doc key (assets regenerate from
    * it; a real deployment would read the media store once instead), and
    * rows are strictly per-document, so the table is append-exact under
    * batches like the shingle/posting families. */
  private[operators] def mediaFpRowsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val assets = docs.select($"doc_id").as[Long]
      .filter((id: Long) => id % 3 == 0 || id % 3 == 1)
      .map { id =>
        if (id % 3 == 0) MultimodalPipeline.imageAsset(id)
        else MultimodalPipeline.audioAsset(id)
      }
    val img = MultimodalPipeline.imageHashes(assets).toDF()
      .select($"assetId".as("doc_id"), lit("image").as("modality"),
        $"hLo".as("sig_lo"), $"hHi".as("sig_hi"), $"bands")
    val aud = MultimodalPipeline.audioFingerprints(assets).toDF()
      .select($"assetId".as("doc_id"), lit("audio").as("modality"),
        $"fp".as("sig_lo"), lit(0L).as("sig_hi"), $"bands")
    // real-format arm: the same image documents, PNG-encoded and hashed
    // through the real decode path (v2 of the table layout)
    val pngAssets = docs.select($"doc_id").as[Long]
      .filter((id: Long) => id % 3 == 0)
      .map(id => MultimodalPipeline.MediaAsset(id, "image",
        graft.multimodal.RealFormats.writePng(16, 16, MultimodalPipeline.realRaster(id)),
        Map("format" -> "png")))
    val png = MultimodalPipeline.pngHashes(pngAssets).toDF()
      .select($"assetId".as("doc_id"), lit("png_image").as("modality"),
        $"hLo".as("sig_lo"), $"hHi".as("sig_hi"), $"bands")
    // lossy real-format arm (v3): the same rasters baseline-JPEG-encoded
    // with the JDK codec and hashed through the real lossy decode — the
    // fingerprint a production corpus's actual .jpg assets would carry
    val jpgAssets = docs.select($"doc_id").as[Long]
      .filter((id: Long) => id % 3 == 0)
      .map(id => MultimodalPipeline.MediaAsset(id, "image",
        graft.multimodal.RealFormats.writeJpeg(16, 16, MultimodalPipeline.realRaster(id)),
        Map("format" -> "jpeg")))
    val jpg = MultimodalPipeline.jpegHashes(jpgAssets).toDF()
      .select($"assetId".as("doc_id"), lit("jpeg_image").as("modality"),
        $"hLo".as("sig_lo"), $"hHi".as("sig_hi"), $"bands")
    // lossy real-audio arm (v4): the same PCM streams IMA-ADPCM-encoded
    // and fingerprinted through the real adaptive decode — the audio
    // sibling of the jpeg_image arm (mm17 bounds its drift)
    val adpcmAssets = docs.select($"doc_id").as[Long]
      .filter((id: Long) => id % 3 == 1)
      .map(id => MultimodalPipeline.adpcmAsset(id))
    val adp = MultimodalPipeline.adpcmFingerprints(adpcmAssets).toDF()
      .select($"assetId".as("doc_id"), lit("adpcm_audio").as("modality"),
        $"fp".as("sig_lo"), lit(0L).as("sig_hi"), $"bands")
    img.unionAll(aud).unionAll(png).unionAll(jpg).unionAll(adp)
  }

  /** At-rest media fingerprint table — built once at ingest like every
    * maintained index ([[graft.operators.Ingest.buildDocumentIndexes]]),
    * so mm7/mm8's candidate joins scan 26-byte rows and never re-decode a
    * raster or PCM stream at query time. */
  private[operators] def mediaFp(s: SparkSession, d: String): DataFrame =
    DocIndex.MediaFp.read(s, d)

  /** Force at-rest fingerprint materialization (untimed in Bench). */
  def warm(s: SparkSession, d: String): Unit = {
    mediaFp(s, d)
    ()
  }

  /** mm7: image near-dup candidates via perceptual hashing — dHash every
    * image once ([[MultimodalPipeline.imageHashes]]: real PPM decode →
    * integer grayscale → 8×8 block grid → 64 row-difference bits), then
    * find candidate pairs by LSH BANDING on the 8 row bytes (equi-join on
    * (band_idx, band_val) — Σ per-bucket products candidate mass, the
    * dd3/ss2 discipline, never an image×image cross join) and verify each
    * candidate with the exact 64-bit Hamming distance (`bit_count(xor)` on
    * the two packed halves — the dd4 machinery). `is_dup` applies the
    * [[DupMaxHamming]] verdict; the driver corpus's md5 rasters are
    * mutually unrelated so every verdict is false here, while
    * ImagePhashSpec plants brightness-shifted and noise-edited copies and
    * pins that banding finds them at hamming ≤ threshold. At 100 TB the
    * hash table is a 26-byte-per-image at-rest scan and the band join is
    * AQE-skew-splittable; nothing ever rescans a raster.
    *
    * Scale bound (measured, round-13 ladder): the OUTPUT is the banded
    * candidate-pair set itself, so its size is the birthday bound
    * Σ C(occ,2) over the 8×256 buckets — ~n²/2⁹ on uniform dHashes (md5
    * rasters; real-image bytes concentrate and are worse). sf1 measures
    * 4.3M pairs / 14.6 s, one more decade is ~430M. No witness escalation
    * can help: the candidate set IS the declared result (the oracle
    * mirrors the banding), and at the ≤12-of-64 operating point the
    * pigeonhole guarantees nothing over 8 byte-bands anyway. The scale
    * path is the dd2/dd21 discipline — the pre-flight [[Controls]]
    * massCheck below refuses a saturated corpus with remediation
    * (re-band wider / filter to `is_dup` verdicts downstream), and the
    * occupancy probe costs one narrow agg over the at-rest table. */
  private def mm7(s: SparkSession, d: String): DataFrame = phash(s, d, "image")

  /** mm13: mm7's near-dup machinery over the REAL-FORMAT arm — fingerprints
    * that came from actual PNG decode (chunk walk, CRC verify, inflate,
    * unfilter; [[MultimodalPipeline.pngHashes]]) maintained in the same
    * at-rest `media_fp` table under the `png_image` modality. The oracle
    * rebuilds the expected dHashes from the generation formula (PNG is
    * lossless, so decode output IS the formula raster) and reruns the whole
    * banded candidate join + Hamming verify — one wrong filter
    * reconstruction in any of 1667 sf0.1 decodes breaks the hash match. */
  private def mm13(s: SparkSession, d: String): DataFrame = phash(s, d, "png_image")

  /** mm14's verdict bound: a JPEG-decoded raster's dHash may drift from the
    * source raster's by at most this many of 64 bits. Measured over 2000
    * noise rasters (covers every sf0.1 image asset; noise is JPEG's worst
    * content class) the real drift is mean 5.9, p99 12, max 16, while a
    * structurally broken decode (the planted row-transpose) centers at 30
    * with a thin low tail reaching 16 — so 20 keeps every real decode
    * inside with 4 bits of headroom and flags 96% of broken ones, flipping
    * verdicts corpus-wide (JpegFidelitySpec pins both sides). */
  private val JpegMaxDrift = 20L

  /** mm14: JPEG decode-FIDELITY audit — the lossy real-format arm's
    * correctness gate. Per image document, the maintained `media_fp` table
    * carries two independently-derived fingerprints of the SAME formula
    * raster: `png_image` (lossless real-PNG decode — oracle-proven equal to
    * the formula dHash by mm13) and `jpeg_image` (the JDK baseline JPEG
    * codec's encode→decode cycle, [[MultimodalPipeline.jpegHashes]]). The
    * query joins the two 26-byte rows per document and verdicts
    * `ok = hamming ≤ [[JpegMaxDrift]]`. The oracle re-derives the PNG
    * signatures from the generation formula and states `ok = true` — so a
    * wrong PNG signature breaks the hash match directly, and ANY structural
    * break in the JPEG path (channel packing, row order, upsampling, half
    * packing) pushes the drift toward the unrelated-content center of 32
    * and flips verdicts corpus-wide. Lossy decode can't be recomputed in
    * SQL; bounding its drift against an exactly-proven reference is how the
    * real-world format stays inside the oracle gate. Scale shape: one
    * narrow at-rest scan, one doc-keyed equi-join, zero decode at query
    * time. */
  private def mm14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = mediaFp(s, d)
    val png = fp.filter($"modality" === "png_image")
      .select($"doc_id", $"sig_lo".as("png_lo"), $"sig_hi".as("png_hi"))
    val jpg = fp.filter($"modality" === "jpeg_image")
      .select($"doc_id", $"sig_lo".as("jpg_lo"), $"sig_hi".as("jpg_hi"))
    val ham = (expr("bit_count(png_lo ^ jpg_lo)") +
      expr("bit_count(png_hi ^ jpg_hi)")).cast("long")
    png.join(jpg, Seq("doc_id"))
      .select($"doc_id", $"png_lo", $"png_hi", (ham <= JpegMaxDrift).as("ok"))
      .orderBy($"doc_id")
  }

  /** mm17's verdict bound: an ADPCM-decoded stream's 32-bit energy
    * fingerprint may drift from the source PCM's by at most this many
    * bits. Measured over all 16,667 audio assets of the sf1 id range
    * (md5-chain noise — ADPCM's worst content class, the quantizer never
    * settles): mean 3.9, p99 9, max 14, while a structurally broken
    * decode (the planted sign-bit drop) centers at the unrelated-content
    * 16 — so 16 keeps every real decode inside with 2 bits of headroom
    * and flags about half the broken population, flipping verdicts
    * corpus-wide (RealAudioSpec pins both sides). */
  private val AdpcmMaxDrift = 16L

  /** mm17: ADPCM decode-FIDELITY audit — mm14's discipline applied to the
    * real lossy AUDIO arm, closing the round-11 decode asymmetry (images
    * decode-proven, audio structure-only). Per audio document the
    * maintained `media_fp` table carries two independently-derived
    * fingerprints of the SAME PCM stream: `audio` (RIFF walk + PCM
    * passthrough — oracle-recomputed exactly from the md5 generation
    * formula, the mm8 construction) and `adpcm_audio` (IMA ADPCM encode →
    * real adaptive-staircase decode, [[graft.multimodal.RealAudio]]). The
    * query joins the two 26-byte rows per document and verdicts
    * `ok = hamming ≤ [[AdpcmMaxDrift]]`; the oracle re-derives the PCM
    * fingerprint and states `ok = true`, so a wrong PCM fingerprint
    * breaks the hash directly and ANY structural break in the ADPCM path
    * (nibble order, sign handling, index clamping, step staircase) pushes
    * drift toward the unrelated-content center of 16 and flips verdicts
    * corpus-wide. Scale shape: one narrow at-rest scan, one doc-keyed
    * equi-join, zero decode at query time. */
  private def mm17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = mediaFp(s, d)
    val pcm = fp.filter($"modality" === "audio")
      .select($"doc_id", $"sig_lo".as("pcm_fp"))
    val adp = fp.filter($"modality" === "adpcm_audio")
      .select($"doc_id", $"sig_lo".as("adpcm_fp"))
    val ham = expr("bit_count(pcm_fp ^ adpcm_fp)").cast("long")
    pcm.join(adp, Seq("doc_id"))
      .select($"doc_id", $"pcm_fp", (ham <= AdpcmMaxDrift).as("ok"))
      .orderBy($"doc_id")
  }

  private def phash(s: SparkSession, d: String, modality: String): DataFrame = {
    import s.implicits._
    // pushed modality predicate over the maintained at-rest fingerprint
    // table — nothing re-decodes a raster at query time
    val hashes = mediaFp(s, d).filter($"modality" === modality)
      .select($"doc_id".as("assetId"), $"sig_lo", $"sig_hi", $"bands")
    val bands = hashes.select($"assetId", posexplode($"bands").as(Seq("band_idx", "band_val")))
    // pre-flight seatbelt (see mm7 scaladoc): the output is the candidate
    // set, whose exact size is the bucket-occupancy birthday sum — one
    // narrow agg over the at-rest fingerprints, memoized per corpus version
    Controls.massGate(s, s"phash:$modality", d, "the (band, value) occupancy") {
      bands.groupBy($"band_idx", $"band_val").agg(count(lit(1)).as("occ"))
        .agg(coalesce(sum(expr("occ * (occ - 1) div 2")), lit(0L)))
        .head.getLong(0)
    }
    val cand = bands.select($"assetId".as("asset_a"), $"band_idx", $"band_val")
      .join(bands.select($"assetId".as("asset_b"), $"band_idx", $"band_val"),
        Seq("band_idx", "band_val"))
      .filter($"asset_a" < $"asset_b")
      .groupBy($"asset_a", $"asset_b")
      .agg(count(lit(1)).as("n_shared_bands"))
    val ham = (expr("bit_count(lo_a ^ lo_b)") + expr("bit_count(hi_a ^ hi_b)")).cast("long")
    cand
      .join(hashes.select($"assetId".as("asset_a"), $"sig_lo".as("lo_a"), $"sig_hi".as("hi_a")),
        "asset_a")
      .join(hashes.select($"assetId".as("asset_b"), $"sig_lo".as("lo_b"), $"sig_hi".as("hi_b")),
        "asset_b")
      .select($"asset_a", $"asset_b", $"n_shared_bands",
        ham.as("hamming"), (ham <= DupMaxHamming).as("is_dup"))
      .orderBy($"asset_a", $"asset_b")
  }

  /** mm8's near-dup verdict threshold: ≤ [[AudioMaxHamming]] of the 32
    * energy-difference bits (same operating-point logic as mm7 at half the
    * bit budget — gain-changed/re-encoded copies land near 0, unrelated
    * audio centers at ~16). */
  private val AudioMaxHamming = 6

  /** mm8: audio near-dup candidates via acoustic fingerprinting — the
    * audio sibling of mm7 and the third member of the modality dedup
    * family (text dd1–dd13, image mm7, audio mm8). Every WAV fingerprints
    * once ([[MultimodalPipeline.audioFingerprints]]: real RIFF parse →
    * 8-sample window energies → 32 wraparound sign-of-difference bits,
    * amplitude-scale invariant), candidates come from LSH banding on the
    * 4 fingerprint bytes, and each candidate is verified with the exact
    * `bit_count(xor)` Hamming distance on the packed fingerprint. The
    * driver corpus's md5 streams are mutually unrelated so every verdict
    * is false here; AudioFingerprintSpec plants gain-scaled and
    * sample-edited copies and pins that banding finds them under the
    * threshold. Scale shape identical to mm7: narrow at-rest fingerprint
    * rows, Σ per-bucket-product candidate mass, no raster/stream rescans. */
  private def mm8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fps = mediaFp(s, d).filter($"modality" === "audio")
      .select($"doc_id".as("assetId"), $"sig_lo".as("fp"), $"bands")
    val bands = fps.select($"assetId", posexplode($"bands").as(Seq("band_idx", "band_val")))
    // same candidate-set output bound as mm7 (see its scaladoc): gate on
    // the exact bucket-occupancy birthday sum before the join launches
    Controls.massGate(s, "phash:audio", d, "the (band, value) occupancy") {
      bands.groupBy($"band_idx", $"band_val").agg(count(lit(1)).as("occ"))
        .agg(coalesce(sum(expr("occ * (occ - 1) div 2")), lit(0L)))
        .head.getLong(0)
    }
    val cand = bands.select($"assetId".as("asset_a"), $"band_idx", $"band_val")
      .join(bands.select($"assetId".as("asset_b"), $"band_idx", $"band_val"),
        Seq("band_idx", "band_val"))
      .filter($"asset_a" < $"asset_b")
      .groupBy($"asset_a", $"asset_b")
      .agg(count(lit(1)).as("n_shared_bands"))
    val ham = expr("bit_count(fp_a ^ fp_b)").cast("long")
    cand
      .join(fps.select($"assetId".as("asset_a"), $"fp".as("fp_a")), "asset_a")
      .join(fps.select($"assetId".as("asset_b"), $"fp".as("fp_b")), "asset_b")
      .select($"asset_a", $"asset_b", $"n_shared_bands",
        ham.as("hamming"), (ham <= AudioMaxHamming).as("is_dup"))
      .orderBy($"asset_a", $"asset_b")
  }

  /** Per-asset near-dup VERDICT core, shared by mm18/mm19 and their spec:
    * over a fingerprint frame (asset_id, sig_lo, sig_hi, bands), aggregate
    * each asset's banded candidate neighborhood down to one row —
    * (n_band_hits, best_match, best_hamming, is_dup) — instead of
    * materializing the candidate-pair set. The aggregation is arg-min by
    * (hamming, candidate id) via `min(struct(ham, cand))`, which Spark
    * partial-aggregates MAP-SIDE inside the band join's output stage: the
    * only shuffles are the linear band rows (keyed on the bucket) and the
    * linear per-asset partials. The quadratic-in-bucket candidate mass
    * still flows through the join ITERATOR (that is the declared banded
    * semantics), but it is compute inside one stage, never a shuffled or
    * materialized row set — which is exactly why this query stays usable
    * where mm7/mm8/mm13's pair queries refuse: their OUTPUT is the
    * birthday-bound pair set (~n²/2⁹), this one's is one row per asset. */
  private[operators] def dupVerdictRowsOf(hashes: DataFrame, maxHam: Long): DataFrame = {
    val s = hashes.sparkSession
    import s.implicits._
    val bandRows = hashes.select($"asset_id", $"sig_lo", $"sig_hi",
      posexplode($"bands").as(Seq("band_idx", "band_val")))
    // explicit-width repartition on the probe side: the fingerprint scan is
    // a handful of files, the dimension side broadcasts, and without it the
    // whole quadratic-in-bucket pair compute + partial aggregation runs in
    // ONE task (the documented a03/dd7 AQE trap — measured 7.9 s → 1.9 s at
    // the sf1 rung). asset_id is uniform and pre-groups the arg-min's key.
    val shuffleN = s.conf.get("spark.sql.shuffle.partitions").toInt
    val a = bandRows.select($"asset_id", $"sig_lo".as("lo_a"), $"sig_hi".as("hi_a"),
      $"band_idx", $"band_val")
      .repartition(shuffleN, $"asset_id")
    val b = bandRows.select($"asset_id".as("cand"), $"sig_lo".as("lo_b"),
      $"sig_hi".as("hi_b"), $"band_idx", $"band_val")
    // audio packs its 32 bits into sig_lo with sig_hi = 0, so the two-half
    // Hamming is exact for every modality
    val ham = (expr("bit_count(lo_a ^ lo_b)") + expr("bit_count(hi_a ^ hi_b)")).cast("long")
    val hits = a.join(b, Seq("band_idx", "band_val"))
      .filter($"asset_id" =!= $"cand")
      .select($"asset_id", ham.as("ham"), $"cand")
      .groupBy($"asset_id")
      .agg(count(lit(1)).as("n_band_hits"), min(struct($"ham", $"cand")).as("best"))
    hashes.join(hits, Seq("asset_id"), "left")
      .select($"asset_id",
        coalesce($"n_band_hits", lit(0L)).as("n_band_hits"),
        $"best.cand".as("best_match"),
        $"best.ham".as("best_hamming"),
        coalesce($"best.ham" <= maxHam, lit(false)).as("is_dup"))
      .orderBy($"asset_id")
  }

  /** mm18: per-asset image near-dup VERDICT — the round-14 scale path for
    * the media-dedup family (round-13 verdict item 1). mm7/mm13's declared
    * output IS the banded candidate-pair set, whose size is the birthday
    * bound ~n²/2⁹ — on a saturated corpus the [[Controls]] massCheck
    * rightly refuses, and a 100 TB deployment had zero usable media
    * near-dup signal past the gate. This query is the dd12/dd19 discipline
    * applied to `media_fp`: one row per asset — how many band collisions
    * it has, its single best match (min Hamming, ties → lowest id), and
    * the ≤ [[DupMaxHamming]] dup verdict — so output and every shuffle are
    * LINEAR in assets regardless of how saturated the band buckets get,
    * and downstream curation (drop/keep decisions, dup-rate audits) reads
    * verdicts instead of pairs. Runs UNGATED by design; the oracle
    * recomputes the same arg-min from the generation-formula dHashes. */
  private def mm18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = mediaFp(s, d).filter($"modality" === "image")
      .select($"doc_id".as("asset_id"), $"sig_lo", $"sig_hi", $"bands")
    dupVerdictRowsOf(hashes, DupMaxHamming.toLong)
  }

  /** mm19: per-asset audio near-dup VERDICT — mm18's discipline on the
    * acoustic fingerprints (32 bits in sig_lo, 4 byte-bands, the mm8 arm),
    * verdict at ≤ [[AudioMaxHamming]]. Same linear-output scale shape. */
  private def mm19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hashes = mediaFp(s, d).filter($"modality" === "audio")
      .select($"doc_id".as("asset_id"), $"sig_lo", $"sig_hi", $"bands")
    dupVerdictRowsOf(hashes, AudioMaxHamming.toLong)
  }

  /** mm9: container integrity audit — parse every asset's REAL container
    * structure ([[MultimodalPipeline.integrity]]: PPM header vs raster,
    * RIFF chunk walk, GRFV frame index) and emit measured byte / frame /
    * payload-unit counts plus a per-asset `ok` verdict (malformed blobs
    * become quarantine rows, never failed jobs). The oracle states what
    * the bytes MUST measure from the generation formula alone (closed-form
    * header+payload sizes, no byte parsed), so the hash match proves the
    * on-wire containers are structurally exactly what the pipeline
    * believes it wrote — the standing corpus-corruption gate, the
    * multimodal sibling of p09's maintained-state-vs-raw check. */
  private def mm9(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    MultimodalPipeline.integrity(MultimodalPipeline.codecAssets(s, d)).toDF()
      .select($"assetId".as("asset_id"), $"modality",
        $"nBytes".as("n_bytes"), $"nFrames".as("n_frames"),
        $"nUnits".as("n_units"), $"ok")
      .orderBy($"asset_id")
  }

  /** Hex-pair byte value (0..255) at byte index `j` of md5-hex `hx`. */
  private def hexByte(hx: String, j: String) =
    s"((strpos('0123456789abcdef', substring($hx, 2 * ($j) + 1, 1)) - 1) * 16" +
      s" + strpos('0123456789abcdef', substring($hx, 2 * ($j) + 2, 1)) - 1)"

  /** The PCM acoustic-fingerprint reconstruction (CTE chain ending in
    * `fps(asset_id, fp)`): rebuild the 256 PCM16 samples from the md5
    * chain (window w's 8 samples ARE block w), window energies → 32
    * wraparound sign bits → packed fingerprint. Shared by mm8's near-dup
    * oracle and mm17's fidelity oracle. */
  private def audioFpSql: String =
    s"""assets AS (
       |  SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 1
       |),
       |audb AS (
       |  SELECT asset_id, b,
       |         md5(CAST(asset_id AS VARCHAR) || '#aud#' || CAST(b AS VARCHAR)) AS hx
       |  FROM assets, (SELECT unnest(generate_series(0, 31)) AS b) bb
       |),
       |eb AS (
       |  SELECT asset_id, b, SUM(v * v) AS e FROM (
       |    SELECT asset_id, b,
       |           ${hexByte("hx", "2 * m")} * 256 + ${hexByte("hx", "2 * m + 1")} - 32768 AS v
       |    FROM audb, (SELECT unnest(generate_series(0, 7)) AS m) mm) z
       |  GROUP BY asset_id, b
       |),
       |bits AS (
       |  SELECT a.asset_id, a.b AS w, CASE WHEN a.e > n.e THEN 1 ELSE 0 END AS bit
       |  FROM eb a JOIN eb n ON n.asset_id = a.asset_id AND n.b = (a.b + 1) % 32
       |),
       |fps AS (
       |  SELECT asset_id,
       |         CAST(SUM(bit * (CAST(1 AS BIGINT) << w)) AS BIGINT) AS fp
       |  FROM bits GROUP BY asset_id
       |)""".stripMargin

  /** DuckDB reconstructions of the REAL generation chains: modality =
    * doc_id mod 3; pixels/samples rebuilt from the md5 content formulas
    * the encoders consumed, so every oracle states what the real decode
    * must recover. */
  def oracleSql: Map[String, String] = Map(
    // mm11: byte j of the 768-byte raster = md5 chain block j//16 offset
    // j%16 with salt '#png' (mm5's reconstruction under a different salt);
    // channel = j%3. Dims/chunk count are fixed by the encoder contract
    // (16×16, IHDR+IDAT+IEND) — the engine MEASURES them from real bytes.
    "mm11_png_decode" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 0
         |),
         |bytes AS (
         |  SELECT asset_id, j,
         |         ${hexByte("md5(CAST(asset_id AS VARCHAR) || '#png#' || CAST(j // 16 AS VARCHAR))", "j % 16")} AS v
         |  FROM assets, (SELECT unnest(generate_series(0, 767)) AS j) jj
         |)
         |SELECT asset_id,
         |       CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
         |       CAST(3 AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN j % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS s_r,
         |       CAST(SUM(CASE WHEN j % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS s_g,
         |       CAST(SUM(CASE WHEN j % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS s_b
         |FROM bytes GROUP BY asset_id
         |ORDER BY asset_id""".stripMargin,
    // mm12: the SOF frame header is a property of the image, not the
    // encoder — 16×16, 3 components (YCbCr), 8-bit baseline — so the
    // expectation is closed-form; the engine walks real JDK-encoded JPEGs.
    "mm12_jpeg_audit" ->
      s"""SELECT doc_id AS asset_id,
         |       CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
         |       CAST(3 AS BIGINT) AS n_components,
         |       CAST(8 AS BIGINT) AS precision,
         |       TRUE AS ok
         |FROM documents WHERE doc_id % 3 = 0
         |ORDER BY asset_id""".stripMargin,
    // mm15: the MP3 frame chain is closed-form in the doc keys — bitrate
    // index 1 + doc_id%14 through the public MPEG-1 L3 kbps table,
    // sample-rate index (doc_id/3)%3, 2 + n_chars%5 frames, frame f of
    // length 144000·kbps//sr + f%2 — so the oracle reconstructs what the
    // engine's real frame-sync walk must measure, byte-count for
    // byte-count, with zero binary parsing.
    "mm15_mp3_audit" ->
      s"""WITH a AS (
         |  SELECT doc_id AS asset_id,
         |         CASE CAST(1 + doc_id % 14 AS INTEGER)
         |           WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
         |           WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
         |           WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
         |           WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS kbps,
         |         CASE CAST((doc_id // 3) % 3 AS INTEGER)
         |           WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr,
         |         2 + CAST(n_chars % 5 AS INTEGER) AS nf
         |  FROM documents WHERE doc_id % 3 = 1
         |),
         |fr AS (
         |  SELECT asset_id, kbps, sr, nf,
         |         unnest(generate_series(0, nf - 1)) AS f
         |  FROM a
         |)
         |SELECT asset_id,
         |       CAST(nf AS BIGINT) AS n_frames,
         |       CAST(sr AS BIGINT) AS sample_rate,
         |       CAST(kbps AS BIGINT) AS bitrate_kbps,
         |       CAST(SUM(144000 * kbps // sr + f % 2) AS BIGINT) AS n_stream_bytes,
         |       CAST(nf AS BIGINT) * 1152 AS n_samples,
         |       CAST(nf AS BIGINT) AS xing_frames,
         |       TRUE AS ok
         |FROM fr GROUP BY asset_id, nf, sr, kbps
         |ORDER BY asset_id""".stripMargin,
    // mm16: the ISO-BMFF layout is closed-form in n = n_chars%3 + 2 —
    // 19 boxes (ftyp, moov[mvhd, trak[tkhd, mdia[mdhd, hdlr, minf[vmhd,
    // dinf[dref], stbl[stsd, stts, stsc, stsz, stco]]]]], mdat), duration
    // 40n ticks at timescale 1000, mdat 192n payload bytes, total
    // 522 + 196n (pinned against the writer in RealContainersSpec) — the
    // engine box-walks real files, the oracle derives the must-be values.
    "mm16_mp4_audit" ->
      s"""SELECT doc_id AS asset_id,
         |       CAST(19 AS BIGINT) AS n_boxes,
         |       'isom' AS major_brand,
         |       CAST(1000 AS BIGINT) AS timescale,
         |       40 * (CAST(n_chars % 3 AS BIGINT) + 2) AS duration_ticks,
         |       CAST(n_chars % 3 AS BIGINT) + 2 AS n_samples,
         |       192 * (CAST(n_chars % 3 AS BIGINT) + 2) AS mdat_bytes,
         |       522 + 196 * (CAST(n_chars % 3 AS BIGINT) + 2) AS total_bytes,
         |       TRUE AS ok
         |FROM documents WHERE doc_id % 3 = 2
         |ORDER BY asset_id""".stripMargin,
    // mm9: closed-form expected sizes from the generation formula — image
    // PPM = "P6\n16 16\n255\n"(13) + 768 raster; audio WAV = 44-byte
    // header + 256·2 PCM bytes; video GRFV = 8 + nf·(4 + 11 + 192) with
    // nf = n_chars%3 + 2. Nothing here parses a byte — the engine side
    // measures real containers, the oracle derives what they must be.
    "mm9_integrity_audit" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id,
         |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |         n_chars
         |  FROM documents
         |)
         |SELECT asset_id, modality,
         |  CAST(CASE modality WHEN 'image' THEN 781 WHEN 'audio' THEN 556
         |       ELSE 8 + 207 * (n_chars % 3 + 2) END AS BIGINT) AS n_bytes,
         |  CAST(CASE modality WHEN 'video' THEN n_chars % 3 + 2 ELSE 1 END AS BIGINT) AS n_frames,
         |  CAST(CASE modality WHEN 'video' THEN 64 * (n_chars % 3 + 2) ELSE 256 END AS BIGINT) AS n_units,
         |  TRUE AS ok
         |FROM assets ORDER BY asset_id""".stripMargin,
    // mm1: the REAL corpus's dims/frame counts are encoder contracts the
    // real decode must recover — image 16×16 PNG, audio 256-sample WAV
    // (w=n_samples, h=1), video (n_chars%3)+2 GRFV frames of 8×8 PPM,
    // sampled by stride 2.
    "mm1_decode_stats" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id,
         |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |         n_chars
         |  FROM documents
         |),
         |fr AS (
         |  SELECT asset_id, modality,
         |         unnest(CASE WHEN modality = 'video'
         |                THEN generate_series(0, CAST(n_chars % 3 AS INTEGER) + 1, $Stride)
         |                ELSE [CAST(0 AS BIGINT)] END) AS fi
         |  FROM assets
         |)
         |SELECT modality,
         |       CAST(COUNT(DISTINCT asset_id) AS BIGINT) AS n_assets,
         |       CAST(COUNT(*) AS BIGINT) AS n_frames,
         |       CAST(SUM(CASE modality WHEN 'image' THEN 16 WHEN 'audio' THEN 256 ELSE 8 END) AS DOUBLE)
         |         / COUNT(*) AS avg_width,
         |       CAST(SUM(CASE modality WHEN 'audio' THEN 1 WHEN 'image' THEN 16 ELSE 8 END) AS DOUBLE)
         |         / COUNT(*) AS avg_height
         |FROM fr GROUP BY modality ORDER BY modality""".stripMargin,
    // mm2: rebuild the decoded values from the md5 generation chains
    // (image '#img' 768 raster bytes, audio '#aud' 256 PCM16 samples,
    // video '#vid#fi' 192-byte frames), pool with truncating `//` exactly
    // like resize's JVM `/`, then each feature is ONE float32 division of
    // exact integers — REAL arithmetic reproduces every bit.
    "mm2_resize_features" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id,
         |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |         n_chars
         |  FROM documents
         |),
         |imgv AS (
         |  SELECT asset_id, j,
         |         ${hexByte("md5(CAST(asset_id AS VARCHAR) || '#img#' || CAST(j // 16 AS VARCHAR))", "j % 16")} AS v
         |  FROM assets, (SELECT unnest(generate_series(0, 767)) AS j) jj
         |  WHERE modality = 'image'
         |),
         |imgp AS (
         |  SELECT asset_id,
         |         (((j // 3) // 16) // 2 * 8 + ((j // 3) % 16) // 2) * 3 + j % 3 AS q,
         |         SUM(v) // 4 AS pv
         |  FROM imgv
         |  GROUP BY asset_id, (((j // 3) // 16) // 2 * 8 + ((j // 3) % 16) // 2) * 3 + j % 3
         |),
         |imgf AS (
         |  SELECT asset_id, 0 AS fi,
         |         CAST(CAST(SUM(pv) - 1536 AS REAL) / CAST(1536 AS REAL) AS REAL) AS f
         |  FROM imgp GROUP BY asset_id, q // 12
         |),
         |audv AS (
         |  SELECT asset_id, m,
         |         ${hexByte("md5(CAST(asset_id AS VARCHAR) || '#aud#' || CAST(m // 8 AS VARCHAR))", "2 * (m % 8)")} * 256
         |       + ${hexByte("md5(CAST(asset_id AS VARCHAR) || '#aud#' || CAST(m // 8 AS VARCHAR))", "2 * (m % 8) + 1")} - 32768 AS v
         |  FROM assets, (SELECT unnest(generate_series(0, 255)) AS m) mm
         |  WHERE modality = 'audio'
         |),
         |audp AS (
         |  SELECT asset_id, m // 4 AS q, SUM(v) // 4 AS pv
         |  FROM audv GROUP BY asset_id, m // 4
         |),
         |audf AS (
         |  SELECT asset_id, 0 AS fi,
         |         CAST(CAST(SUM(pv) AS REAL) / CAST(131072 AS REAL) AS REAL) AS f
         |  FROM audp GROUP BY asset_id, q // 4
         |),
         |vidv AS (
         |  SELECT asset_id, fi, j,
         |         ${hexByte("md5(CAST(asset_id AS VARCHAR) || '#vid#' || CAST(fi AS VARCHAR) || '#' || CAST(j // 16 AS VARCHAR))", "j % 16")} AS v
         |  FROM (SELECT asset_id, unnest(generate_series(0, CAST(n_chars % 3 AS INTEGER) + 1, $Stride)) AS fi
         |        FROM assets WHERE modality = 'video') fz,
         |       (SELECT unnest(generate_series(0, 191)) AS j) jj
         |),
         |vidp AS (
         |  SELECT asset_id, fi,
         |         (((j // 3) // 8) // 2 * 4 + ((j // 3) % 8) // 2) * 3 + j % 3 AS q,
         |         SUM(v) // 4 AS pv
         |  FROM vidv GROUP BY asset_id, fi, (((j // 3) // 8) // 2 * 4 + ((j // 3) % 8) // 2) * 3 + j % 3
         |),
         |vidf AS (
         |  SELECT asset_id, fi,
         |         CAST(CAST(SUM(pv) - 384 AS REAL) / CAST(384 AS REAL) AS REAL) AS f
         |  FROM vidp GROUP BY asset_id, fi, q // 3
         |),
         |allf AS (
         |  SELECT a.modality, u.asset_id, u.fi, u.f
         |  FROM (SELECT * FROM imgf UNION ALL SELECT * FROM audf UNION ALL SELECT * FROM vidf) u
         |  JOIN assets a ON u.asset_id = a.asset_id
         |)
         |SELECT modality,
         |       CAST(COUNT(DISTINCT asset_id * 100 + fi) AS BIGINT) AS n_frames,
         |       CAST(COUNT(*) AS BIGINT) AS n_vals,
         |       ${sqlSum("CAST(f AS DOUBLE)")} AS feat_sum,
         |       CAST(MIN(f) AS DOUBLE) AS feat_min,
         |       CAST(MAX(f) AS DOUBLE) AS feat_max
         |FROM allf GROUP BY modality ORDER BY modality""".stripMargin,
    // mm4: audio = 32 md5 blocks of 8 samples each; window w (WinSize=64
    // samples) = blocks 8w..8w+7, i.e. win_idx = b // (WinSize/8)
    "mm4_audio_windows" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 1
         |),
         |audb AS (
         |  SELECT asset_id, b,
         |         md5(CAST(asset_id AS VARCHAR) || '#aud#' || CAST(b AS VARCHAR)) AS hx
         |  FROM assets, (SELECT unnest(generate_series(0, 31)) AS b) bb
         |),
         |audv AS (
         |  SELECT asset_id, b // ${WinSize / 8} AS win_idx,
         |         ${hexByte("hx", "2 * m")} * 256 + ${hexByte("hx", "2 * m + 1")} - 32768 AS v
         |  FROM audb, (SELECT unnest(generate_series(0, 7)) AS m) mm
         |)
         |SELECT asset_id, CAST(win_idx AS BIGINT) AS win_idx,
         |       CAST(COUNT(*) AS BIGINT) AS n_samples,
         |       CAST(SUM(v) AS BIGINT) AS s_sum,
         |       CAST(MIN(v) AS BIGINT) AS s_min,
         |       CAST(MAX(v) AS BIGINT) AS s_max,
         |       CAST(SUM(v * v) AS BIGINT) AS energy
         |FROM audv GROUP BY asset_id, win_idx
         |ORDER BY asset_id, win_idx""".stripMargin,
    // mm5: byte j of the 768-byte raster comes from md5 block j//16 offset
    // j%16; its pixel is p = j//3 (x = p%16, y = p//16), channel j%3, tile
    // (y//8)*2 + x//8 — EXACTLY Codec.contentBytes + decodeImageTiles
    "mm5_image_tiles" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 0
         |),
         |bytes AS (
         |  SELECT asset_id, j,
         |         ${hexByte("md5(CAST(asset_id AS VARCHAR) || '#img#' || CAST(j // 16 AS VARCHAR))", "j % 16")} AS v
         |  FROM assets, (SELECT unnest(generate_series(0, 767)) AS j) jj
         |),
         |coords AS (
         |  SELECT asset_id, v, j % 3 AS ch,
         |         ((j // 3) // 16 // 8) * 2 + ((j // 3) % 16 // 8) AS tile_idx
         |  FROM bytes
         |)
         |SELECT asset_id, CAST(tile_idx AS BIGINT) AS tile_idx,
         |       CAST(8 AS BIGINT) AS tile_w, CAST(8 AS BIGINT) AS tile_h,
         |       CAST(SUM(CASE WHEN ch = 0 THEN v ELSE 0 END) AS BIGINT) AS s_r,
         |       CAST(SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) AS BIGINT) AS s_g,
         |       CAST(SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) AS BIGINT) AS s_b
         |FROM coords GROUP BY asset_id, tile_idx
         |ORDER BY asset_id, tile_idx""".stripMargin,
    // mm3: content = chained md5 blocks (16 bytes each); image 48 blocks
    // (16×16×3), audio 32 blocks (256 PCM16 samples, 8 per block), video
    // (n_chars%3)+2 frames of 12 blocks (8×8×3), sampled by stride 2 —
    // EXACTLY Codec.contentBytes/contentSamples + codecAssets
    "mm3_codec_decode" ->
      s"""WITH assets AS (
         |  SELECT doc_id AS asset_id,
         |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
         |         n_chars
         |  FROM documents
         |),
         |imgb AS (
         |  SELECT asset_id, b,
         |         md5(CAST(asset_id AS VARCHAR) || '#img#' || CAST(b AS VARCHAR)) AS hx
         |  FROM assets, (SELECT unnest(generate_series(0, 47)) AS b) bb
         |  WHERE modality = 'image'
         |),
         |imgv AS (
         |  SELECT asset_id, (b * 16 + j) % 3 AS ch, ${hexByte("hx", "j")} AS v
         |  FROM imgb, (SELECT unnest(generate_series(0, 15)) AS j) jj
         |),
         |imgf AS (
         |  SELECT asset_id, 0 AS frame_idx,
         |         SUM(CASE WHEN ch = 0 THEN v ELSE 0 END) AS s1,
         |         SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) AS s2,
         |         SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) AS s3
         |  FROM imgv GROUP BY asset_id
         |),
         |audb AS (
         |  SELECT asset_id, b,
         |         md5(CAST(asset_id AS VARCHAR) || '#aud#' || CAST(b AS VARCHAR)) AS hx
         |  FROM assets, (SELECT unnest(generate_series(0, 31)) AS b) bb
         |  WHERE modality = 'audio'
         |),
         |audv AS (
         |  SELECT asset_id,
         |         ${hexByte("hx", "2 * m")} * 256 + ${hexByte("hx", "2 * m + 1")} - 32768 AS v
         |  FROM audb, (SELECT unnest(generate_series(0, 7)) AS m) mm
         |),
         |audf AS (
         |  SELECT asset_id, 0 AS frame_idx, SUM(v) AS s1, MAX(v) AS s2, MIN(v) AS s3
         |  FROM audv GROUP BY asset_id
         |),
         |vidb AS (
         |  SELECT asset_id, fi, b,
         |         md5(CAST(asset_id AS VARCHAR) || '#vid#' || CAST(fi AS VARCHAR)
         |             || '#' || CAST(b AS VARCHAR)) AS hx
         |  FROM (SELECT asset_id,
         |               unnest(generate_series(0, CAST(n_chars % 3 AS INTEGER) + 1, $Stride)) AS fi
         |        FROM assets WHERE modality = 'video') fz,
         |       (SELECT unnest(generate_series(0, 11)) AS b) bb
         |),
         |vidv AS (
         |  SELECT asset_id, fi, (b * 16 + j) % 3 AS ch, ${hexByte("hx", "j")} AS v
         |  FROM vidb, (SELECT unnest(generate_series(0, 15)) AS j) jj
         |),
         |vidf AS (
         |  SELECT asset_id, fi AS frame_idx,
         |         SUM(CASE WHEN ch = 0 THEN v ELSE 0 END) AS s1,
         |         SUM(CASE WHEN ch = 1 THEN v ELSE 0 END) AS s2,
         |         SUM(CASE WHEN ch = 2 THEN v ELSE 0 END) AS s3
         |  FROM vidv GROUP BY asset_id, fi
         |),
         |allf AS (
         |  SELECT * FROM imgf UNION ALL SELECT * FROM audf UNION ALL SELECT * FROM vidf
         |)
         |SELECT a.modality,
         |       CAST(COUNT(DISTINCT f.asset_id) AS BIGINT) AS n_assets,
         |       CAST(COUNT(*) AS BIGINT) AS n_frames,
         |       CAST(SUM(f.s1) AS BIGINT) AS sum1,
         |       CAST(SUM(f.s2) AS BIGINT) AS sum2,
         |       CAST(SUM(f.s3) AS BIGINT) AS sum3
         |FROM allf f JOIN assets a USING (asset_id)
         |GROUP BY a.modality ORDER BY a.modality""".stripMargin,
    // mm8: rebuild the 256 PCM16 samples from the md5 chain (mm4's
    // reconstruction — window w's 8 samples ARE block w), re-derive window
    // energies → 32 wraparound sign bits → packed fingerprint + byte
    // bands, then the same banded candidate join and bit_count(xor) verify
    "mm8_audio_fingerprint" ->
      s"""WITH $audioFpSql,
         |bands AS (
         |  SELECT asset_id, bj, (fp >> (8 * bj)) & 255 AS bv
         |  FROM fps, (SELECT unnest(generate_series(0, 3)) AS bj) bb
         |),
         |cand AS (
         |  SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
         |         CAST(COUNT(*) AS BIGINT) AS n_shared_bands
         |  FROM bands a JOIN bands b
         |    ON b.bj = a.bj AND b.bv = a.bv AND a.asset_id < b.asset_id
         |  GROUP BY 1, 2
         |)
         |SELECT c.asset_a, c.asset_b, c.n_shared_bands,
         |       CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming,
         |       bit_count(xor(fa.fp, fb.fp)) <= $AudioMaxHamming AS is_dup
         |FROM cand c
         |JOIN fps fa ON fa.asset_id = c.asset_a
         |JOIN fps fb ON fb.asset_id = c.asset_b
         |ORDER BY c.asset_a, c.asset_b""".stripMargin,
    // mm7: rebuild every image's 768 raster bytes from the md5 chain
    // (mm5's reconstruction), re-derive grayscale → 8×8 block sums → the
    // 64 dHash bits → packed halves + row-byte bands, then the same banded
    // candidate join and bit_count(xor) Hamming verify — a transposed bit,
    // mis-packed band, or asymmetric comparison anywhere breaks the hash
    // match
    "mm7_image_phash" -> phashSql("img"),
    "mm13_png_phash" -> phashSql("png"),
    // mm14: the PNG signatures are recomputed exactly from the formula
    // (the mm13 derivation); the lossy JPEG side is engine-measured and
    // enters through the `ok` verdict — TRUE iff the real encode→decode
    // cycle drifted ≤ JpegMaxDrift bits, which no SQL can recompute but a
    // broken decode path cannot fake (drift jumps to the unrelated-content
    // center and verdicts flip corpus-wide).
    "mm14_jpeg_fidelity" ->
      s"""WITH ${dhashHashesSql("png")}
         |SELECT asset_id AS doc_id, h_lo AS png_lo, h_hi AS png_hi,
         |       TRUE AS ok
         |FROM hashes ORDER BY doc_id""".stripMargin,
    // mm17: the PCM fingerprint is recomputed exactly from the formula
    // (the mm8 derivation); the lossy ADPCM side is engine-measured and
    // enters through the `ok` verdict — TRUE iff the real encode→decode
    // cycle drifted ≤ AdpcmMaxDrift bits, which no SQL can recompute but
    // a broken decode path cannot fake (drift jumps to the
    // unrelated-content center and verdicts flip corpus-wide).
    "mm17_adpcm_fidelity" ->
      s"""WITH $audioFpSql
         |SELECT asset_id AS doc_id, fp AS pcm_fp, TRUE AS ok
         |FROM fps ORDER BY doc_id""".stripMargin,
    // mm18: the mm7 dHash reconstruction (formula raster → packed halves →
    // byte bands), then the per-asset arg-min aggregation instead of the
    // pair set — n_band_hits counts directed band collisions, best_match is
    // MIN(cand) among the min-Hamming candidates (the engine's
    // min(struct(ham, cand)) tie-break), assets with no collisions keep
    // NULL best columns and a FALSE verdict
    "mm18_image_dup_verdict" ->
      s"""WITH ${dhashHashesSql("img")},
         |bands AS (
         |  SELECT asset_id, bj,
         |         CASE WHEN bj < 4 THEN (h_lo >> (8 * bj)) & 255
         |              ELSE (h_hi >> (8 * (bj - 4))) & 255 END AS bv
         |  FROM hashes, (SELECT unnest(generate_series(0, 7)) AS bj) bb
         |),
         |hits AS (
         |  SELECT a.asset_id,
         |         CAST(bit_count(xor(ha.h_lo, hb.h_lo))
         |            + bit_count(xor(ha.h_hi, hb.h_hi)) AS BIGINT) AS ham,
         |         b.asset_id AS cand
         |  FROM bands a JOIN bands b
         |    ON b.bj = a.bj AND b.bv = a.bv AND b.asset_id <> a.asset_id
         |  JOIN hashes ha ON ha.asset_id = a.asset_id
         |  JOIN hashes hb ON hb.asset_id = b.asset_id
         |),
         |${dupVerdictTailSql("hashes", DupMaxHamming)}""".stripMargin,
    // mm19: the mm8 fingerprint reconstruction, then the same per-asset
    // arg-min tail at the audio threshold
    "mm19_audio_dup_verdict" ->
      s"""WITH $audioFpSql,
         |bands AS (
         |  SELECT asset_id, bj, (fp >> (8 * bj)) & 255 AS bv
         |  FROM fps, (SELECT unnest(generate_series(0, 3)) AS bj) bb
         |),
         |hits AS (
         |  SELECT a.asset_id, CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS ham,
         |         b.asset_id AS cand
         |  FROM bands a JOIN bands b
         |    ON b.bj = a.bj AND b.bv = a.bv AND b.asset_id <> a.asset_id
         |  JOIN fps fa ON fa.asset_id = a.asset_id
         |  JOIN fps fb ON fb.asset_id = b.asset_id
         |),
         |${dupVerdictTailSql("fps", AudioMaxHamming)}""".stripMargin,
    // mm6: rebuild every video frame's 192 bytes from the md5 chain
    // (12 blocks × 16 hex-decoded bytes), pair consecutive frames on the
    // byte position, and aggregate |delta| — no stride: cuts need every
    // frame boundary
    "mm6_scene_cuts" ->
      s"""WITH $vidPairsSql
         |SELECT asset_id, CAST(frame_idx AS INTEGER) AS frame_idx, sad, maxd,
         |       sad >= $CutSad AS is_cut
         |FROM pairs ORDER BY asset_id, frame_idx""".stripMargin,
    // mm10: mm6's delta CTEs rolled into shot segments — shot starts are
    // frame 0 plus f+1 for every cut pair (f, f+1); lengths via lead over
    // the per-asset start list (frame-count-bounded window partitions)
    "mm10_scene_keyframes" ->
      s"""WITH $vidPairsSql,
         |counts AS (
         |  SELECT asset_id, CAST(MAX(frame_idx) + 2 AS BIGINT) AS n_frames
         |  FROM pairs GROUP BY asset_id),
         |starts AS (
         |  SELECT asset_id, CAST(0 AS BIGINT) AS start_frame FROM counts
         |  UNION ALL
         |  SELECT asset_id, CAST(frame_idx + 1 AS BIGINT) FROM pairs
         |  WHERE sad >= $CutSad),
         |shots AS (
         |  SELECT asset_id, start_frame,
         |         CAST(row_number() OVER (PARTITION BY asset_id ORDER BY start_frame) - 1
         |              AS BIGINT) AS shot_id,
         |         lead(start_frame) OVER (PARTITION BY asset_id ORDER BY start_frame)
         |           AS next_start
         |  FROM starts)
         |SELECT s.asset_id, s.shot_id, s.start_frame,
         |       CAST(COALESCE(s.next_start, c.n_frames) - s.start_frame AS BIGINT)
         |         AS shot_frames
         |FROM shots s JOIN counts c USING (asset_id)
         |ORDER BY s.asset_id, s.shot_id""".stripMargin)

  /** The dHash near-dup oracle (mm7/mm13), parameterized by content salt:
    * rebuild every image's 768 raster bytes from the md5 chain (mm5's
    * reconstruction), re-derive grayscale → 8×8 block sums → the 64 dHash
    * bits → packed halves + row-byte bands, then the banded candidate join
    * and bit_count(xor) Hamming verify — a transposed bit, mis-packed band,
    * or asymmetric comparison anywhere breaks the hash match. mm7's arm
    * hashes the PPM corpus (salt `img`); mm13's hashes the SAME formula
    * rasters through the REAL PNG decode (salt `png`), so the oracle also
    * proves losslessness of the full encode→decode cycle. */
  /** The formula → dHash derivation (assets → regenerated raster bytes →
    * cells → bits → packed `hashes`) as a shared CTE prefix, parameterized
    * by content salt — [[phashSql]] rolls it into the banded candidate
    * join; mm14's oracle reads `hashes` directly as the exactly-provable
    * reference for the lossy JPEG arm. */
  private def dhashHashesSql(salt: String): String =
    s"""assets AS (
       |  SELECT doc_id AS asset_id FROM documents WHERE doc_id % 3 = 0
       |),
       |bytes AS (
       |  SELECT asset_id, j,
       |         ${hexByte(s"md5(CAST(asset_id AS VARCHAR) || '#$salt#' || CAST(j // 16 AS VARCHAR))", "j % 16")} AS v
       |  FROM assets, (SELECT unnest(generate_series(0, 767)) AS j) jj
       |),
       |cells AS (
       |  SELECT asset_id, ((j // 3) // 16) // 2 AS cy, ((j // 3) % 16) // 2 AS cx,
       |         SUM(v) AS s
       |  FROM bytes GROUP BY 1, 2, 3
       |),
       |bits AS (
       |  SELECT a.asset_id, a.cy * 8 + a.cx AS k,
       |         CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON b.asset_id = a.asset_id AND b.cy = a.cy AND b.cx = (a.cx + 1) % 8
       |),
       |hashes AS (
       |  SELECT asset_id,
       |         CAST(SUM(CASE WHEN k < 32
       |              THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS h_lo,
       |         CAST(SUM(CASE WHEN k >= 32
       |              THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS h_hi
       |  FROM bits GROUP BY asset_id
       |)""".stripMargin

  /** The mm18/mm19 oracle tail: a `hits(asset_id, ham, cand)` CTE rolled
    * into the per-asset arg-min — COUNT of directed collisions, MIN
    * Hamming, MIN candidate id among the min-Hamming ties (exactly the
    * engine's min(struct(ham, cand)) ordering), left-joined back onto the
    * full asset frame `src` so collision-free assets keep NULL best
    * columns and a FALSE verdict. */
  private def dupVerdictTailSql(src: String, maxHam: Int): String =
    s"""agg AS (
       |  SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_band_hits,
       |         CAST(MIN(ham) AS BIGINT) AS best_hamming
       |  FROM hits GROUP BY asset_id
       |),
       |best AS (
       |  SELECT h.asset_id, CAST(MIN(h.cand) AS BIGINT) AS best_match
       |  FROM hits h JOIN agg g ON g.asset_id = h.asset_id AND h.ham = g.best_hamming
       |  GROUP BY h.asset_id
       |)
       |SELECT s.asset_id, CAST(COALESCE(g.n_band_hits, 0) AS BIGINT) AS n_band_hits,
       |       b.best_match, g.best_hamming,
       |       COALESCE(g.best_hamming <= $maxHam, FALSE) AS is_dup
       |FROM $src s LEFT JOIN agg g USING (asset_id) LEFT JOIN best b USING (asset_id)
       |ORDER BY s.asset_id""".stripMargin

  private def phashSql(salt: String): String =
    s"""WITH ${dhashHashesSql(salt)},
       |bands AS (
       |  SELECT asset_id, bj,
       |         CASE WHEN bj < 4 THEN (h_lo >> (8 * bj)) & 255
       |              ELSE (h_hi >> (8 * (bj - 4))) & 255 END AS bv
       |  FROM hashes, (SELECT unnest(generate_series(0, 7)) AS bj) bb
       |),
       |cand AS (
       |  SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_shared_bands
       |  FROM bands a JOIN bands b
       |    ON b.bj = a.bj AND b.bv = a.bv AND a.asset_id < b.asset_id
       |  GROUP BY 1, 2
       |)
       |SELECT c.asset_a, c.asset_b, c.n_shared_bands,
       |       CAST(bit_count(xor(ha.h_lo, hb.h_lo))
       |          + bit_count(xor(ha.h_hi, hb.h_hi)) AS BIGINT) AS hamming,
       |       (bit_count(xor(ha.h_lo, hb.h_lo))
       |          + bit_count(xor(ha.h_hi, hb.h_hi))) <= $DupMaxHamming AS is_dup
       |FROM cand c
       |JOIN hashes ha ON ha.asset_id = c.asset_a
       |JOIN hashes hb ON hb.asset_id = c.asset_b
       |ORDER BY c.asset_a, c.asset_b""".stripMargin

  /** The mm6 delta derivation (assets → regenerated frame bytes →
    * consecutive-pair SAD rows) as a shared CTE prefix — mm6 reads it
    * directly, mm10 rolls it into shots. */
  private lazy val vidPairsSql =
    s"""assets AS (
       |  SELECT doc_id AS asset_id, n_chars FROM documents WHERE doc_id % 3 = 2
       |),
       |vidb AS (
       |  SELECT asset_id, fi, b,
       |         md5(CAST(asset_id AS VARCHAR) || '#vid#' ||
       |             CAST(fi AS VARCHAR) || '#' || CAST(b AS VARCHAR)) AS hx
       |  FROM (SELECT asset_id,
       |               unnest(generate_series(0, CAST(n_chars % 3 AS INTEGER) + 1)) AS fi
       |        FROM assets) fz,
       |       (SELECT unnest(generate_series(0, 11)) AS b) bb
       |),
       |vidv AS (
       |  SELECT asset_id, fi, b * 16 + j AS pos, ${hexByte("hx", "j")} AS v
       |  FROM vidb, (SELECT unnest(generate_series(0, 15)) AS j) jj
       |),
       |pairs AS MATERIALIZED (
       |  SELECT a.asset_id, a.fi AS frame_idx,
       |         CAST(SUM(ABS(a.v - b2.v)) AS BIGINT) AS sad,
       |         CAST(MAX(ABS(a.v - b2.v)) AS BIGINT) AS maxd
       |  FROM vidv a JOIN vidv b2
       |    ON b2.asset_id = a.asset_id AND b2.fi = a.fi + 1 AND b2.pos = a.pos
       |  GROUP BY a.asset_id, a.fi)""".stripMargin
}
