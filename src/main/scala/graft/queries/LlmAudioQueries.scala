package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.{FixtureBlobStore, Multimodal}

object LlmAudioQueries {
  /** The REAL-audio codec tier (the WAV rung the image tier's l66/l71/
    * l85 contract extends to): genuine RIFF/WAV PCM synthesized per
    * row, decoded back through the in-JDK javax.sound.sampled codec.
    */
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "l111_audio_decode_real",
      "REAL audio codec through the batched multimodal shape under the PRODUCTION quarantine contract (the l85 discipline applied to the WAV tier): per doc a genuine RIFF/WAV file is written via javax.sound.sampled.AudioSystem (16-bit mono PCM square wave; id-derived sample rate / length / amplitude — the oracle contract), every doc_id%13=0 header is deterministically poisoned (RIFF magic zeroed), and the quarantine decode tier recovers sample_rate and n_samples from the real header and peak_amp by scanning the real PCM payload — emitting (format='corrupt', NULL meta) for exactly the poisoned rows. The oracle replays the synthesis formulas and the poison predicate, so the hash only matches if the codec round-trip is byte-exact AND quarantine catches exactly the corrupted rows",
      (s, dir) => Multimodal.decodeAudioQuarantine(
        Multimodal.corruptBlobs(
          FixtureBlobStore.shared(s, dir, "wav"),
          "doc_id", modulo = 13),
        "doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 13 = 0 THEN NULL
             |    ELSE CAST(8000 + (doc_id % 4) * 4000 AS INT)
             |    END AS sample_rate,
             |  CASE WHEN doc_id % 13 = 0 THEN NULL
             |    ELSE CAST(40 + doc_id % 60 AS BIGINT) END AS n_samples,
             |  CASE WHEN doc_id % 13 = 0 THEN NULL
             |    ELSE CAST(1000 + (doc_id * 7) % 9000 AS BIGINT)
             |    END AS peak_amp,
             |  CASE WHEN doc_id % 13 = 0 THEN 'corrupt'
             |    ELSE 'wave' END AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l117_audio_features",
      "REAL audio feature extraction — the feature-extract rung of the audio tier (decode / feature-extract / resize, the multimodal contract): per genuine WAV blob the frame count, peak amplitude AND zero-crossing count (ZCR — the standard integer audio descriptor, the pre-spectral speech/noise discriminator), all scanned from the decoded 16-bit PCM payload in the batched shape. For the square-wave fixture the crossings are EXACTLY floor((n_samples-1)/half_period), so the oracle replays the full formula chain — a strictly stronger payload check than l111's peak: the hash only matches if the SIGN of every decoded sample is byte-correct",
      (s, dir) => Multimodal.audioFeaturesBatched(
        FixtureBlobStore.shared(s, dir, "wav"), "doc_id"),
      Some("""SELECT doc_id,
             |  CAST(40 + doc_id % 60 AS BIGINT) AS n_samples,
             |  CAST(1000 + (doc_id * 7) % 9000 AS BIGINT) AS peak_amp,
             |  CAST((40 + doc_id % 60 - 1) // (4 + doc_id % 8)
             |    AS BIGINT) AS zero_crossings
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l118_audio_resample",
      "REAL audio resample — the resize rung of the audio tier, and unlike the image tier's metadata-only resize this transforms the actual blob: every WAV is decoded, decimated by 2 (every other sample kept), RE-ENCODED as a genuine half-rate WAV through the same in-JDK codec, and the downstream decode pass reads the re-encoded bytes back — so the hash verifies the whole decode -> transform -> encode -> decode round-trip. The oracle replays the arithmetic: rate' = rate/2, n' = ceil(n/2), and the peak survives decimation exactly because sample 0 (always +amplitude by the fixture contract) is always kept",
      (s, dir) => Multimodal.decodeAudioBatched(
        Multimodal.resampleWav(
          FixtureBlobStore.shared(s, dir, "wav"),
          "doc_id", stride = 2),
        "doc_id"),
      Some("""SELECT doc_id,
             |  CAST((8000 + (doc_id % 4) * 4000) // 2 AS INT)
             |    AS sample_rate,
             |  CAST((40 + doc_id % 60 + 1) // 2 AS BIGINT) AS n_samples,
             |  CAST(1000 + (doc_id * 7) % 9000 AS BIGINT) AS peak_amp,
             |  'wave' AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l119_video_decode_real",
      "REAL video codec tier — MJPEG-in-AVI (the container ships no video codec, but MJPEG needs none beyond the JPEG codec javax.imageio provides): per doc a spec-shaped RIFF/AVI file is written around 2+id%4 genuine JPEG frames (l66's dimension formulas), every doc_id%17=0 header is poisoned (RIFF magic zeroed), and the quarantine tier DEMUXES the container with a generic RIFF chunk walker (no writer-layout assumptions), decodes EVERY frame through the real JPEG codec, cross-checks the container's dwTotalFrames claim against the demuxed chunk count, and enforces uniform frame dims — a container whose metadata lies must quarantine, not pass. The oracle replays the synthesis formulas and poison predicate: the hash only matches if demux + frame decode + consistency checks are exact on every row",
      (s, dir) => Multimodal.decodeVideoQuarantine(
        Multimodal.corruptBlobs(
          FixtureBlobStore.shared(s, dir, "avi"),
          "doc_id", modulo = 17),
        "doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 17 = 0 THEN NULL
             |    ELSE CAST(2 + doc_id % 4 AS INT) END AS n_frames,
             |  CASE WHEN doc_id % 17 = 0 THEN NULL
             |    ELSE CAST(8 + doc_id % 16 AS INT) END AS width,
             |  CASE WHEN doc_id % 17 = 0 THEN NULL
             |    ELSE CAST(8 + (doc_id * 3) % 16 AS INT) END AS height,
             |  CASE WHEN doc_id % 17 = 0 THEN 'corrupt'
             |    ELSE 'mjpeg' END AS format
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l120_video_frame_sample",
      "REAL frame sampling over the MJPEG tier — the l14 generator upgraded from arithmetic to actual demux+decode: every 2nd frame of each AVI is extracted from the container and decoded through the real JPEG codec (skipped frames are NEVER decoded — the point of sampling at 100 TB), one row per sampled frame with its genuinely decoded dimensions. The oracle enumerates the sampled indices from the synthesis formulas, so the hash only matches if the demuxer walks the chunk sequence in exact order",
      (s, dir) => Multimodal.sampleVideoFramesBatched(
        FixtureBlobStore.shared(s, dir, "avi"), "doc_id", stride = 2),
      Some("""SELECT doc_id,
             |  CAST(unnest(range(0, 2 + doc_id % 4, 2)) AS INT)
             |    AS frame_idx,
             |  CAST(8 + doc_id % 16 AS INT) AS width,
             |  CAST(8 + (doc_id * 3) % 16 AS INT) AS height
             |FROM documents""".stripMargin)),

    QuerySpec(
      "l121_video_resize",
      "REAL video resize — the resize rung of the video tier, transforming the actual blob (the l118 audio discipline applied to MJPEG): every AVI is demuxed, every frame decoded through the real JPEG codec, scaled to half dimensions through a real AWT raster draw, re-encoded as a genuine JPEG, and a NEW spec-shaped AVI is rebuilt with truthful metadata — then the downstream decode pass (demux + frame decode + dwTotalFrames cross-check + uniformity gate) reads the rebuilt container. The oracle's halved-dimension arithmetic only matches if the whole demux -> decode -> scale -> encode -> remux -> decode chain is exact on every frame of every row",
      (s, dir) => Multimodal.decodeVideoBatched(
        Multimodal.resizeVideo(
          FixtureBlobStore.shared(s, dir, "avi"),
          "doc_id", num = 1, den = 2),
        "doc_id"),
      Some("""SELECT doc_id,
             |  CAST(2 + doc_id % 4 AS INT) AS n_frames,
             |  CAST((8 + doc_id % 16) // 2 AS INT) AS width,
             |  CAST((8 + (doc_id * 3) % 16) // 2 AS INT) AS height,
             |  'mjpeg' AS format
             |FROM documents""".stripMargin))
  )
}
