package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in batched executor-side passes.
  *
  * Decode routing: payloads whose magic bytes identify a supported container
  * take a REAL pure-JVM path end to end ([[Codecs]] — BMP/PNG/JPEG header
  * parse + `javax.imageio` pixel decode + resize; WAV chunk parse + PCM16
  * sample extraction; MP4/ISO-BMFF box-tree metadata walk). Only
  * unrecognized containers — and video SAMPLE decode, which has no pure-JVM
  * codec in this container — fall back to the clearly-marked deterministic
  * stub, at the same call sites a JNI codec would plug into.
  *
  * Scale notes: binary payloads ride the normal columnar batches; decode is
  * a mapPartitions pass (no shuffle), so a 100 TB media corpus decodes at
  * scan parallelism. Metadata-only pipelines should project before decode so
  * the binary column is pruned from the parquet scan entirely.
  */
object Multimodal {

  final case class MediaMeta(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      container: String,     // sniffed magic-byte format; "unknown" -> stub
      sample_rate: Int,      // audio only; 0 for images/stub
      channels: Int)         // audio only; 0 for images/stub

  final case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB decode for UNRECOGNIZED containers only: derives deterministic
    * fake dimensions from the payload hash. A real video codec would replace
    * exactly this call site; recognized formats never reach it (see
    * [[decodeMeta]]).
    */
  private def decodeMetaStub(id: Long, mediaType: String, bytes: Array[Byte]): MediaMeta = {
    val h = java.util.Arrays.hashCode(bytes)
    MediaMeta(
      media_id = id,
      media_type = mediaType,
      n_bytes = bytes.length.toLong,
      width = 64 + math.abs(h % 1024),           // STUB: header parse
      height = 64 + math.abs((h / 1024) % 1024), // STUB: header parse
      n_frames = 1 + math.abs(h % 8),            // STUB: container probe
      container = "unknown",
      sample_rate = 0,
      channels = 0)
  }

  /** Per-payload metadata: REAL header parse for BMP/PNG/JPEG/WAV and a
    * REAL ISO-BMFF box walk for MP4 (dims from the first video tkhd,
    * `n_frames` = mvhd duration ticks clamped to Int, `sample_rate` = the
    * mvhd timescale — ticks/timescale is the duration in seconds —
    * `channels` = track count); stub for everything else. NULL payload
    * cells decode as an empty payload (sniffs "unknown" → zero-byte stub
    * row) rather than NPE-ing the task — the engine's NULL-not-garbage
    * convention at the decode surface.
    */
  private[multimodal] def decodeMeta(id: Long, mediaType: String,
      rawBytes: Array[Byte]): MediaMeta = {
    val bytes = if (rawBytes == null) Array.emptyByteArray else rawBytes
    Codecs.imageMeta(bytes) match {
      case Some(im) =>
        MediaMeta(id, mediaType, bytes.length.toLong, im.width, im.height,
          n_frames = 1, container = im.format, sample_rate = 0, channels = 0)
      case None => Codecs.wavMeta(bytes) match {
        case Some(am) =>
          MediaMeta(id, mediaType, bytes.length.toLong, width = 0, height = 0,
            n_frames = am.nSampleFrames, container = "wav",
            sample_rate = am.sampleRate, channels = am.channels)
        case None => Codecs.mp4Meta(bytes) match {
          case Some(vm) =>
            MediaMeta(id, mediaType, bytes.length.toLong,
              width = vm.width, height = vm.height,
              n_frames = math.min(vm.durationTicks, Int.MaxValue.toLong).toInt,
              container = "mp4", sample_rate = vm.timescale,
              channels = vm.nTracks)
          case None => decodeMetaStub(id, mediaType, bytes)
        }
      }
    }
  }

  /** Batched metadata extraction over (id, type, payload) — one pass, no
    * shuffle; the Dataset boundary keeps the payload bytes off the driver.
    */
  def extractMeta(df: DataFrame, idCol: String, typeCol: String,
      binCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(typeCol), col(binCol))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, t, b) => decodeMeta(id, t, b) })
  }

  /** Frame sampling, 1→N expansion without shuffle.
    *   - WAV payloads: REAL block-aligned seeks — frame i is a window of
    *     `frameBytes` raw PCM bytes starting at sample i·nFrames⁻¹·total
    *     (what an audio featurizer consumes).
    *   - other payloads: STUB byte-slice standing in for keyframe extraction
    *     (a video codec's seek would replace the slice).
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
      n: Int, frameBytes: Int = 16): Dataset[MediaFrame] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, rawBytes) =>
        val bytes = if (rawBytes == null) Array.emptyByteArray else rawBytes
        val wav = Codecs.wavMeta(bytes)
        (0 until n).iterator.map { i =>
          val slice = wav match {
            case Some(m) if m.nSampleFrames > 0 =>
              // REAL audio frame: seek to the i-th evenly-spaced sample,
              // copy a block-aligned window of PCM bytes
              val s = (i.toLong * m.nSampleFrames / math.max(n, 1)).toInt
              val start = m.dataOffset + s * m.blockAlign
              java.util.Arrays.copyOfRange(bytes, start,
                math.min(bytes.length, start + frameBytes))
            case _ =>
              // STUB: a real decoder would seek frame i; we slice the payload
              // Long arithmetic: i * length overflows Int for GB-scale payloads
              val start = if (bytes.isEmpty) 0
                else (i.toLong * bytes.length / math.max(n, 1)).toInt
              java.util.Arrays.copyOfRange(bytes, start,
                math.min(bytes.length, start + frameBytes))
          }
          MediaFrame(id, i, slice)
        }
      }
  }
}
