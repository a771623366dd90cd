package graft.queries

import graft.{QueryDef, Tables}
import graft.multimodal.{Codecs, MediaSynth, Multimodal, Phash}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal decode queries — the differential gate for the REAL pure-JVM
  * codec path ([[graft.multimodal.Codecs]]).
  *
  * Shape of the proof: each row synthesizes a real BMP/WAV payload whose
  * every parameter is a pure function of `documents` columns
  * ([[MediaSynth]]), pushes it through the production decode path
  * (header parse, `javax.imageio` pixel decode, bilinear resize, PCM frame
  * seek), and emits only fields a DuckDB oracle can recompute from the same
  * columns with plain arithmetic. The encoder and decoder never share code
  * (writer builds byte layouts forward, parser walks them independently), so
  * a hash match means the byte-level format logic is right — not that two
  * copies of one bug agree.
  *
  * Scale shape: synthesis + decode are one fused mapPartitions pass per
  * query — no shuffle, no driver traffic, payload bytes never leave the
  * executor. This is exactly the layout a 100 TB media corpus needs: decode
  * cost scales with input splits and nothing else.
  */
object MediaQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** payload parameters, derived ONLY from (doc_id, n_chars) — mirrored
    * verbatim by the DuckDB oracles
    */
  private def bmpW(nChars: Long): Int = 16 + (nChars % 512).toInt
  private def bmpH(docId: Long): Int = 16 + (docId % 512).toInt
  private def wavRate(docId: Long): Int = 8000 + 1000 * (docId % 8).toInt
  private def wavChannels(docId: Long): Int = 1 + ((docId / 2) % 2).toInt
  private def wavFrames(nChars: Long): Int = 10 + (nChars % 100).toInt

  /** q_media_dedup's doc-derived 62-bit image key: docs in one group of 4
    * share a base pattern; members differ from it by 0 / 1 / 2 / 8 flipped
    * bits, so Hamming radius 2 clusters exactly three of each four. The
    * base is two 31-bit affine draws packed below bit 62 (no BIGINT
    * overflow in either engine, no sign bit), XORed with the member's
    * noise mask — every step plain integer arithmetic the DuckDB oracle
    * replays verbatim.
    */
  private val keyP1 = 2654435761L
  private val keyP2 = 1779033703L
  private val noise1 = 1L << 5
  private val noise2 = (1L << 11) | (1L << 40)
  private val noise3 = Seq(1, 7, 19, 23, 37, 41, 53, 59)
    .map(1L << _).reduce(_ | _)

  private def dedupKey(docId: Long): Long = {
    val g = docId / 4
    val base = (g * keyP1) % 2147483648L +
      ((g * keyP2) % 2147483648L) * 2147483648L
    val noise = (docId % 4) match {
      case 0 => 0L
      case 1 => noise1
      case 2 => noise2
      case _ => noise3
    }
    base ^ noise
  }

  /** Above this `documents` count the three perceptual dedup queries
    * (q_media_dedup / q_media_audio_dedup / q_media_video_dedup) certify
    * `n_near` on a deterministic doc slice instead of the full corpus — the
    * packTruthSlice convention applied to the one
    * remaining cap-free surface: their EXACT neighbour-count oracles forbid
    * bucket capping, so cap-free
    * `hammingPairs` pair work grows ~4·n²/2¹⁶ and the oracle's correlated
    * neighbour count is O(n²) outright — invisible at 50k docs, melting
    * past ~10⁷. Every tested SF (500 / 5000 / 50000 docs) sits at or under
    * the threshold, so all committed hashes and bench medians are
    * byte-unchanged; above it BOTH engines restrict the fingerprint
    * relation to `(doc_id div 4) % ceil(n/20000) = 0` BEFORE pairing —
    * sliced by the NOISE GROUP id, not the doc id, because the close
    * members of a group sit 1–2 apart in doc_id and no doc-level modulus
    * ≥ 3 can keep two of them: a doc-level slice would certify only the
    * `n_near = 0` case, while the group-level slice keeps whole groups of
    * 4 and preserves the full within-group neighbour structure
    * (n_near = 2/1/1/0 per group) at any scale. The production near-dup
    * path (`Dedup.hammingPairs` default maxBucket) is untouched — only
    * the cross-engine certification needs the bound.
    */
  private[queries] val maxFullMediaDocs = 50000L

  /** Sliced fingerprint-set size the certification aims at above the
    * cutoff: the modulus `ceil(n/20000)` DERIVES from the corpus count
    * (the absolute-cap convention), so the sliced set is
    * ~20000 docs at ANY n — cap-free pair work stays ~4·20000²/2¹⁶ ≈ 24k
    * candidate pairs and the DuckDB correlated count stays at the
    * already-measured sf1-fraction scale forever.
    */
  private[queries] val mediaSliceTarget = 20000L

  /** Spark half of the media certification slice: one metadata-sized count
    * job; the slice decision and modulus are deterministic in the data, and
    * `ceil` of an exact-below-2⁵³ count divided by `20000e0` is the same
    * IEEE op in both engines (the packTruthSlice argument). Applied BEFORE
    * synthesis, so the sliced branch never decodes payloads it won't
    * certify.
    */
  private def mediaTruthSlice(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val n = d.count()
    if (n <= maxFullMediaDocs) d
    else d.where(expr("doc_id div 4")
      % lit(math.ceil(n / mediaSliceTarget.toDouble).toLong) === 0)
  }

  /** Oracle half — the identical count guard as an ANSI predicate (the
    * `emb_cert`/`ppin` pattern): a scalar count subquery is one
    * metadata-sized job for DuckDB exactly as `d.count()` is for Spark.
    * Interpolated into each dedup oracle's `k` CTE, so both engines
    * fingerprint the same doc set on either side of the cutoff.
    */
  private val mediaCertGuard: String =
    s"""  WHERE (SELECT count(*) FROM documents) <= $maxFullMediaDocs
       |     OR (doc_id // 4) % (SELECT CAST(ceil(count(*) / ${mediaSliceTarget}e0) AS BIGINT)
       |                         FROM documents) = 0""".stripMargin

  /** Oracle of the three perceptual dedup queries: each doc's [[dedupKey]]
    * as column `fp` over the sliced `k(media_id, fp)`, then its exact
    * Hamming-≤2 neighbour count `n_near`; `extra` adds output columns
    * between the two.
    */
  private def nearOracle(fp: String, extra: String = ""): String =
    s"""WITH k AS (
       |  SELECT doc_id AS media_id,
       |    xor(((doc_id // 4) * $keyP1) % 2147483648
       |          + (((doc_id // 4) * $keyP2) % 2147483648) * 2147483648,
       |        CASE CAST(doc_id % 4 AS INT)
       |          WHEN 0 THEN 0
       |          WHEN 1 THEN $noise1
       |          WHEN 2 THEN $noise2
       |          ELSE $noise3 END) AS $fp
       |  FROM documents
       |$mediaCertGuard)
       |SELECT a.media_id, a.$fp,$extra
       |  CAST((SELECT count(*) FROM k b WHERE b.media_id != a.media_id
       |        AND bit_count(xor(a.$fp, b.$fp)) <= 2) AS BIGINT) AS n_near
       |FROM k a""".stripMargin

  /** `hashed` plus each row's count `n_near` of Hamming-≤2 neighbours on
    * `fp`. The banding is cap-free: the oracle counts ALL neighbours
    * exactly, so the certified path cannot drop oversized 16-bit-chunk
    * buckets the way the production default (maxBucket=1000) does. Safe at
    * any corpus size, because [[mediaTruthSlice]] bounds the fingerprint
    * set at ~20k docs above the cutoff. One explode of the 2-array
    * symmetrizes the pairs from ONE execution (a unionAll spelling runs the
    * hammingPairs pipeline once per branch).
    */
  private def withNearCount(hashed: DataFrame, fp: String): DataFrame = {
    val pairs = Dedup.hammingPairs(hashed.select(col("media_id"), col(fp)),
      "media_id", fp, maxHamming = 2, maxBucket = Int.MaxValue)
    val neigh = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("media_id"))
      .groupBy(col("media_id")).agg(count(lit(1)).as("n_near"))
    hashed.join(neigh, Seq("media_id"), "left")
      .select(hashed.columns.toIndexedSeq.map(col) :+
        coalesce(col("n_near"), lit(0L)).as("n_near"): _*)
  }

  /** Synthesizes one payload per doc with `synth(doc_id, n_chars) →
    * (media_id, media_type, payload)` and runs the REAL metadata
    * extraction over them — q_media_meta and q_media_video_meta.
    */
  private def extractMetaOf(s: SparkSession, dir: String)(
      synth: ((Long, Long)) => (Long, String, Array[Byte])): DataFrame = {
    import s.implicits._
    val payloads = docs(s, dir)
      .select($"doc_id", $"n_chars").as[(Long, Long)]
      .mapPartitions(_.map(synth))
      .toDF("media_id", "media_type", "payload")
    Multimodal.extractMeta(payloads, "media_id", "media_type", "payload")
      .toDF()
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Metadata extraction: even doc_ids become 24bpp BMPs, odd become PCM16
    // WAVs; Multimodal.extractMeta routes both through the REAL header
    // parsers (magic-byte sniff → BMP LE fields / RIFF chunk walk). The
    // oracle recomputes byte counts (incl. BMP 4-byte row padding), pixel
    // dims, PCM frame counts, rates, and channel layout from first
    // principles.
    QueryDef(
      "q_media_meta",
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
             |  CAST(CASE WHEN doc_id % 2 = 0
             |    THEN 54 + (16 + doc_id % 512) * (((16 + n_chars % 512) * 3 + 3) // 4 * 4)
             |    ELSE 44 + (10 + n_chars % 100) * 2 * (1 + (doc_id // 2) % 2)
             |  END AS BIGINT) AS n_bytes,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + n_chars % 512 ELSE 0 END AS INT) AS width,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 512 ELSE 0 END AS INT) AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 10 + n_chars % 100 END AS INT) AS n_frames,
             |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS container,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 8000 + 1000 * (doc_id % 8) END AS INT) AS sample_rate,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 + (doc_id // 2) % 2 END AS INT) AS channels
             |FROM documents""".stripMargin),
      extractMetaOf(_, _) { case (id, nc) =>
        if (id % 2 == 0)
          (id, "image", MediaSynth.bmp(bmpW(nc), bmpH(id), 100, 150, 200))
        else
          (id, "audio",
            MediaSynth.wav(wavRate(id), wavChannels(id), wavFrames(nc)))
      }),

    // ------------------------------------------------------------------
    // Pixel round-trip: solid-color 8x8 BMP → imageio decode → bilinear
    // 3x3 resample → PNG encode → re-decode → center pixel. Bilinear
    // interpolation of a constant image is that constant (weights sum to 1),
    // so the oracle recomputes the exact channel values from doc_id; width/
    // height come from re-parsing the produced PNG's IHDR, not from the
    // request, so a resize that lied about dimensions would fail the gate.
    QueryDef(
      "q_media_resize",
      Some("""SELECT doc_id AS media_id, TRUE AS resized,
             |  CAST(3 AS INT) AS width, CAST(3 AS INT) AS height,
             |  CAST(doc_id % 256 AS INT) AS r,
             |  CAST((doc_id * 7) % 256 AS INT) AS g,
             |  CAST((doc_id * 13) % 256 AS INT) AS b
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val src = MediaSynth.bmp(8, 8,
              (id % 256).toInt, (id * 7 % 256).toInt, (id * 13 % 256).toInt)
            Codecs.resizeToPng(src, 3, 3).flatMap { png =>
              for {
                meta <- Codecs.imageMeta(png)
                img <- Codecs.decodeImage(png)
              } yield {
                val px = img.getRGB(1, 1)
                (id, true, meta.width, meta.height,
                  (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
              }
            }.getOrElse((id, false, 0, 0, 0, 0, 0))
          })
          .toDF("media_id", "resized", "width", "height", "r", "g", "b")
      }),

    // ------------------------------------------------------------------
    // Frame sampling: 4 evenly-spaced REAL PCM seeks per WAV payload
    // (Multimodal.sampleFrames block-aligned path). Each frame's first
    // channel-0 sample must equal the synthesizer's ramp at the seeked
    // sample index s = floor(i·nFrames/4) — position arithmetic (dataOffset
    // + s·blockAlign) is verified end-to-end, off-by-one-byte fails the gate.
    QueryDef(
      "q_media_frames",
      Some("""WITH d AS (
             |  SELECT doc_id, 10 + n_chars % 100 AS nf FROM documents
             |  WHERE doc_id % 2 = 1)
             |SELECT doc_id AS media_id, CAST(t.i AS INT) AS frame_idx,
             |  CAST(((t.i * nf // 4) * 31) % 32768 AS INT) AS sample0
             |FROM d, range(0, 4) t(i)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val wavs = docs(s, dir)
          .select($"doc_id", $"n_chars").as[(Long, Long)]
          .filter(_._1 % 2 == 1)
          .mapPartitions(_.map { case (id, nc) =>
            (id, MediaSynth.wav(wavRate(id), wavChannels(id), wavFrames(nc)))
          })
          .toDF("media_id", "payload")
        Multimodal.sampleFrames(wavs, "media_id", "payload", n = 4)
          .map(f => (f.media_id, f.frame_idx,
            (f.frame(0) & 0xff) | ((f.frame(1) & 0xff) << 8)))
          .toDF("media_id", "frame_idx", "sample0")
      }),

    // ------------------------------------------------------------------
    // Perceptual-hash image near-dup: each doc paints an 8x8 bit-pattern
    // BMP from its dedupKey, pushes it through the REAL pipeline (ImageIO
    // decode -> area-average grayscale -> mean threshold = Phash.aHash,
    // which provably recovers the key), then Hamming-banded buckets (the
    // SimHash 4x16-bit chunk machinery — pigeonhole gives EXACT recall at
    // radius <= 2, so banding vs the oracle's brute-force truth is a
    // genuine differential, not a property gate) nominate candidates and
    // bit_count verifies them. n_near counts neighbours within Hamming 2:
    // group members at noise distance 0/1/2 cluster, the 8-bit outlier and
    // cross-group pairs don't. One banding shuffle, never all-pairs — the
    // text near-dup scale shape applied to media.
    QueryDef(
      "q_media_dedup",
      Some(nearOracle("phash")),
      (s, dir) => {
        import s.implicits._
        val hashed = mediaTruthSlice(s, dir)
          .select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val k = dedupKey(id)
            val bytes = MediaSynth.bmpPixels(8, 8, (x, y) =>
              if (((k >> (y * 8 + x)) & 1L) == 1L) (255, 255, 255)
              else (0, 0, 0))
            (id, Phash.aHashBytes(bytes).getOrElse(
              sys.error(s"q_media_dedup: BMP decode failed for doc $id")))
          })
          .toDF("media_id", "phash")
        withNearCount(hashed, "phash")
      }),

    // ------------------------------------------------------------------
    // Exact audio dedup via PCM content hash: odd docs synthesize WAVs
    // whose DATA chunk depends only on (channels, nFrames) — the sample
    // ramp ignores sample_rate — so docs sharing those parameters are
    // byte-identical PCM under different headers. The Spark side locates
    // the data chunk with the REAL RIFF walk (Codecs.wavMeta), md5s
    // exactly those bytes, and counts copies per hash (one content-hash
    // shuffle, the exact-dedup scale shape); the oracle re-derives the
    // same group sizes from the parameters alone. Equality proves the
    // chunk walk is offset-exact and the hash covers data and only data —
    // a header byte leaking into the hash splits every rate-variant group.
    QueryDef(
      "q_media_pcm_dup",
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    1 + (doc_id // 2) % 2 AS ch, 10 + n_chars % 100 AS nf
             |  FROM documents WHERE doc_id % 2 = 1)
             |SELECT doc_id AS media_id,
             |  CAST(COUNT(*) OVER (PARTITION BY ch, nf) AS BIGINT) AS n_copies
             |FROM w""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val hashed = docs(s, dir)
          .select($"doc_id", $"n_chars").as[(Long, Long)]
          .filter(_._1 % 2 == 1)
          .mapPartitions(_.map { case (id, nc) =>
            val bytes =
              MediaSynth.wav(wavRate(id), wavChannels(id), wavFrames(nc))
            val m = Codecs.wavMeta(bytes).getOrElse(
              sys.error(s"q_media_pcm_dup: WAV parse failed for doc $id"))
            val pcm = java.util.Arrays.copyOfRange(bytes, m.dataOffset,
              m.dataOffset + m.nSampleFrames * m.blockAlign)
            val md = java.security.MessageDigest.getInstance("MD5")
            (id, java.util.HexFormat.of().formatHex(md.digest(pcm)))
          })
          .toDF("media_id", "pcm_hash")
        hashed
          .withColumn("n_copies", count(lit(1)).over(
            Window.partitionBy(col("pcm_hash"))))
          .select($"media_id", $"n_copies")
      }),

    // ------------------------------------------------------------------
    // Perceptual AUDIO near-dup — the volume-invariant companion to
    // q_media_pcm_dup's exact PCM hash (which a 2x-gain re-encode
    // structurally defeats) and the audio twin of q_media_dedup: each doc
    // synthesizes a mono WAV whose 64 per-band amplitudes encode its
    // dedupKey bits (800 vs 50 base amplitude), multiplied by a
    // doc-dependent volume 1 + doc_id % 3 — 3 and 4 are coprime, so every
    // noise group of 4 spans different volumes and matching WITHIN a group
    // proves gain invariance, not byte equality. The REAL decode path
    // (RIFF chunk walk, block-aligned channel-0 seeks, band-energy mean
    // threshold = Phash.audioBandFp) provably recovers the key: every
    // 1-bit band is strictly louder than the 64-band mean and every 0-bit
    // band strictly quieter (key bits 62-63 are always 0, so neither
    // degenerate all-equal case can occur). Hamming-banded buckets (exact
    // recall at radius <= 2 by pigeonhole) then count neighbours; the
    // oracle recomputes n_near from the key arithmetic alone — identical
    // first-principles truth as q_media_dedup, reached through an entirely
    // different byte format and signal path.
    QueryDef(
      "q_media_audio_dedup",
      Some(nearOracle("audio_fp")),
      (s, dir) => {
        import s.implicits._
        val hashed = mediaTruthSlice(s, dir)
          .select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val k = dedupKey(id)
            val vol = 1 + (id % 3).toInt
            // 4 frames per band, constant amplitude within a band
            val samples = Array.tabulate[Short](256) { i =>
              val base = if (((k >> (i / 4)) & 1L) == 1L) 800 else 50
              (base * vol).toShort
            }
            val bytes = MediaSynth.wavMono(wavRate(id), samples)
            (id, Phash.audioBandFp(bytes).getOrElse(
              sys.error(s"q_media_audio_dedup: WAV fp failed for doc $id")))
          })
          .toDF("media_id", "audio_fp")
        withNearCount(hashed, "audio_fp")
      }),

    // ------------------------------------------------------------------
    // VIDEO container metadata: each doc forward-writes a minimal
    // ISO-BMFF/MP4 skeleton (MediaSynth.mp4 — ftyp + moov/mvhd v0 + one
    // tkhd v0 per track) whose
    // every parameter is doc arithmetic, and the REAL box-tree walk
    // (Codecs.mp4Meta: ftyp brand, mvhd timescale/duration, first video
    // tkhd 16.16 dims, trak count) re-derives them through
    // Multimodal.extractMeta's production routing. Odd docs carry a
    // second zero-dim (audio-style) track, so "first track with nonzero
    // width" is exercised, not just single-track files. The oracle
    // recomputes byte counts (140 + 100 per track) and every field from
    // the same arithmetic — writer and parser never share code, so a hash
    // match certifies the byte-level BMFF logic. Same 100 TB shape as
    // q_media_meta: one fused synthesize+decode mapPartitions pass, no
    // shuffle, payloads never leave the executor.
    QueryDef(
      "q_media_video_meta",
      Some("""SELECT doc_id AS media_id, 'video' AS media_type,
             |  CAST(140 + 100 * (1 + doc_id % 2) AS BIGINT) AS n_bytes,
             |  CAST(160 * (1 + doc_id % 8) AS INT) AS width,
             |  CAST(90 * (1 + doc_id % 8) AS INT) AS height,
             |  CAST(600 * (1 + doc_id % 4) + n_chars % 5000 AS INT) AS n_frames,
             |  'mp4' AS container,
             |  CAST(600 * (1 + doc_id % 4) AS INT) AS sample_rate,
             |  CAST(1 + doc_id % 2 AS INT) AS channels
             |FROM documents""".stripMargin),
      extractMetaOf(_, _) { case (id, nc) =>
        val timescale = 600 * (1 + (id % 4).toInt)
        val duration = timescale + (nc % 5000).toInt
        val dim = 1 + (id % 8).toInt
        val tracks = (160 * dim, 90 * dim) ::
          (if (id % 2 == 1) List((0, 0)) else Nil) // odd: + audio track
        (id, "video", MediaSynth.mp4(timescale, duration, tracks))
      }),

    // ------------------------------------------------------------------
    // Perceptual VIDEO dedup — completes the modality symmetry: images and
    // audio each have exact + perceptual tiers. Each doc synthesizes an MP4
    // whose mdat
    // carries two DECODABLE keyframes (MediaSynth.mp4WithFrames — BMP
    // samples, self-delimiting via their own declared size, the honest
    // stand-in for stsz/stco the skeleton never wrote): frame 0 is the
    // q_media_dedup bit-pattern poster frame encoding dedupKey, frame 1 a
    // doc-varying solid frame whose only job is to prove the sample walk
    // advances by the DECLARED size (a walker that mis-slices frame 0
    // fails frame 1's magic/decode and n_frames_decoded != 2). The real
    // chain — box walk to mdat, per-sample BMP slice, imageio decode,
    // Phash.aHash on the poster frame — recovers the key exactly, then the
    // SAME Hamming-banded machinery as the image/audio tiers counts
    // neighbours at radius <= 2. Oracle: the identical first-principles
    // key arithmetic; a hash match certifies the whole frame-extraction
    // path, through a third byte format. One fused synthesize+walk+decode
    // mapPartitions pass + the one banding shuffle.
    QueryDef(
      "q_media_video_dedup",
      Some(nearOracle("video_fp", " CAST(2 AS INT) AS n_frames_decoded,")),
      (s, dir) => {
        import s.implicits._
        val hashed = mediaTruthSlice(s, dir)
          .select($"doc_id").as[Long]
          .mapPartitions(_.map { id =>
            val k = dedupKey(id)
            val poster = MediaSynth.bmpPixels(8, 8, (x, y) =>
              if (((k >> (y * 8 + x)) & 1L) == 1L) (255, 255, 255)
              else (0, 0, 0))
            val tail = MediaSynth.bmp(8, 8, (id % 256).toInt,
              ((id / 3) % 256).toInt, ((id / 7) % 256).toInt)
            val video = MediaSynth.mp4WithFrames(600, 600,
              Seq((8, 8)), Seq(poster, tail))
            val frames = Codecs.mp4Frames(video).getOrElse(
              sys.error(s"q_media_video_dedup: mdat walk failed for doc $id"))
            (id,
              Phash.aHashBytes(frames.head).getOrElse(
                sys.error(s"q_media_video_dedup: poster decode failed for doc $id")),
              frames.size)
          })
          .toDF("media_id", "video_fp", "n_frames_decoded")
        withNearCount(hashed, "video_fp")
      })
  )
}
