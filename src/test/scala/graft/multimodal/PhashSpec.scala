package graft.multimodal

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Perceptual-hash gates: the decode→downscale→threshold pipeline recovers
  * known bit patterns (at native grid size AND through a genuine 8×
  * area-average downscale), hashes are scale-invariant where the algorithm
  * promises it, and the Hamming-banded near-dup path has EXACT recall vs brute force at the dedup radius —
  * the "recall gate vs near-identical synthesized images" for
  * q_media_dedup.
  */
class PhashSpec extends SparkSpec {

  private def patternBmp(k: Long, cell: Int): Array[Byte] =
    MediaSynth.bmpPixels(8 * cell, 8 * cell, (x, y) =>
      if (((k >> ((y / cell) * 8 + (x / cell))) & 1L) == 1L) (255, 255, 255)
      else (0, 0, 0))

  test("aHash recovers the painted bit pattern at native 8x8 size") {
    val keys = Seq(0L, 1L, 32L, (1L << 11) | (1L << 40), 0x3FFFFFFFFFFFFFFFL,
      0x123456789ABCDEFL)
    keys.foreach { k =>
      assert(Phash.aHashBytes(patternBmp(k, 1)) === Some(k), s"key $k")
    }
  }

  test("aHash survives a REAL 8x downscale: 64x64 cells area-average back " +
    "to the same hash (scale invariance)") {
    val keys = Seq(5L, 0x123456789ABCDEFL, (1L << 61) | 7L)
    keys.foreach { k =>
      assert(Phash.aHashBytes(patternBmp(k, 8)) === Some(k), s"key $k at 8x")
      // and the two renderings of one image agree with each other
      assert(Phash.aHashBytes(patternBmp(k, 8)) ===
        Phash.aHashBytes(patternBmp(k, 1)))
    }
  }

  private def patternWav(k: Long, vol: Int, framesPerBand: Int = 4): Array[Byte] =
    MediaSynth.wavMono(8000, Array.tabulate[Short](64 * framesPerBand) { i =>
      val base = if (((k >> (i / framesPerBand)) & 1L) == 1L) 800 else 50
      (base * vol).toShort
    })

  test("audioBandFp recovers the painted band pattern through the real " +
    "RIFF walk and block-aligned seeks") {
    val keys = Seq(0L, 1L, 32L, (1L << 11) | (1L << 40), 0x3FFFFFFFFFFFFFFFL,
      0x123456789ABCDEFL)
    keys.foreach { k =>
      assert(Phash.audioBandFp(patternWav(k, 1)) === Some(k), s"key $k")
    }
  }

  test("audioBandFp is VOLUME-invariant (the property exact PCM hashing " +
    "cannot have) and window boundaries survive longer payloads") {
    val k = 0x123456789ABCDEFL
    val ref = Phash.audioBandFp(patternWav(k, 1))
    (2 to 5).foreach { vol =>
      assert(Phash.audioBandFp(patternWav(k, vol)) === ref, s"volume $vol")
    }
    // 16 frames per band instead of 4: same envelope, same fingerprint
    assert(Phash.audioBandFp(patternWav(k, 3, framesPerBand = 16)) === ref)
    // but a different KEY is a different fingerprint
    assert(Phash.audioBandFp(patternWav(k ^ 1L, 1)) !== ref)
  }

  test("audioBandFp refuses non-WAV payloads and too-short clips") {
    assert(Phash.audioBandFp("not audio".getBytes) === None)
    assert(Phash.audioBandFp(
      MediaSynth.wavMono(8000, Array.fill[Short](10)(100))) === None)
    // constant audio (all bands equal the mean) fingerprints to 0, not -1
    assert(Phash.audioBandFp(
      MediaSynth.wavMono(8000, Array.fill[Short](256)(500))) === Some(0L))
  }

  test("non-image payloads hash to None, never garbage") {
    assert(Phash.aHashBytes("not an image".getBytes("UTF-8")).isEmpty)
    assert(Phash.aHashBytes(Array.emptyByteArray).isEmpty)
  }

  test("Hamming-banded near-dup has EXACT recall vs brute force at radius " +
    "2 over near-identical synthesized images") {
    import spark.implicits._
    // 40 groups of 4 near-identical images: base pattern + 0/1/2/8 flipped
    // bits (the q_media_dedup construction) — hash through the REAL decode
    val rows = (0L until 160L).map { id =>
      val g = id / 4
      val base = (g * 2654435761L) % 2147483648L +
        ((g * 1779033703L) % 2147483648L) * 2147483648L
      val noise = (id % 4) match {
        case 0 => 0L
        case 1 => 1L << 5
        case 2 => (1L << 11) | (1L << 40)
        case _ => Seq(1, 7, 19, 23, 37, 41, 53, 59).map(1L << _).reduce(_ | _)
      }
      val k = base ^ noise
      (id, Phash.aHashBytes(patternBmp(k, 1)).get)
    }
    val hashed = rows.toDF("media_id", "phash")
    val banded = Dedup.hammingPairs(hashed, "media_id", "phash", maxHamming = 2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force truth on the driver (160 hashes)
    val truth = (for {
      (a, ha) <- rows; (b, hb) <- rows if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "degenerate fixture: no near-dup pairs")
    assert(banded === truth,
      s"banding missed ${(truth -- banded).take(5)} / " +
        s"invented ${(banded -- truth).take(5)}")
    // and the construction behaves: members 0,1,2 of a group mutually
    // cluster (distances 1,2,3 -> the d=3 pair 1-2 is correctly absent)
    assert(truth.contains((0L, 1L)) && truth.contains((0L, 2L)))
    assert(!truth.contains((1L, 2L)), "distance-3 pair must not pass radius 2")
    assert(!truth.exists { case (a, b) => b == a + 3 && a % 4 == 0 },
      "the 8-bit outlier must not cluster with its group base")
  }
}
