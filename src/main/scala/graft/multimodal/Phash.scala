package graft.multimodal

import java.awt.image.BufferedImage

/** Perceptual image hashes over decoded pixels — the dedup keys for a media
  * corpus, where byte-identical hashing ([[graft.operators.Dedup]]'s text
  * paths, the PCM hash) misses re-encoded / resized / slightly-edited
  * copies of one image. '''aHash''' (average hash) area-averages the
  * image to an 8×8 grayscale grid and sets bit i when cell i is brighter
  * than the grid mean — robust to re-encoding and uniform brightness
  * scaling.
  *
  * The hash is 64-bit, so near-duplicate search is Hamming distance over
  * longs and reuses the SimHash machinery verbatim: band the hash into
  * 4×16-bit chunks, bucket-join on any equal chunk (pigeonhole: distance
  * ≤ d flips at most d chunks, so pairs within radius 3 ALWAYS share a
  * chunk — exact recall at the radii dedup uses), then verify candidates
  * with `bit_count(xor)`. Map-only per image, one banding shuffle — the
  * same 100 TB shape as text near-dup, never all-pairs.
  *
  * The downscale is an exact AREA average (each output cell averages its
  * integer pixel block), not ImageIO's resampling — deterministic on every
  * JVM, and on a grid-aligned input (the synth fixtures) bit-exactly the
  * cell values, which is what lets q_media_dedup derive expected hashes
  * arithmetically in the oracle.
  */
object Phash {

  /** Area-averaged grayscale grid: cell (x, y) is the mean of
    * (r + g + b) / 3 over pixel block [⌊xW/gw⌋, max(+1, ⌊(x+1)W/gw⌋)) ×
    * the analogous rows — every pixel of a grid-aligned image contributes
    * to exactly one cell, and a sub-grid image (W < gw) degrades to
    * nearest-pixel sampling instead of failing.
    */
  private[multimodal] def grayGrid(img: BufferedImage, gw: Int, gh: Int): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Double](gw * gh)
    var y = 0
    while (y < gh) {
      val y0 = y * h / gh
      val y1 = math.max(y0 + 1, (y + 1) * h / gh)
      var x = 0
      while (x < gw) {
        val x0 = x * w / gw
        val x1 = math.max(x0 + 1, (x + 1) * w / gw)
        var sum = 0L; var n = 0
        var py = y0
        while (py < y1 && py < h) {
          var px = x0
          while (px < x1 && px < w) {
            val rgb = img.getRGB(px, py)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            n += 1
            px += 1
          }
          py += 1
        }
        out(y * gw + x) = if (n == 0) 0.0 else sum.toDouble / (3.0 * n)
        x += 1
      }
      y += 1
    }
    out
  }

  /** 64-bit average hash: bit (y·8 + x) set iff cell (x, y) is STRICTLY
    * brighter than the 64-cell mean. Strict keeps the all-equal image (and
    * the all-dark one) at hash 0 instead of all-ones.
    */
  def aHash(img: BufferedImage): Long = {
    val g = grayGrid(img, 8, 8)
    val mean = g.sum / 64.0
    var h = 0L; var i = 0
    while (i < 64) { if (g(i) > mean) h |= 1L << i; i += 1 }
    h
  }

  /** Decode-then-hash entry for payload bytes; None when no JVM reader
    * claims the container (the [[Multimodal]] NULL-not-garbage convention).
    */
  def aHashBytes(bytes: Array[Byte]): Option[Long] =
    Codecs.decodeImage(bytes).map(aHash)

  /** 64-bit band-energy audio fingerprint — the aHash idea applied to PCM
    * (the chromaprint/echoprint family reduced to its loudness-envelope
    * core): split the channel-0 stream into `nBands` contiguous windows,
    * take each window's mean |amplitude|, set bit i iff band i is STRICTLY
    * louder than the 64-band mean. The mean threshold makes the
    * fingerprint VOLUME-INVARIANT — scaling every sample by c > 0 scales
    * all band energies and their mean by the same c, so no bit moves — the
    * property that catches re-encoded / re-normalized copies exact PCM
    * hashing ([[graft.queries.MediaQueries]] q_media_pcm_dup) structurally
    * cannot. Strict `>` keeps constant audio (incl. silence) at 0, the
    * aHash convention. Real decode path end-to-end: RIFF chunk walk
    * ([[Codecs.wavMeta]]) + block-aligned channel-0 seeks — a header or
    * offset bug shifts a window boundary and flips bits. None for
    * non-WAV / non-16-bit payloads or fewer frames than bands.
    */
  def audioBandFp(bytes: Array[Byte], nBands: Int = 64): Option[Long] = {
    require(nBands >= 1 && nBands <= 64, s"nBands $nBands not in [1, 64]")
    Codecs.wavMeta(bytes)
      .filter(m => m.bitsPerSample == 16 && m.nSampleFrames >= nBands)
      .flatMap { m =>
        Codecs.wavSamples(bytes, 0, m.nSampleFrames).map { s =>
          val n = s.length
          val e = new Array[Double](nBands)
          var i = 0
          while (i < nBands) {
            // window i covers [i*n/nBands, (i+1)*n/nBands) — exact integer
            // boundaries, remainder frames spread deterministically
            val from = (i.toLong * n / nBands).toInt
            val until = ((i + 1).toLong * n / nBands).toInt
            var sum = 0L; var j = from
            while (j < until) { sum += math.abs(s(j).toLong); j += 1 }
            e(i) = sum.toDouble / (until - from)
            i += 1
          }
          val mean = e.sum / nBands
          var h = 0L; var b = 0
          while (b < nBands) { if (e(b) > mean) h |= 1L << b; b += 1 }
          h
        }
      }
  }
}
