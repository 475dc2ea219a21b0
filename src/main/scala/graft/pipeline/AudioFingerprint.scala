package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perceptual audio fingerprinting + content-level audio near-dup — the
  * audio member of the multimodal dedup family ([[ImageHash]] for
  * rasters, the minhash/simhash stack for text): audio corpora carry the
  * same duplication pathologies (the same clip re-encoded, trimmed by a
  * few samples, or lightly renormalized across sources), and payload-md5
  * dedup is blind to all of it.
  *
  * Fingerprint: the sign of FRAME-ENERGY DELTAS — frame the PCM stream
  * into 65 equal spans, take each frame's integer energy E_f = Σ|s|, and
  * set bit f iff E_f > E_{f+1} (64 deltas → a full 64-bit word). This is
  * the time-axis member of the energy-difference fingerprint family
  * (Haitsma & Kalker, "A Highly Robust Audio Fingerprinting System",
  * ISMIR 2002 — their full design differences over time AND frequency
  * bands; the frequency axis needs an FFT, which belongs behind the
  * [[Multimodal.MediaDecoder]] codec seam with the other
  * signal-processing decodes). Energy-delta signs survive volume scaling
  * (monotone per-frame) and small edits; all arithmetic is integer, so
  * the same payload fingerprints identically on any engine and the
  * 64-bit fingerprints are at-rest artifacts.
  *
  * DECODE layer, same discipline as [[ImageHash.parseRasterGray]] /
  * [[Multimodal.parseAudio]]: pure byte arithmetic over RIFF/WAVE 16-bit
  * PCM (the one uncompressed mainstream container) — no media library,
  * fail-fast with the media identity on anything malformed or out of
  * scope. Multi-channel audio mixes down by integer mean (floorDiv —
  * deterministic for negative samples).
  *
  * Scale shape: fingerprinting is a partition-preserving typed
  * mapPartitions (payload bytes never shuffle; the emitted row is
  * fixed-width); the pair join blocks on the fingerprint's 4 disjoint
  * 16-bit bands — band agreement is pigeonhole-complete for Hamming
  * distance <= 3, and 65,536 buckets per band keep per-bucket candidate
  * sets sublinear as the corpus grows (the [[ImageHash.imageNearDups]]
  * cardinality, which 8-bit bands' 256 buckets could not).
  */
object AudioFingerprint {

  /** At-rest fingerprint FORMAT VERSION, stamped on every emitted row.
    * The fingerprint is an at-rest artifact, so a format change is a
    * store migration, not a code change: v1 was the 33-frame 32-bit
    * word with 4×8-bit bands (retired in r16), v2 is the 65-frame
    * 64-bit word with 4×16-bit bands. Mixed-version probe joins are
    * meaningless (band values land in different ranges, distances
    * compare different words), so [[audioNearDups]] REFUSES in-plan
    * when its input carries a foreign `fp_version` — a store built
    * with an old format surfaces as an error, never as a silently
    * empty/garbage match set.
    */
  val FpVersion: Long = 2L

  case class PcmAudio(sampleRate: Int, channels: Int, samples: Array[Int])

  case class AudioFp(
      media_id: Long, sample_rate: Long, n_samples: Long, fp: Long,
      fp_version: Long)

  /** Decode a RIFF/WAVE payload to mono 16-bit PCM samples. PCM only
    * (audio_format 1), 16 bits per sample; multi-channel mixes down by
    * per-frame integer mean (floorDiv). Word-aligned chunk walk; both
    * `fmt ` and `data` must be present.
    */
  def parsePcm16(bytes: Array[Byte]): PcmAudio = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32le(i: Int): Long = u16le(i).toLong | (u16le(i + 2).toLong << 16)
    def s16le(i: Int): Int = (u16le(i) << 16) >> 16
    def ascii(i: Int, n: Int): String = new String(bytes.slice(i, i + n), "US-ASCII")
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"parsePcm16: $msg (${bytes.length} bytes)")

    if (bytes.length < 12 || ascii(0, 4) != "RIFF") fail("not a RIFF container")
    if (ascii(8, 4) != "WAVE") fail(s"RIFF form is '${ascii(8, 4)}', not WAVE")
    var pos = 12
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var dataAt = -1
    var dataLen = -1
    while (pos + 8 <= bytes.length && (dataAt < 0 || sampleRate < 0)) {
      val id = ascii(pos, 4)
      val size = u32le(pos + 4)
      if (size > bytes.length - pos - 8) fail(s"chunk '$id' overruns the payload")
      if (id == "fmt ") {
        if (size < 16) fail(s"fmt chunk size $size below PCM minimum 16")
        val fmt = u16le(pos + 8)
        if (fmt != 1) fail(s"audio format $fmt is not PCM")
        channels = u16le(pos + 10)
        sampleRate = u32le(pos + 12).toInt
        bits = u16le(pos + 22)
        if (channels < 1) fail(s"channel count $channels out of range")
        if (bits != 16) fail(s"bits per sample $bits not 16 (other widths out of scope)")
      } else if (id == "data") {
        dataAt = pos + 8
        dataLen = size.toInt
      }
      pos += 8 + size.toInt + (size.toInt & 1) // RIFF word alignment
    }
    if (sampleRate < 0) fail("missing fmt chunk")
    if (dataAt < 0) fail("missing data chunk")
    val bytesPerFrame = 2 * channels
    val nFrames = dataLen / bytesPerFrame
    val out = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      var sum = 0L
      var c = 0
      while (c < channels) { sum += s16le(dataAt + f * bytesPerFrame + 2 * c); c += 1 }
      out(f) = Math.floorDiv(sum, channels.toLong).toInt
      f += 1
    }
    PcmAudio(sampleRate, channels, out)
  }

  /** 64-bit energy-delta-sign fingerprint over `frames` equal spans
    * (default 65 → 64 deltas — a full word, so the near-dup banding
    * gets four 16-bit bands). Frame f covers samples
    * [f*n/frames, (f+1)*n/frames) — integer boundaries, so uneven
    * lengths distribute deterministically. Bit f set iff E_f > E_{f+1}
    * (strict; ties → 0). Fails fast when the clip is shorter than the
    * frame count — a sub-frame clip cannot carry the fingerprint's
    * semantics and must surface, not hash to garbage.
    */
  def energyFingerprint64(samples: Array[Int], frames: Int = 65): Long = {
    require(frames >= 2 && frames <= 65, s"frames must be in [2, 65], got $frames")
    val n = samples.length
    if (n < frames)
      throw new IllegalArgumentException(
        s"energyFingerprint64: clip of $n samples shorter than $frames frames")
    val e = new Array[Long](frames)
    var f = 0
    while (f < frames) {
      val from = (f.toLong * n / frames).toInt
      val until = ((f + 1).toLong * n / frames).toInt
      var s = 0L
      var i = from
      while (i < until) { s += math.abs(samples(i).toLong); i += 1 }
      e(f) = s
      f += 1
    }
    var fp = 0L
    var k = 0
    while (k < frames - 1) {
      if (e(k) > e(k + 1)) fp |= (1L << k)
      k += 1
    }
    fp
  }

  /** Fingerprint extraction over a media table (media_id, payload):
    * payload bytes never shuffle, one decode+fingerprint pass per row,
    * corrupt rows fail with their media identity. Output (media_id,
    * sample_rate, n_samples, fp, fp_version) — the fixed-width at-rest
    * table, stamped with [[FpVersion]] (the store-migration contract).
    */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        try {
          val a = parsePcm16(payload)
          AudioFp(id, a.sampleRate.toLong, a.samples.length.toLong,
            energyFingerprint64(a.samples), FpVersion)
        } catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"media_id=$id: ${e.getMessage}", e)
        }
      }).toDF()
  }

  /** Audio near-dup pairs within Hamming distance <= maxDist over the
    * 64-bit fingerprint, blocked by its 4 disjoint 16-bit bands
    * (pigeonhole-complete to distance 3, enforced) — the
    * [[ImageHash.imageNearDups]] self-join run on the audio substrate,
    * with its bucket cardinality: 65,536 buckets per band, so the banded
    * self-join's per-bucket candidate sets stay sublinear at corpus scale.
    * Output (id1, id2, dist), id1 < id2. An input carrying an
    * `fp_version` column is version-checked IN-PLAN against
    * [[FpVersion]] — a store written by an older format fails loudly
    * instead of matching nothing (the at-rest migration contract).
    */
  def audioNearDups(
      fps: DataFrame,
      maxDist: Int = 3,
      idCol: String = "media_id",
      fpCol: String = "fp"): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"audioNearDups: 4×16-bit banding guarantees recall only to distance 3, got $maxDist")
    val checked =
      if (!fps.columns.contains("fp_version")) fps
      else fps.withColumn(fpCol,
        when(col("fp_version") === FpVersion, col(fpCol)).otherwise(raise_error(concat(
          lit(s"audioNearDups: fingerprint format version "), col("fp_version"),
          lit(s" != $FpVersion — rebuild the store (band values of different " +
            "formats land in different ranges; a mixed probe matches garbage)")))))
    ImageHash.imageNearDups(checked, maxDist, idCol, fpCol)
  }
}
