package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Perceptual image hashing + content-level image near-dup — the
  * multimodal twin of the text near-dup stack: multimodal corpora carry
  * the same duplication pathologies text does (the same image re-encoded,
  * resized, or lightly retouched across millions of pages), and byte-level
  * dedup (payload md5) is blind to all of it. The standard remedy is a
  * PERCEPTUAL hash — a tiny fingerprint of the image's coarse luminance
  * structure — paired with a banded Hamming join, exactly the
  * [[Dedup.simhashNearDups]] machinery with the substrate swapped from
  * token bit-sums to pixel-block comparisons.
  *
  * Two classic 64-bit hashes (both implemented; dHash is the pairing
  * default — gradient structure survives re-encoding better than absolute
  * brightness):
  *  - aHash: 8×8 grid of block-mean luminances; bit k set iff block k's
  *    mean exceeds the global mean of the 64 blocks.
  *  - dHash: 9×8 grid; bit (x,y) set iff block(x,y) < block(x+1,y) — the
  *    horizontal gradient sign field.
  * All arithmetic is integer (block mean = sum div count): the same
  * image yields the same hash on any engine, so the fingerprints are
  * at-rest artifacts (store them next to the payloads; re-hashing 100 TB
  * of images to re-run dedup would be the real cost).
  *
  * DECODE layer, same discipline as [[Multimodal.parseDims]]: pure byte
  * arithmetic against public uncompressed container formats — binary PGM
  * (P5) and uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB, bottom-up
  * or top-down) — no media library. Compressed formats (JPEG/PNG pixel
  * data) belong behind the [[Multimodal.MediaDecoder]] codec seam;
  * a production pipeline decodes once there and feeds the raster here.
  *
  * Scale shape: hashing is a partition-preserving typed mapPartitions
  * (payload bytes never shuffle; the emitted row is fixed-width); the
  * pair join runs on 4×16-bit bands of the 64-bit hash — candidates must
  * agree on at least one band, which by pigeonhole guarantees FULL recall
  * for Hamming distance <= 3 (4 bands, <= 3 differing bits leave one band
  * untouched) and standard approximate-recall blocking beyond — never an
  * all-pairs join.
  */
object ImageHash {

  case class RasterGray(fmt: String, width: Int, height: Int, px: Array[Int])

  case class ImagePhash(
      media_id: Long, fmt: String, width: Long, height: Long,
      ahash: Long, dhash: Long)

  /** Decode an uncompressed raster payload to 8-bit grayscale, row-major
    * top-down. Binary PGM (P5, maxval <= 255, `#` comments legal) and
    * uncompressed 24-bit BMP (gray = (299 R + 587 G + 114 B) / 1000 —
    * the ITU-R 601 luma weights in exact integer form, summing to 1000).
    * Fail-fast with a reason on anything malformed or out of scope
    * (16-bit PGM samples, compressed/paletted BMP): a corrupt payload
    * must surface at the decode stage, not flow a garbage hash into the
    * dedup graph.
    */
  def parseRasterGray(bytes: Array[Byte]): RasterGray = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def u32le(i: Int): Long = u16le(i).toLong | (u16le(i + 2).toLong << 16)
    def i32le(i: Int): Int = u32le(i).toInt
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"parseRasterGray: $msg (${bytes.length} bytes)")

    if (bytes.length >= 2 && u8(0) == 'P' && u8(1) == '5') {
      // PGM token scan: magic, width, height, maxval, ONE whitespace
      // byte, then width*height raw samples
      var pos = 2
      def isWs(c: Int) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
      def nextInt(): Int = {
        while (pos < bytes.length && (isWs(u8(pos)) || u8(pos) == '#')) {
          if (u8(pos) == '#') { while (pos < bytes.length && u8(pos) != '\n') pos += 1 }
          else pos += 1
        }
        if (pos >= bytes.length) fail("truncated PGM header")
        var v = 0L
        val start = pos
        while (pos < bytes.length && u8(pos) >= '0' && u8(pos) <= '9') {
          v = v * 10 + (u8(pos) - '0'); pos += 1
          if (v > Int.MaxValue) fail("PGM header field out of range")
        }
        if (pos == start) fail(s"PGM header: digit expected at offset $pos")
        v.toInt
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      if (w <= 0 || h <= 0) fail(s"PGM dimensions out of range: ${w}x$h")
      if (maxval <= 0 || maxval > 255) fail(s"PGM maxval $maxval not in [1, 255] (16-bit samples out of scope)")
      if (pos >= bytes.length || !isWs(u8(pos))) fail("PGM: single whitespace expected after maxval")
      pos += 1
      if (w.toLong * h > bytes.length - pos) fail("truncated PGM pixel data")
      val px = new Array[Int](w * h)
      var i = 0
      while (i < px.length) { px(i) = u8(pos + i); i += 1 }
      RasterGray("pgm", w, h, px)
    } else if (bytes.length >= 2 && u8(0) == 'B' && u8(1) == 'M') {
      if (bytes.length < 54) fail("truncated BMP header")
      val dataOffset = u32le(10)
      val dibSize = u32le(14)
      if (dibSize < 40) fail(s"BMP DIB header size $dibSize below BITMAPINFOHEADER")
      val w = i32le(18)
      val hRaw = i32le(22)
      val bottomUp = hRaw > 0
      val h = math.abs(hRaw)
      if (w <= 0 || h == 0) fail(s"BMP dimensions out of range: ${w}x$hRaw")
      if (u16le(26) != 1) fail(s"BMP planes ${u16le(26)} != 1")
      if (u16le(28) != 24) fail(s"BMP bpp ${u16le(28)} not 24 (paletted/other depths out of scope)")
      if (u32le(30) != 0) fail(s"BMP compression ${u32le(30)} not BI_RGB")
      val rowSize = ((w * 3 + 3) / 4) * 4
      if (dataOffset < 54 || dataOffset + rowSize.toLong * h > bytes.length)
        fail("BMP pixel data overruns the payload")
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val srcRow = if (bottomUp) h - 1 - y else y
        val rowBase = dataOffset.toInt + srcRow * rowSize
        var x = 0
        while (x < w) {
          val i = rowBase + x * 3
          val (b, g, r) = (u8(i), u8(i + 1), u8(i + 2))
          px(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
          x += 1
        }
        y += 1
      }
      RasterGray("bmp", w, h, px)
    } else fail("unknown raster format (no PGM/BMP signature)")
  }

  /** Integer block means over a gw×gh grid: block (i,j) covers
    * x in [i*w div gw, (i+1)*w div gw) × y alike — the exact partition of
    * the raster (every pixel in exactly one block, blocks nonempty for
    * w >= gw, h >= gh), mean = sum div count. Row-major (j*gw + i).
    */
  private[pipeline] def gridMeans(px: Array[Int], w: Int, h: Int, gw: Int, gh: Int): Array[Long] = {
    require(w >= gw && h >= gh,
      s"gridMeans: raster ${w}x$h smaller than the ${gw}x$gh hash grid")
    val out = new Array[Long](gw * gh)
    var j = 0
    while (j < gh) {
      val y0 = j * h / gh; val y1 = (j + 1) * h / gh
      var i = 0
      while (i < gw) {
        val x0 = i * w / gw; val x1 = (i + 1) * w / gw
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += px(y * w + x); x += 1 }
          y += 1
        }
        out(j * gw + i) = sum / ((x1 - x0).toLong * (y1 - y0))
        i += 1
      }
      j += 1
    }
    out
  }

  /** 64-bit average hash: bit (y*8 + x) set iff block mean (x,y) strictly
    * exceeds the global mean of the 64 block means (integer, ties → 0).
    */
  def aHash64(px: Array[Int], w: Int, h: Int): Long = {
    val cells = gridMeans(px, w, h, 8, 8)
    val mean = cells.sum / 64
    var hash = 0L
    var k = 0
    while (k < 64) { if (cells(k) > mean) hash |= (1L << k); k += 1 }
    hash
  }

  /** 64-bit difference hash: 9×8 block grid; bit (y*8 + x) set iff
    * block(x,y) < block(x+1,y) — the horizontal luminance gradient sign.
    */
  def dHash64(px: Array[Int], w: Int, h: Int): Long = {
    val cells = gridMeans(px, w, h, 9, 8)
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (cells(y * 9 + x) < cells(y * 9 + x + 1)) hash |= (1L << (y * 8 + x))
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Perceptual-hash extraction over a media table (media_id, payload):
    * the [[Multimodal.imageDims]] seam at hash granularity — payload
    * bytes never shuffle, one decode+hash pass per row, corrupt rows
    * fail with their media identity. Output (media_id, fmt, width,
    * height, ahash, dhash) — the fixed-width at-rest fingerprint table.
    */
  def imagePhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        try {
          val r = parseRasterGray(payload)
          ImagePhash(id, r.fmt, r.width.toLong, r.height.toLong,
            aHash64(r.px, r.width, r.height), dHash64(r.px, r.width, r.height))
        } catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"media_id=$id: ${e.getMessage}", e)
        }
      }).toDF()
  }

  /** Image near-dup pairs within Hamming distance <= maxDist over a
    * 64-bit perceptual-hash column, blocked by the hash's 4 disjoint
    * 16-bit bands: candidates must agree on at least one band —
    * pigeonhole guarantees FULL recall for maxDist <= 3 (enforced; wider
    * radii need a re-banded variant, not a silent recall cliff). The
    * Hamming cut runs per band-bucket BEFORE the pair-dedup shuffle, so
    * only surviving near-dup pairs ride it — the
    * [[Dedup.simhashNearDups]] shape with the substrate swapped.
    * Output (id1, id2, dist), id1 < id2.
    */
  /** INCREMENTAL image near-dup — probe a batch of new media against the
    * AT-REST fingerprint store (media_id → dhash, cluster_id), the image
    * member of the store-probe family ([[Dedup.exactDedupIncremental]]
    * exact text, [[Dedup.minhashStoreMatches]] minhash signatures,
    * [[graft.pipeline.Similarity.ivfPqStoreMatches]] embeddings): a
    * corpus ingests media in batches, and each batch must match against
    * everything already kept WITHOUT re-pairing the store against itself.
    * Emits one row per (probe, store) pair within `maxDist`, carrying the
    * store's cluster id — novel media (no output row) get appended to the
    * store by the caller, the standard incremental loop.
    *
    * Same 4×16-bit banding as [[imageNearDups]] (full recall to distance
    * 3, enforced). The per-pair dedup a batch operator would do with
    * `distinct()` is done ROW-LOCALLY instead — a joined row survives iff
    * ITS band index is the FIRST band on which the two hashes agree —
    * so the operator is STATELESS and streaming-legal as a stream-static
    * join (the [[Dedup.minhashStoreMatches]] rule, whose streaming face
    * is [[graft.streaming.StreamDedup.nearDupAgainstStore]];
    * spec-asserted MemoryStream == batch). The store is read
    * per probe batch: persist it, or stage [[phashStoreBands]] bucketed
    * and pass it as `storeBands` — then the probe join has NO store-side
    * exchange even when the probe cannot broadcast (plan-asserted).
    * Output: (idCol, store_id, cluster_id, dist).
    */
  def phashStoreMatches(
      probe: DataFrame,
      store: DataFrame,
      maxDist: Int = 3,
      idCol: String = "media_id",
      hashCol: String = "dhash",
      storeBands: Option[DataFrame] = None): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"phashStoreMatches: 4×16-bit banding guarantees recall only to distance 3, got $maxDist")
    val missing = Seq("store_id", "cluster_id", hashCol).filterNot(store.columns.contains)
    require(missing.isEmpty,
      s"phashStoreMatches: store must carry (store_id, cluster_id, $hashCol); missing ${missing.mkString(", ")}")
    storeBands.foreach { sb =>
      val m = Seq("bv", "store_id", "cluster_id", "sh").filterNot(sb.columns.contains)
      require(m.isEmpty,
        s"storeBands must carry (bv, store_id, cluster_id, sh); missing ${m.mkString(", ")}")
    }
    // batch face: the probe batch is arrival-sized, the store is the
    // corpus — broadcast the probe so the store NEVER shuffles. Streaming
    // face: the stream side cannot broadcast; the stream-static join
    // reads the store per micro-batch (persist it or pass the bucketed
    // band artifact). The join key is the single bv = band*65536+value
    // column so a bv-bucketed band store co-locates the join outright.
    val pRaw = probe.select(col(idCol), col(hashCol).cast("long").as("__ph"))
    val pBands = (if (probe.isStreaming) pRaw else broadcast(pRaw))
      .withColumn("__band", explode(expr(
        "transform(sequence(0, 3), b -> struct(b as b, " +
          "b * 65536 + (shiftright(__ph, b * 16) & 65535) as bv))")))
      .withColumn("__b", col("__band.b")).withColumn("__bv", col("__band.bv"))
      .drop("__band")
    val sBands = storeBands.getOrElse(phashStoreBands(store, hashCol))
      .select(col("bv").as("__bv"), col("store_id"), col("cluster_id"),
        col("sh").as("__sh"))
    // row-local pair dedup: first band (0-based) on which the hashes agree
    val firstCommonBand =
      "element_at(filter(sequence(0, 3), bj -> " +
        "(shiftright(__ph, bj * 16) & 65535) = (shiftright(__sh, bj * 16) & 65535)), 1)"
    pBands.join(sBands, Seq("__bv"))
      .where(col("__b") === expr(firstCommonBand))
      .withColumn("dist", expr("cast(bit_count(__ph ^ __sh) as bigint)"))
      .where(col("dist") <= maxDist)
      .select(col(idCol), col("store_id"), col("cluster_id"), col("dist"))
  }

  /** The at-rest BAND artifact of a fingerprint store: (bv, store_id,
    * cluster_id, sh) — the store's 4×16-bit banding exploded ONCE at
    * append/stage time (bv = band*65536+value, the single join key; sh
    * rides along for the distance arm). Stage it bucketed on `bv`
    * ([[graft.pipeline.ShingleStage.stagedBucketed]]) and pass it to
    * [[phashStoreMatches]] — the probe join then reads the store's
    * buckets co-located, no store-side exchange.
    */
  def phashStoreBands(store: DataFrame, hashCol: String = "dhash"): DataFrame =
    store.select(col("store_id"), col("cluster_id"), col(hashCol).cast("long").as("sh"))
      .withColumn("bv", explode(expr(
        "transform(sequence(0, 3), b -> b * 65536 + (shiftright(sh, b * 16) & 65535))")))
      .select("bv", "store_id", "cluster_id", "sh")

  /** The 4×16-bit band explode shared by the Hamming self-joins
    * ([[imageNearDups]], which `AudioFingerprint.audioNearDups` also
    * runs, and [[frameSetNearDups]]): one row per (input row, band)
    * carrying every column of `hashed` (whose 64-bit hash is `__h`) plus
    * the band index `__b` and its 16-bit value `__v`. Persisted, since both
    * self-join sides read it.
    */
  private[pipeline] def hammingBands(hashed: DataFrame): DataFrame =
    hashed
      .withColumn("__band", explode(expr(
        "transform(sequence(0, 3), b -> struct(b as b, shiftright(__h, b * 16) & 65535 as v))")))
      .select(hashed.columns.map(col) ++
        Seq(col("__band.b").as("__b"), col("__band.v").as("__v")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  def imageNearDups(
      hashes: DataFrame,
      maxDist: Int = 3,
      idCol: String = "media_id",
      hashCol: String = "dhash"): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"imageNearDups: 4×16-bit banding guarantees recall only to distance 3, got $maxDist")
    val sub = hammingBands(hashes.select(col(idCol), col(hashCol).cast("long").as("__h")))
    sub.as("x").join(sub.as("y"), Seq("__b", "__v"))
      .where(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id1"), col(s"y.$idCol").as("id2"),
        expr("cast(bit_count(x.__h ^ y.__h) as bigint)").as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
  }

  /** VIDEO near-dup by sampled-frame-set matching: two videos are
    * near-dups when at least `minFramesHit` of the first video's sampled
    * frames each perceptually match SOME frame of the second (Hamming <=
    * maxDist on the frame dHash) — alignment-free, so trims, re-orders
    * and re-edits that keep most scenes still pair. This is the standard
    * composition for video dedup: decode (behind the
    * [[Multimodal.MediaDecoder]] seam) samples frames, [[imagePhash]]
    * fingerprints them, and this operator lifts frame matches to video
    * pairs. Input is the frame fingerprint table (videoCol, frameCol,
    * hashCol).
    *
    * Same 4×16-bit banding as [[imageNearDups]] (full recall to distance
    * 3, enforced); matched frame pairs are distinct-ed before the rollup
    * so multi-band agreement never double-counts. Output one row per
    * video pair: (id1, id2, frames_hit = distinct id1-frames with a
    * match, min_dist), id1 < id2, frames_hit >= minFramesHit.
    *
    * Scale shape: frames-per-video is a small sampling constant, so the
    * banded join is the image pair join at (frames × corpus) scale; the
    * rollup is one aggregation keyed by the video pair — only matched
    * pairs reach it.
    */
  def frameSetNearDups(
      frames: DataFrame,
      minFramesHit: Int = 2,
      maxDist: Int = 3,
      videoCol: String = "video_id",
      frameCol: String = "frame_no",
      hashCol: String = "dhash"): DataFrame = {
    require(minFramesHit >= 1, s"frameSetNearDups: minFramesHit must be >= 1, got $minFramesHit")
    require(maxDist >= 0 && maxDist <= 3,
      s"frameSetNearDups: 4×16-bit banding guarantees recall only to distance 3, got $maxDist")
    val sub = hammingBands(frames.select(col(videoCol).as("__vid"), col(frameCol).as("__f"),
      col(hashCol).cast("long").as("__h")))
    sub.as("x").join(sub.as("y"), Seq("__b", "__v"))
      .where(col("x.__vid") < col("y.__vid"))
      .select(col("x.__vid").as("id1"), col("y.__vid").as("id2"),
        col("x.__f").as("__f1"), col("y.__f").as("__f2"),
        expr("cast(bit_count(x.__h ^ y.__h) as bigint)").as("dist"))
      .where(col("dist") <= maxDist)
      .distinct() // collapse multi-band agreement per frame pair
      .groupBy("id1", "id2")
      .agg(countDistinct(col("__f1")).as("frames_hit"), min(col("dist")).as("min_dist"))
      .where(col("frames_hit") >= minFramesHit)
  }
}
