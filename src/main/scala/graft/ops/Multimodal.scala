package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal record: an opaque media payload plus typed metadata.
  * At 100 TB the payload column dominates storage; everything here is
  * careful to project it away except where bytes are actually consumed.
  */
case class MediaRecord(
    doc_id: Long, media_type: String, payload: Array[Byte],
    width: Int, height: Int, n_frames: Int)

/** Output of the decode + feature-extract step. `detected_format` /
  * `decoded_w` / `decoded_h` come from REAL byte parsing (magic-byte
  * sniff + JPEG/PNG/GIF/BMP header fields). For payloads the JDK can
  * decode (PNG/GIF/BMP/JPEG via `javax.imageio`, PCM WAV via direct
  * sample arithmetic) the pixel/sample statistics are REAL content
  * features: `mean_luma`/`mean_r`/`mean_g`/`mean_b`/`edge_density`
  * for images, `audio_rms`/`audio_peak`/`audio_zcr` for audio — null
  * (None) when the payload is not decodable, which doubles as the
  * visibility flag. The byte-level `mean_byte`/`byte_entropy`/
  * `histogram` stay as format-agnostic fallbacks every payload gets.
  * The histogram is emitted as a fixed-format CSV string (scalar, not
  * array<double>) so the driver's pandas-based row sort can hash every
  * cell.
  */
case class MediaFeatures(
    doc_id: Long, media_type: String, n_bytes: Long,
    detected_format: String, decoded_w: Int, decoded_h: Int,
    audio_rate: Int, audio_channels: Int, audio_ms: Long,
    mean_byte: Double, byte_entropy: Double,
    resized_w: Int, resized_h: Int, histogram: String,
    mean_luma: Option[Double], mean_r: Option[Double],
    mean_g: Option[Double], mean_b: Option[Double],
    edge_density: Option[Double],
    audio_rms: Option[Double], audio_peak: Option[Double],
    audio_zcr: Option[Double],
    pixel_dhash: Option[Long])

/** Multimodal-column operators (driver north star: image/audio/video
  * as opaque `binary` columns with typed metadata).
  *
  * The decode step ([[Multimodal.decodeFeatures]]) is REAL for every
  * format the JDK ships a codec for: PNG/GIF/BMP/JPEG pixels via
  * `javax.imageio` (mean luminance, per-channel means, edge-density
  * proxy over a bounded sample grid) and PCM WAV samples via direct
  * byte arithmetic over the `data` chunk (RMS, peak, zero-crossing
  * rate). Payloads no JDK codec accepts (e.g. video containers, or
  * the synthetic text payloads of the demo catalog) fall back to
  * byte-level statistics with the pixel/sample columns left null —
  * the honest answer, and the visibility flag. The Spark-side
  * plumbing is the shape a production decoder needs: binary payload
  * column, metadata struct derivation, typed `Dataset[MediaRecord]`
  * with `mapPartitions` batched exactly like an Arrow-batched decode
  * would be, frame sampling via explode.
  */
object Multimodal {

  // executor-side: never spill ImageIO scratch to disk tmp files
  javax.imageio.ImageIO.setUseCache(false)

  /** The media catalog: documents' text bytes play the role of the
    * opaque payload; metadata is pure arithmetic on doc_id (so the
    * catalog is DuckDB-oracle-able end-to-end). Single projection — no
    * shuffle, scan speed.
    */
  def catalog(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3).cast("int") + 1).as("media_type"),
        col("text").cast("binary").as("payload"),
        col("text"), col("n_chars"),
        (lit(16) * (col("doc_id") % 64 + 1)).cast("int").as("width"),
        (lit(16) * (col("doc_id") % 48 + 1)).cast("int").as("height"))
      .withColumn("n_frames",
        when(col("media_type") === "video", (col("doc_id") % 24 + 1).cast("int"))
          .otherwise(lit(1)))

  /** Oracle-able catalog summary (payload reduced to its byte length —
    * the driver compare hashes values, and raw blobs stay out of it).
    */
  def mediaCatalog(spark: SparkSession, dir: String): DataFrame =
    catalog(spark, dir)
      .select(col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("width"), col("height"), col("n_frames"))
      .orderBy(col("doc_id"))

  val mediaCatalogSql: String =
    """SELECT doc_id,
      |  ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(16 * (doc_id % 64 + 1) AS INT) AS width,
      |  CAST(16 * (doc_id % 48 + 1) AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 24 + 1 ELSE 1 END AS INT) AS n_frames
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Magic-byte container sniffing — pure public-knowledge byte
    * parsing of the standard file signatures (no codec library
    * involved): JPEG `FF D8 FF`, PNG `89 50 4E 47 0D 0A 1A 0A`,
    * GIF87a/GIF89a, BMP `BM`, RIFF/WAVE and RIFF/AVI containers.
    * Returns "unknown" when no signature matches (e.g. the synthetic
    * text payloads of the demo catalog — the honest answer).
    */
  private[graft] def sniffFormat(b: Array[Byte]): String = {
    @inline def u(i: Int): Int = b(i) & 0xff
    if (b.length >= 3 && u(0) == 0xff && u(1) == 0xd8 && u(2) == 0xff) "jpeg"
    else if (b.length >= 8 && u(0) == 0x89 && u(1) == 'P' && u(2) == 'N' &&
      u(3) == 'G' && u(4) == 0x0d && u(5) == 0x0a && u(6) == 0x1a && u(7) == 0x0a) "png"
    else if (b.length >= 6 && u(0) == 'G' && u(1) == 'I' && u(2) == 'F' &&
      u(3) == '8' && (u(4) == '7' || u(4) == '9') && u(5) == 'a') "gif"
    else if (b.length >= 2 && u(0) == 'B' && u(1) == 'M') "bmp"
    else if (b.length >= 12 && u(0) == 'R' && u(1) == 'I' && u(2) == 'F' && u(3) == 'F') {
      val tag = new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
      if (tag == "WAVE") "wav" else if (tag == "AVI ") "avi" else "riff"
    } else "unknown"
  }

  /** Header-level width/height extraction for the sniffed formats —
    * again plain public byte-layout parsing, no decode:
    *  - PNG: IHDR is the first chunk after the 8-byte signature; width
    *    and height are big-endian u32 at offsets 16 and 20.
    *  - JPEG: walk the `FF xx` marker stream to the first start-of-
    *    frame marker (SOF0–SOF15, excluding DHT/JPG/DAC C4/C8/CC);
    *    height/width are big-endian u16 at +5/+7 past the marker.
    *  - GIF: logical screen width/height, little-endian u16 at 6/8.
    *  - BMP: BITMAPINFOHEADER signed little-endian i32 at 18/22
    *    (negative height = top-down row order → abs).
    * Returns (0, 0) for non-image or truncated payloads.
    */
  private[graft] def headerDims(b: Array[Byte], fmt: String): (Int, Int) = {
    @inline def u(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Int = (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def be16(i: Int): Int = (u(i) << 8) | u(i + 1)
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def le32(i: Int): Int = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
    fmt match {
      case "png" if b.length >= 24 => (be32(16), be32(20))
      case "gif" if b.length >= 10 => (le16(6), le16(8))
      case "bmp" if b.length >= 26 => (le32(18), math.abs(le32(22)))
      case "jpeg" =>
        var i = 2
        var out = (0, 0)
        var done = false
        while (!done && i + 9 < b.length) {
          if (u(i) != 0xff) done = true // desynced marker stream: stop
          else {
            val m = u(i + 1)
            if (m == 0xff) i += 1 // fill bytes before a marker
            else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2 // standalone
            else {
              val len = be16(i + 2)
              if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
                out = (be16(i + 7), be16(i + 5)) // (width, height)
                done = true
              } else if (len < 2) done = true
              else i += 2 + len
            }
          }
        }
        out
      case _ => (0, 0)
    }
  }

  /** RIFF/WAVE `fmt ` + `data` chunk walk — the audio sibling of
    * [[headerDims]], again pure public byte-layout parsing (RIFF
    * chunks are `[4-byte id][u32le size][payload]`, first at offset
    * 12; the PCM `fmt ` chunk carries channels at +2, sample rate at
    * +4, bits per sample at +14). Returns
    * (sampleRate, channels, bitsPerSample, durationMs) with duration
    * derived from the `data` chunk byte length — (0,0,0,0) for
    * non-WAV or truncated payloads.
    */
  private[graft] def wavInfo(b: Array[Byte]): (Int, Int, Int, Long) = {
    val (rate, ch, bits, _, dataLen) = wavParse(b)
    val bytesPerSec = rate.toLong * ch * bits / 8
    val ms = if (bytesPerSec > 0) dataLen * 1000L / bytesPerSec else 0L
    (rate, ch, bits, ms)
  }

  /** Full chunk-walk result: (rate, channels, bitsPerSample, dataOff,
    * dataLen). The walk advances in Long arithmetic and stops (keeping
    * whatever it has already read) the moment a chunk size would move
    * the cursor backwards, nowhere, or past the buffer — a crafted
    * size like 0xFFFFFFF8 must not truncate to a 0/negative Int
    * advance and hang the executor task. `dataLen` is the declared
    * chunk size (duration math wants the declared length even when the
    * payload is truncated); sample statistics clamp to the bytes
    * actually present.
    */
  private[graft] def wavParse(b: Array[Byte]): (Int, Int, Int, Long, Long) = {
    @inline def u(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    def le32(i: Int): Long =
      (u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3).toLong << 24)) & 0xffffffffL
    if (sniffFormat(b) != "wav") return (0, 0, 0, 0L, 0L)
    var i = 12
    var rate = 0; var ch = 0; var bits = 0; var dataOff = 0L; var dataLen = 0L
    var walking = true
    while (walking && i + 8 <= b.length) {
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = le32(i + 4)
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        ch = le16(i + 8 + 2)
        rate = le32(i + 8 + 4).toInt
        bits = le16(i + 8 + 14)
      } else if (id == "data" && dataLen == 0L) { dataOff = i + 8L; dataLen = sz }
      // chunks are u16-aligned: odd sizes carry one pad byte
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > b.length) walking = false
      else i = next.toInt
    }
    (rate, ch, bits, dataOff, dataLen)
  }

  /** PCM sample statistics over the `data` chunk located by
    * [[wavParse]] — pure arithmetic, no codec: samples normalized to
    * [-1, 1] (8-bit unsigned offset-binary, 16-bit signed
    * little-endian), statistics over channel 0 of the interleaved
    * frames. Returns (rms, peak, zeroCrossingRate) rounded to 6
    * decimals, or None for non-WAV / non-PCM-8/16 / empty-data
    * payloads. Truncated data chunks clamp to the bytes present.
    */
  private[graft] def wavSampleStats(b: Array[Byte]): Option[(Double, Double, Double)] = {
    val (rate, ch, bits, dataOff, dataLen) = wavParse(b)
    if (rate <= 0 || ch <= 0 || (bits != 8 && bits != 16)) return None
    val bytesPerSample = bits / 8
    val frameBytes = bytesPerSample * ch
    val avail = math.min(dataLen, b.length.toLong - dataOff)
    val nFrames = (avail / frameBytes).toInt
    if (nFrames <= 0) return None
    var f = 0
    var sumSq = 0.0; var peak = 0.0; var zc = 0L; var prev = 0.0
    while (f < nFrames) {
      val off = (dataOff + f.toLong * frameBytes).toInt
      val s =
        if (bits == 16) (((b(off) & 0xff) | (b(off + 1) << 8)).toShort) / 32768.0
        else ((b(off) & 0xff) - 128) / 128.0
      sumSq += s * s
      val a = math.abs(s)
      if (a > peak) peak = a
      if (f > 0 && prev * s < 0) zc += 1
      prev = s
      f += 1
    }
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    val zcr = if (nFrames > 1) zc.toDouble / (nFrames - 1) else 0.0
    Some((r6(math.sqrt(sumSq / nFrames)), r6(peak), r6(zcr)))
  }

  /** REAL pixel statistics via the JDK's own codecs
    * (`javax.imageio.ImageIO` decodes PNG, GIF, BMP and JPEG with no
    * external library): mean luminance (ITU-R BT.601
    * 0.299R+0.587G+0.114B), per-channel means, and an edge-density
    * proxy — mean absolute horizontal+vertical luminance gradient
    * between adjacent sampled pixels, normalized to [0, 1] by 255.
    * The image is stride-sampled to a ≤256×256 grid so a
    * 100-megapixel payload costs the same as a thumbnail — the cap
    * that keeps a 100 TB media scan's per-task cost bounded by row
    * count, not pixel count. Returns None when no JDK codec accepts
    * the payload (corrupt, truncated, or an unsupported format) —
    * never throws.
    */
  private[graft] def imageStats(b: Array[Byte], fmt: String)
      : Option[(Double, Double, Double, Double, Double)] =
    decodeImage(b, fmt).flatMap(imageStatsOf)

  private def imageStatsOf(img: java.awt.image.BufferedImage)
      : Option[(Double, Double, Double, Double, Double)] = {
    try {
      val w = img.getWidth; val h = img.getHeight
      val sx = math.max(1, (w + 255) / 256); val sy = math.max(1, (h + 255) / 256)
      val gw = (w + sx - 1) / sx; val gh = (h + sy - 1) / sy
      val luma = new Array[Double](gw * gh)
      var sumR = 0.0; var sumG = 0.0; var sumB = 0.0
      var gy = 0
      while (gy < gh) {
        var gx = 0
        while (gx < gw) {
          val rgb = img.getRGB(gx * sx, gy * sy)
          val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val bl = rgb & 0xff
          sumR += r; sumG += g; sumB += bl
          luma(gy * gw + gx) = 0.299 * r + 0.587 * g + 0.114 * bl
          gx += 1
        }
        gy += 1
      }
      val n = gw * gh
      var edgeSum = 0.0; var nPairs = 0L
      gy = 0
      while (gy < gh) {
        var gx = 0
        while (gx < gw) {
          val l = luma(gy * gw + gx)
          if (gx + 1 < gw) { edgeSum += math.abs(luma(gy * gw + gx + 1) - l); nPairs += 1 }
          if (gy + 1 < gh) { edgeSum += math.abs(luma((gy + 1) * gw + gx) - l); nPairs += 1 }
          gx += 1
        }
        gy += 1
      }
      def r4(v: Double) = math.rint(v * 1e4) / 1e4
      val edge = if (nPairs > 0) edgeSum / (255.0 * nPairs) else 0.0
      Some((r4((0.299 * sumR + 0.587 * sumG + 0.114 * sumB) / n),
        r4(sumR / n), r4(sumG / n), r4(sumB / n), r4(edge)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The 64-bit pixel dHash of a decodable image (Krawetz 2013) —
    * the standard perceptual fingerprint: the image is cell-averaged
    * into a [[PhashRows]]×[[PhashCols]] luminance grid (EVERY pixel
    * contributes to its cell — true area averaging, not the stride
    * sampling [[imageStats]] uses, because hash bits must not depend
    * on which pixels a stride happens to hit) and bit r·8+c records
    * whether cell (r,c) is brighter than its right neighbor.
    * Luminance is the exact integer sum 299R+587G+114B per cell and
    * the comparison is cross-multiplied by pixel counts — no float
    * anywhere, so the hash is bit-stable across JVMs. None when no
    * JDK codec accepts the payload, or the image is smaller than the
    * grid.
    */
  private[graft] def pixelDHash(b: Array[Byte], fmt: String): Option[Long] =
    decodeImage(b, fmt).flatMap(pixelDHashOf)

  /** One decode, shared by [[imageStats]] and [[pixelDHash]] — the
    * decode is the expensive step and must run once per payload.
    */
  private def decodeImage(b: Array[Byte],
                          fmt: String): Option[java.awt.image.BufferedImage] = {
    if (fmt != "png" && fmt != "gif" && fmt != "bmp" && fmt != "jpeg") return None
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
      .filter(i => i.getWidth > 0 && i.getHeight > 0)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  private def pixelDHashOf(img: java.awt.image.BufferedImage): Option[Long] = {
    try {
      if (img.getWidth < PhashCols || img.getHeight < PhashRows) return None
      val w = img.getWidth; val h = img.getHeight
      val sums = new Array[Long](PhashRows * PhashCols)
      val cnts = new Array[Long](PhashRows * PhashCols)
      var y = 0
      while (y < h) {
        val gy = (y.toLong * PhashRows / h).toInt
        var x = 0
        while (x < w) {
          val gx = (x.toLong * PhashCols / w).toInt
          val rgb = img.getRGB(x, y)
          val lum = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
            114L * (rgb & 0xff)
          sums(gy * PhashCols + gx) += lum
          cnts(gy * PhashCols + gx) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        val base = (i / 8) * PhashCols + i % 8
        if (sums(base) * cnts(base + 1) > sums(base + 1) * cnts(base))
          hash |= 1L << i
        i += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decoder front-end. Container sniffing and header dimensions are
    * REAL byte parsing ([[sniffFormat]]/[[headerDims]]); pixel
    * statistics are REAL JDK decodes ([[imageStats]]) for
    * PNG/GIF/BMP/JPEG and PCM sample arithmetic ([[wavSampleStats]])
    * for WAV — null columns when no codec accepts the payload. The
    * byte-level statistics (mean byte value, byte-histogram entropy,
    * 16-bin normalized byte histogram) are format-agnostic fallbacks
    * every payload gets, alongside the resize-to-fit-224 target
    * dimensions computed on the catalog metadata.
    */
  private[ops] def decodeFeatures(r: MediaRecord): MediaFeatures = {
    val bytes = r.payload
    val n = math.max(bytes.length, 1)
    val hist = new Array[Double](16)
    var sum = 0L
    bytes.foreach { b => val u = b & 0xff; sum += u; hist(u >> 4) += 1.0 }
    var entropy = 0.0
    var i = 0
    while (i < 16) {
      val p = hist(i) / n
      if (p > 0) entropy -= p * (math.log(p) / math.log(2))
      hist(i) = math.rint(p * 10000) / 10000  // round for reproducibility
      i += 1
    }
    val scale = 224.0 / math.max(r.width, r.height)
    val fmt = sniffFormat(bytes)
    val (dw, dh) = headerDims(bytes, fmt)
    val (rate, ch, _, ms) = wavInfo(bytes)
    val img = decodeImage(bytes, fmt) // ONE decode feeds stats + dhash
    val px = img.flatMap(imageStatsOf)
    val au = wavSampleStats(bytes)
    MediaFeatures(
      r.doc_id, r.media_type, bytes.length.toLong,
      detected_format = fmt, decoded_w = dw, decoded_h = dh,
      audio_rate = rate, audio_channels = ch, audio_ms = ms,
      mean_byte = math.rint(sum.toDouble / n * 100) / 100,
      byte_entropy = math.rint(entropy * 10000) / 10000,
      resized_w = math.max(1, math.rint(r.width * scale).toInt),
      resized_h = math.max(1, math.rint(r.height * scale).toInt),
      histogram = hist.map(p => String.format(java.util.Locale.ROOT, "%.4f", Double.box(p))).mkString(","),
      mean_luma = px.map(_._1), mean_r = px.map(_._2),
      mean_g = px.map(_._3), mean_b = px.map(_._4),
      edge_density = px.map(_._5),
      audio_rms = au.map(_._1), audio_peak = au.map(_._2),
      audio_zcr = au.map(_._3),
      pixel_dhash = img.flatMap(pixelDHashOf))
  }

  /** Decode + feature-extract over the catalog. Typed `mapPartitions`
    * consuming records in batches of 64 — the same batch shape an
    * Arrow/vectorized decode would use, so further codecs slot in
    * without re-plumbing. The payload column is projected ONLY here;
    * every other query prunes it at the scan. Rows-only driver check
    * (JDK pixel/PCM decodes have no DuckDB twin); planted-image and
    * planted-PCM exactness pinned by MultimodalSpec.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    mediaFeatures(catalog(spark, dir))

  /** DataFrame-first form over any catalog-shaped frame (doc_id,
    * media_type, payload, width, height, n_frames).
    */
  def mediaFeatures(cat: DataFrame): DataFrame = {
    val spark = cat.sparkSession
    import spark.implicits._
    cat
      .select(col("doc_id"), col("media_type"), col("payload"),
        col("width"), col("height"), col("n_frames"))
      .as[MediaRecord]
      .mapPartitions { it =>
        // batched like an Arrow-fed decoder: amortizes codec init per batch
        it.grouped(64).flatMap(_.map(decodeFeatures))
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** Frame sampling for video rows: up to 4 evenly-spaced frames per
    * video, each identified by (offset, length) into the payload and
    * fingerprinted with md5. explode keeps this fully distributed (one
    * output row per frame, no driver loop). Frame slices are taken on
    * the text column (DuckDB 1.0 lacks blob substring) — same bytes,
    * so the md5 oracle is exact.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    frameSample(catalog(spark, dir))

  /** DataFrame-first form over any catalog-shaped frame with text +
    * n_chars columns.
    */
  def frameSample(cat: DataFrame): DataFrame =
    cat
      .filter(col("media_type") === "video")
      .withColumn("k", least(col("n_frames"), lit(4)))
      .withColumn("frame_idx", explode(expr("sequence(0, k - 1)")))
      .withColumn("off", (lit(1) + col("frame_idx") * expr("n_chars div k")).cast("long"))
      .withColumn("flen", least(greatest(expr("n_chars div k"), lit(1)), lit(256)).cast("long"))
      .select(col("doc_id"), col("frame_idx"), col("off"), col("flen"),
        md5(expr("substring(text, CAST(off AS INT), CAST(flen AS INT))")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  val frameSampleSql: String =
    """WITH v AS (
      |  SELECT doc_id, text, n_chars, CAST(doc_id % 24 + 1 AS INT) AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (
      |  SELECT doc_id, text, n_chars, least(n_frames, 4) AS k,
      |    unnest(generate_series(0, least(n_frames, 4) - 1)) AS frame_idx
      |  FROM v)
      |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
      |  CAST(1 + frame_idx * (n_chars // k) AS BIGINT) AS off,
      |  CAST(least(greatest(n_chars // k, 1), 256) AS BIGINT) AS flen,
      |  md5(substring(text, CAST(1 + frame_idx * (n_chars // k) AS INT),
      |                CAST(least(greatest(n_chars // k, 1), 256) AS INT))) AS frame_md5
      |FROM f
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ── Perceptual (gradient) hashing ─────────────────────────────────

  /** Grid geometry for the 64-bit gradient hash: 8 rows × 9 columns of
    * content cells → 8 horizontal comparisons per row = 64 bits, the
    * classic dHash layout (Krawetz 2013).
    */
  private[ops] val PhashCols = 9
  private[ops] val PhashRows = 8
  /** Minimum content length for a defined hash (≥ 1 unit per cell). */
  private[ops] val PhashMinUnits: Int = PhashCols * PhashRows
  /** 16-bit LSH bands over the 64-bit hash: hamming ≤ 3 guarantees a
    * shared band (pigeonhole); the default pairing radius below leaves
    * a documented recall gap beyond that, same trade as MinHash-LSH.
    */
  private[ops] val PhashBands = 4
  private[ops] val PhashMaxBucket = 64
  private[ops] val PhashMaxHamming = 6

  /** Near-duplicate detection by GRADIENT perceptual hash over the
    * media payloads — dHash transplanted from pixels to any 1-D
    * content stream: the payload's code points are averaged into
    * [[PhashRows]]×[[PhashCols]] grid cells and bit i records whether
    * cell (r,c) out-weighs its right neighbor. Small local edits move
    * a few cell means slightly and flip at most a few bits, so
    * NEAR-duplicates land at small hamming distance — the property
    * [[Curation.docFingerprint]]'s rolling hash (exact-window match)
    * doesn't have. Pairing is banded LSH over 16-bit hash quarters
    * with the [[Dedup.lshCandidates]] bucket-cap discipline; the k
    * most-similar candidate pairs are emitted with their exact
    * `bit_count(xor)` hamming distance and an `is_near` verdict at
    * radius [[PhashMaxHamming]] (no hard cut — a clean corpus still
    * shows its top candidates rather than an empty frame).
    *
    * Determinism — everything is exact integer arithmetic: cell
    * bounds are `k·n DIV 72`, the cell comparison is cross-multiplied
    * (`sm_l·ct_r > sm_r·ct_l` — no division, no float mean), bits
    * accumulate by OR (no 2⁶³ overflow semantics to disagree on), so
    * the DuckDB twin hash-matches bit for bit. Supplementary-plane
    * code points are stripped first — Spark indexes UTF-16 units where
    * DuckDB indexes code points, and the strip (plus the cross-engine
    * `ascii`/`ord` agreement on the BMP) closes the one divergence.
    * Payloads shorter than [[PhashMinUnits]] have no defined grid and
    * are excluded (the documented contract).
    *
    * Scale posture: hashing is one row-local pass (split + fold, no
    * shuffle); pairing shuffles only (band, bucket) keys with capped
    * buckets; the hamming join touches candidate pairs, never the
    * corpus square. Output is a bounded TakeOrdered.
    */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame =
    mediaPhash(Tables.documents(spark, dir), "doc_id", "text", 50)

  /** DataFrame-first form over any (id, content) frame. */
  def mediaPhash(docs: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame = {
    val g = PhashMinUnits
    val hashed = docs
      .select(col(idCol).as("doc_id"),
        regexp_replace(col(textCol), "[\\x{10000}-\\x{10FFFF}]", "").as("t"))
      .filter(length(col("t")) >= g)
      .withColumn("cp", expr("transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT))"))
      .withColumn("n", size(col("cp")).cast("long"))
      .withColumn("cells", expr(
        s"""transform(sequence(0, ${g - 1}), k -> named_struct(
           |  'sm', aggregate(slice(cp, CAST(k * n DIV $g AS INT) + 1,
           |          CAST((k + 1) * n DIV $g AS INT) - CAST(k * n DIV $g AS INT)),
           |        CAST(0 AS BIGINT), (acc, x) -> acc + x),
           |  'ct', CAST((k + 1) * n DIV $g - k * n DIV $g AS BIGINT)))""".stripMargin))
      // NB: Spark's arr[i] is 0-based where DuckDB's is 1-based — the
      // twin SQL uses +1/+2 for the same two cells
      .withColumn("phash", expr(
        s"""aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
           |  CASE WHEN cells[CAST(i DIV 8 AS INT) * $PhashCols + CAST(pmod(i, 8) AS INT)].sm
           |            * cells[CAST(i DIV 8 AS INT) * $PhashCols + CAST(pmod(i, 8) AS INT) + 1].ct
           |          > cells[CAST(i DIV 8 AS INT) * $PhashCols + CAST(pmod(i, 8) AS INT) + 1].sm
           |            * cells[CAST(i DIV 8 AS INT) * $PhashCols + CAST(pmod(i, 8) AS INT)].ct
           |       THEN acc | shiftleft(CAST(1 AS BIGINT), i) ELSE acc END)""".stripMargin))
      .select(col("doc_id"), col("phash"))
    // ≤ k rows; the checkpoint frees the hash cache safely
    Cached.derive(hashed) {
      val buckets = hashed
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, ${PhashBands - 1}), b -> (phash >> (16 * b)) & 65535)")))
        .select(col("pos").as("bucket_id"), col("col").as("bucket_hash"),
          col("doc_id"))
      val pairs = Dedup.lshCandidates(buckets, PhashMaxBucket)
      pairs
        .join(hashed.select(col("doc_id").as("doc_a"), col("phash").as("ha")),
          Seq("doc_a"))
        .join(hashed.select(col("doc_id").as("doc_b"), col("phash").as("hb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
        // no hard radius cut on the OUTPUT: a clean corpus would then
        // return zero rows and hide that the pipeline ran at all — the
        // k most-similar candidates always show, with the radius
        // verdict as a flag
        .withColumn("is_near", col("hamming") <= PhashMaxHamming)
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(k)
    }
  }

  /** DuckDB twin of [[mediaPhash]] — identical strip, grid, cross-
    * multiplied bits (bit_or fold — a plain sum would widen 1&lt;&lt;63
    * to HUGEINT where Spark's OR wraps), banding, cap and hamming cut.
    */
  val mediaPhashSql: String = {
    val g = PhashMinUnits
    s"""WITH base AS (
       |  SELECT doc_id,
       |    regexp_replace(text, '[\\x{10000}-\\x{10FFFF}]', '', 'g') AS t
       |  FROM documents),
       |ok AS (
       |  SELECT doc_id, t, CAST(length(t) AS BIGINT) AS n
       |  FROM base WHERE length(t) >= $g),
       |cp AS (
       |  SELECT doc_id, n,
       |    list_transform(range(1, CAST(n AS INT) + 1),
       |      i -> CAST(ord(t[i]) AS BIGINT)) AS cp
       |  FROM ok),
       |cells AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $g), k -> struct_pack(
       |      sm := list_sum(cp[CAST(k * n // $g AS INT) + 1 :
       |                        CAST((k + 1) * n // $g AS INT)]),
       |      ct := (k + 1) * n // $g - k * n // $g)) AS cells
       |  FROM cp),
       |h AS (
       |  SELECT doc_id,
       |    CAST(list_aggregate(list_transform(range(0, 64), i ->
       |      CASE WHEN cells[(i // 8) * $PhashCols + (i % 8) + 1].sm
       |                * cells[(i // 8) * $PhashCols + (i % 8) + 2].ct
       |              > cells[(i // 8) * $PhashCols + (i % 8) + 2].sm
       |                * cells[(i // 8) * $PhashCols + (i % 8) + 1].ct
       |           THEN CASE WHEN i = 63
       |                     THEN CAST(-9223372036854775808 AS BIGINT)
       |                     ELSE CAST(1 AS BIGINT) << i END
       |           ELSE CAST(0 AS BIGINT) END),
       |      'bit_or') AS BIGINT) AS phash
       |  FROM cells),
       |bk AS (
       |  SELECT doc_id, b AS bucket_id, (phash >> (16 * CAST(b AS INT))) & 65535 AS bh
       |  FROM h, range(0, $PhashBands) t(b)),
       |sz AS (SELECT bucket_id, bh, count(*) AS c FROM bk GROUP BY 1, 2),
       |keep AS (SELECT bucket_id, bh FROM sz WHERE c <= $PhashMaxBucket),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN keep USING (bucket_id, bh)
       |  JOIN bk y ON x.bucket_id = y.bucket_id AND x.bh = y.bh
       |            AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(ha.phash, hb.phash)) AS INT) AS hamming,
       |  bit_count(xor(ha.phash, hb.phash)) <= $PhashMaxHamming AS is_near
       |FROM cand JOIN h ha ON cand.doc_a = ha.doc_id
       |JOIN h hb ON cand.doc_b = hb.doc_id
       |ORDER BY hamming, doc_a, doc_b
       |LIMIT 50""".stripMargin
  }
}
