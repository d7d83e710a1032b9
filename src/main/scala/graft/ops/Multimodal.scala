package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multimodal-column operators: media as opaque `binary` content plus a
  * typed metadata struct, decoded by a REAL image codec
  * ([[Multimodal.ImageCodec]], `javax.imageio` — JDK-only, no external
  * libs) running as a partition-batched pipeline.
  *
  * Two lanes, mirroring how media actually arrives:
  *
  *  - '''image lane''' ([[media]]): every document staged as a real
  *    PNG — its text bytes tiled into a fixed 64x64 grayscale plane and
  *    encoded through `ImageIO`. Downstream operators must genuinely
  *    DECODE the container to see pixels ([[multimodalMeta]] decoded
  *    dims + plane digest, [[multimodalFeatures]] pixel statistics,
  *    [[multimodalResize]] fixed-point bilinear resample). Because PNG
  *    is lossless, every decoded-pixel output is still exactly
  *    derivable from the source text — which is what keeps the DuckDB
  *    oracle able to check a real codec's output value-for-value: the
  *    oracle rebuilds the plane from text and mirrors the integer
  *    arithmetic; the engine must round-trip bytes through a real
  *    encoder+decoder to produce the same numbers. No oracle output
  *    depends on the PNG container bytes themselves (compression level
  *    is encoder-private), only on decoded pixels.
  *  - '''raw-frame lane''' ([[rawMedia]]): content as an uncompressed
  *    fixed-frame wire format (the shape raw video/audio lands in —
  *    frames of [[FrameBytes]] bytes), feeding the declarative
  *    [[multimodalFrameSample]] decimation. No codec: frame slicing on
  *    a raw wire format is byte arithmetic, and keeping it declarative
  *    keeps it in whole-stage codegen.
  *
  * The image lane is [[Docs.fanned]]: with a REAL encode+decode the
  * per-row work dominates the one-time exchange of the content bytes
  * (the r13 stub measured the opposite — +58% fanned — because a stub
  * costs nothing; the trade inverts with a codec, re-priced r14). At
  * 100 TB the fan-out is a no-op (the scan already has enough splits)
  * and the decode runs partition-parallel with one codec instance per
  * partition — the `mapInPandas` batch shape in Scala form.
  */
object Multimodal {

  /** Fixed image-lane plane side: text bytes tile into a 64x64
    * grayscale plane (uniform image geometry keeps the resize oracle's
    * per-pixel coefficients row-invariant). */
  val PlaneSide = 64
  private val PlanePx = PlaneSide * PlaneSide

  /** Output side of [[multimodalResize]]. */
  val ResizeTarget = 16

  /** Raw-frame lane frame geometry (see [[multimodalFrameSample]]). */
  val FrameBytes = 64
  val SampleEvery = 4

  /** Tile `bytes` cyclically into the fixed plane; empty input yields
    * an all-zero plane (absent in the fixtures — documents are 48+
    * chars — but total functions beat partial ones). */
  private[graft] def tilePlane(bytes: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](PlanePx)
    if (bytes.length > 0) {
      var i = 0
      while (i < out.length) { out(i) = bytes(i % bytes.length); i += 1 }
    }
    out
  }

  /** Real image codec over `javax.imageio`: PNG/JPEG (+ every other
    * ImageIO service-loaded format) decode to a grayscale int plane,
    * grayscale PNG encode, and a fixed-point bilinear resample. One
    * instance per partition — `ImageIO.read` allocates its reader per
    * call and is thread-safe across partitions. */
  final class ImageCodec extends Serializable {
    // ImageIO's default scratch is a temp FILE per encode/decode; in a
    // tight per-row loop that is an fd+disk churn — keep it on-heap.
    javax.imageio.ImageIO.setUseCache(false)

    def encodePng(plane: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(plane.length == w * h, s"plane ${plane.length} != ${w}x$h")
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, plane)
      val out = new java.io.ByteArrayOutputStream(w * h / 2)
      if (!javax.imageio.ImageIO.write(img, "png", out))
        throw new IllegalStateException("no PNG writer registered")
      out.toByteArray
    }

    /** Decoded image: dims, band count, and the 8-bit grayscale plane.
      * Gray and gray+alpha images use band 0 verbatim; 3+-band images
      * reduce by the integer ITU-R 601 luma `(299R+587G+114B)/1000` —
      * deterministic, no float. Deeper-than-8-bit samples (16-bit
      * grayscale PNGs decode fine through ImageIO) are right-shifted
      * to 8 bits, so every downstream contract (the 256-value feature
      * vocabulary, the two-hex-chars-per-pixel resize output) holds
      * for any input ImageIO can read, not just the fixtures. */
    final case class Decoded(width: Int, height: Int, bands: Int, gray: Array[Int])

    def decode(bytes: Array[Byte]): Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null)
        throw new IllegalArgumentException(
          s"undecodable image (${bytes.length} bytes; no ImageIO reader claimed it)")
      val w = img.getWidth; val h = img.getHeight
      val raster = img.getRaster
      val bands = raster.getNumBands
      val shift = math.max(0, raster.getSampleModel.getSampleSize(0) - 8)
      val gray = new Array[Int](w * h)
      if (bands <= 2) { // gray, or gray+alpha: band 0 is the gray channel
        raster.getSamples(0, 0, w, h, 0, gray)
        if (shift > 0) {
          var i = 0
          while (i < gray.length) { gray(i) = gray(i) >> shift; i += 1 }
        }
      } else {
        val px = new Array[Int](bands)
        var i = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.getPixel(x, y, px)
            gray(i) = (299 * (px(0) >> shift) + 587 * (px(1) >> shift) +
              114 * (px(2) >> shift)) / 1000
            i += 1; x += 1
          }
          y += 1
        }
      }
      Decoded(w, h, bands, gray)
    }

    /** Fixed-point bilinear resample (align-corners, 8-bit fractional
      * weights): every coordinate and weight is INTEGER arithmetic, so
      * the result is bit-exact reproducible anywhere — including in the
      * DuckDB oracle, which mirrors this loop in SQL. The +32768 is the
      * half-ulp round of the >>16 weight normalization. */
    def bilinear(gray: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Int] = {
      val out = new Array[Int](tw * th)
      var y = 0
      while (y < th) {
        val syf = if (th > 1) y * (h - 1) * 256 / (th - 1) else 0
        val y0 = syf >> 8; val fy = syf & 255
        val y1 = math.min(y0 + 1, h - 1)
        var x = 0
        while (x < tw) {
          val sxf = if (tw > 1) x * (w - 1) * 256 / (tw - 1) else 0
          val x0 = sxf >> 8; val fx = sxf & 255
          val x1 = math.min(x0 + 1, w - 1)
          val v = (gray(y0 * w + x0) * (256 - fx) * (256 - fy) +
            gray(y0 * w + x1) * fx * (256 - fy) +
            gray(y1 * w + x0) * (256 - fx) * fy +
            gray(y1 * w + x1) * fx * fy + 32768) >> 16
          out(y * tw + x) = v
          x += 1
        }
        y += 1
      }
      out
    }
  }

  // ------------------------------------------------------------ image lane

  /** Stage documents as REAL PNG media rows: content is an
    * ImageIO-encoded grayscale PNG of the text's tiled 64x64 plane.
    * [[Docs.fanned]]: the per-row PNG encode is real work that must
    * run partition-parallel, not on the single split a sub-128 MB
    * parquet scans as (see the class doc for the stub-era trade). */
  def media(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Docs.fanned(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val codec = new ImageCodec
        rows.map { case (id, text, source) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          // The DuckDB oracles for this family rebuild the plane from
          // text CHARS (md5(plane-string), unicode(substr(...))), which
          // equals these UTF-8 BYTES only while the fixture is pure
          // ASCII. Enforce that coupling here rather than assume it: a
          // future multibyte document fails loudly instead of silently
          // diverging engine from oracle. (byte-count == char-count is
          // exactly the ASCII test for UTF-8.)
          if (bytes.length != text.length)
            throw new IllegalArgumentException(
              s"doc $id contains non-ASCII text (${bytes.length} UTF-8 bytes, " +
                s"${text.length} chars): the multimodal oracles equate chars " +
                "with plane bytes and would silently diverge — make the " +
                "oracle byte-based before staging multibyte fixtures")
          (id, codec.encodePng(tilePlane(bytes), PlaneSide, PlaneSide),
            "image/png", bytes.length.toLong, source)
        }
      }
      .toDF("media_id", "content", "mime", "src_bytes", "origin")
      .select(col("media_id"), col("content"),
        struct(col("mime"), col("src_bytes"), col("origin")).as("meta"))
  }

  /** Decoded-metadata projection: dims and band count come from the
    * DECODER (not the staging metadata — the point is to prove the
    * container is really read), plus an md5 over the decoded plane
    * bytes. PNG is lossless, so the digest equals the oracle's digest
    * of the text-rebuilt plane — a value-level proof of a true
    * encode→decode round-trip on every row. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    media(spark, dir)
      .select(col("media_id"), col("content"), col("meta.mime").as("mime"),
        col("meta.src_bytes").as("src_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { rows =>
        val codec = new ImageCodec
        val md5 = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, png, mime, srcBytes) =>
          val d = codec.decode(png)
          val plane = new Array[Byte](d.gray.length)
          var i = 0
          while (i < plane.length) { plane(i) = d.gray(i).toByte; i += 1 }
          md5.reset()
          (id, mime, d.width, d.height, srcBytes,
            md5.digest(plane).map("%02x".format(_)).mkString)
        }
      }
      .toDF("media_id", "mime", "width", "height", "src_bytes", "plane_md5")
      .orderBy("media_id")
  }

  /** Oracle: rebuild the tiled plane from text (pure ASCII fixture, so
    * the plane string's UTF-8 bytes == the engine's plane bytes) and
    * digest it. Width/height are the staged constants — which the
    * ENGINE must recover from the PNG header to match. */
  val multimodalMetaOracle: String =
    s"""WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
       |p AS (SELECT media_id, n, array_to_string(list_transform(range(0, $PlanePx),
       |         i -> substr(text, CAST(i % n AS INTEGER) + 1, 1)), '') AS plane
       |      FROM m)
       |SELECT media_id, 'image/png' AS mime,
       |       CAST($PlaneSide AS INTEGER) AS width, CAST($PlaneSide AS INTEGER) AS height,
       |       CAST(n AS BIGINT) AS src_bytes, md5(plane) AS plane_md5
       |FROM p ORDER BY media_id""".stripMargin

  /** One decoded image's pixel-statistics row. All stats are derived
    * from EXACT integer accumulators (sums, counts as Long) with one
    * double division/sqrt at the end — deterministic to the bit, and
    * mirrorable in SQL. */
  final case class MediaFeatures(
      media_id: Long, mime: String, width: Int, height: Int, bands: Int,
      f_mean: Double, f_std: Double, f_min: Int, f_max: Int,
      f_dark: Double, f_bright: Double, f_grad: Double, f_vocab: Double)

  /** Partition-batched real decode + feature extraction: one codec per
    * partition, streaming iterator. (mapPartitions is justified here: a
    * codec is imperative per-item work with per-partition setup cost,
    * the documented last-resort case; everything around it stays
    * declarative.) */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    media(spark, dir)
      .select(col("media_id"), col("meta.mime").as("mime"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new ImageCodec
        rows.map { case (id, mime, bytes) =>
          val d = codec.decode(bytes)
          val g = d.gray
          val n = g.length
          var sum = 0L; var sumSq = 0L
          var mn = 255; var mx = 0
          var dark = 0L; var bright = 0L
          val seen = new Array[Boolean](256)
          var i = 0
          while (i < n) {
            val v = g(i)
            sum += v; sumSq += v.toLong * v
            if (v < mn) mn = v; if (v > mx) mx = v
            if (v < 64) dark += 1; if (v >= 192) bright += 1
            seen(v) = true
            i += 1
          }
          var vocab = 0
          i = 0
          while (i < 256) { if (seen(i)) vocab += 1; i += 1 }
          // mean horizontal gradient: |p[x+1]-p[x]| within each row
          var grad = 0L
          var y = 0
          while (y < d.height) {
            var x = 0
            val base = y * d.width
            while (x < d.width - 1) {
              grad += math.abs(g(base + x + 1) - g(base + x)); x += 1
            }
            y += 1
          }
          val nD = n.toDouble
          val mean = sum / nD
          val variance = (sumSq - sum.toDouble * sum / nD) / nD
          MediaFeatures(id, mime, d.width, d.height, d.bands,
            mean, math.sqrt(math.max(0.0, variance)), mn, mx,
            dark / nD, bright / nD,
            grad.toDouble / (d.height.toLong * (d.width - 1)).toDouble,
            vocab / 256.0)
        }
      }
  }

  /** Feature query — oracle-checked over REAL decoded pixels: every
    * figure below is a function of the decoded plane, which the
    * lossless round-trip makes text-derivable for the oracle. Doubles
    * rounded at 6 in both engines. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir).toDF()
      .select(col("media_id"), col("mime"), col("width"), col("height"), col("bands"),
        round(col("f_mean"), 6).as("f_mean"), round(col("f_std"), 6).as("f_std"),
        col("f_min"), col("f_max"),
        round(col("f_dark"), 6).as("f_dark"), round(col("f_bright"), 6).as("f_bright"),
        round(col("f_grad"), 6).as("f_grad"), round(col("f_vocab"), 6).as("f_vocab"))
      .orderBy("media_id")

  /** DuckDB mirror: plane as a list of code points (ASCII fixture ⇒
    * code point == byte == decoded gray sample), exact integer
    * accumulators, the same one-shot double math. The variance formula
    * is spelled out (not var_pop) so both sides compute the identical
    * float expression over identical exact integers. */
  val multimodalFeaturesOracle: String = {
    val grad = s"list_sum(list_transform(list_filter(range(0, ${PlanePx - 1}), " +
      s"i -> i % $PlaneSide != ${PlaneSide - 1}), i -> abs(li[i+2] - li[i+1])))"
    s"""WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
       |p AS (SELECT media_id, list_transform(range(0, $PlanePx),
       |         i -> unicode(substr(text, CAST(i % n AS INTEGER) + 1, 1))) AS li
       |      FROM m),
       |s AS (SELECT media_id, li,
       |         CAST(list_sum(li) AS BIGINT) AS s1,
       |         CAST(list_sum(list_transform(li, v -> v * v)) AS BIGINT) AS s2,
       |         CAST(len(list_filter(li, v -> v < 64)) AS BIGINT) AS n_dark,
       |         CAST(len(list_filter(li, v -> v >= 192)) AS BIGINT) AS n_bright,
       |         CAST($grad AS BIGINT) AS g1,
       |         CAST(len(list_distinct(li)) AS BIGINT) AS n_vocab
       |      FROM p)
       |SELECT media_id, 'image/png' AS mime,
       |       CAST($PlaneSide AS INTEGER) AS width, CAST($PlaneSide AS INTEGER) AS height,
       |       CAST(1 AS INTEGER) AS bands,
       |       round(CAST(s1 AS DOUBLE) / $PlanePx, 6) AS f_mean,
       |       round(sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / $PlanePx) / $PlanePx, 0.0)), 6) AS f_std,
       |       CAST(list_min(li) AS INTEGER) AS f_min, CAST(list_max(li) AS INTEGER) AS f_max,
       |       round(CAST(n_dark AS DOUBLE) / $PlanePx, 6) AS f_dark,
       |       round(CAST(n_bright AS DOUBLE) / $PlanePx, 6) AS f_bright,
       |       round(CAST(g1 AS DOUBLE) / ${PlaneSide * (PlaneSide - 1)}, 6) AS f_grad,
       |       round(CAST(n_vocab AS DOUBLE) / 256, 6) AS f_vocab
       |FROM s ORDER BY media_id""".stripMargin
  }

  final case class ResizedMedia(media_id: Long, src_w: Int, src_h: Int,
      out_w: Int, out_h: Int, out_hex: String)

  /** Partition-batched REAL resize: decode the PNG, fixed-point
    * bilinear resample the decoded plane to ResizeTarget², emit the
    * resampled bytes as hex (hex instead of a digest so the oracle can
    * compare the actual pixel values it computes — and hex stays ASCII,
    * dodging any digest-over-non-UTF8 ambiguity). */
  def resizeMedia(spark: SparkSession, dir: String): Dataset[ResizedMedia] = {
    import spark.implicits._
    media(spark, dir)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val codec = new ImageCodec
        val sb = new java.lang.StringBuilder(ResizeTarget * ResizeTarget * 2)
        rows.map { case (id, png) =>
          val d = codec.decode(png)
          val out = codec.bilinear(d.gray, d.width, d.height, ResizeTarget, ResizeTarget)
          sb.setLength(0)
          out.foreach(v => sb.append(f"$v%02x"))
          ResizedMedia(id, d.width, d.height, ResizeTarget, ResizeTarget, sb.toString)
        }
      }
  }

  def multimodalResize(spark: SparkSession, dir: String): DataFrame =
    resizeMedia(spark, dir).toDF().orderBy("media_id")

  /** DuckDB mirror of the fixed-point bilinear loop: identical integer
    * coordinates and 8-bit weights, identical half-ulp rounding — pixel
    * values compared in full via the hex string. The per-axis source
    * coordinates/weights depend only on (S, T), so they are computed
    * HERE by the same formula the codec uses and embedded as literal
    * lists (c0 = floor coords, c1 = ceil coords, cw = fractional
    * weights); the plane list li already encodes the text tiling. */
  val multimodalResizeOracle: String = {
    val S = PlaneSide; val T = ResizeTarget
    def sfp(t: Int) = t * (S - 1) * 256 / (T - 1)
    val c0 = (0 until T).map(t => sfp(t) >> 8)
    val c1 = c0.map(v => math.min(v + 1, S - 1))
    val cw = (0 until T).map(t => sfp(t) & 255)
    def l(xs: Seq[Int]) = xs.mkString("[", ", ", "]")
    s"""WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
       |p AS (SELECT media_id, list_transform(range(0, $PlanePx),
       |         i -> unicode(substr(text, CAST(i % n AS INTEGER) + 1, 1))) AS li
       |      FROM m),
       |c AS (SELECT ${l(c0)} AS c0, ${l(c1)} AS c1, ${l(cw)} AS cw),
       |r AS (SELECT media_id, array_to_string(list_transform(range(0, ${T * T}), i -> printf('%02x',
       |        (  li[c0[i // $T + 1] * $S + c0[i % $T + 1] + 1] * (256 - cw[i % $T + 1]) * (256 - cw[i // $T + 1])
       |         + li[c0[i // $T + 1] * $S + c1[i % $T + 1] + 1] * cw[i % $T + 1] * (256 - cw[i // $T + 1])
       |         + li[c1[i // $T + 1] * $S + c0[i % $T + 1] + 1] * (256 - cw[i % $T + 1]) * cw[i // $T + 1]
       |         + li[c1[i // $T + 1] * $S + c1[i % $T + 1] + 1] * cw[i % $T + 1] * cw[i // $T + 1]
       |         + 32768) // 65536)), '') AS out_hex
       |      FROM p, c)
       |SELECT media_id, CAST($S AS INTEGER) AS src_w, CAST($S AS INTEGER) AS src_h,
       |       CAST($T AS INTEGER) AS out_w, CAST($T AS INTEGER) AS out_h, out_hex
       |FROM r ORDER BY media_id""".stripMargin
  }

  // -------------------------------------------------------- raw-frame lane

  /** Raw fixed-frame wire staging (uncompressed frames of [[FrameBytes]]
    * bytes — the raw-YUV/PCM shape): content is the text's bytes
    * verbatim. Deliberately NOT fanned: staging is a cast, the sampling
    * below is declarative codegen'd byte arithmetic — there is no
    * per-row compute to parallelize that would pay for exchanging the
    * content. */
  def rawMedia(spark: SparkSession, dir: String): DataFrame =
    Docs.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      // Same byte-vs-char oracle coupling as the image lane: the
      // engine slices UTF-8 BYTES, the DuckDB oracle slices VARCHAR
      // chars — equal only for ASCII. Fail loudly on a multibyte
      // document (media's guard, declarative form) instead of
      // silently diverging frame boundaries and hashes.
      when(octet_length(encode(col("text"), "UTF-8")) === length(col("text")),
        encode(col("text"), "UTF-8"))
        .otherwise(raise_error(concat(lit("rawMedia: doc "), col("doc_id"),
          lit(" contains non-ASCII text — the frame-sample oracle " +
            "equates chars with bytes and would silently diverge"))))
        .as("content"),
      struct(
        lit("application/octet-stream").as("mime"),
        octet_length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** Frame decimation over the raw lane: every SampleEvery-th
    * FrameBytes-sized frame — the standard sampling step before
    * feature extraction. Fully declarative (byte-true `substring`,
    * exploded frame indices): no codec involved, stays in
    * whole-stage codegen, and IS oracle-checked. */
  def multimodalFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val lastSample =
      expr(s"CAST((greatest(meta.n_bytes, 1) - 1) div $FrameBytes AS INT) div $SampleEvery")
    val frame = expr(s"substring(content, frame_idx * $FrameBytes + 1, $FrameBytes)")
    rawMedia(spark, dir)
      .select(col("media_id"), col("content"),
        posexplode(transform(sequence(lit(0), lastSample), k => (k * SampleEvery)))
          .as(Seq("pos", "frame_idx")))
      .select(col("media_id"), col("frame_idx").cast("int").as("frame_idx"),
        length(frame).cast(LongType).as("frame_len"),
        md5(frame).as("frame_md5"))
      .orderBy("media_id", "frame_idx")
  }

  /** Oracle note: the engine slices BYTES of the opaque content; the
    * fixture's documents are pure ASCII (verified), so the oracle's
    * VARCHAR substring is byte-identical. A non-ASCII corpus would need
    * a blob-capable oracle, not a different engine plan. */
  val multimodalFrameSampleOracle: String =
    s"""WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
       |f AS (SELECT media_id, text,
       |             unnest(list_transform(range(0, (greatest(n, 1) - 1) // $FrameBytes // $SampleEvery + 1),
       |                                   k -> k * $SampleEvery)) AS frame_idx
       |      FROM m)
       |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       |       CAST(length(substring(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS BIGINT) AS frame_len,
       |       md5(substring(text, frame_idx * $FrameBytes + 1, $FrameBytes)) AS frame_md5
       |FROM f ORDER BY media_id, frame_idx""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_features" -> (multimodalFeatures _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_frame_sample" -> (multimodalFrameSample _),
  )

  def oracleSql: Map[String, String] = Map(
    "multimodal_meta" -> multimodalMetaOracle,
    "multimodal_features" -> multimodalFeaturesOracle,
    "multimodal_resize" -> multimodalResizeOracle,
    "multimodal_frame_sample" -> multimodalFrameSampleOracle,
  )
}
