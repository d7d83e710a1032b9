package graft

import graft.ops.{Multimodal, Pipeline}
import graft.parse.{FixedWidthParser, Strict}
import graft.schema.FixedSchema
import org.apache.spark.sql.functions._

/** Unit vectors for strict corrupt-record validation (F5/F8) and the
  * multimodal partition-batched feature extraction. */
class CorruptAndMultimodalSpec extends SparkSpec {

  private val schema = FixedSchema.fromJson(
    """{"type":"record","name":"r","fields":[
      |{"name":"a","type":{"type":"long","name":"a","len":4}},
      |{"name":"b","type":{"type":"string","name":"b","len":3}}
      |]}""".stripMargin) // row rune length 7

  private def parse(lines: String*): Seq[org.apache.spark.sql.Row] = {
    import spark.implicits._
    FixedWidthParser.parse(lines.toDF("value"), schema,
      corruptCol = Some("_corrupt_record")).collect().toSeq
  }

  test("exact-length line parses, corrupt column null") {
    val Seq(r) = parse("  42abc")
    assert(r.getAs[Long]("a") == 42L && r.getAs[String]("b") == "abc")
    assert(r.getAs[String]("_corrupt_record") == null)
  }

  test("short line (F5) -> all-null row + raw line captured") {
    val Seq(r) = parse("  42a")
    assert(r.isNullAt(r.fieldIndex("a")) && r.isNullAt(r.fieldIndex("b")))
    assert(r.getAs[String]("_corrupt_record") == "  42a")
  }

  test("over-long line -> corrupt (would silently mis-slice otherwise)") {
    val Seq(r) = parse("  42abcXX")
    assert(r.isNullAt(r.fieldIndex("a")))
    assert(r.getAs[String]("_corrupt_record") == "  42abcXX")
  }

  test("multibyte line: rune length governs, not byte length (F4)") {
    val Seq(r) = parse("  42äöü") // 7 runes, 10 UTF-8 bytes
    assert(r.getAs[Long]("a") == 42L && r.getAs[String]("b") == "äöü")
    assert(r.getAs[String]("_corrupt_record") == null)
  }

  test("without corruptCol short lines parse best-effort (reference-shaped)") {
    import spark.implicits._
    val out = FixedWidthParser.parse(Seq("  42a").toDF("value"), schema, Strict).collect()
    assert(out.head.getAs[Long]("a") == 42L) // first field intact
    assert(out.head.getAs[String]("b") == "a") // remainder, no stale-buffer garbage
  }

  test("media stages REAL PNGs: content decodes to the tiled text plane") {
    val codec = new Multimodal.ImageCodec
    val docs = graft.ops.Docs.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Multimodal.media(spark, sf)
      .select(col("media_id"), col("content"), col("meta.mime")).collect()
    assert(rows.length == 500)
    rows.take(20).foreach { r =>
      assert(r.getString(2) == "image/png")
      val png = r.getAs[Array[Byte]](1)
      // PNG magic: the content really is a container, not raw bytes
      assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
      val d = codec.decode(png)
      assert(d.width == Multimodal.PlaneSide && d.height == Multimodal.PlaneSide && d.bands == 1)
      val expected = Multimodal.tilePlane(
        docs(r.getLong(0)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(d.gray.map(_.toByte).sameElements(expected), s"lossy round-trip for doc ${r.getLong(0)}")
    }
  }

  test("multimodal feature extraction is deterministic and reads real pixels") {
    val a = Multimodal.extractFeatures(spark, sf).collect().sortBy(_.media_id)
    val b = Multimodal.extractFeatures(spark, sf).collect().sortBy(_.media_id)
    assert(a.length == b.length && a.length == 500)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    val docs = graft.ops.Docs.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    a.take(10).foreach { x =>
      val plane = Multimodal.tilePlane(
        docs(x.media_id).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val vals = plane.map(_ & 0xff)
      // independent recomputation from the SOURCE text (never saw a PNG)
      assert(x.f_mean == vals.map(_.toLong).sum.toDouble / vals.length)
      assert(x.f_min == vals.min && x.f_max == vals.max)
      assert(x.f_dark == vals.count(_ < 64).toDouble / vals.length)
      assert(x.bands == 1 && x.width == Multimodal.PlaneSide)
    }
  }

  test("resize is real fixed-point bilinear over decoded pixels") {
    val a = Multimodal.resizeMedia(spark, sf).collect().sortBy(_.media_id)
    val b = Multimodal.resizeMedia(spark, sf).collect().sortBy(_.media_id)
    assert(a.toSeq == b.toSeq && a.length == 500)
    val codec = new Multimodal.ImageCodec
    val docs = graft.ops.Docs.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    a.take(10).foreach { r =>
      assert(r.src_w == Multimodal.PlaneSide && r.out_w == Multimodal.ResizeTarget)
      val plane = Multimodal.tilePlane(
        docs(r.media_id).getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(_ & 0xff)
      val expect = codec.bilinear(plane, Multimodal.PlaneSide, Multimodal.PlaneSide,
        Multimodal.ResizeTarget, Multimodal.ResizeTarget)
        .map(v => f"$v%02x").mkString
      assert(r.out_hex == expect)
    }
  }

  test("ImageCodec round-trips arbitrary planes losslessly through PNG") {
    val codec = new Multimodal.ImageCodec
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val w = 1 + rnd.nextInt(80); val h = 1 + rnd.nextInt(80)
      val plane = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val d = codec.decode(codec.encodePng(plane, w, h))
      assert(d.width == w && d.height == h && d.bands == 1)
      assert(d.gray.map(_.toByte).sameElements(plane))
    }
  }

  test("ImageCodec handles gray+alpha and 16-bit depth (generality, not just fixtures)") {
    val codec = new Multimodal.ImageCodec
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out)); out.toByteArray
    }
    // 2-band gray+alpha: band 0 must come through verbatim (no AIOOBE)
    val cm = new java.awt.image.ComponentColorModel(
      java.awt.color.ColorSpace.getInstance(java.awt.color.ColorSpace.CS_GRAY),
      true, false, java.awt.Transparency.TRANSLUCENT,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val ga = new java.awt.image.BufferedImage(
      cm, cm.createCompatibleWritableRaster(4, 3), false, null)
    for (y <- 0 until 3; x <- 0 until 4)
      ga.getRaster.setPixel(x, y, Array(y * 40 + x, 200))
    val dGa = codec.decode(png(ga))
    assert(dGa.bands == 2 && dGa.width == 4 && dGa.height == 3)
    for (y <- 0 until 3; x <- 0 until 4)
      assert(dGa.gray(y * 4 + x) == y * 40 + x)
    // 16-bit grayscale: samples normalize to 8-bit (>> 8), keeping the
    // 256-value feature vocabulary and 2-hex-chars-per-pixel contracts
    val us = new java.awt.image.BufferedImage(
      4, 3, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 3; x <- 0 until 4)
      us.getRaster.setPixel(x, y, Array((y * 4 + x) * 5000))
    val d16 = codec.decode(png(us))
    assert(d16.bands == 1)
    for (y <- 0 until 3; x <- 0 until 4)
      assert(d16.gray(y * 4 + x) == ((y * 4 + x) * 5000) >> 8)
    assert(d16.gray.forall(v => v >= 0 && v <= 255))
  }

  test("golden: checked-in real-world fixtures decode to analytic pixel values") {
    val codec = new Multimodal.ImageCodec
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/graft/$name")
      assert(in != null, s"missing checked-in fixture $name")
      try in.readAllBytes() finally in.close()
    }
    import MakeImageFixtures.{W, H, rgb}
    def luma(x: Int, y: Int): Int = {
      val (r, g, b) = rgb(x, y); (299 * r + 587 * g + 114 * b) / 1000
    }
    val png = codec.decode(fixture("gradient.png"))
    assert(png.width == W && png.height == H && png.bands == 3)
    for (y <- 0 until H; x <- 0 until W)
      assert(png.gray(y * W + x) == luma(x, y), s"png pixel ($x,$y)")
    // JPEG is lossy: dims and band count exact, pixels near the analytic
    // values (this smooth gradient compresses near-losslessly)
    val jpg = codec.decode(fixture("gradient.jpg"))
    assert(jpg.width == W && jpg.height == H && jpg.bands == 3)
    val meanAbsErr = (0 until W * H).map(i =>
      math.abs(jpg.gray(i) - luma(i % W, i / W))).sum.toDouble / (W * H)
    assert(meanAbsErr < 4.0, s"jpeg decode drifted: meanAbsErr=$meanAbsErr")
  }

  test("multimodal frame sampling: every SampleEvery-th frame, byte-true slices") {
    val rows = Multimodal.multimodalFrameSample(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Int]("frame_idx") % Multimodal.SampleEvery == 0))
    assert(rows.forall(r => r.getAs[Long]("frame_len") >= 1 &&
      r.getAs[Long]("frame_len") <= Multimodal.FrameBytes))
    // frame 0 of a media equals the md5 of its first FrameBytes bytes
    val m = Multimodal.rawMedia(spark, sf)
      .select(col("media_id"), md5(expr(s"substring(content, 1, ${Multimodal.FrameBytes})")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.filter(_.getAs[Int]("frame_idx") == 0).foreach { r =>
      assert(r.getAs[String]("frame_md5") == m(r.getAs[Long]("media_id")))
    }
  }

  test("alltypes roundtrip covers every reference type lane") {
    val out = ops.AllTypes.alltypesRoundtrip(spark, sf)
    val types = out.schema.fields.map(f => f.dataType.typeName).toSet
    assert(Set("boolean", "integer", "long", "float", "double", "string",
      "date").subsetOf(types))
    assert(out.count() == Pipeline.lineitem(spark, sf).count())
  }
}
