package graft

/** One-shot generator for the checked-in image fixtures the multimodal
  * golden spec decodes (`src/test/resources/graft/gradient.{png,jpg}`).
  *
  * The image is an analytic 32x24 RGB gradient — r = x*8, g = y*10,
  * b = (x+y)*4 — so the spec can verify the REAL decode against the
  * closed-form pixel values rather than against recorded magic numbers
  * (PNG exactly; JPEG within a lossy tolerance). Rerunnable provenance
  * for the committed bytes (`sbt "Test/runMain graft.MakeImageFixtures"`);
  * not engine surface. */
object MakeImageFixtures {
  val W = 32
  val H = 24

  def rgb(x: Int, y: Int): (Int, Int, Int) = (x * 8, y * 10, (x + y) * 4)

  def main(args: Array[String]): Unit = {
    val img = new java.awt.image.BufferedImage(
      W, H, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until H; x <- 0 until W) {
      val (r, g, b) = rgb(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val dir = new java.io.File("src/test/resources/graft")
    dir.mkdirs()
    for (fmt <- Seq("png", "jpg")) {
      val f = new java.io.File(dir, s"gradient.$fmt")
      if (!javax.imageio.ImageIO.write(img, fmt, f))
        throw new IllegalStateException(s"no $fmt writer")
      println(s"[fixtures] wrote ${f.getPath} (${f.length()} bytes)")
    }
  }
}
