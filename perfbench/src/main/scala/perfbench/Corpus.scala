package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** A fixed-width corpus shape: the extended-Avro schema the engine parses
  * and a single-threaded line writer that fills one row in place. The
  * writer is plain JVM code on purpose: it shares nothing with the
  * engine's renderer, so a change to that renderer cannot change the
  * benchmark's inputs. */
sealed abstract class Shape(val name: String, fields: Seq[(String, String, Int)]) {
  val schemaJson: String = {
    val fs = fields.map { case (n, t, len) =>
      val (tpe, logical) = if (t == "ts") ("long", ""","logicalType":"timestamp-micros"""") else (t, "")
      s"""{"name":"$n","type":{"type":"$tpe"$logical,"name":"$n","len":$len}}"""
    }
    s"""{"type":"record","name":"$name","fields":[${fs.mkString(",")}]}"""
  }
  val runes: Int = fields.map(_._3).sum
  /** Writes one row (no terminator) into `buf` from offset 0 and returns
    * its byte length; `buf` holds at least `runes * 2` bytes. */
  def row(rng: java.util.SplittableRandom, buf: Array[Byte]): Int
}

/** The reference corpus shape (BASELINE.md): 30 columns, 528 runes/row,
  * ASCII, so bytes per row = runes + 1. */
object Weblog extends Shape("weblog",
  Seq(("w_ts", "ts", 26), ("w_ts_end", "ts", 26)) ++
    Seq("w_req_id", "w_user_id", "w_session_id", "w_conn_id", "w_upstream_id", "w_tenant_id")
      .map((_, "long", 12)) ++
    Seq("w_status", "w_port", "w_retries", "w_shard").map((_, "int", 6)) ++
    Seq("w_bytes_in", "w_bytes_out", "w_dur_ms", "w_cpu_ms", "w_queue_ms", "w_cache_ratio",
      "w_sample_rate", "w_weight").map((_, "double", 14)) ++
    Seq(("w_method", "string", 8), ("w_proto", "string", 8)) ++
    Seq("w_host", "w_client", "w_region", "w_dc").map((_, "string", 16)) ++
    Seq(("w_path", "string", 48), ("w_referer", "string", 40), ("w_trace", "string", 36),
      ("w_agent", "string", 64))) {
  require(runes == 528, s"weblog shape drifted: $runes runes")
  private val methods = Seq("GET", "POST", "PUT", "DELETE", "HEAD", "PATCH").map(_.getBytes(UTF_8))
  private val protos = Seq("HTTP/1.0", "HTTP/1.1", "HTTP/2", "HTTP/3").map(_.getBytes(UTF_8))

  def row(rng: java.util.SplittableRandom, buf: Array[Byte]): Int = {
    import Fmt._
    var o = 0
    val ts = rng.nextLong(TsLo, TsHi)
    o = ts26(buf, o, ts)
    o = ts26(buf, o, ts + rng.nextLong(0L, 600000000L))
    for (_ <- 0 until 6) o = num(buf, o, 12, rng.nextLong(0L, 99999999999L))
    o = num(buf, o, 6, 100L + rng.nextInt(500))
    o = num(buf, o, 6, rng.nextInt(65536))
    o = num(buf, o, 6, rng.nextInt(8))
    o = num(buf, o, 6, rng.nextInt(4096))
    for (_ <- 0 until 8) o = cents(buf, o, 14, rng.nextLong(0L, 99999999999L))
    o = str(buf, o, 8, methods(rng.nextInt(methods.size)))
    o = str(buf, o, 8, protos(rng.nextInt(protos.size)))
    for (_ <- 0 until 4) o = token(buf, o, 16, 4 + rng.nextInt(13), rng)
    o = token(buf, o, 48, 8 + rng.nextInt(41), rng)
    o = token(buf, o, 40, rng.nextInt(41), rng)
    o = hex(buf, o, 36, rng)
    token(buf, o, 64, 16 + rng.nextInt(49), rng)
  }
}

/** TPC-H lineitem's shape: 11 columns, 104 runes/row. One row in 20
  * carries a 2-byte rune in a flag column, so the slicer's multibyte
  * path runs on real data. */
object Lineitem extends Shape("lineitem", Seq(
  ("l_orderkey", "long", 12), ("l_partkey", "long", 12), ("l_suppkey", "long", 12),
  ("l_linenumber", "int", 4), ("l_quantity", "double", 10), ("l_extendedprice", "double", 14),
  ("l_discount", "double", 6), ("l_tax", "double", 6), ("l_returnflag", "string", 1),
  ("l_linestatus", "string", 1), ("l_shipdate", "ts", 26))) {
  require(runes == 104, s"lineitem shape drifted: $runes runes")
  private val flags = Seq("A", "N", "R").map(_.getBytes(UTF_8))
  private val wide = "É".getBytes(UTF_8)

  def row(rng: java.util.SplittableRandom, buf: Array[Byte]): Int = {
    import Fmt._
    var o = 0
    o = num(buf, o, 12, rng.nextLong(1L, 6000000000L))
    o = num(buf, o, 12, rng.nextLong(1L, 200000000L))
    o = num(buf, o, 12, rng.nextLong(1L, 10000000L))
    o = num(buf, o, 4, 1 + rng.nextInt(7))
    o = cents(buf, o, 10, 100L * (1 + rng.nextInt(50)))
    o = cents(buf, o, 14, rng.nextLong(90000L, 10500000L))
    o = cents(buf, o, 6, rng.nextInt(11))
    o = cents(buf, o, 6, rng.nextInt(9))
    o = str(buf, o, 1, if (rng.nextInt(20) == 0) wide else flags(rng.nextInt(3)))
    o = str(buf, o, 1, flags(1 + rng.nextInt(2)))
    ts26(buf, o, rng.nextLong(TsLo, TsHi))
  }
}

/** Fixed-width field writers: numerics right-aligned and space-padded,
  * strings left-aligned, timestamps in the reference format
  * `yyyy-MM-dd-HH.mm.ss.SSSSSS`. Each returns the offset after the field. */
private object Fmt {
  val TsLo: Long = 1577836800000000L // 2020-01-01
  val TsHi: Long = 1735689600000000L // 2025-01-01
  private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789-./".getBytes(UTF_8)
  private val hexDigits = "0123456789abcdef".getBytes(UTF_8)

  def num(b: Array[Byte], o: Int, w: Int, v: Long): Int = {
    var x = v; var i = o + w - 1
    do { b(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 } while (x > 0)
    while (i >= o) { b(i) = ' '; i -= 1 }
    o + w
  }

  /** `v` hundredths as `int.frac`, right-aligned. */
  def cents(b: Array[Byte], o: Int, w: Int, v: Long): Int = {
    var i = o + w - 1
    b(i) = ('0' + v % 10).toByte; b(i - 1) = ('0' + v / 10 % 10).toByte; b(i - 2) = '.'
    num(b, o, w - 3, v / 100)
    o + w
  }

  def str(b: Array[Byte], o: Int, w: Int, s: Array[Byte]): Int = {
    System.arraycopy(s, 0, b, o, s.length)
    // a 2-byte rune fills one rune of width: pad by runes, not bytes
    val runes = new String(s, UTF_8).length
    java.util.Arrays.fill(b, o + s.length, o + s.length + (w - runes), ' '.toByte)
    o + s.length + (w - runes)
  }

  def token(b: Array[Byte], o: Int, w: Int, n: Int, rng: java.util.SplittableRandom): Int = {
    var i = 0
    while (i < n) { b(o + i) = alnum(rng.nextInt(alnum.length)); i += 1 }
    java.util.Arrays.fill(b, o + n, o + w, ' '.toByte)
    o + w
  }

  def hex(b: Array[Byte], o: Int, w: Int, rng: java.util.SplittableRandom): Int = {
    var i = 0
    while (i < w) { b(o + i) = hexDigits(rng.nextInt(16)); i += 1 }
    o + w
  }

  private def two(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = ('0' + v / 10).toByte; b(o + 1) = ('0' + v % 10).toByte
  }

  def ts26(b: Array[Byte], o: Int, micros: Long): Int = {
    val t = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)
    num(b, o, 4, t.getYear); b(o + 4) = '-'
    two(b, o + 5, t.getMonthValue); b(o + 7) = '-'
    two(b, o + 8, t.getDayOfMonth); b(o + 10) = '-'
    two(b, o + 11, t.getHour); b(o + 13) = '.'
    two(b, o + 14, t.getMinute); b(o + 16) = '.'
    two(b, o + 17, t.getSecond); b(o + 19) = '.'
    val us = t.getNano / 1000
    num(b, o + 20, 6, us)
    var i = o + 20
    while (b(i) == ' ') { b(i) = '0'; i += 1 }
    o + 26
  }
}

/** A generated corpus: a directory of `files` text files, each ending in
  * one footer line. `dataLines` excludes the footers. */
final case class Corpus(dir: String, bytes: Long, lines: Long, dataLines: Long, files: Int)

object Corpus {
  val FileCount = 8

  /** The corpus for (shape, seed, target bytes), generated on first use
    * and cached under `root` with its byte and line counts beside it.
    * Only the newest corpus of each shape and size is kept, so repeated
    * runs with fresh seeds do not fill the disk. */
  def ensure(root: File, shape: Shape, seed: Long, targetBytes: Long): Corpus = {
    val key = s"${shape.name}-s$seed-b$targetBytes"
    val dir = new File(root, key)
    val meta = new File(root, s"$key.meta")
    if (!meta.isFile) {
      Option(root.listFiles()).getOrElse(Array.empty[File]).filter { f =>
        val n = f.getName.stripSuffix(".meta")
        n.startsWith(shape.name + "-") && n.endsWith(s"-b$targetBytes")
      }.foreach(Harness.deleteTree)
      val (bytes, lines) = generate(dir, shape, seed, targetBytes)
      val tmp = new File(root, s"$key.meta.tmp")
      Files.write(tmp.toPath, s"$bytes $lines".getBytes(UTF_8))
      Files.move(tmp.toPath, meta.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    val Array(bytes, lines) = new String(Files.readAllBytes(meta.toPath), UTF_8).trim.split(" ").map(_.toLong)
    Corpus(dir.getPath, bytes, lines, lines - FileCount, FileCount)
  }

  /** Writes the corpus and returns its (bytes, lines), footers included. */
  private def generate(dir: File, shape: Shape, seed: Long, targetBytes: Long): (Long, Long) = {
    Harness.deleteTree(dir)
    dir.mkdirs()
    val rng = new java.util.SplittableRandom(seed * 1000003L + shape.name.hashCode)
    val buf = new Array[Byte](shape.runes * 2 + 1)
    val perFile = targetBytes / FileCount
    var bytes = 0L; var lines = 0L
    for (f <- 0 until FileCount) {
      val fos = new FileOutputStream(new File(dir, f"part-$f%03d.txt"))
      val out = new BufferedOutputStream(fos, 1 << 20)
      try {
        var written = 0L; var rows = 0L
        while (written < perFile) {
          val n = shape.row(rng, buf)
          buf(n) = '\n'
          out.write(buf, 0, n + 1)
          written += n + 1; rows += 1
        }
        val footer = s"************ TRAILER rows=$rows\n".getBytes(UTF_8)
        out.write(footer)
        out.flush()
        bytes += written + footer.length; lines += rows + 1
        // on disk before any timing starts: write-back must not run inside it
        fos.getFD.sync()
      } finally out.close()
    }
    (bytes, lines)
  }
}
