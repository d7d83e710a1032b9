package graft

import graft.parse.{Compat, FixedWidthParser, ParseMode, Strict}
import graft.schema.{FixedField, FixedSchema}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declarative per-field parse — `substring` → `trim` →
  * `try_cast` / `parse_ref_timestamp` / the Go strconv surface — kept
  * test-side as the oracle for the parse kernel
  * ([[graft.functions.FixedSlice]]), the way `renderValueDeclarative`
  * serves the single-pass renderer. It re-walks the line once per
  * column; the kernel walks it once per row. */
object ParseOracle {

  /** Go `strconv.ParseInt` base-10 surface: optional sign + digits. */
  private val GoIntRe = "^[+-]?[0-9]+$"
  /** Go `strconv.ParseFloat` surface (decimal + exponent forms). */
  private val GoFloatRe = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  private def strictExpr(raw: Column, f: FixedField): Column = f.parseType match {
    case "boolean" =>
      val c = upper(substring(raw, 1, 1))
      when(c.isin("J", "Y"), lit(true))
        .when(c.isin("N"), lit(false))
        .otherwise(lit(null).cast(BooleanType))
    case "bytes" | "Bytes" => raw.cast(BinaryType)
    case "int"             => raw.try_cast(IntegerType)
    case "long"            => raw.try_cast(LongType)
    case "float"           => raw.try_cast(FloatType)
    case "double"          => raw.try_cast(DoubleType)
    case "string"          => raw
    case "date"            => to_date(graft.functions.RefTimestamp.parse_ref_timestamp(raw))
    case _                 => graft.functions.RefTimestamp.parse_ref_timestamp(raw)
  }

  private def compatExpr(raw: Column, f: FixedField): Column = f.parseType match {
    case "boolean"         => upper(substring(raw, 1, 1)).isin("J", "Y")
    case "bytes" | "Bytes" => raw.cast(BinaryType)
    case "int"    => coalesce(when(raw.rlike(GoIntRe), raw.try_cast(IntegerType)), lit(0))
    case "long"   => coalesce(when(raw.rlike(GoIntRe), raw.try_cast(LongType)), lit(0L))
    case "float"  => coalesce(when(raw.rlike(GoFloatRe), raw.try_cast(FloatType)), lit(0.0f))
    case "double" => coalesce(when(raw.rlike(GoFloatRe), raw.try_cast(DoubleType)), lit(0.0d))
    case "string" => raw
    case _ => coalesce(graft.functions.RefTimestamp.parse_ref_seconds(raw), lit(0L))
  }

  def parse(lines: DataFrame, schema: FixedSchema, mode: ParseMode,
      corruptCol: Option[String]): DataFrame = {
    val line = col("value")
    val wellFormed = length(line) === schema.rowRuneLen
    val cols = schema.fields.zip(schema.runeStarts).map { case (f, start) =>
      // Spark substring positions are 1-based and codepoint-counted.
      val raw = substring(line, start + 1, f.runeLen)
      val typed = mode match {
        case Strict =>
          strictExpr(if (graft.functions.FixedSlice.strictTrims(f)) trim(raw) else raw, f)
        case Compat => compatExpr(raw, f)
      }
      (if (corruptCol.isDefined) when(wellFormed, typed) else typed).as(f.name)
    }
    lines.select(cols ++ corruptCol.map(name =>
      when(!wellFormed, line).otherwise(lit(null).cast(StringType)).as(name)): _*)
  }
}

/** Parse kernel ≡ declarative oracle over random schemas and
  * adversarial field texts, in Strict and Compat mode, with and without
  * the corrupt-record guard, under codegen and interpreted evaluation:
  * identical output schema (nullability included) and identical values
  * row for row (doubles compared by raw bits, so -0.0 and NaN count). */
class ParseKernelSpec extends SparkSpec {

  private val types = Seq("boolean", "bytes", "int", "long", "float", "double", "string",
    "date", "timestamp-millis", "timestamp-micros")

  private val intTexts = Seq("0", "-1", "+42", "007", "-0", "2147483647", "2147483648",
    "-2147483648", "-2147483649", "123456789012345678", "9223372036854775807",
    "9223372036854775808", "-9223372036854775808", "-9223372036854775809",
    "12345678901234567890", "-123456789012345678901", "12.5", "12.", "1e3", "\t7", "7\t",
    "x1", "", "+", "-", "1 2", "١٢", "１２", "4é", "0x1F", "  12.5", "   12.")
  private val floatTexts = Seq("1.5", "-0.0", "0.1", ".5", "5.", "+.5", "1e-300",
    "-2.5E10", "3.4e38", "1e39", "inf", "-Infinity", "NaN", "nan", "+inf", "1..2", "1d",
    "2f", "0x1p3", "9007199254740993", "1234567890.12345678901", "\t3.25", "3.25\t", "",
    "abc", "1,5", "0.00000000000000000000005", ".", "-", "e5", "1e", "٣.٥", "7é")
  private val tsTexts = Seq("2020-07-09-09.59.59.993750", "2020-07-09-09.59.59",
    "2020-07-09-09.59.59.9", "1969-12-31-23.59.59.999", "1970-01-01-00.00.00.000001",
    "2024-02-29-12.00.00.000001", "2023-02-29-12.00.00", "2020-13-01-00.00.00",
    "2020-07-09-09.59", "2020-07-09 09:59:59", "2020-07-09-09.59.59.1234567",
    "2020-07-09-09.59.59.", "", "2020-07-09-09.5é.59", "0001-01-01-00.00.00")
  private val boolTexts = Seq("J", "j", "Y", "y", "N", "n", "Q", "", "é", "Ja", "no", "\tY")
  private val strChars = "abcXYZ019 \t.-é✓界λ€".toSeq

  private def field(rnd: scala.util.Random, i: Int): FixedField = {
    val t = types(rnd.nextInt(types.size))
    val w = t match {
      case "boolean"                 => 1 + rnd.nextInt(3)
      case "bytes" | "string"        => 1 + rnd.nextInt(8)
      case "int"                     => 3 + rnd.nextInt(10)
      case "long"                    => 5 + rnd.nextInt(18)
      case "float" | "double"        => 3 + rnd.nextInt(22)
      case _                         => 19 + rnd.nextInt(9)
    }
    val (avro, logical) = t match {
      case "date"                                  => ("int", Some(t))
      case "timestamp-millis" | "timestamp-micros" => ("long", Some(t))
      case other                                   => (other, None)
    }
    FixedField(s"f$i", w, avro, logical)
  }

  private def text(rnd: scala.util.Random, f: FixedField): String = {
    def pick(s: Seq[String]) = s(rnd.nextInt(s.size))
    val raw = f.parseType match {
      case "boolean"          => pick(boolTexts)
      case "int" | "long"     => pick(intTexts)
      case "float" | "double" => pick(floatTexts ++ intTexts.take(6))
      case "bytes" | "string" =>
        Seq.fill(rnd.nextInt(f.runeLen + 1))(strChars(rnd.nextInt(strChars.size))).mkString
      case _ => pick(tsTexts)
    }
    val cut = raw.codePoints().toArray.take(f.runeLen)
    val body = new String(cut, 0, cut.length)
    val padN = f.runeLen - cut.length
    if (rnd.nextBoolean()) " " * padN + body else body + " " * padN
  }

  private def line(rnd: scala.util.Random, s: FixedSchema): String = {
    val full = s.fields.map(text(rnd, _)).mkString
    rnd.nextInt(20) match {
      case 0 => null
      case 1 => ""
      case 2 | 3 =>
        val cps = full.codePoints().toArray
        val k = rnd.nextInt(cps.length + 1)
        new String(cps, 0, k) // short line
      case 4 => full + "é"     // one rune too long
      case 5 => full + "xyz"
      case _ => full
    }
  }

  private def norm(r: Row): Seq[String] = r.toSeq.map {
    case null            => "null"
    case b: Array[Byte]  => b.map("%02x".format(_)).mkString("0x", "", "")
    case d: Double       => "d" + java.lang.Double.doubleToRawLongBits(d)
    case f: Float        => "f" + java.lang.Float.floatToRawIntBits(f)
    case other           => other.toString
  }

  /** The kernel's rows through the expressions' interpreted `eval`
    * path: the optimized parse projection, bound to its input and run by
    * an `InterpretedProjection` over the raw lines. */
  private def interpretedRows(kernel: DataFrame, texts: Seq[String]): Seq[Row] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, InterpretedProjection}
    val plan = kernel.queryExecution.optimizedPlan
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
    val proj = new InterpretedProjection(
      BindReferences.bindReferences(plan.projectList, plan.child.output))
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(kernel.schema)
    texts.map(t => toRow(proj(InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)))).asInstanceOf[Row])
  }

  private def check(seed: Int, interpreted: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val schema = FixedSchema(s"k$seed", (0 until 1 + rnd.nextInt(8)).map(field(rnd, _)))
    val texts = Seq.fill(60)(line(rnd, schema))
    import spark.implicits._
    val raw = texts.toDF("value").coalesce(1)
    // odd seeds: a NON-nullable line column, which changes the
    // nullability both formulations must derive
    val lines = if (seed % 2 == 1) raw.select(coalesce(col("value"), lit("")).as("value")) else raw
    for (mode <- Seq(Strict, Compat); corrupt <- Seq(None, Some("_corrupt"))) {
      val kernel = FixedWidthParser.parse(lines, schema, mode, dropFooter = false,
        corruptCol = corrupt)
      val oracle = ParseOracle.parse(lines, schema, mode, corrupt)
      val what = s"seed $seed $mode corrupt=${corrupt.isDefined} interpreted=$interpreted " +
        s"schema=${schema.fields.map(f => s"${f.parseType}:${f.runeLen}").mkString(",")}"
      assert(kernel.schema == oracle.schema, s"$what: schema\n${kernel.schema}\n${oracle.schema}")
      val inputs = if (seed % 2 == 1) texts.map(t => if (t == null) "" else t) else texts
      val a = (if (interpreted) interpretedRows(kernel, inputs) else kernel.collect().toSeq).map(norm)
      val b = oracle.collect().map(norm)
      assert(a.length == texts.size && b.length == texts.size, what)
      a.zip(b).zip(texts).foreach { case ((x, y), t) =>
        assert(x == y, s"$what: line '${t}'\nkernel $x\noracle $y")
      }
    }
  }

  test("kernel ≡ declarative oracle on random schemas and adversarial texts (codegen)") {
    (1 to 24).foreach(check(_, interpreted = false))
  }

  test("kernel ≡ declarative oracle under interpreted evaluation") {
    (101 to 112).foreach(check(_, interpreted = true))
  }

  test("multibyte runes before and inside numeric fields, blank fields") {
    val s = FixedSchema("m", Seq(FixedField("s", 3, "string", None),
      FixedField("i", 6, "int", None), FixedField("d", 8, "double", None),
      FixedField("b", 2, "boolean", None), FixedField("t", 26, "long", Some("timestamp-micros"))))
    val ts = "2020-07-09-09.59.59.993750"
    val texts = Seq(
      "éé✓" + "    42" + "   1.5e2" + " Y" + ts,
      "界  " + "  4é2 " + " ١.٥    " + "é " + ts,
      "   " + "      " + "        " + "  " + " " * 26,
      "λλλ" + "-00017" + "-0.00000" + "n " + ts.dropRight(1) + "é")
    import spark.implicits._
    val lines = texts.toDF("value").coalesce(1)
    for (mode <- Seq(Strict, Compat); corrupt <- Seq(None, Some("_c"))) {
      val a = FixedWidthParser.parse(lines, s, mode, dropFooter = false, corruptCol = corrupt)
      val b = ParseOracle.parse(lines, s, mode, corrupt)
      assert(a.schema == b.schema)
      assert(a.collect().map(norm).toSeq == b.collect().map(norm).toSeq, s"$mode $corrupt")
    }
  }
}
