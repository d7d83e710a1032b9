package graft.parse

import graft.schema.FixedSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parse mode.
  *
  *  - [[Strict]]: engine default. Numerics are whitespace-trimmed before
  *    casting; a failed parse yields NULL; timestamps keep their declared
  *    precision (micros in Spark's TimestampType).
  *  - [[Compat]]: bug-parity with the reference (SURVEY.md §2.2–2.3):
  *    numerics are NOT trimmed and a failed parse yields the zero value
  *    (`ColumnBuilderTypes.go:124-128` + ignored error at
  *    `ColumnBuilder.go:219-221`); booleans look at the first character
  *    only with J/j/Y/y→true else false; date and timestamp columns all
  *    store Unix SECONDS as a long (fine print F1,
  *    `ColumnBuilder.go:279,330,381`). We do NOT replicate F2 (the
  *    inverted error checks that zero out every successfully parsed
  *    date/timestamp-millis) — that is a plain bug, documented instead.
  */
sealed trait ParseMode
case object Strict extends ParseMode
case object Compat extends ParseMode

/** Fixed-width line parser: `DataFrame[value: String]` → typed DataFrame.
  *
  * Spark-first re-expression of the reference's per-chunk scan loop
  * (`fixed2avro/ColumnBuilder.go:198-227`): the chunking/CRLF alignment
  * (`ParalizeChunks` / `FindLastNL`) is replaced by line records
  * ([[graft.sources.LineScan]]); the per-column `ColumnBuilder` family
  * (`fixed2avro/ColumnBuilderTypes.go`) becomes the parse kernel
  * ([[graft.functions.FixedSlice]]): one rune-aware bounds walk per
  * line (the reference's rune-width slicing, `fixed2avro/Util.go:45-65`,
  * fine print F4) and one codegen'd typed expression per column that
  * parses straight from the line's memory. The whole parse is one
  * WholeStageCodegen span: no UDFs.
  */
object FixedWidthParser {

  /** Reference timestamp format `2020-07-09-09.59.59.993750`
    * (`fixed2avro/ColumnBuilder.go:231`): dash between date and hour,
    * dots inside the time, up to 6 fractional digits. */
  val TimestampFormat = "yyyy-MM-dd-HH.mm.ss.SSSSSS"

  /** Footer sentinel: a line whose first 12 chars are '*' ends the input
    * (`fixed2avro/ColumnBuilder.go:211-214`, fine print F6). */
  val FooterPrefix = "************"

  /** The reference's footer test as a Column predicate — `len > 12 &&`
    * the 12-asterisk prefix (strictly greater: EXACTLY 12 asterisks is
    * data) — the ONE home for the fine print, shared by the parse
    * filter, the fused toAvro filter, and the OCF export
    * ([[graft.sources.Ocf]]); see the conjunct-order note at the parse
    * call site (startsWith first — a leading length() walk cost
    * +0.2 s/GB on every parse leg). */
  def isFooter(line: Column): Column =
    line.startsWith(FooterPrefix) && octet_length(line) > FooterPrefix.length

  /** All typed field columns of a schema (for callers that project the
    * parse alongside other columns) — the same shared single walk the
    * full parse uses. */
  def fieldColumns(line: Column, schema: FixedSchema, mode: ParseMode): Seq[Column] =
    graft.functions.FixedSlice.fixed_fields(line, schema, mode == Compat, guarded = false)._1

  /** Project a `value: String` line column into the typed schema.
    *
    * `dropFooter=true` filters footer-marker lines (a plain filter, not
    * the reference's truncate-chunk-at-footer — acceptable deviation F6
    * when the footer is last, the normal case).
    *
    * `corruptCol=Some(name)` enables strict line-length validation
    * (fine print F5/F8: the reference silently yields stale/garbage
    * fields on short lines — `fixed2avro/Util.go:45-65`): a line whose
    * rune length differs from the schema's row length parses to an
    * all-null row with the raw line preserved in the named column
    * (PERMISSIVE-style corrupt-record handling); well-formed lines get a
    * null there. Without it, short lines parse best-effort (reference
    * behavior, minus the stale-buffer artifacts).
    */
  def parse(
      lines: DataFrame,
      schema: FixedSchema,
      mode: ParseMode = Strict,
      dropFooter: Boolean = true,
      lineCol: String = "value",
      corruptCol: Option[String] = None): DataFrame = {
    val line = col(lineCol)
    // The reference's footer test is `len(line) > 12 && line[:12] ==
    // "************"` (`fixed2avro/ColumnBuilder.go:211`) — strictly
    // GREATER, so a line of exactly 12 asterisks is data, not a footer.
    // Same conjunct here and in both truncate-at-footer parity modes.
    // Conjunct ORDER matters in this hot path: codegen `&&`
    // short-circuits left-to-right, and `length()` on UTF8String is a
    // full per-row codepoint walk (this as the LEFT conjunct cost
    // +0.20-0.24 s/GB on every parse leg). `startsWith` (12-byte memcmp)
    // goes first so the length test only runs on footer-prefixed lines;
    // and because the prefix is 12 one-byte chars, O(1) `octet_length`
    // is equivalent to `length` whenever `startsWith` holds.
    val kept =
      if (dropFooter)
        lines.filter(!isFooter(line))
      else lines
    // Every field reads ONE bounds walk (graft.functions.FixedSlice),
    // which whole-stage codegen's subexpression elimination evaluates
    // once per row. The corrupt-record guard is folded into that walk:
    // a malformed line's bounds are null, nulling every field, and the
    // same null marks the corrupt column — no second length() walk.
    val (fields, corrupt) = graft.functions.FixedSlice.fixed_fields(line, schema,
      compat = mode == Compat, guarded = corruptCol.isDefined)
    val all = fields ++ corruptCol.map(name =>
      when(corrupt, line).otherwise(lit(null).cast(StringType)).as(name))
    kept.select(all: _*)
  }

  /** Observation name for [[toAvro]]'s strict mode: `dropped_lines`
    * (malformed, skipped) and `input_lines` (all lines that reached the
    * validator). A 100 TB export must REPORT what it skipped — the same
    * observability contract as Dedup's "lsh_buckets". */
  val ToAvroObservation = "toavro_malformed"

  /** Fused parse+serialize: fixed-width lines → Confluent-framed (or
    * bare, `schemaId = -1`) Avro record bytes in ONE expression per row
    * ([[graft.functions.FixedAvro]]) — the hot export path, matching the
    * reference's fused toAvro stage. Strict semantics; byte-identical to
    * `parse(...).select(to_avro_confluent(fields))` (FixedAvroSpec) —
    * the same bounds walk and parse helpers — but with no typed row in
    * between.
    *
    * `strict=true` adds the [[parse]] corrupt-record guard to this hot
    * path: a line whose rune length differs from the schema's row
    * length is DROPPED (not best-effort sliced into a garbage record —
    * the reference's silent F5/F8 behavior) and counted in the
    * [[ToAvroObservation]] observation, so an export always reports how
    * many lines it skipped. Opt-in: the validation is one extra
    * codepoint-length walk per line, priced only when asked for.
    *
    * Observation names must be UNIQUE within one query: a caller
    * combining two strict exports under a single action (union of two
    * feeds, say) must give each a distinct `observation` or the plan
    * fails analysis. */
  def toAvro(
      lines: DataFrame,
      schema: FixedSchema,
      schemaId: Int,
      dropFooter: Boolean = true,
      lineCol: String = "value",
      outCol: String = "value",
      strict: Boolean = false,
      observation: String = ToAvroObservation): DataFrame = {
    val line = col(lineCol)
    val kept =
      if (dropFooter)
        lines.filter(!isFooter(line))
      else lines
    val validated =
      if (strict)
        kept.observe(observation,
            sum(when(length(line) =!= schema.rowRuneLen, 1L).otherwise(0L)).as("dropped_lines"),
            count(lit(1)).as("input_lines"))
          .filter(length(line) === schema.rowRuneLen)
      else kept
    validated.select(
      graft.functions.FixedAvro.fixed_to_avro_confluent(line, schema, schemaId).as(outCol))
  }

  /** Spark output schema under compat mode: date/timestamp → LongType
    * seconds, boolean never null, numerics never null. */
  def compatSchema(schema: FixedSchema): StructType =
    StructType(schema.fields.map { f =>
      val t = f.parseType match {
        case "date" | "timestamp-millis" | "timestamp-micros" => LongType
        case _                                                => f.sparkType
      }
      StructField(f.name, t, nullable = f.parseType == "string" || f.parseType == "Bytes" || f.parseType == "bytes")
    })
}
