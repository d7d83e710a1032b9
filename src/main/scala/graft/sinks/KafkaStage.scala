package graft.sinks

import graft.functions.{AvroCodec, Confluent}
import graft.registry.SchemaRegistryClient
import graft.schema.FixedSchema
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Kafka producer staging: typed rows → the exact `(key, value, topic,
  * partition)` frame Spark's Kafka sink consumes.
  *
  * Re-expresses `KafkaExporter` (`fixed2avro/Exporters.go:40-103`):
  *  - value = Confluent-framed Avro record, schema id from config (NOT
  *    from registration — `fixed2avro/ColumnBuilder.go:106-107`, §2.4);
  *  - key   = the Avro-encoded literal string "string" under key schema
  *    `"string"` — the reference sends this constant for every message
  *    (fine print F10, `fixed2avro/Exporters.go:59,88`);
  *  - partition = the task's partition id, mirroring the
  *    producer-pinned-to-chunk# routing (`kafkaavro/producer.go:128-132`).
  *
  * No Kafka connector jar ships in this environment, so the network hop
  * itself is behind [[RowSink]]; on a real cluster the staged frame goes
  * straight to `df.write.format("kafka")` (at-least-once — strictly
  * stronger than the reference's await-one-delivery, fine print F7).
  */
object KafkaStage {

  /** Avro binary encoding of the constant key string "string":
    * zigzag varint length 6 (0x0c) + UTF-8 bytes. */
  val KeyBytes: Array[Byte] = {
    val s = "string".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Array(0x0c.toByte) ++ s
  }

  /** Register the reference's two subjects (`<topic>-key` with schema
    * literal `"string"`, `<topic>-value` with the record schema —
    * `kafkaavro/producer.go:116-126`) and return (keyId, valueId). Note
    * the produced VALUE frames use `schemaId` from config, not this
    * valueId, for reference parity (§2.4). */
  def registerSubjects(registry: SchemaRegistryClient, topic: String,
      schema: FixedSchema, nullable: Boolean = false): (Int, Int) = {
    val keyId = registry.register(s"$topic-key", "\"string\"")
    val valueId = registry.register(s"$topic-value",
      if (nullable) schema.nullableAvroJson else schema.avroJson)
    (keyId, valueId)
  }

  /** Stage a typed DataFrame for the Kafka sink. The value column is the
    * fused header+body encoder ([[AvroCodec.AvroEncodeDirect]]) — one
    * buffer pass, one output allocation per message. */
  // keySchemaId is REQUIRED (r16): the old `= 1` default hardcoded the
  // in-memory fake's first allocated id — against a real registry the
  // key frames would carry whatever unrelated schema holds id 1. Every
  // caller gets the id from registerSubjects anyway.
  def stage(df: DataFrame, schema: FixedSchema, schemaId: Int, topic: String,
      keySchemaId: Int): DataFrame = {
    val fieldCols: Seq[Column] = schema.fields.map(f => col(f.name))
    df.select(
      Confluent.frame(lit(KeyBytes), keySchemaId).as("key"),
      AvroCodec.to_avro_confluent(fieldCols, schema.avroJson, schemaId).as("value"),
      lit(topic).as("topic"),
      spark_partition_id().as("partition"))
  }

  /** Optional-union staging variant (r17): frames the value under the
    * `["null", T]` schema so null fields are CARRIED to the topic
    * instead of killing the encode — pair with
    * `registerSubjects(..., nullable = true)` so consumers resolve the
    * union by the registered id ([[graft.sources.KafkaConsume]]'s
    * field readers handle optional unions). Goes through the general
    * [[AvroCodec.to_avro]] path: the fused direct encoder is flat-only
    * BY DESIGN (it rejects union schemas at plan build) — the fused
    * fast path remains the null-free reference shape. */
  def stageNullable(df: DataFrame, schema: FixedSchema, schemaId: Int,
      topic: String, keySchemaId: Int): DataFrame = {
    val fieldCols: Seq[Column] = schema.fields.map(f => col(f.name))
    df.select(
      Confluent.frame(lit(KeyBytes), keySchemaId).as("key"),
      Confluent.frame(
        AvroCodec.to_avro(struct(fieldCols: _*), schema.nullableAvroJson),
        schemaId).as("value"),
      lit(topic).as("topic"),
      spark_partition_id().as("partition"))
  }

  /** Sink seam for offline tests; production = `format("kafka")`. */
  trait RowSink extends Serializable {
    def send(topic: String, partition: Int, key: Array[Byte], value: Array[Byte]): Unit
    def flush(): Unit = ()
  }

  /** Drive a staged frame into a sink, partition-parallel, straight
    * from the plan's InternalRows (no external-Row conversion). Key and
    * value are copied out per frame (`getBinary`), so a sink may keep
    * them; the topic string is decoded once per distinct topic. A null
    * topic or partition fails the job. */
  def writeTo(staged: DataFrame, mkSink: () => RowSink): Unit =
    staged.select("topic", "partition", "key", "value").queryExecution.toRdd.foreachPartition { rows =>
      val sink = mkSink()
      // A clone: the row's own topic is a view into its reused buffer.
      var topicBytes: UTF8String = null
      var topic: String = null
      rows.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) throw new NullPointerException(
          s"KafkaStage.writeTo: null ${if (r.isNullAt(0)) "topic" else "partition"} in a staged frame")
        val t = r.getUTF8String(0)
        if (!t.equals(topicBytes)) { topicBytes = t.clone(); topic = t.toString }
        sink.send(topic, r.getInt(1), r.getBinary(2), r.getBinary(3))
      }
      sink.flush()
    }
}
