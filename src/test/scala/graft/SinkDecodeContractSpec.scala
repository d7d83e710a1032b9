package graft

import graft.functions.AvroCodec
import graft.ops.Pipeline
import graft.parse.{FixedWidthParser, Strict}
import graft.registry.InMemorySchemaRegistry
import graft.sinks.KafkaStage
import graft.sources.{FixedWidth, KafkaConsume}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Keeps every frame it is sent, across all tasks of the local JVM. */
object KeepingSink {
  val kept = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Array[Byte], Array[Byte])]()
}
final class KeepingSink extends KafkaStage.RowSink {
  override def send(topic: String, partition: Int, key: Array[Byte], value: Array[Byte]): Unit =
    KeepingSink.kept.add((topic, partition, key, value))
}

/** The producer hand-off and the consumer decode, pinned at their
  * edges: the sink owns what it is sent, and malformed frame bodies
  * fail or decode exactly as the Avro binary decoder dictates. */
class SinkDecodeContractSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = Pipeline.lineitemFixed

  /** Typed lineitem rows in three deterministic partitions. */
  private def typed(): DataFrame = {
    import spark.implicits._
    val lines = FixedWidth.render(Pipeline.lineitem(spark, sf).limit(60), schema)
      .as[String].collect().toSeq
    FixedWidthParser.parse(spark.sparkContext.parallelize(lines, 3).toDF("value"), schema, Strict)
  }

  private def staged(): (DataFrame, Int, InMemorySchemaRegistry) = {
    val registry = new InMemorySchemaRegistry
    val (keyId, valueId) = KafkaStage.registerSubjects(registry, "contract", schema)
    (KafkaStage.stage(typed(), schema, valueId, "contract", keyId), valueId, registry)
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("writeTo: the sink gets distinct key/value arrays equal to the staged frames") {
    val (df, _, _) = staged()
    val want = df.select("topic", "partition", "key", "value").collect()
      .map(r => (r.getString(0), r.getInt(1), hex(r.getAs[Array[Byte]](2)),
        hex(r.getAs[Array[Byte]](3)))).toSeq.sorted
    KeepingSink.kept.clear()
    KafkaStage.writeTo(df, () => new KeepingSink)
    val kept = KeepingSink.kept.asScala.toSeq
    KeepingSink.kept.clear()
    assert(kept.size == want.size && want.size == 60)
    assert(kept.map(k => (k._1, k._2, hex(k._3), hex(k._4))).sorted == want,
      "topic, partition, key and value must reach the sink unchanged")
    assert(want.map(_._2).distinct.size == 3, "all three partitions carried frames")
    val arrays = new java.util.IdentityHashMap[Array[Byte], Unit]()
    kept.foreach { k => arrays.put(k._3, ()); arrays.put(k._4, ()) }
    assert(arrays.size == 2 * kept.size, "a kept key or value array was shared between frames")
  }

  test("writeTo: a null topic or partition fails the job") {
    val (df, _, _) = staged()
    Seq(df.withColumn("topic", lit(null).cast("string")),
      df.withColumn("partition", lit(null).cast("int"))).foreach { bad =>
      assert(intercept[Exception](KafkaStage.writeTo(bad, () => new KeepingSink)) != null)
    }
    KeepingSink.kept.clear()
  }

  private def frames(): (Seq[Array[Byte]], Int, InMemorySchemaRegistry) = {
    val (df, id, registry) = staged()
    (df.select("value").collect().map(_.getAs[Array[Byte]](0)).toSeq, id, registry)
  }

  private def decode(fs: Seq[Array[Byte]], id: Int, registry: InMemorySchemaRegistry): Seq[String] = {
    import spark.implicits._
    KafkaConsume.decode(fs.toDF("value"), registry, schema, Seq(id))
      .collect().map(_.toString).toSeq.sorted
  }

  private def rootCauses(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("decode: bytes after the last field are ignored") {
    val (fs, id, registry) = frames()
    val clean = decode(fs, id, registry)
    assert(clean.size == fs.size)
    assert(decode(fs.map(_ ++ Array[Byte](0x01, 0x7f, -1)), id, registry) == clean)
  }

  test("decode: a truncated body fails the decode with EOFException") {
    val (fs, id, registry) = frames()
    val f = fs.head
    Seq(6, 7, f.length / 2, f.length - 1).foreach { cut =>
      val e = intercept[Exception](decode(fs.tail :+ f.take(cut), id, registry))
      assert(rootCauses(e).exists(_.isInstanceOf[java.io.EOFException]),
        s"cut at $cut: expected an EOFException, got $e")
    }
  }

  test("decode expression: every truncation point of flat and optional-union bodies is an EOF") {
    val (fs, id, _) = frames()
    val unionFrame = typed().limit(1).select(graft.functions.Confluent.frame(AvroCodec.to_avro(
      struct(schema.fields.map(f => col(f.name)): _*), schema.nullableAvroJson), id))
      .head().getAs[Array[Byte]](0)
    for ((readerJson, frame) <- Seq(schema.avroJson -> fs.head,
        schema.nullableAvroJson -> unionFrame)) {
      val dec = AvroCodec.AvroDecodeFramed(
        org.apache.spark.sql.catalyst.expressions.Literal(null, BinaryType),
        Map(id -> readerJson), readerJson, schema.sparkSchema)
      def fields(bytes: Array[Byte]): Seq[String] =
        dec.nullSafeEval(bytes).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          .toSeq(schema.sparkSchema).map(String.valueOf)
      val whole = fields(frame)
      assert(whole.size == schema.fields.size)
      (6 until frame.length).foreach { cut =>
        intercept[java.io.EOFException](dec.nullSafeEval(frame.take(cut)))
      }
      assert(fields(frame ++ Array[Byte](9, 9)) == whole)
    }
  }
}
