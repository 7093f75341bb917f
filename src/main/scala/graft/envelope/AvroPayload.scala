package graft.envelope

import org.apache.avro.{JsonProperties, LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import scala.jdk.CollectionConverters._

/** Avro-binary payload codec — the port of the reference's default wire
  * format (reference: typebus/src/main/scala/io/surfkit/typebus/
  * Mapper.scala:11-121 `AvroByteStreams`: avro4s binary via
  * `AvroOutputStream.binary` / `AvroInputStream.binary`). The payload
  * schema is derived from the type's Spark `Encoder` schema exactly as
  * avro4s derives it from the case class (record per product, nullable
  * union per `Option`, array/map containers, timestamp-micros longs).
  *
  * Execution shape: serde runs in `mapPartitions` with ONE parsed
  * schema + one reused `GenericDatumWriter`/`Reader` and recycled
  * binary encoder/decoder per partition (no per-row setup) — a narrow
  * per-row transform, zero shuffle, streaming-safe. The envelope
  * (`meta` struct, `uuid()`, reply threading) is [[PayloadCodec]]'s,
  * shared with [[EnvelopeCodec]], so routing/sinks/RPC work unchanged on
  * Avro payloads; this codec supplies only `writePayload` and `parse`.
  *
  * Decode failure semantics match [[EnvelopeCodec]]: undecodable
  * payloads are DROPPED from the typed view (resume-on-any-error,
  * reference KafkaBus.scala:109-112) and surface as `ServiceException`
  * reply envelopes via [[decodeFailures]] (F4).
  */
object AvroPayloadCodec extends PayloadCodec {

  /** Avro names allow [A-Za-z0-9_] and must not start with a digit. */
  private def sanitize(s: String): String = {
    val t = s.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    if (t.isEmpty || t.head.isDigit) "_" + t else t
  }

  private def nullable(s: Schema): Schema =
    Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), s))

  /** Spark `StructType` → Avro record schema. Supported lattice =
    * what product `Encoder`s emit: primitives, binary,
    * timestamp (micros logical type), Option (nullable union),
    * Seq/Array, Map[String, _], nested products.
    */
  def avroSchemaOf(st: StructType, name: String): Schema =
    structSchema(st, sanitize(name.replace('.', '_')))

  private def structSchema(st: StructType, name: String): Schema = {
    val rec = Schema.createRecord(name, null, "graft.avro", false)
    rec.setFields(st.fields.toSeq.map { f =>
      val base = typeSchema(f.dataType, name + "_" + sanitize(f.name))
      if (f.nullable)
        new Schema.Field(sanitize(f.name), nullable(base), null,
          JsonProperties.NULL_VALUE)
      else new Schema.Field(sanitize(f.name), base, null, null.asInstanceOf[Object])
    }.asJava)
    rec
  }

  private def typeSchema(dt: DataType, path: String): Schema = dt match {
    case StringType              => Schema.create(Schema.Type.STRING)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case LongType                => Schema.create(Schema.Type.LONG)
    case FloatType               => Schema.create(Schema.Type.FLOAT)
    case DoubleType              => Schema.create(Schema.Type.DOUBLE)
    case BooleanType             => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType              => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case ArrayType(e, containsNull) =>
      val el = typeSchema(e, path + "_item")
      Schema.createArray(if (containsNull) nullable(el) else el)
    case MapType(StringType, v, vn) =>
      val vs = typeSchema(v, path + "_value")
      Schema.createMap(if (vn) nullable(vs) else vs)
    case st: StructType => structSchema(st, path)
    case other => throw new IllegalArgumentException(
      s"unsupported Spark type for an Avro payload: ${other.simpleString}")
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  /** Spark row value → Avro generic value (schemas derived above, so the
    * union/nesting shapes always line up).
    */
  private def toAvro(v: Any, dt: DataType, s0: Schema): AnyRef =
    if (v == null) null
    else {
      val s = nonNull(s0)
      (dt, v) match {
        case (st: StructType, r: Row) =>
          val rec = new GenericData.Record(s)
          var i = 0
          while (i < st.fields.length) {
            rec.put(i, toAvro(r.get(i), st.fields(i).dataType, s.getFields.get(i).schema()))
            i += 1
          }
          rec
        case (TimestampType, t: java.sql.Timestamp) =>
          java.lang.Long.valueOf(
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
        case (BinaryType, b: Array[Byte]) => java.nio.ByteBuffer.wrap(b)
        case (ArrayType(e, _), xs: scala.collection.Seq[_]) =>
          val out = new java.util.ArrayList[AnyRef](xs.size)
          xs.foreach(x => out.add(toAvro(x, e, s.getElementType)))
          out
        case (MapType(_, vdt, _), m: scala.collection.Map[_, _]) =>
          val out = new java.util.HashMap[String, AnyRef]
          m.foreach { case (k, x) => out.put(String.valueOf(k), toAvro(x, vdt, s.getValueType)) }
          out
        case (_, x) => x.asInstanceOf[AnyRef]
      }
    }

  /** Avro generic value → Spark row value. */
  private def fromAvro(v: AnyRef, dt: DataType): Any =
    if (v == null) null
    else (dt, v) match {
      case (st: StructType, r: GenericRecord) =>
        Row.fromSeq(st.fields.toIndexedSeq.map(f =>
          fromAvro(r.get(sanitize(f.name)), f.dataType)))
      case (TimestampType, l: java.lang.Long) =>
        val micros = l.longValue
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case (BinaryType, bb: java.nio.ByteBuffer) =>
        val a = new Array[Byte](bb.remaining); bb.duplicate.get(a); a
      case (StringType, u) => u.toString
      case (ShortType, i: java.lang.Integer) => i.shortValue
      case (ByteType, i: java.lang.Integer)  => i.byteValue
      case (ArrayType(e, _), l: java.util.List[_]) =>
        l.asScala.toSeq.map(x => fromAvro(x.asInstanceOf[AnyRef], e))
      case (MapType(_, vdt, _), m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, x) =>
          String.valueOf(k) -> fromAvro(x.asInstanceOf[AnyRef], vdt)
        }.toMap
      case (_, x) => x
    }

  /** One parsed schema, one reused writer and a recycled binary encoder:
    * payload row → Avro bytes. Build it once per partition (or batch).
    */
  private def writer(schemaJson: String, st: StructType): Row => Array[Byte] = {
    val sch = new Schema.Parser().parse(schemaJson)
    val w = new GenericDatumWriter[GenericRecord](sch)
    val baos = new ByteArrayOutputStream()
    var encoder: BinaryEncoder = null
    r => {
      baos.reset()
      encoder = EncoderFactory.get().binaryEncoder(baos, encoder)
      w.write(toAvro(r, st, sch).asInstanceOf[GenericRecord], encoder)
      encoder.flush()
      baos.toByteArray
    }
  }

  /** JVM-side single-batch payload writer for driver-built envelopes
    * (tests, RPC clients) from plain rows. Row values must follow the
    * given Spark schema.
    */
  def writeRows(rows: Seq[Row], st: StructType, name: String): Seq[Array[Byte]] =
    rows.map(writer(avroSchemaOf(st, name).toString, st))

  protected def writePayload(df: DataFrame, st: StructType, name: String): DataFrame = {
    val schemaJson = avroSchemaOf(st, name).toString
    val i = df.schema.fieldIndex("payload")
    val out = StructType(df.schema.fields.updated(i,
      StructField("payload", BinaryType, nullable = false)))
    df.mapPartitions { it =>
      val write = writer(schemaJson, st)
      it.map(r => Row.fromSeq(r.toSeq.updated(i, write(r.getStruct(i)))))
    }(Encoders.row(out))
  }

  /** Decode to (meta, value, err) rows — value is the payload struct on
    * success, err the failure text otherwise (the Avro analog of
    * [[EnvelopeCodec]]'s corrupt-record canary).
    */
  protected def parse[T](df: DataFrame)(implicit enc: Encoder[T]): PayloadCodec.Parsed = {
    val st = enc.schema
    val schemaJson = avroSchemaOf(st, EnvelopeCodec.fqnOf[T]).toString
    val outSchema = StructType(Seq(
      StructField("meta", EnvelopeCodec.metaSchema, nullable = false),
      StructField("value", st, nullable = true),
      StructField("err", StringType, nullable = true)))
    val frame = df.select(col("meta"), col("payload")).mapPartitions { it =>
      val sch = new Schema.Parser().parse(schemaJson)
      val reader = new GenericDatumReader[GenericRecord](sch)
      var decoder: BinaryDecoder = null
      it.map { r =>
        try {
          decoder = DecoderFactory.get().binaryDecoder(r.getAs[Array[Byte]](1), decoder)
          Row(r.getStruct(0), fromAvro(reader.read(null, decoder), st), null)
        } catch {
          case e: Throwable => Row(r.getStruct(0), null, String.valueOf(e))
        }
      }
    }(Encoders.row(outSchema))
    PayloadCodec.Parsed(frame, col("value").isNotNull, col("value"), col("err"))
  }
}
