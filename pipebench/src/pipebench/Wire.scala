package pipebench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/** The benchmark's own copy of the wire format: the envelope and payload
  * schemas, written and read with the plain Apache Avro library and
  * `javax.crypto`. The load generator and the output checks use only
  * this object, never the program's codec, so a codec fault cannot hide
  * itself by being on both sides of a comparison. */
object Wire {

  val MagicBinary: Byte = 0x00

  val EnvelopeJson: String =
    """{"type":"record","name":"message_envelope","namespace":"bench.envelope","fields":[
      {"name":"uuid","type":{"type":"fixed","name":"uuid16","size":16}},
      {"name":"message_type","type":{"type":"enum","name":"message_type","symbols":
        ["create","update","delete","refresh","heartbeat","monitor","registration","log"]}},
      {"name":"schema_id","type":"int"},
      {"name":"payload","type":"bytes"},
      {"name":"previous_payload","type":["null","bytes"],"default":null},
      {"name":"meta","type":["null",{"type":"array","items":{"type":"record","name":"meta_attribute",
        "fields":[{"name":"schema_id","type":"int"},{"name":"payload","type":"bytes"}]}}],"default":null},
      {"name":"encryption_type","type":["null","string"],"default":null},
      {"name":"timestamp","type":"int"}]}"""

  /** One row of the `events` table of the repository's test data (the
    * stand-in for a streaming source): `event_id` is the primary key and
    * `ts` the event time in microseconds, which also orders the changes
    * of a key. */
  private val V1Fields =
    """{"name":"event_id","type":"long","pkey":1},
      {"name":"ts","type":"long"},
      {"name":"user_id","type":"long"},
      {"name":"event_type","type":"string"},
      {"name":"value","type":"double"},
      {"name":"props","type":"string"}"""

  val PayloadV1Json: String =
    s"""{"type":"record","name":"events","namespace":"bench.app","fields":[$V1Fields]}"""

  /** The evolved schema: two added fields with defaults, so v1 and v2
    * are mutually readable and register on one topic. */
  val PayloadV2Json: String =
    s"""{"type":"record","name":"events","namespace":"bench.app","fields":[$V1Fields,
      {"name":"platform","type":"string","default":"web"},
      {"name":"duration_ms","type":"int","default":0}]}"""

  val KeyJson: String =
    """{"type":"record","name":"events_key","namespace":"bench.app","fields":[{"name":"event_id","type":"long"}]}"""

  val V1Names: Seq[String] = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  val V2Names: Seq[String] = V1Names ++ Seq("platform", "duration_ms")
  val V2Defaults: Seq[Any] = Seq("web", 0)
  /** Position of `ts` in [[V1Names]]. */
  val TsPos = 1

  @transient lazy val envelope: Schema = new Schema.Parser().parse(EnvelopeJson)
  @transient lazy val v1: Schema = new Schema.Parser().parse(PayloadV1Json)
  @transient lazy val v2: Schema = new Schema.Parser().parse(PayloadV2Json)
  @transient lazy val key: Schema = new Schema.Parser().parse(KeyJson)

  private val writers = ThreadLocal.withInitial[java.util.HashMap[Schema, GenericDatumWriter[GenericRecord]]](
    () => new java.util.HashMap())

  def encode(schema: Schema, rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream(256)
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writers.get().computeIfAbsent(schema, s => new GenericDatumWriter[GenericRecord](s))
      .write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private val readers = ThreadLocal.withInitial[java.util.HashMap[(Schema, Schema), GenericDatumReader[GenericRecord]]](
    () => new java.util.HashMap())

  private def reader(writer: Schema, reader: Schema): GenericDatumReader[GenericRecord] =
    readers.get().computeIfAbsent((writer, reader), _ => new GenericDatumReader[GenericRecord](writer, reader))

  def decode(writer: Schema, reader: Schema, bytes: Array[Byte]): GenericRecord =
    this.reader(writer, reader).read(null, DecoderFactory.get().binaryDecoder(bytes, null))

  /** A payload record from field values in `V1Names` (then `V2Names`) order. */
  def payload(schema: Schema, values: Seq[Any]): GenericRecord = {
    val r = new GenericData.Record(schema)
    values.zipWithIndex.foreach { case (v, i) => r.put(i, v) }
    r
  }

  /** Field values of a decoded payload, strings as `String`. */
  def values(rec: GenericRecord): Seq[Any] =
    rec.getSchema.getFields.asScala.toSeq.map { f =>
      rec.get(f.pos()) match {
        case s: CharSequence => s.toString
        case v => v
      }
    }

  final case class Env(uuid: Array[Byte], messageType: String, schemaId: Int,
                       payload: Array[Byte], iv: Option[(Int, Array[Byte])],
                       encryptionType: Option[String], timestamp: Int)

  def pack(e: Env): Array[Byte] = {
    val r = new GenericData.Record(envelope)
    r.put("uuid", new GenericData.Fixed(envelope.getField("uuid").schema(), e.uuid))
    r.put("message_type", new GenericData.EnumSymbol(
      envelope.getField("message_type").schema(), e.messageType))
    r.put("schema_id", e.schemaId)
    r.put("payload", ByteBuffer.wrap(e.payload))
    r.put("previous_payload", null)
    val metaItem = envelope.getField("meta").schema().getTypes.get(1).getElementType
    r.put("meta", e.iv.map { case (sid, iv) =>
      val m = new GenericData.Record(metaItem)
      m.put("schema_id", sid)
      m.put("payload", ByteBuffer.wrap(iv))
      java.util.Arrays.asList(m)
    }.orNull)
    r.put("encryption_type", e.encryptionType.orNull)
    r.put("timestamp", e.timestamp)
    val avro = encode(envelope, r)
    val out = new Array[Byte](avro.length + 1)
    out(0) = MagicBinary
    System.arraycopy(avro, 0, out, 1, avro.length)
    out
  }

  /** Framed transport bytes → envelope; throws on anything malformed. */
  def unpack(framed: Array[Byte]): Env = {
    require(framed.nonEmpty && framed(0) == MagicBinary, "bad magic byte")
    val r = reader(envelope, envelope).read(null,
      DecoderFactory.get().binaryDecoder(framed, 1, framed.length - 1, null))
    def bytes(b: Any): Array[Byte] = {
      val bb = b.asInstanceOf[ByteBuffer].duplicate()
      val a = new Array[Byte](bb.remaining()); bb.get(a); a
    }
    val iv = Option(r.get("meta")).flatMap { m =>
      m.asInstanceOf[java.util.List[GenericRecord]].asScala.headOption
        .map(a => (a.get("schema_id").asInstanceOf[Int], bytes(a.get("payload"))))
    }
    Env(r.get("uuid").asInstanceOf[GenericData.Fixed].bytes().clone(),
      r.get("message_type").toString, r.get("schema_id").asInstanceOf[Int],
      bytes(r.get("payload")), iv, Option(r.get("encryption_type")).map(_.toString),
      r.get("timestamp").asInstanceOf[Int])
  }

  /** Random 16-byte uuid with the RFC 4122 version-4 and variant bits. */
  def uuid4(rnd: java.util.Random): Array[Byte] = {
    val b = new Array[Byte](16)
    rnd.nextBytes(b)
    b(6) = ((b(6) & 0x0f) | 0x40).toByte
    b(8) = ((b(8) & 0x3f) | 0x80).toByte
    b
  }

  def isUuid4(b: Array[Byte]): Boolean =
    b != null && b.length == 16 && (b(6) & 0xf0) == 0x40 && (b(8) & 0xc0) == 0x80

  // AES-128-CBC, PKCS padding, raw blocks on the wire, IV in `meta`
  val KeyId = 1
  val Key = "pipebench-key-01"
  val EncryptionType: String = s"AES_MODE_CBC-$KeyId"
  val UnknownEncryptionType = "AES_MODE_CBC-7"

  private val ciphers = ThreadLocal.withInitial[javax.crypto.Cipher](
    () => javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding"))

  private def cipher(mode: Int, iv: Array[Byte]): javax.crypto.Cipher = {
    val c = ciphers.get()
    c.init(mode, new javax.crypto.spec.SecretKeySpec(Key.getBytes("UTF-8"), "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c
  }

  def encrypt(plain: Array[Byte], iv: Array[Byte]): Array[Byte] =
    cipher(javax.crypto.Cipher.ENCRYPT_MODE, iv).doFinal(plain)

  def decrypt(ct: Array[Byte], iv: Array[Byte]): Array[Byte] =
    cipher(javax.crypto.Cipher.DECRYPT_MODE, iv).doFinal(ct)
}
