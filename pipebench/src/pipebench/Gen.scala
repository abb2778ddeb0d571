package pipebench

import java.io.File
import java.util.Random

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The load generator. Every input is a pure function of the seed and a
  * row or file index, so one seed always gives the same files. Transport
  * bytes come from [[Wire]] (plain Avro and `javax.crypto`); the program
  * under test only ever sees the parquet files written here.
  *
  * Each backlog is one directory of parquet files, one file per
  * micro-batch, named in log order. */
object Gen {

  /** The `events` table of the repository's test data at sf0.1 (100 000
    * rows), measured once: `ts` runs over 30 days from 2024-01-01 in
    * event_id order (one event per 25.92 s), `user_id` is uniform over
    * 1 500 users, `event_type` uniform over five types, `value` an
    * exponential with mean 50 rounded to cents, and `props` is
    * `{"k": n}` with n uniform below 100. The generator draws from these
    * distributions; it does not read the table. */
  val EventTypes: Array[String] = Array("signup", "purchase", "view", "click", "error")
  val Users = 1500
  val StartUs = 1704067200000000L
  val GapUs = 25920000L
  val ValueMean = 50.0
  val PropsK = 100
  /** Events of this type carry personal data: they go to the PII topic
    * and are encrypted. About a fifth of all events, as in the table. */
  val PiiType = "signup"
  private val Platforms = Array("web", "ios", "android")

  def rnd(seed: Long, stream: Long, i: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + stream * 1000003L + i)

  /** Event time of the n-th event: strictly increasing in n. */
  def tsOf(r: Random, n: Long): Long = StartUs + n * GapUs + (r.nextDouble() * GapUs).toLong

  /** One events row in [[Wire.V1Names]] order. */
  def event(r: Random, id: Long, ts: Long, user: Long): Seq[Any] =
    Seq(id, ts, user, EventTypes(r.nextInt(EventTypes.length)),
      math.rint(-ValueMean * math.log(1 - r.nextDouble()) * 100) / 100,
      s"""{"k": ${r.nextInt(PropsK)}}""")

  def event(r: Random, i: Long): Seq[Any] = event(r, i, tsOf(r, i), r.nextInt(Users).toLong)

  def isPii(values: Seq[Any]): Boolean = values(3) == PiiType

  /** Envelope timestamp in seconds of an event time in microseconds. */
  def envSeconds(tsUs: Long): Int = (tsUs / 1000000L).toInt

  val V1Type: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val V2Type: StructType = StructType(V1Type.fields ++ Seq(
    StructField("platform", StringType), StructField("duration_ms", IntegerType)))
  val TransportType: StructType = StructType(Seq(StructField("value", BinaryType)))

  /** Drop the writer's checksum and marker files: the backlog directory
    * holds exactly one parquet file per micro-batch. */
  private def tidy(dir: String): Unit =
    new File(dir).listFiles().filterNot(_.getName.endsWith(".parquet")).foreach(_.delete())

  /** One parquet file per partition, in 512 KB row groups: a file splits
    * only at row-group boundaries, and with the default 128 MB groups a
    * backlog file would be read by a single task however many cores run. */
  private def writeParts(spark: SparkSession, rows: org.apache.spark.rdd.RDD[Row],
                         schema: StructType, dir: String): Unit = {
    spark.createDataFrame(rows, schema).write.mode("overwrite")
      .option("parquet.block.size", 1 << 19).parquet(dir)
    tidy(dir)
  }

  /** [[writeParts]] for generated (row, fingerprint of its expected
    * outcome) pairs, each generated once: writes the rows and returns the
    * fingerprints. */
  private def writeWithOutcomes(spark: SparkSession,
                                msgs: org.apache.spark.rdd.RDD[(Row, Long)],
                                schema: StructType, dir: String): Array[Long] = {
    val cached = msgs.persist()
    try {
      writeParts(spark, cached.map(_._1), schema, dir)
      Compare.collect(cached.map(_._2))
    } finally cached.unpersist()
  }

  // ---- publish: events rows, the signup events on the PII topic ---------

  def publishRow(seed: Long, i: Long): Row = Row.fromSeq(event(rnd(seed, 1, i), i))

  /** Writes the backlog; returns the fingerprints of (event values, pii)
    * of its rows. */
  def publish(spark: SparkSession, seed: Long, files: Int, perFile: Int, dir: String): Array[Long] =
    writeWithOutcomes(spark, spark.sparkContext.range(0L, files.toLong * perFile, 1L, files)
      .map { i => val r = publishRow(seed, i); (r, Compare.fp(r.toSeq :+ isPii(r.toSeq))) },
      V1Type, dir)

  // ---- consume: transport rows with planted dead letters ------------------

  /** Outcome classes; the class of row i is a function of i mod 100, so
    * every 100 consecutive rows hold exactly one of each dead class. */
  val CorruptTransport = "corrupt_transport"
  val CorruptPayload = "corrupt_payload"
  val UnknownSchema = "unknown_schema_id"
  val UnknownKey = "unknown_key_id"
  val DeadClasses: Seq[String] = Seq(CorruptTransport, CorruptPayload, UnknownSchema, UnknownKey)

  def consumeClass(seed: Long, i: Long): Int = (((i * 37 + seed) % 100 + 100) % 100).toInt

  /** (transport bytes, expected good row as (uuid +: V2 values), or the
    * dead class). */
  def consumeMessage(seed: Long, i: Long, ids: Ids): (Array[Byte], Either[String, Seq[Any]]) = {
    val r = rnd(seed, 2, i)
    val c = consumeClass(seed, i)
    val uuid = Wire.uuid4(r)
    val base = event(r, i)
    val v2Written = c % 2 == 0
    val values =
      if (v2Written) base ++ Seq(Platforms(r.nextInt(Platforms.length)), r.nextInt(60000))
      else base
    val writer = if (v2Written) Wire.v2 else Wire.v1
    val plain = Wire.encode(writer, Wire.payload(writer, values))
    val schemaId = if (v2Written) ids.v2 else ids.v1
    val ts = envSeconds(base(Wire.TsPos).asInstanceOf[Long])
    def env(payload: Array[Byte], sid: Int, enc: Option[String]) = {
      val iv = enc.map { _ => val b = new Array[Byte](16); r.nextBytes(b); b }
      val pb = iv.map(Wire.encrypt(payload, _)).getOrElse(payload)
      Wire.pack(Wire.Env(uuid, "create", sid, pb, iv.map(ids.iv -> _), enc, ts))
    }
    val good = Right(uuid +: (if (v2Written) values else values ++ Wire.V2Defaults))
    c match {
      case 0 =>
        val full = env(plain, schemaId, None)
        (java.util.Arrays.copyOf(full, full.length / 2), Left(CorruptTransport))
      case 1 => (env(java.util.Arrays.copyOf(plain, plain.length / 2), schemaId, None),
        Left(CorruptPayload))
      case 2 => (env(plain, 9999, None), Left(UnknownSchema))
      case 3 => (env(plain, schemaId, Some(Wire.UnknownEncryptionType)), Left(UnknownKey))
      case _ if isPii(base) => (env(plain, schemaId, Some(Wire.EncryptionType)), good)
      case _ => (env(plain, schemaId, None), good)
    }
  }

  final case class Ids(v1: Int, v2: Int, pii: Int, iv: Int)

  /** Writes the backlog; returns the fingerprints of every message's
    * expected outcome: ("good", uuid, v2 values with reader defaults) or
    * (dead class, transport bytes). */
  def consume(spark: SparkSession, seed: Long, files: Int, perFile: Int, ids: Ids,
              dir: String): Array[Long] =
    writeWithOutcomes(spark, spark.sparkContext.range(0L, files.toLong * perFile, 1L, files)
      .map { i =>
        consumeMessage(seed, i, ids) match {
          case (raw, Right(good)) => (Row(raw), Compare.fp("good" +: good))
          case (raw, Left(dead)) => (Row(raw), Compare.fp(Seq(dead, raw)))
        }
      }, TransportType, dir)

  val ExpectedGoodType: StructType =
    StructType(StructField("uuid", BinaryType) +: V2Type.fields)

  /** The good rows among the first `n` messages, as (uuid, v2 values). */
  def consumeGood(spark: SparkSession, seed: Long, n: Int, ids: Ids): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(0L, n.toLong)
      .flatMap(i => consumeMessage(seed, i, ids)._2.toOption.map(Row.fromSeq)), ExpectedGoodType)

  // ---- cdc: a keyed change log with hot keys and redeliveries -------------

  final case class Change(uuid: Array[Byte], op: String, values: Seq[Any],
                          bytes: Array[Byte], redelivery: Boolean)

  /** File 0 creates `keys` events; each later file carries `perFile`
    * changes (60% updates, a third of them to the 1% hot keys; 20%
    * creates; 20% deletes) plus redelivered copies of 2% of recent
    * messages. Every change carries a later `ts` than the one before it.
    * Envelope timestamps are those of a publisher sending 1 000 messages
    * a second, so the whole log lies within the dedup horizon. */
  def cdcLog(seed: Long, keys: Int, files: Int, perFile: Int, ids: Ids): Seq[Seq[Change]] = {
    val r = rnd(seed, 3, 0)
    val live = mutable.ArrayBuffer.empty[Long]
    val pos = mutable.HashMap.empty[Long, Int]
    val image = mutable.HashMap.empty[Long, Seq[Any]]
    var n = 0L
    var nextId = 0L
    val hot = math.max(1, keys / 100)
    def nextTs(): Long = { val t = tsOf(r, n); n += 1; t }
    def msg(op: String, values: Seq[Any]): Change = {
      val uuid = Wire.uuid4(r)
      val mt = op match { case "c" => "create"; case "u" => "update"; case _ => "delete" }
      val p = Wire.encode(Wire.v1, Wire.payload(Wire.v1, values))
      Change(uuid, op, values,
        Wire.pack(Wire.Env(uuid, mt, ids.v1, p, None, None, envSeconds(StartUs) + (n / 1000).toInt)),
        false)
    }
    def create(): Change = {
      val id = nextId; nextId += 1
      val v = event(r, id, nextTs(), r.nextInt(Users).toLong)
      pos(id) = live.size; live += id; image(id) = v
      msg("c", v)
    }
    def remove(id: Long): Unit = {
      val p = pos.remove(id).get
      val last = live.remove(live.size - 1)
      if (last != id) { live(p) = last; pos(last) = p }
      image.remove(id)
    }
    val bootstrap = Seq.fill(keys)(create())
    val out = mutable.ArrayBuffer[Seq[Change]](bootstrap)
    var recent: IndexedSeq[Change] = bootstrap.takeRight(perFile).toIndexedSeq
    for (_ <- 1 to files) {
      val fresh = mutable.ArrayBuffer.empty[Change]
      for (_ <- 0 until perFile) {
        val p = r.nextInt(100)
        if (p < 60 && live.nonEmpty) {
          // hot keys are never deleted, so a hot pick is always live
          val id = if (r.nextInt(3) == 0) r.nextInt(hot).toLong else live(r.nextInt(live.size))
          val v = event(r, id, nextTs(), image(id)(2).asInstanceOf[Long])
          image(id) = v
          fresh += msg("u", v)
        } else if (p < 80 || live.size <= hot) fresh += create()
        else {
          var id = live(r.nextInt(live.size))
          while (id < hot) id = live(r.nextInt(live.size))
          val v = image(id).updated(Wire.TsPos, nextTs())
          remove(id)
          fresh += msg("d", v)
        }
      }
      val pool = recent ++ fresh
      val redelivered = Seq.fill(perFile / 50)(pool(r.nextInt(pool.size)).copy(redelivery = true))
      val file = mutable.ArrayBuffer.empty[Change] ++ fresh
      redelivered.foreach(d => file.insert(r.nextInt(file.size + 1), d))
      out += file.toSeq
      recent = fresh.toIndexedSeq
    }
    out.toSeq
  }

  def cdcWrite(spark: SparkSession, log: Seq[Seq[Change]], dir: String): Unit = {
    val parts = log.zipWithIndex.map { case (f, i) => (i, f.map(_.bytes)) }
    val rdd = spark.sparkContext.parallelize(parts, parts.size)
      .flatMap(_._2.map(b => Row(b)))
    writeParts(spark, rdd, TransportType, dir)
  }

  /** The expected table: the log folded in order, each uuid applied once,
    * creates and updates storing the row image and deletes removing it. */
  def cdcFold(log: Seq[Seq[Change]]): Seq[Row] = {
    val seen = mutable.HashSet.empty[java.nio.ByteBuffer]
    val table = mutable.LinkedHashMap.empty[Long, Seq[Any]]
    for (file <- log; c <- file.sortBy(_.values(Wire.TsPos).asInstanceOf[Long]))
      if (seen.add(java.nio.ByteBuffer.wrap(c.uuid))) {
        val id = c.values.head.asInstanceOf[Long]
        if (c.op == "d") table.remove(id) else table(id) = c.values
      }
    table.values.map(Row.fromSeq).toSeq
  }
}
