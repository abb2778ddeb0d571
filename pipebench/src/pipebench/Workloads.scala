package pipebench

import java.io.File

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.encode_payload
import graft.streaming.{Encryption, Pipeline, StreamingCdc}

/** Outcomes compared as multisets of 64-bit fingerprints, computed by
  * the benchmark's own code on both sides and diffed in this process. */
object Compare {
  /** Fingerprint of a tuple of values: two independently seeded 32-bit
    * hashes, with byte arrays and strings hashed by content under each
    * seed (their own `hashCode` would cap the fingerprint at 32 bits). */
  def fp(values: Seq[Any]): Long = {
    def h(seed: Int): Int = {
      var acc = seed
      values.foreach { v =>
        acc = MurmurHash3.mix(acc, v match {
          case b: Array[Byte] => MurmurHash3.bytesHash(b, seed)
          case s: String => MurmurHash3.stringHash(s, seed)
          case x => x.##
        })
      }
      MurmurHash3.finalizeHash(acc, values.size)
    }
    (h(0x3c074a61).toLong << 32) | (h(0x5f356495).toLong & 0xffffffffL)
  }

  /** (expected but not produced, produced but not expected); both sorted. */
  def diff(expected: Array[Long], actual: Array[Long]): (Long, Long) = {
    var i = 0; var j = 0; var missing = 0L; var extra = 0L
    while (i < expected.length || j < actual.length) {
      if (j == actual.length || (i < expected.length && expected(i) < actual(j))) { missing += 1; i += 1 }
      else if (i == expected.length || actual(j) < expected(i)) { extra += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    (missing, extra)
  }

  /** Collect per-row values as one primitive array per partition. */
  def collect(rdd: org.apache.spark.rdd.RDD[Long]): Array[Long] =
    rdd.mapPartitions(it => Iterator(it.toArray)).collect().flatten

  /** [[collect]] for pairs: the firsts and the seconds. */
  def collect2(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): (Array[Long], Array[Long]) = {
    val parts = rdd.mapPartitions { it =>
      val a = Array.newBuilder[Long]; val b = Array.newBuilder[Long]
      it.foreach { case (x, y) => a += x; b += y }
      Iterator((a.result(), b.result()))
    }.collect()
    (parts.flatMap(_._1), parts.flatMap(_._2))
  }

  /** Number of repeated values in a sorted array. */
  def repeats(sorted: Array[Long]): Long =
    (1 until sorted.length).count(i => sorted(i) == sorted(i - 1)).toLong
}

/** Backlog files of one directory in file order, with their messages. */
object Backlog {
  def files(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq

  /** `n` copies of every fingerprint, sorted: the expected outcomes of
    * feeding the same backlog `n` times. */
  def times(fps: Array[Long], n: Int): Array[Long] = Array.fill(n)(fps).flatten.sorted
}

/** `publish`: events rows, the signup events on the PII topic, through
  * `Pipeline.produce`, and through `Encryption.encryptDF` +
  * `Pipeline.envelopeForBytes` for the PII share, into a parquet sink. */
final class Publish(env: Env) extends Workload {
  import env._
  val Files = 4
  val PerFile = 200000
  private val in = dir("publish-in")
  private val sink = dir("publish-out")
  private val reg = registry
  /** Fingerprints of (event values, pii) of every backlog row. */
  private var expected: Array[Long] = _

  def generate(): Unit = expected = Gen.publish(spark, args.seed, Files, PerFile, in)

  // every round, the warm-up round too, feeds the whole backlog
  def roundFiles(round: Int): Seq[(File, Long)] = Backlog.files(in).map(_ -> PerFile.toLong)

  def start(feed: String): StreamingQuery = {
    val src = spark.readStream.schema(Gen.V1Type)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val payload = struct(Wire.V1Names.map(col): _*)
    val pii = col("event_type") === Gen.PiiType
    val seconds = (col("ts") / 1000000L).cast("long")
    val plain = Pipeline.produce(src.filter(!pii), payload, "create", reg.v1, seconds, reg.reg)
    val encrypted = Encryption.encryptDF(
      src.filter(pii).select(seconds.as("ts"), Pipeline.keyFor(payload, reg.pii).as("key"),
        encode_payload(payload, reg.pii.schemaJson).as("pb")),
      "pb", Wire.Key, Wire.KeyId, reg.iv.schemaId)
      .select(lit(reg.pii.topicName).as("topic"), col("key"),
        Pipeline.envelopeForBytes(col("pb"), "create", reg.pii.schemaId, col("ts"),
          meta = Some(col("meta")), encryptionType = Some(col("encryption_type"))).as("value"))
    plain.unionByName(encrypted).writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", dir("publish-ck")).start()
  }

  def check(rounds: Seq[Runner.RoundRec]): Check = {
    val ids = reg.ids
    val piiTopic = reg.pii.topicName
    // per valid row: its uuid fingerprint and its content fingerprint
    val (uuids, rows) = Compare.collect2(spark.read.parquet(sink).select("topic", "key", "value")
      .rdd.flatMap(row => PublishCheck.decode(row, ids, piiTopic)))
    val (missing, extra) = Compare.diff(Backlog.times(expected, rounds.size), rows.sorted)
    val dupUuids = Compare.repeats(uuids.sorted)
    val attempted = rounds.size.toLong * Files * PerFile
    val failed = math.min(attempted, math.max(missing, extra) + dupUuids)
    Check(attempted, failed, failed == 0,
      if (failed == 0) Nil
      else Seq(s"publish: $missing missing, $extra unexpected, $dupUuids repeated uuids"))
  }

  def probes(p: Probes): Unit = {
    val payload = spark.read.parquet(in).filter(col("event_id") < PerFile)
    val transport = spark.read.parquet(sink).select("value").limit(PerFile)
    p.runAll(payload, transport, payload, payload.withColumn("op", lit("u")))
  }
}

/** Output checks for `publish`, made with [[Wire]] alone. */
object PublishCheck {
  /** (uuid fingerprint, fingerprint of (event values, pii)) of a sink
    * row, or nothing when its envelope, key, uuid, encryption or payload
    * is not what the producer contract asks for. */
  def decode(row: Row, ids: Gen.Ids, piiTopic: String): Option[(Long, Long)] =
    try {
      val pii = row.getString(0) == piiTopic
      val env = Wire.unpack(row.getAs[Array[Byte]](2))
      val plain = env.encryptionType match {
        case Some(Wire.EncryptionType) =>
          val (sid, iv) = env.iv.get
          require(sid == ids.iv && iv.length == 16, "IV meta attribute")
          Wire.decrypt(env.payload, iv)
        case Some(other) => throw new IllegalStateException(s"encryption $other")
        case None => env.payload
      }
      val rec = Wire.decode(Wire.v1, Wire.v1, plain)
      val key = Wire.decode(Wire.key, Wire.key, row.getAs[Array[Byte]](1)).get(0)
      val ok = Wire.isUuid4(env.uuid) && key == rec.get(0) &&
        env.schemaId == (if (pii) ids.pii else ids.v1) &&
        env.encryptionType.isDefined == pii && env.messageType == "create"
      if (ok) Some((Compare.fp(Seq(env.uuid)), Compare.fp(Wire.values(rec) :+ pii))) else None
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** `consume`: transport rows written under two schema versions, the
  * signup events encrypted, with 1% planted of each dead-letter class, through
  * `Pipeline.consumeEncryptedWithDeadLetters` in `foreachBatch` into a
  * good and a dead parquet sink. */
final class Consume(env: Env) extends Workload {
  import env._
  val Files = 4
  val PerFile = 200000
  private val in = dir("consume-in")
  private val good = dir("consume-good")
  private val dead = dir("consume-dead")
  private val reg = registry
  /** Fingerprints of every message's expected outcome: ("good", uuid,
    * v2 values with reader defaults) or (dead class, transport bytes). */
  private var expected: Array[Long] = _

  def generate(): Unit = expected = Gen.consume(spark, args.seed, Files, PerFile, reg.ids, in)

  // every round, the warm-up round too, feeds the whole backlog
  def roundFiles(round: Int): Seq[(File, Long)] = Backlog.files(in).map(_ -> PerFile.toLong)

  def start(feed: String): StreamingQuery =
    spark.readStream.schema(Gen.TransportType).option("maxFilesPerTrigger", 1).parquet(feed)
      .writeStream.option("checkpointLocation", dir("consume-ck"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tracer.call(spark, "streaming.consume_batch",
          tags = Map("query" -> batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId"), "batch" -> batchId.toString)) {
          val (ok, dl) = Pipeline.consumeEncryptedWithDeadLetters(batch, reg.reg,
            reg.v2.schemaId, reg.keys, reg.iv.schemaId)
          ok.select(col("uuid") +: Wire.V2Names.map(n => col(s"payload.$n").as(n)): _*)
            .write.mode("append").parquet(good)
          dl.select("raw_envelope").write.mode("append").parquet(dead)
        }
        ()
      }
      .start()

  def check(rounds: Seq[Runner.RoundRec]): Check = {
    val ids = reg.ids
    val goodFps = Compare.collect(spark.read.parquet(good).rdd
      .map(row => Compare.fp("good" +: row.toSeq)))
    val deadRows = spark.read.parquet(dead).rdd.map { row =>
      val raw = row.getAs[Array[Byte]](0)
      val c = ConsumeCheck.classify(raw, ids)
      (c, Compare.fp(Seq(c, raw)))
    }.collect()
    val (missing, extra) = Compare.diff(Backlog.times(expected, rounds.size),
      (goodFps ++ deadRows.map(_._2)).sorted)
    val perClass = deadRows.groupBy(_._1).map { case (c, xs) => c -> xs.length.toLong }
    val attempted = rounds.size.toLong * Files * PerFile
    val planted = attempted / 100
    val classOk = perClass.keySet == Gen.DeadClasses.toSet && perClass.values.forall(_ == planted)
    val failed = math.min(attempted, math.max(missing, extra))
    Check(attempted, failed, failed == 0 && classOk,
      (if (failed == 0) Nil else Seq(s"consume: $missing missing, $extra unexpected")) ++
        (if (classOk) Nil else Seq(s"consume: dead letters per class $perClass, planted $planted each")),
      // per round, as every round feeds the same backlog
      Map("streaming.dead_letters" -> perClass.values.sum.toDouble / rounds.size))
  }

  def probes(p: Probes): Unit = {
    val payload = Gen.consumeGood(spark, args.seed, PerFile, reg.ids)
      .select(Wire.V1Names.map(col): _*)
    val transport = spark.read.parquet(in).limit(PerFile)
    p.runAll(payload, transport, payload, payload.withColumn("op", lit("u")))
  }
}

/** Output checks for `consume`, made with [[Wire]] alone. */
object ConsumeCheck {
  /** The dead-letter class of a transport message, judged independently. */
  def classify(raw: Array[Byte], ids: Gen.Ids): String =
    try {
      val env = Wire.unpack(raw)
      if (env.schemaId != ids.v1 && env.schemaId != ids.v2) Gen.UnknownSchema
      else if (env.encryptionType.exists(_ != Wire.EncryptionType)) Gen.UnknownKey
      else Gen.CorruptPayload
    } catch { case scala.util.control.NonFatal(_) => Gen.CorruptTransport }
}

/** `cdc_materialize`: a keyed change log through `Pipeline.consume` →
  * `Pipeline.dedupeEffectivelyOnce` → `StreamingCdc.materialize`. The
  * log's first file creates the table; every later file is one small
  * batch of changes to it. Unlike the other workloads, each round feeds
  * the next stretch of the log, since a replayed change carries a uuid
  * the query has already seen and would be dropped. */
final class CdcMaterialize(env: Env) extends Workload {
  import env._
  val Keys = 100000
  val PerFile = 5000
  val WarmupFiles = 5
  val RoundFiles = 4
  override val maxRound = 4
  private val in = dir("cdc-in")
  private val state = dir("cdc-state")
  private val reg = registry
  private lazy val log = Gen.cdcLog(args.seed, Keys, WarmupFiles + maxRound * RoundFiles,
    PerFile, reg.ids)

  def generate(): Unit = Gen.cdcWrite(spark, log, in)

  /** Round 0 feeds the table load and the first change files. */
  private def range(round: Int): Range =
    if (round == 0) 0 to WarmupFiles
    else (1 + WarmupFiles + (round - 1) * RoundFiles) until (1 + WarmupFiles + round * RoundFiles)

  def roundFiles(round: Int): Seq[(File, Long)] = {
    val files = Backlog.files(in)
    range(round).map(i => files(i) -> log(i).size.toLong)
  }

  def start(feed: String): StreamingQuery = {
    val src = spark.readStream.schema(Gen.TransportType).option("maxFilesPerTrigger", 1).parquet(feed)
    val deduped = Pipeline.dedupeEffectivelyOnce(
      Pipeline.consume(src, reg.reg, reg.v1.schemaId), "1 hour")
    val changes = deduped.select(Wire.V1Names.map(n => col(s"payload.$n").as(n)) :+
      when(col("message_type") === "delete", lit("d")).otherwise(lit("u")).as("op"): _*)
    // materialize() takes no trigger: the query runs the default one, and
    // each round waits for it with processAllAvailable()
    StreamingCdc.materialize(changes, state, dir("cdc-ck"), "event_id", Seq("ts"), "op",
      Wire.V1Names.tail)
  }

  def check(rounds: Seq[Runner.RoundRec]): Check = {
    val fed = log.take(range(rounds.last.round).last + 1)
    val expected = Gen.cdcFold(fed).map(r => Compare.fp(r.toSeq)).toArray.sorted
    val table = Compare.collect(StreamingCdc.currentState(spark, state, Gen.V1Type)
      .select(Wire.V1Names.map(col): _*).rdd.map(row => Compare.fp(row.toSeq)))
    val (missing, extra) = Compare.diff(expected, table.sorted)
    val attempted = fed.map(_.size.toLong).sum
    val failed = math.min(attempted, math.max(missing, extra))
    val planted = fed.flatten.count(_.redelivery)
    val dropped = rounds.flatMap(_.batches).map(_.droppedDuplicates).sum
    Check(attempted, failed, failed == 0 && dropped == planted,
      (if (failed == 0) Nil else Seq(s"cdc: $missing table rows missing, $extra unexpected")) ++
        (if (dropped == planted) Nil else Seq(s"cdc: $dropped redeliveries dropped, $planted planted")),
      Map("streaming.redeliveries_dropped" -> dropped.toDouble))
  }

  def probes(p: Probes): Unit = {
    val schema = StructType(Gen.V1Type.fields :+ StructField("op", StringType))
    def frame(rows: Seq[Row], t: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, args.cores), t)
    val snapshot = frame(log.head.map(c => Row.fromSeq(c.values)), Gen.V1Type)
    val changes = frame(log(1).filterNot(_.redelivery)
      .map(c => Row.fromSeq(c.values :+ (if (c.op == "d") "d" else "u"))), schema)
    val transport = frame(log(1).map(c => Row(c.bytes)), Gen.TransportType)
    p.runAll(snapshot, transport, snapshot, changes)
  }
}
