package pipebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._
import graft.refresh.CdcMerge
import graft.streaming.{Encryption, Pipeline, StreamingCdc}

/** Per-layer probes of the traced run: each calls one public function of
  * the program over a cached, batch-sized frame of the workload's own
  * rows, forces every output column through a noop sink, and is timed as
  * a traced call (one untimed warm-up, then [[Probes.Reps]] timed calls). */
final class Probes(env: Env) {
  import env._
  val values = mutable.LinkedHashMap.empty[String, Double]
  private val reg = registry

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.repartition(args.cores).persist()
    (c, c.count())
  }

  /** Timed calls of `body`, recorded as spans named `name`. */
  private def time(name: String, rows: Long)(body: => Unit): Unit = {
    body
    for (_ <- 1 to Probes.Reps) tracer.call(spark, name, Map("rows" -> rows.toDouble))(body)
  }

  private def rate(name: String, df: DataFrame, rows: Long): Unit = time(name, rows)(noop(df))

  def runAll(payloadRows: DataFrame, transportRows: DataFrame,
             snapshotRows: DataFrame, changeRows: DataFrame): Unit = {
    val (p, n) = cached(payloadRows)
    val (t, nt) = cached(transportRows)
    val payload = struct(Wire.V1Names.map(col): _*)
    val v1 = reg.v1

    values("functions.wire_bytes_per_msg") =
      t.agg(avg(length(col("value")))).head().getDouble(0)
    rate("functions.encode_payload", p.select(encode_payload(payload, v1.schemaJson)), n)
    rate("functions.uuid4", p.select(uuid4_binary()), n)
    val (enc, _) = cached(p.select(uuid4_binary(7L).as("uuid"), (col("ts") / 1000000L).cast("long").as("ts"),
      encode_payload(payload, v1.schemaJson).as("pb"), lit(v1.schemaId).as("sid")))
    rate("functions.pack_envelope", enc.select(Pipeline.envelopeForBytes(col("pb"), "create",
      v1.schemaId, col("ts"), uuid = col("uuid"))), n)
    rate("functions.unpack_envelope", t.select(unpack_envelope(col("value"))), nt)
    rate("functions.decode_payload",
      enc.select(decode_payload(col("pb"), col("sid"), reg.reg, v1.schemaId)), n)
    rate("schema.evolved_decode",
      enc.select(decode_payload(col("pb"), col("sid"), reg.reg, reg.v2.schemaId)), n)
    rate("streaming.encrypt", Encryption.encryptDF(enc.select("pb"), "pb", Wire.Key, Wire.KeyId,
      reg.iv.schemaId), n)
    val (ct, _) = cached(Encryption.encryptDF(enc.select("pb"), "pb", Wire.Key, Wire.KeyId,
      reg.iv.schemaId))
    rate("streaming.decrypt", ct.select(Encryption.decrypt(col("pb"), col("encryption_type"),
      col("meta"), reg.iv.schemaId, reg.keys)), n)
    time("streaming.dead_letter_split", nt) {
      val (ok, dead) = Pipeline.consumeEncryptedWithDeadLetters(t, reg.reg, reg.v2.schemaId,
        reg.keys, reg.iv.schemaId)
      noop(ok)
      noop(dead)
    }

    val (snap, _) = cached(snapshotRows)
    val (chg, nc) = cached(changeRows)
    val payloadCols = Wire.V1Names.tail
    rate("refresh.latest_changes", CdcMerge.latestChanges(chg, "event_id", Seq("ts")), nc)
    rate("refresh.apply_cdc", CdcMerge.applyCdc(snap, chg, "event_id", Seq("ts"), "op", payloadCols), nc)
    val statePath = dir("probe-cdc-state")
    StreamingCdc.processBatch(snap.withColumn("op", lit("u")), 0L, statePath, "event_id", Seq("ts"),
      "op", payloadCols)
    var batchId = 0L
    time("streaming.cdc_process_batch", nc) {
      batchId += 1
      StreamingCdc.processBatch(chg, batchId, statePath, "event_id", Seq("ts"), "op", payloadCols)
    }
    val latest = new File(statePath, s"v_$batchId")
    values("streaming.cdc_snapshot_rows") =
      StreamingCdc.currentState(spark, statePath, Gen.V1Type).count().toDouble
    values("streaming.cdc_snapshot_mb") = Option(latest.listFiles()).getOrElse(Array.empty[File])
      .map(_.length()).sum / (1024.0 * 1024.0)
    Seq(p, t, enc, ct, snap, chg).foreach(_.unpersist())
    org.apache.spark.PipebenchBridge.drainListenerBus(spark.sparkContext)
  }
}

object Probes {
  val Reps = 3
}

/** Per-layer metrics, all derived from the span list the traced run
  * writes (plus exact counts from the output checks). */
object Layers {
  def metrics(spans: Seq[Span], counts: Map[String, Double],
              tracedRowsPerS: Double, timedRounds: Int): Seq[(String, Double, String)] = {
    val byName = spans.groupBy(_.name)
    val kids = spans.groupBy(_.parent)
    def desc(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c => c +: desc(c))
    def callRate(n: String): Double =
      Stats.median(byName.getOrElse(n, Nil).map(s => s.attrs("rows") / (s.dur / 1000.0)))
    def callMs(n: String): Double = Stats.median(byName.getOrElse(n, Nil).map(_.dur))

    val timed = byName.getOrElse("batch", Nil).filter(_.tags("timed") == "true")
    val rows = timed.map(_.attrs("rows")).sum
    val noData = timed.filter(_.attrs("rows") == 0)
    def phase(b: Span, ph: String): Double =
      kids.getOrElse(b.id, Nil).find(_.name == s"phase.$ph").map(_.dur).getOrElse(0.0)
    def medianOver(f: Span => Double): Double = Stats.median(timed.map(f))
    val under = timed.map(b => b -> desc(b)).toMap
    def stagesOf(b: Span) = under(b).filter(_.name == "stage")
    def stageSum(key: String): Double = timed.flatMap(stagesOf).map(_.attrs(key)).sum
    val mb = 1024.0 * 1024.0

    Seq(
      ("functions.encode_payload_rows_per_s", callRate("functions.encode_payload"), "1/s"),
      ("functions.pack_envelope_rows_per_s", callRate("functions.pack_envelope"), "1/s"),
      ("functions.uuid4_rows_per_s", callRate("functions.uuid4"), "1/s"),
      ("functions.unpack_envelope_rows_per_s", callRate("functions.unpack_envelope"), "1/s"),
      ("functions.decode_payload_rows_per_s", callRate("functions.decode_payload"), "1/s"),
      ("functions.wire_bytes_per_msg", counts("functions.wire_bytes_per_msg"), "bytes"),
      ("schema.evolved_decode_rows_per_s", callRate("schema.evolved_decode"), "1/s"),
      ("streaming.encrypt_rows_per_s", callRate("streaming.encrypt"), "1/s"),
      ("streaming.decrypt_rows_per_s", callRate("streaming.decrypt"), "1/s"),
      ("streaming.dead_letter_split_ms", callMs("streaming.dead_letter_split"), "ms"),
      ("streaming.cdc_process_batch_ms", callMs("streaming.cdc_process_batch"), "ms"),
      ("streaming.cdc_snapshot_rows", counts("streaming.cdc_snapshot_rows"), "count"),
      ("streaming.cdc_snapshot_mb", counts("streaming.cdc_snapshot_mb"), "MB"),
      ("streaming.dead_letters", counts.getOrElse("streaming.dead_letters", 0.0), "count"),
      ("streaming.redeliveries_dropped",
        counts.getOrElse("streaming.redeliveries_dropped", 0.0), "count"),
      ("refresh.latest_changes_ms", callMs("refresh.latest_changes"), "ms"),
      ("refresh.apply_cdc_ms", callMs("refresh.apply_cdc"), "ms")) ++
      Batches.Phases.map(ph => (s"microbatch.${ph}_ms", medianOver(phase(_, ph)), "ms")) ++
      Seq(
        ("microbatch.overhead_ms", medianOver(b => b.dur - phase(b, "addBatch")), "ms"),
        ("microbatch.timed_batches", timed.size.toDouble, "count"),
        ("microbatch.nodata_batches_per_round", noData.size.toDouble / timedRounds, "count"),
        ("microbatch.nodata_batch_ms",
          if (noData.isEmpty) 0.0 else Stats.median(noData.map(_.dur)), "ms"),
        ("microbatch.state_rows", medianOver(_.attrs("state_rows")), "count"),
        ("microbatch.state_memory_mb", medianOver(_.attrs("state_memory_bytes")) / mb, "MB"),
        ("microbatch.state_commit_ms", medianOver(_.attrs("state_commit_ms")), "ms"),
        ("spark.jobs_per_batch", medianOver(b => under(b).count(_.name == "job").toDouble), "count"),
        ("spark.stages_per_batch", medianOver(b => stagesOf(b).size.toDouble), "count"),
        ("spark.tasks_per_batch", medianOver(b => stagesOf(b).map(_.attrs("tasks")).sum), "count"),
        ("spark.executor_cpu_ms_per_mrow", stageSum("executor_cpu_ms") / rows * 1e6, "ms"),
        ("spark.executor_run_ms_per_mrow", stageSum("executor_run_ms") / rows * 1e6, "ms"),
        ("spark.gc_ms_per_mrow", stageSum("gc_ms") / rows * 1e6, "ms"),
        ("spark.shuffle_write_mb_per_batch", stageSum("shuffle_write_bytes") / mb / timed.size, "MB"),
        ("spark.spill_mb", stageSum("spill_bytes") / mb, "MB"),
        ("spark.output_mb_per_batch", stageSum("output_bytes") / mb / timed.size, "MB"),
        ("trace.rows_per_s", tracedRowsPerS, "1/s"))
  }
}
