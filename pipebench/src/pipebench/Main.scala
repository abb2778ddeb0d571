package pipebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.schema.SchemaRegistry
import graft.streaming.Encryption

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --work <dir>`. Prints one JSON object as its last stdout
  * line; see README.md for what each workload and metric means. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: File)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, new File(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = try {
      val spark = SparkSession.builder()
        .master(s"local[${args.cores}]")
        .appName(s"pipebench-${args.workload}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", args.cores.toString)
        // a backlog file is a few MB; at the default 4 MB open cost it
        // splits into fewer tasks than there are cores
        .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
        .config("spark.local.dir", new File(args.work, "local").getPath)
        .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val env = Env(spark, args, Registry(), new Tracer(args.trace))
      val sessionReady = System.currentTimeMillis()
      val w: Workload = args.workload match {
        case "publish" => new Publish(env)
        case "consume" => new Consume(env)
        case "cdc_materialize" => new CdcMaterialize(env)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = Runner.run(env, w, (sessionReady - jvmStart) / 1000.0)
      spark.stop()
      result
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.out.flush()
        Runtime.getRuntime.halt(1)
        ""
    }
    println(out)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}

/** The registry every workload registers at set-up: the events table in
  * two compatible versions, its PII twin and the IV meta schema. */
final case class Registry() {
  val reg = new SchemaRegistry
  val v1: SchemaRegistry#SchemaEntry = reg.registerSchema("bench.app", "events", Wire.PayloadV1Json)
  val v2: SchemaRegistry#SchemaEntry = reg.registerSchema("bench.app", "events", Wire.PayloadV2Json)
  val pii: SchemaRegistry#SchemaEntry =
    reg.registerSchema("bench.app", "events_pii", Wire.PayloadV1Json, containsPii = true)
  val iv: SchemaRegistry#SchemaEntry = Encryption.registerIvSchema(reg)
  require(v1.topicName == v2.topicName, "v1 and v2 must share a topic")
  val ids: Gen.Ids = Gen.Ids(v1.schemaId, v2.schemaId, pii.schemaId, iv.schemaId)
  val keys: Map[Int, String] = Map(Wire.KeyId -> Wire.Key)
}

final case class Env(spark: SparkSession, args: Main.Args, registry: Registry, tracer: Tracer) {
  def dir(name: String): String = new File(args.work, name).getPath
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Outcome of checking every output of a run against the generator. */
final case class Check(attempted: Long, failed: Long, correct: Boolean, notes: Seq[String],
                       counts: Map[String, Double] = Map.empty)

/** One workload: a backlog generated once, and one long-running query
  * that the runner feeds the backlog round after round. */
trait Workload {
  /** Write the backlog; the program sees nothing but these files. */
  def generate(): Unit
  /** Start the query over the feed directory, empty at that point. */
  def start(feed: String): StreamingQuery
  /** The backlog files a round feeds (round 0 is the warm-up), with the
    * messages in each. Each file is one micro-batch. A batch's message
    * count comes from here, since a plan that scans its source twice
    * reports every input row twice in its progress. */
  def roundFiles(round: Int): Seq[(File, Long)]
  /** The last round the backlog has files for. */
  def maxRound: Int = Int.MaxValue
  /** Check the outputs of rounds 0 to `rounds.last` (all of them). */
  def check(rounds: Seq[Runner.RoundRec]): Check
  /** Per-layer probes over batch-sized frames of this workload's own rows. */
  def probes(p: Probes): Unit
}

object Runner {
  final case class RoundRec(round: Int, batches: Seq[Batch], wallS: Double)

  def run(env: Env, w: Workload, sessionS: Double): String = {
    import env._
    val genStart = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - genStart) / 1e9
    System.err.println(f"[pipebench] generated backlog in $genS%.1f s")
    val listener = new JobListener(tracer)
    if (tracer.on) spark.sparkContext.addSparkListener(listener)

    val feed = new Feed(env)
    val t0 = System.nanoTime()
    val q = w.start(feed.dir.getPath)
    // warm-up round: JIT, generated code and file-system caches
    val warm = feed.round(q, w, 0, timed = false)
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    var rounds = Vector(warm)
    var measured = 0.0
    while (measured < args.seconds && rounds.size <= w.maxRound) {
      val r = feed.round(q, w, rounds.size, timed = true)
      rounds :+= r
      measured += r.wallS
    }
    val heap = retainedHeap()
    q.stop()
    q.exception.foreach(throw _)
    val c0 = System.nanoTime()
    val check = w.check(rounds)
    System.err.println(f"[pipebench] checked in ${(System.nanoTime() - c0) / 1e9}%.1f s")
    val timed = rounds.flatMap(_.batches).filter(_.timed)
    require(timed.nonEmpty, "no timed batches")
    val rowsPerS = timed.map(_.rows).sum / (timed.map(_.ms).sum / 1000.0)
    check.notes.foreach(n => System.err.println(s"[pipebench] check: $n"))
    System.err.println(f"[pipebench] session $sessionS%.2f s, warm-up round ${warm.wallS}%.2f s, " +
      f"${rounds.size - 1} timed rounds, ${timed.size} timed batches, measured $measured%.1f s")

    val metrics: Seq[(String, Double, String)] =
      if (!tracer.on) Seq(
        ("rows_per_s", rowsPerS, "1/s"),
        ("batch_ms_p50", Stats.median(timed.map(_.ms)), "ms"),
        ("peak_heap_mb", heap / (1024.0 * 1024.0), "MB"),
        ("setup_s", setupS, "s"))
      else {
        val probes = new Probes(env)
        w.probes(probes)
        spark.sparkContext.removeSparkListener(listener)
        val traceFile = new File(env.args.work.getParentFile,
          s"trace-${args.workload}-${args.seed}.json")
        val spans = tracer.finish(listener.jobs.asScala.toSeq, listener.stages.asScala.toSeq,
          traceFile)
        System.err.println(s"[pipebench] trace written to $traceFile")
        Layers.metrics(spans, probes.values.toMap ++ check.counts, rowsPerS, rounds.size - 1)
      }
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${check.correct}, "attempted": ${check.attempted}, "failed": ${check.failed}, "metrics": {$body}}"""
  }

  /** Heap still in use after full collections, taken once after the
    * last timed round with the query still running: what the pipeline
    * holds on to, its state included. (Heap used before a collection
    * mostly shows when the collector last ran, and a run this short
    * rarely collects the old generation.) Spark's cleaner frees the
    * blocks of unpersisted or unreachable data only after a collection
    * has found them, and asynchronously, so collections repeat until the
    * heap in use stops falling. */
  private def retainedHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = collect()
    var tries = 0
    var settled = false
    while (!settled && tries < 20) {
      Thread.sleep(200)
      val now = collect()
      settled = last - now < (1 << 20)
      last = math.min(last, now)
      tries += 1
    }
    last
  }

  /** The directory the query reads. A round copies its backlog files in
    * under fresh names, with modification times that keep feed order
    * (the file source reads oldest first), each file renamed into place
    * whole, then waits until the query has processed all of them. */
  final class Feed(env: Env) {
    val dir = new File(env.dir("feed"))
    private val staging = new File(env.dir("feed-staging"))
    dir.mkdirs(); staging.mkdirs()
    private val base = System.currentTimeMillis() - 3600 * 1000L
    private var fed = 0
    private var seen = 0

    def round(q: StreamingQuery, w: Workload, round: Int, timed: Boolean): RoundRec = {
      val files = w.roundFiles(round)
      val staged = files.map { case (f, _) =>
        val s = new File(staging, f"r$round%03d-$fed%05d.parquet")
        java.nio.file.Files.copy(f.toPath, s.toPath)
        s.setLastModified(base + fed * 1000L)
        fed += 1
        s
      }
      val t0 = System.nanoTime()
      staged.foreach(s => java.nio.file.Files.move(s.toPath, new File(dir, s.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE))
      q.processAllAvailable()
      val wallS = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(throw _)
      if (env.tracer.on) org.apache.spark.PipebenchBridge.drainListenerBus(env.spark.sparkContext)
      // the micro-batches this round ran (the list keeps the last 1000;
      // a trigger that found nothing to do reports no addBatch), those
      // that read no file included: on a timed round all of them are timed
      val all = q.recentProgress
      val ps = all.toSeq.drop(seen).filter(_.durationMs.containsKey("addBatch"))
      seen = all.length
      val data = ps.filter(_.numInputRows > 0)
      require(data.size == files.size,
        s"round $round was read in ${data.size} data batches, expected ${files.size}")
      val messages = data.map(_.batchId).zip(files.map(_._2)).toMap
      val batches = ps.map { p =>
        Batches.of(p, round, timed).copy(rows = messages.getOrElse(p.batchId, 0L))
      }
      ps.zip(batches).foreach { case (p, b) => env.tracer.batch(p, b) }
      System.err.println(f"[pipebench] round $round: $wallS%.2f s, batches (messages/ms) " +
        batches.map(b => s"${b.rows}/${b.ms.toLong}").mkString(" "))
      RoundRec(round, batches, wallS)
    }
  }
}
