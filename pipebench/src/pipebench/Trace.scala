package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One traced interval. `parent` is the span that caused it (0 = none);
  * times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      tags: Map[String, String], attrs: Map[String, Double]) {
  def dur: Double = end - start
}

/** In-memory span store, written as JSON when the run ends. Spans come
  * from three places, all in the benchmark's own code: the progress of
  * each micro-batch and its phases, Spark's job and stage events, and
  * the calls the benchmark makes into the program's layers. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  val SpanProperty = "pipebench.span"

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as a span named `name`; jobs it starts become its
    * children through a thread-local Spark property. */
  def call[T](spark: SparkSession, name: String, attrs: Map[String, Double] = Map.empty,
              tags: Map[String, String] = Map.empty)(body: => T): T = {
    if (!on) return body
    val id = nextId()
    val parent = current.get()
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProperty)
    current.set(id)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis().toDouble
    try body
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      sc.setLocalProperty(SpanProperty, prevProp)
      current.set(parent)
      spans.add(Span(id, parent, name, w0, w0 + ms, tags, attrs))
    }
  }

  /** A finished micro-batch as a span with one child per phase, laid out
    * in the order the micro-batch engine runs them. */
  def batch(p: StreamingQueryProgress, b: Batch): Unit = if (on) {
    val id = nextId()
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = b.durMs
    spans.add(Span(id, 0, "batch", start, start + b.ms,
      Map("query" -> p.id.toString, "batch" -> p.batchId.toString, "round" -> b.round.toString,
        "timed" -> b.timed.toString),
      Map("rows" -> b.rows.toDouble, "state_rows" -> b.stateRows.toDouble,
        "state_memory_bytes" -> b.stateMemory.toDouble, "state_commit_ms" -> b.stateCommitMs,
        "dropped_duplicates" -> b.droppedDuplicates.toDouble)))
    var t = start
    for (ph <- Batches.Phases; v <- d.get(ph)) {
      spans.add(Span(nextId(), id, s"phase.$ph", t, t + v, Map.empty, Map.empty))
      t += v
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Resolve job parents (by query and batch id, or by calling span),
    * then write every span with its self time as one JSON document. */
  def finish(jobs: Seq[JobRec], stages: Seq[StageRec], path: java.io.File): Seq[Span] = {
    val batchIds = all.filter(_.name == "batch")
      .map(s => (s.tags("query"), s.tags("batch")) -> s.id).toMap
    val jobSpans = jobs.map { j =>
      val parent = j.span.getOrElse(j.batch.flatMap(batchIds.get).getOrElse(0L))
      Span(nextId(), parent, "job", j.start, j.end, Map("job" -> j.jobId.toString), Map.empty)
    }
    val jobSpanOf = jobs.map(_.jobId).zip(jobSpans.map(_.id)).toMap
    val stageOwner = jobs.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val stageSpans = stages.map { s =>
      Span(nextId(), stageOwner.get(s.stageId).flatMap(jobSpanOf.get).getOrElse(0L),
        "stage", s.start, s.end, Map("stage" -> s.stageId.toString), s.metrics)
    }
    // a call made inside a micro-batch (a foreachBatch body) is that batch's child
    val calls = all.map { s =>
      if (s.name == "batch" || s.parent != 0) s
      else (for (q <- s.tags.get("query"); b <- s.tags.get("batch"); p <- batchIds.get((q, b)))
        yield s.copy(parent = p)).getOrElse(s)
    }
    val every = calls ++ jobSpans ++ stageSpans
    val kids = every.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var upTo = s.start
      cs.foreach { case (a, b) =>
        if (b > upTo) { covered += b - (a max upTo); upTo = b }
      }
      s.dur - covered
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("{\"spans\": [")
      w.println(every.map { s =>
        val tags = s.tags.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")
        val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
        s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
          s""""start_ms": ${Json.num(s.start)}, "dur_ms": ${Json.num(s.dur)}, """ +
          s""""self_ms": ${Json.num(selfMs(s))}, "tags": {$tags}, "attrs": {$attrs}}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
    every
  }
}

final case class JobRec(jobId: Int, start: Double, end: Double, stageIds: Seq[Int],
                        batch: Option[(String, String)], span: Option[Long])
final case class StageRec(stageId: Int, start: Double, end: Double, metrics: Map[String, Double])

/** Job and stage events, tied to their micro-batch through the
  * `sql.streaming.queryId` / `streaming.sql.batchId` local properties the
  * micro-batch engine sets, or to a traced call through the tracer's own
  * property. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val open = mutable.HashMap.empty[Int, (Double, Seq[Int], Option[(String, String)], Option[Long])]
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId")) yield (q, b)
    open(e.jobId) = (e.time.toDouble, e.stageIds, batch,
      prop(tracer.SpanProperty).filter(_.nonEmpty).map(_.toLong))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t, st, b, s) =>
      jobs.add(JobRec(e.jobId, t, e.time.toDouble, st, b, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId,
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      Map("tasks" -> i.numTasks.toDouble,
        "executor_run_ms" -> m.executorRunTime.toDouble,
        "executor_cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble)))
  }
}

/** A finished micro-batch, from the progress the engine reports. */
final case class Batch(round: Int, batchId: Long, rows: Long, durMs: Map[String, Double],
                       stateRows: Long, stateMemory: Long, stateCommitMs: Double,
                       droppedDuplicates: Long, timed: Boolean) {
  def ms: Double = durMs.getOrElse("triggerExecution", 0.0)
}

object Batches {
  /** Phases in the order the micro-batch engine runs them. */
  val Phases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  def of(p: StreamingQueryProgress, round: Int, timed: Boolean): Batch = {
    val ops = p.stateOperators.toSeq
    Batch(round, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue().toDouble }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs.toDouble).sum,
      ops.map(o => Option(o.customMetrics.get("numDroppedDuplicateRows"))
        .map(_.longValue()).getOrElse(0L)).sum, timed)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
