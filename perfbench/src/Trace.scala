package perfbench

import scala.collection.mutable

/** A timed interval. Times are epoch milliseconds with sub-millisecond
  * precision, on the same clock as Spark's listener timestamps, so the
  * post-processor can attribute listener events to spans by interval.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String) {
  var start: Double = 0.0
  var end: Double = 0.0
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def seconds: Double = (end - start) / 1000.0
  def toJson: Any = mutable.LinkedHashMap[String, Any](
    "id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
    "start_ms" -> start, "end_ms" -> end, "attrs" -> attrs)
}

/** In-memory span recorder for the benchmark's own calls into graft:
  * one `op` span per operation, with `construct` (the public call) and
  * `action` (the write) children. Nothing is written until the run ends.
  */
final class Tracer {
  private val epochAnchor = System.currentTimeMillis().toDouble
  private val nanoAnchor = System.nanoTime()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()

  def nowMs: Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e6

  /** Time `body` as a span under `parent` (-1 = root). A root span is
    * its own op; a child inherits its parent's op id.
    */
  def span[T](name: String, parent: Option[Span],
      attrs: (String, Any)*)(body: Span => T): T = {
    val id = spans.size
    val s = new Span(id, parent.map(_.id).getOrElse(-1),
      parent.map(_.op).getOrElse(id), name)
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    spans += s
    s.start = nowMs
    try body(s) finally s.end = nowMs
  }
}

/** Spark listener that keeps raw job, stage and per-stage task totals in
  * memory. Attribution to ops happens after the run, by interval.
  */
final class SparkEvents extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class StageAgg(val stageId: Int, val attempt: Int) {
    var submitMs = 0L; var completeMs = 0L; var numTasks = 0
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spillBytes = 0L; var failed = false
  }

  val jobs: mutable.LinkedHashMap[Int, Array[Long]] = mutable.LinkedHashMap()
  val stages: mutable.LinkedHashMap[(Int, Int), StageAgg] = mutable.LinkedHashMap()
  @volatile private var lastEventNanos: Long = System.nanoTime()

  /** True once every job seen has ended and no event arrived for `quietMs`. */
  def quiet(quietMs: Long): Boolean = synchronized {
    jobs.values.forall(_(1) > 0) && System.nanoTime() - lastEventNanos > quietMs * 1000000L
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = lastEventNanos = System.nanoTime()

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNanos = System.nanoTime()
    jobs(e.jobId) = Array(e.time, 0L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNanos = System.nanoTime()
    jobs.get(e.jobId).foreach(_(1) = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNanos = System.nanoTime()
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submitMs = i.submissionTime.getOrElse(0L)
    s.completeMs = i.completionTime.getOrElse(0L)
    s.numTasks = i.numTasks
    s.failed = i.failureReason.isDefined
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNanos = System.nanoTime()
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
    }
  }

  def toJson: Any = synchronized {
    mutable.LinkedHashMap[String, Any](
      "jobs" -> jobs.map { case (id, t) =>
        mutable.LinkedHashMap[String, Any]("id" -> id, "start_ms" -> t(0), "end_ms" -> t(1))
      }.toSeq,
      "stages" -> stages.values.map { s =>
        mutable.LinkedHashMap[String, Any](
          "id" -> s.stageId, "attempt" -> s.attempt,
          "start_ms" -> s.submitMs, "end_ms" -> s.completeMs,
          "num_tasks" -> s.numTasks, "tasks" -> s.tasks, "failed" -> s.failed,
          "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
          "input_bytes" -> s.inputBytes, "shuffle_write_bytes" -> s.shuffleWrite,
          "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spillBytes)
      }.toSeq)
  }
}

/** Streaming listener keeping every `StreamingQueryProgress` it sees. */
final class StreamEvents extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._

  val progress: mutable.ArrayBuffer[Any] = mutable.ArrayBuffer()
  @volatile private var lastEventNanos: Long = System.nanoTime()

  def quiet(quietMs: Long): Boolean = System.nanoTime() - lastEventNanos > quietMs * 1000000L

  override def onQueryStarted(e: QueryStartedEvent): Unit = lastEventNanos = System.nanoTime()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = lastEventNanos = System.nanoTime()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    lastEventNanos = System.nanoTime()
    val p = e.progress
    val ops = p.stateOperators.toSeq
    progress += mutable.LinkedHashMap[String, Any](
      "query" -> p.id.toString, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> mutable.LinkedHashMap[String, Any](
        scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toSeq: _*),
      "input_rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
  }

  def toJson: Any = synchronized(progress.toSeq)
}

/** Minimal JSON writer for the raw run record (no extra dependencies). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""; case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"; case '\r' => sb ++= "\\r"; case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
