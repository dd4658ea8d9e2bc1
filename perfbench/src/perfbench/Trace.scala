package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are seconds since the run's origin. `op` is
  * the operation id (-1 outside operations); `counts` carries the work the
  * span did (tasks, bytes, rows …).
  */
final class Span(val id: Int, val name: String, val layer: String, val op: Int,
                 val parent: Int, val start: Double) {
  var end: Double = Double.NaN
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v

  def json: String = Json.obj(Seq("id" -> id, "name" -> name, "layer" -> layer, "op" -> op,
    "parent" -> parent, "start" -> start, "end" -> end, "counts" -> counts))
}

/** Span recorder. The untraced run uses [[Spans.Off]], which records
  * nothing and registers no listener; the traced run uses a [[Tracer]].
  */
trait Spans {
  /** Run `body` inside a span; Spark jobs it submits become its children. */
  def span[T](name: String, layer: String, op: Int)(body: Span => T): T
}

object Spans {
  object Off extends Spans {
    private val dummy = new Span(-1, "", "", -1, -1, 0)
    def span[T](name: String, layer: String, op: Int)(body: Span => T): T = body(dummy)
  }
}

/** Records the benchmark's own spans around its calls into the engine, plus
  * Spark jobs, stages and task metrics (SparkListener) and streaming
  * micro-batches (StreamingQueryListener), all kept in memory.
  *
  * A job is attributed to its operation and to the enclosing benchmark span
  * through two local properties the benchmark sets on the calling thread.
  * Local properties are inherited by threads the call starts, so jobs run by
  * a streaming query's execution thread are attributed too. A job's layer is
  * `tables` when one of its stages was created at a `Tables.scala` call site,
  * and otherwise the layer of the benchmark span it ran under.
  */
final class Tracer(sc: SparkContext) extends Spans {
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private def now: Double = (System.nanoTime() - originNs) / 1e9
  private def fromMs(ms: Long): Double = (ms - originMs) / 1e3

  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[(Int, Int), Span] // (stage, attempt)
  private val stageJob = mutable.Map.empty[Int, Span]
  private val streamOwner = mutable.Map.empty[java.util.UUID, (Int, Int)] // runId -> (op, span)
  @volatile private var current = (-1, -1) // (op, span) on the client thread

  private def open(name: String, layer: String, op: Int, parent: Int, start: Double): Span =
    synchronized {
      val s = new Span(spans.size, name, layer, op, parent, start)
      spans += s
      byId(s.id) = s
      s
    }

  def span[T](name: String, layer: String, op: Int)(body: Span => T): T = {
    val outer = current
    val s = open(name, layer, op, outer._2, now)
    current = (op, s.id)
    sc.setLocalProperty(Tracer.OpKey, op.toString)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body(s)
    finally {
      s.end = now
      current = outer
      sc.setLocalProperty(Tracer.OpKey, outer._1.toString)
      sc.setLocalProperty(Tracer.SpanKey, outer._2.toString)
    }
  }

  /** A finished interval measured elsewhere (e.g. a planning phase). */
  def record(name: String, layer: String, op: Int, parent: Int, startMs: Long, endMs: Long): Unit =
    open(name, layer, op, parent, fromMs(startMs)).end = fromMs(endMs)

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).flatMap(_.toIntOption).getOrElse(-1)

  val listener: SparkListener = new SparkListener {
    private val jobSpan = mutable.Map.empty[Int, Span]
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = byId.get(prop(e.properties, Tracer.SpanKey))
      val site = e.stageInfos.map(_.name)
      val layer =
        if (site.exists(_.contains("Tables.scala"))) "tables"
        else parent.map(_.layer).getOrElse("bench")
      val s = open(e.stageInfos.lastOption.map(_.name).getOrElse(s"job ${e.jobId}"), layer,
        prop(e.properties, Tracer.OpKey), parent.map(_.id).getOrElse(-1), fromMs(e.time))
      s.add("jobs", 1)
      stageJob ++= e.stageIds.map(_ -> s)
      jobSpan(e.jobId) = s
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.end = fromMs(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).foreach { job =>
        val s = open(i.name, job.layer, job.op, job.id,
          fromMs(i.submissionTime.getOrElse(System.currentTimeMillis())))
        s.add("stages", 1)
        stageSpan((i.stageId, i.attemptNumber())) = s
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stageSpan.remove((i.stageId, i.attemptNumber()))
        .foreach(_.end = fromMs(i.completionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageSpan.get((e.stageId, e.stageAttemptId)).filter(_ => m != null).foreach { s =>
        s.add("tasks", 1)
        s.add("task_run_s", m.executorRunTime / 1e3)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("task_gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        s.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        s.add("input_mb", m.inputMetrics.bytesRead / 1e6)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    // Called synchronously from start() on the client thread, so `current`
    // is the operation that started the stream.
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamOwner(e.runId) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val (op, parent) = streamOwner.getOrElse(p.runId, (-1, -1))
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val start = Instant.parse(p.timestamp).toEpochMilli
        val s = open(s"batch ${p.batchId} of ${Option(p.name).getOrElse(p.id.toString)}",
          "streaming", op, parent, fromMs(start))
        s.end = fromMs(start + ms("triggerExecution"))
        s.add("batches", 1)
        s.add("trigger_s", ms("triggerExecution") / 1e3)
        s.add("commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
        s.add("input_rows", p.numInputRows.toDouble)
        s.add("state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        s.add("state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
        s.add("state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Some(x) => value(x)
    case None => "null"
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case raw: Raw => raw.json
    case other => quote(other.toString)
  }
  final case class Raw(json: String)
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
