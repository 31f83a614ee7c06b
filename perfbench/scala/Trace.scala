package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

/** Minimal JSON writer for the raw result file (numbers, strings,
  * sequences and maps only). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same time base as Spark's listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class SpanRec(id: Int, name: String, start: Double, end: Double,
    parent: Int, run: String)

/** Per-job Spark counters, summed over the job's tasks. */
final class JobRec(val id: Int, val start: Double, val spanProp: String) {
  var end: Double = Double.NaN
  var taskMs: Long = 0L
  var shuffleBytes: Long = 0L
  var spillBytes: Long = 0L
  var writtenBytes: Long = 0L
}

/** The benchmark's tracer. With `enabled = false` every method is a
  * plain pass-through: no listener is registered, nothing is persisted,
  * so the untraced run measures the program alone.
  *
  * Spans are recorded by the benchmark around each call it makes into a
  * layer of the engine. Spark jobs are attributed later (perfbench/
  * metrics.py) to the innermost span open at the job's start; the span
  * name is also set as a thread-local Spark property so two concurrent
  * sibling spans can tell their jobs apart. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private var nextId = 1
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  @volatile var run: String = ""
  val SpanProp = "perfbench.span"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, prop)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (j <- stageToJob.get(e.stageId).flatMap(jobs.get) if m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.writtenBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch"))
        progress += Map(
          "rows" -> e.progress.numInputRows.toDouble,
          "add_batch_ms" -> d.get("addBatch").doubleValue,
          "trigger_ms" -> d.get("triggerExecution").doubleValue)
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Record `body` as span `name` (child of the span open on this
    * thread, or of the root). */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = current.get
      val priorProp = sc.getLocalProperty(SpanProp)
      val id = synchronized { nextId += 1; nextId - 1 }
      current.set(id)
      sc.setLocalProperty(SpanProp, name)
      val t0 = Clock.ms()
      try body
      finally {
        val t1 = Clock.ms()
        current.set(parent)
        sc.setLocalProperty(SpanProp, priorProp)
        synchronized { spans += SpanRec(id, name, t0, t1, parent, run) }
      }
    }

  /** A lazy layer output: in the traced run it is persisted and counted
    * inside span `name`, so its Spark work is charged to that layer;
    * untraced it is returned as is. */
  def materialized(spark: SparkSession, name: String)(df: => DataFrame)
      : DataFrame =
    if (!enabled) df
    else span(spark, name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map("id" -> j.id, "start" -> j.start,
      "end" -> j.end, "span" -> j.spanProp, "task_ms" -> j.taskMs,
      "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
      "written_bytes" -> j.writtenBytes))
  }

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
      "run" -> s.run))
  }
}
