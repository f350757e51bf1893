package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** How a job's calls into the program's layers run. [[Plain]] runs them
  * exactly as a user would; [[Tracer]] records a span around each call
  * and materializes the call's output inside its span, so the work of a
  * lazy call lands in its own span instead of in whichever later call
  * forces it. */
sealed trait Trace {
  def span[T](name: String)(body: => T): T
  def df(d: DataFrame): DataFrame
  def rdd[T: ClassTag](r: RDD[T]): RDD[T]
  /** Extra per-span values a call can report (e.g. planner phases). */
  def note(key: String, value: Double): Unit
}

object Plain extends Trace {
  def span[T](name: String)(body: => T): T = body
  def df(d: DataFrame): DataFrame = d
  def rdd[T: ClassTag](r: RDD[T]): RDD[T] = r
  def note(key: String, value: Double): Unit = ()
}

/** Counters of one span. Times are wall-clock milliseconds for the
  * window match and nanoTime for durations. */
final class Span(
    val id: Int,
    val parent: Int,
    val depth: Int,
    val name: String,
    val startMs: Long,
    val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val notes = mutable.LinkedHashMap.empty[String, Double]

  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs

  def record(jobIndex: Int): Seq[(String, Any)] = Seq(
    "kind" -> "span", "job" -> jobIndex, "id" -> id, "parent" -> parent,
    "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_s" -> taskMs / 1e3, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
    "notes" -> notes.toMap)
}

/** The traced mode. Spans live in memory for one job and are handed
  * out by [[finish]]; a listener, attached by [[attach]] for the
  * traced job only, sums Spark task metrics into them.
  *
  * A Spark job is attributed to a span by the span's job tag, which
  * [[span]] sets on the calling thread (`SparkContext.addJobTag`).
  * Jobs that run on other threads — the streaming execution thread, or
  * pool threads the program starts — carry either no tag or a tag
  * inherited from an older span; those are attributed by time: to the
  * deepest span whose window contains the job's start. */
final class Tracer(sc: SparkContext) extends SparkListener with Trace {
  private val TagPrefix = "perfbench-span-"
  private val spans = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stack = mutable.Stack.empty[Span]
  private val persisted = mutable.Buffer.empty[() => Unit]
  private var nextId = 0

  def attach(): Unit = sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(nextId, parent.map(_.id).getOrElse(-1),
      stack.size, name, System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    spans.put(s.id, s)
    stack.push(s)
    val tag = TagPrefix + s.id
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
    }
  }

  def df(d: DataFrame): DataFrame = {
    val p = d.persist(StorageLevel.MEMORY_AND_DISK)
    note("rows", p.count().toDouble)
    persisted += (() => p.unpersist(blocking = true))
    p
  }

  def rdd[T: ClassTag](r: RDD[T]): RDD[T] = {
    val p = r.persist(StorageLevel.MEMORY_AND_DISK)
    note("rows", p.count().toDouble)
    persisted += (() => p.unpersist(blocking = true))
    p
  }

  def note(key: String, value: Double): Unit =
    stack.headOption.foreach(s =>
      s.notes.update(key, s.notes.getOrElse(key, 0.0) + value))

  /** Drops the job's cached intermediates, waits for the listener to
    * see every event, detaches it, and returns the job's spans (start
    * order). */
  def finish(): Seq[Span] = {
    persisted.foreach(_())
    persisted.clear()
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    val out = (0 until nextId).flatMap(i => Option(spans.get(i)))
    spans.clear()
    stageSpan.clear()
    nextId = 0
    out
  }

  private def owner(e: SparkListenerJobStart): Option[Span] = {
    val tagged = PerfbenchBus.jobTags(e.properties)
      .filter(_.startsWith(TagPrefix))
      .flatMap(t => Option(spans.get(t.stripPrefix(TagPrefix).toInt)))
      .filter(_.covers(e.time))
    val candidates =
      if (tagged.nonEmpty) tagged
      else {
        val it = spans.values().iterator()
        val b = Seq.newBuilder[Span]
        while (it.hasNext) { val s = it.next(); if (s.covers(e.time)) b += s }
        b.result()
      }
    candidates.maxByOption(s => (s.depth, s.id))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    owner(e).foreach { s =>
      s.synchronized { s.jobs += 1 }
      e.stageInfos.foreach(i => stageSpan.putIfAbsent(i.stageId, s))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId))
      .foreach(s => s.synchronized { s.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      s <- Option(stageSpan.get(e.stageId))
      m <- Option(e.taskMetrics)
    } s.synchronized {
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
}
