package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals

import scala.collection.mutable

/** Counters of one layer (one Spark job group). */
final class LayerCounts {
  var jobs, closeJobs, stages, tasks = 0L
  var runMs, planningMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill = 0L
}

/** Spark-side counters per job group, filled from the listener bus.
  *
  * Every span sets its name as the Spark job group, so jobs, stages, tasks,
  * shuffle bytes and planning time land on the layer whose call launched
  * them. Jobs that only close a span (the eager checkpoints of a traced
  * run) carry the `perfbench.close` property and are counted apart.
  */
final class LayerListener extends SparkListener {
  val byGroup = mutable.Map.empty[String, LayerCounts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val stageRecords = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Per reduce stage: max over mean of shuffle records read per task. */
  val skews = mutable.ArrayBuffer.empty[Double]

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new LayerCounts)

  /** Deliver every queued event, then zero the counters, so a phase's
    * counts start with its own first job.
    */
  def reset(sc: org.apache.spark.SparkContext): Unit = {
    SparkInternals.drainListenerBus(sc)
    synchronized { byGroup.clear(); skews.clear() }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("unattributed")
    val c = counts(g)
    c.jobs += 1
    if (props.exists(p => p.getProperty("perfbench.close") == "1")) c.closeJobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageGroup.get(id).foreach(g => counts(g).stages += 1)
    val traced = stageGroup.get(id).exists(LayerListener.isProgram)
    stageRecords.remove(id).foreach { recs =>
      val total = recs.sum
      if (traced && recs.size >= 2 && total > 0) skews += recs.max.toDouble * recs.size / total
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, "unattributed"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val sr = m.shuffleReadMetrics
      c.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      if (sr.recordsRead > 0 || sr.totalBlocksFetched > 0)
        stageRecords.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += sr.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execGroup(s.executionId) = s.jobGroupId.getOrElse("unattributed") }
    case end: SparkListenerSQLExecutionEnd =>
      synchronized {
        val g = execGroup.remove(end.executionId).getOrElse("unattributed")
        counts(g).planningMs += SparkInternals.planningMs(end)
      }
    case _ =>
  }
}

object LayerListener {
  /** Jobs of the program under test inside a traced span: not the
    * benchmark's own (`bench.*`) and not outside every span.
    */
  def isProgram(group: String): Boolean = !group.startsWith("bench.") && group != "unattributed"
}

/** One finished span; `parent` is the enclosing span's id, -1 at the root. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Layer spans measured from outside the library.
  *
  * With `traced` on, `span` wraps one public call, names the Spark job
  * group after it and records its wall time, and `close` materialises a
  * lazily built frame inside the current span (an eager local checkpoint),
  * so the work of a layer is timed in that layer rather than in whichever
  * later layer first forces it. Untraced, `span` only runs its body and
  * `close` returns the frame unchanged: the pipeline runs exactly as a
  * caller would run it.
  *
  * Spans are kept in memory; `selfSeconds` reports span time minus the time
  * of its direct children, so the self times of all spans sum to the wall
  * time of the root spans.
  */
final class Trace(spark: SparkSession) {
  var traced = false
  private val sc = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  /** Forget finished spans; call between root spans only. */
  def reset(): Unit = done.clear()

  def span[T](name: String)(body: => T): T =
    if (traced) record(name)(body) else body

  private def record[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val outerGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(name, name)
    open = id :: open
    val start = System.nanoTime()
    try body
    finally {
      done += Span(id, name, parent, start, System.nanoTime())
      open = open.tail
      outerGroup match {
        case Some(g) => sc.setJobGroup(g, g)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Materialise `df` inside the current span when traced. */
  def close(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      sc.setLocalProperty("perfbench.close", "1")
      try df.localCheckpoint(eager = true)
      finally sc.setLocalProperty("perfbench.close", null)
    }

  /** Every finished span with its self seconds, in finishing order. */
  def selfSeconds: Seq[(Span, Double)] = {
    val childSum = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    done.foreach(s => if (s.parent >= 0) childSum(s.parent) += s.seconds)
    done.toSeq.map(s => s -> (s.seconds - childSum(s.id)))
  }

  /** Write the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = selfSeconds.map { case (s, self) =>
      f"""{"id":${s.id},"span":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
        f""""s":${s.seconds}%.6f,"self_s":$self%.6f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  def register(spark: SparkSession): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
