package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Task and stage metrics summed per pipeline layer.
  *
  * The benchmark names the layer it is about to call with
  * `setJobGroup(layer)`; every stage a job of that group runs is charged
  * to the layer. `Backend.run` is one call that spans several layers, so
  * its stages are split by the call site of the SQL action they belong
  * to: stages that write files for `SnapshotTable.commit` are `write`,
  * stages of `Pipeline.countersMultiplexed` are `counters`, the rest
  * stay `backend`.
  */
final class LayerTrace extends SparkListener {
  import LayerTrace._

  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stageCallSite = mutable.HashMap.empty[Int, String]
  private val sqlCallSite = mutable.HashMap.empty[Long, String]
  private val running = mutable.HashMap.empty[(Int, Int), Totals]
  private val layers = mutable.LinkedHashMap.empty[String, Totals]

  def snapshot(): Map[String, Totals] = synchronized {
    layers.map { case (k, v) => k -> v.copy() }.toMap
  }

  private def layerOf(group: String, details: String, wrote: Boolean): String =
    if (group != Backend) group
    else if (details.contains("SnapshotTable") && wrote) Write
    else if (details.contains("countersMultiplexed")) Counters
    else Backend

  // SQL actions submit their stages from a thread pool, so a stage's own
  // call site does not show the caller; the action's does.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlCallSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop(GroupKey).getOrElse("none")
    val callSite = prop("spark.sql.execution.id").flatMap(id => sqlCallSite.get(id.toLong))
    e.stageIds.foreach { id => stageLayer.getOrElseUpdate(id, group) }
    e.stageInfos.foreach { i =>
      stageCallSite.getOrElseUpdate(i.stageId, callSite.getOrElse(Option(i.details).getOrElse("")))
    }
    layers.getOrElseUpdate(group, new Totals).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = running.getOrElseUpdate((e.stageId, e.stageAttemptId), new Totals)
    t.tasks += 1
    if (!e.taskInfo.successful) t.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      t.busyMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val t = running.remove((info.stageId, info.attemptNumber())).getOrElse(new Totals)
    val group = stageLayer.getOrElse(info.stageId, "none")
    val layer = layerOf(group, stageCallSite.getOrElse(info.stageId, ""), t.outputBytes > 0)
    t.stages = 1
    t.wallMs = (for (s <- info.submissionTime; c <- info.completionTime) yield c - s).getOrElse(0L)
    val agg = layers.getOrElseUpdate(layer, new Totals)
    agg.add(t)
  }
}

object LayerTrace {
  val GroupKey = "spark.jobGroup.id"
  val Backend = "backend"
  val Write = "write"
  val Counters = "counters"

  final class Totals {
    var jobs, stages, tasks, taskFailures = 0L
    var busyMs, gcMs, wallMs, fetchWaitMs = 0L
    var inputBytes, inputRecords, outputBytes, outputRecords = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L

    def add(o: Totals): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
      busyMs += o.busyMs; gcMs += o.gcMs; wallMs += o.wallMs; fetchWaitMs += o.fetchWaitMs
      inputBytes += o.inputBytes; inputRecords += o.inputRecords
      outputBytes += o.outputBytes; outputRecords += o.outputRecords
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes
    }

    def copy(): Totals = { val c = new Totals; c.add(this); c }

    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_failures" -> taskFailures.toDouble, "busy_s" -> busyMs / 1e3, "gc_s" -> gcMs / 1e3,
      "stage_wall_s" -> wallMs / 1e3, "fetch_wait_s" -> fetchWaitMs / 1e3,
      "input_mb" -> inputBytes / MB, "input_records" -> inputRecords.toDouble,
      "output_mb" -> outputBytes / MB, "output_records" -> outputRecords.toDouble,
      "shuffle_write_mb" -> shuffleWriteBytes / MB, "shuffle_read_mb" -> shuffleReadBytes / MB,
      "spill_mb" -> spillBytes / MB)
  }

  val MB = 1024.0 * 1024.0

  /** A wall-clock span around one call into a layer. */
  final case class Span(layer: String, startMs: Double, endMs: Double) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** Run `body` as `layer`: its jobs carry the layer's job group and its
    * wall time is recorded as a span. */
  def span[A](spark: SparkSession, spans: mutable.Buffer[Span], layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(layer, layer, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans += Span(layer, t0 / 1e6, t1 / 1e6)
      sc.clearJobGroup()
    }
  }
}
