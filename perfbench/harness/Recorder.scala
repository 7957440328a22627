package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Listener that records, per benchmark operation, what the engine did.
  *
  * Always on (cheap): root SQL executions (start/end) and the storage
  * held in RDD blocks, the blocks of checkpoints and caches (bytes and
  * block count, live and peak).  With `tracing` set it also records every
  * job, its stages' task totals and the SQL execution that ran it, with
  * that execution's calling stack; the benchmark attributes each job to a
  * module from those stacks.
  *
  * Events arrive on the listener-bus thread; the harness drains the bus
  * (`GraftInternal.flushListenerBus`) at operation boundaries before it
  * reads or resets state.
  */
final class Recorder extends SparkListener {
  @volatile var tracing = false

  final class Stage(val id: Int) {
    var submitted = 0L
    var tasks = 0L
    var taskMs = 0L
    var waitMs = 0L
    var gcMs = 0L
    var inRecords = 0L
    var inBytes = 0L
    var outBytes = 0L
    var shufWrite = 0L
    var shufRead = 0L
  }
  final case class Job(id: Int, start: Long, execId: Option[Long],
      stageIds: Seq[Int], callSite: String) { var end = 0L }
  final case class Exec(id: Long, root: Long, start: Long, desc: String,
      frames: Seq[String], sink: Option[String]) { var end = 0L }

  private val blocks = mutable.HashMap[String, Long]() // RDD block -> bytes
  private var storageNow = 0L
  private var storagePeak = 0L
  private var rddBlocksNow = 0
  private var rddBlocksPeak = 0
  private var storageBase = 0L

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.HashMap[Int, Stage]()
  val execs = mutable.LinkedHashMap[Long, Exec]()
  /** (start, end) of root executions; kept with tracing off too. */
  val rootExecs = mutable.ArrayBuffer[(Long, Long)]()
  private val rootStart = mutable.HashMap[Long, Long]()

  /** Forget per-operation records; storage peaks restart at the live level. */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); execs.clear(); rootExecs.clear()
    storageBase = storageNow; storagePeak = storageNow
    rddBlocksPeak = rddBlocksNow
  }

  /** (peak storage above the level at reset in bytes, RDD blocks live now,
    * peak RDD blocks) since the last reset. */
  def storage: (Long, Int, Int) = synchronized {
    (storagePeak - storageBase, rddBlocksNow, rddBlocksPeak)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    val key = id.name
    if (id.isRDD) {
      blocks.remove(key).foreach { old => storageNow -= old; rddBlocksNow -= 1 }
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        blocks(key) = size
        storageNow += size
        rddBlocksNow += 1
      }
    }
    storagePeak = math.max(storagePeak, storageNow)
    rddBlocksPeak = math.max(rddBlocksPeak, rddBlocksNow)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.getOrElse(s.executionId)
      if (root == s.executionId) rootStart(s.executionId) = s.time
      if (tracing) {
        val sink = Recorder.SinkPath.findFirstMatchIn(s.physicalPlanDescription)
          .map(_.group(1).split('/').last)
        execs(s.executionId) = Exec(s.executionId, root, s.time, s.description,
          Recorder.keptFrames(s.details), sink)
      }
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      rootStart.remove(s.executionId).foreach(t => rootExecs += ((t, s.time)))
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    val exec = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, exec, e.stageIds,
      Recorder.keptFrames(site).mkString("\n"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (tracing) synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
        .submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.tasks += 1
    if (s.submitted > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
    Option(e.taskMetrics).foreach { m =>
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inRecords += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shufWrite += m.shuffleWriteMetrics.bytesWritten
      s.shufRead += m.shuffleReadMetrics.totalBytesRead
    }
  }
}

object Recorder {
  /** Output path of a parquet write, in the formatted physical plan. */
  private val SinkPath = """(?s)InsertIntoHadoopFsRelationCommand.*?Arguments: (\S+?),""".r

  /** The action frame (first line of a Spark long call site) plus every
    * frame of the library or the benchmark, innermost first. */
  def keptFrames(longForm: String): Seq[String] = {
    val lines = longForm.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    lines.take(1) ++ lines.drop(1).filter(l =>
      l.startsWith("graft.") || l.startsWith("perfbench."))
  }
}
