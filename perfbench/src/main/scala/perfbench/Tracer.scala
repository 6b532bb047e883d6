package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a query, one of its build/plan/exec phases, a Spark job or a
  * stage. `parent` links a job to the phase that submitted it and a stage to
  * its job; `query` is the query the span belongs to. Times are epoch ms.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      query: String, start: Long, var end: Long,
                      attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Per-stage task totals, summed in `onTaskEnd`. */
final class StageTotals {
  var tasks = 0L; var failedTasks = 0L; var taskMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRows = 0L; var scanTasks = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var resultBytes = 0L; var outputBytes = 0L
}

final class JobRec(val id: Int, val spanId: Long, val span: Long, val callSite: String,
                   val start: Long) {
  var end: Long = start
}

final class StageRec(val id: Int, val spanId: Long, val job: Int, val name: String) {
  var numTasks = 0; var submit = 0L; var complete = 0L; var completed = false
  val totals = new StageTotals
}

/** Streaming progress, one entry per micro-batch. */
final case class Batch(runId: String, durationMs: Long, inputRows: Long,
                       stateRows: Long, stateBytes: Long)

/** The traced run's listeners. They are registered only while traced
  * passes run and keep every span in memory; [[Runner]] writes them out
  * when the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  private val spanById = mutable.HashMap[Long, Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val batches = mutable.ArrayBuffer[Batch]()
  private val rddBlocks = mutable.HashMap[String, Long]()
  private var rddBytes = 0L
  private var rddPeak = 0L

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      Tracer.this.synchronized {
        batches += Batch(p.runId.toString, p.batchDuration, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = { sc.addSparkListener(this); spark.streams.addListener(streamListener) }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this); spark.streams.removeListener(streamListener)
  }
  def drain(): Unit = ListenerBusShim.drain(sc)

  private def newId(): Long = { nextId += 1; nextId }

  def begin(kind: String, name: String, query: String, parent: Long): Long = synchronized {
    val s = Span(newId(), parent, kind, name, query, System.currentTimeMillis(), -1L)
    spans += s; spanById(s.id) = s
    s.id
  }
  def end(id: Long): Unit = synchronized { spanById(id).end = System.currentTimeMillis() }
  def span(id: Long): Option[Span] = synchronized { spanById.get(id) }

  /** Resident RDD-block bytes: restart the peak at the current level. */
  def resetBlockPeak(): Unit = synchronized { rddPeak = rddBytes }
  def blockPeak: Long = synchronized { rddPeak }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = new JobRec(e.jobId, newId(), parent, site, e.time)
    for (si <- e.stageInfos if !stages.contains(si.stageId))
      stages(si.stageId) = new StageRec(si.stageId, newId(), e.jobId, si.name)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages.get(si.stageId).foreach { s =>
      s.numTasks = si.numTasks
      s.submit = si.submissionTime.getOrElse(0L)
      s.complete = si.completionTime.getOrElse(s.submit)
      s.completed = true
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val t = s.totals
      t.tasks += 1
      if (!e.taskInfo.successful) t.failedTasks += 1
      t.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) t.scanTasks += 1
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.resultBytes += m.resultSize
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      rddBytes -= rddBlocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid) {
        val b = info.memSize + info.diskSize
        rddBlocks(key) = b; rddBytes += b
      } else rddBlocks.remove(key)
      rddPeak = math.max(rddPeak, rddBytes)
    }
  }

  /** Job and stage spans, parented to the phase span that submitted them. */
  def jobSpans(): Seq[Span] = synchronized {
    jobs.values.toSeq.flatMap { j =>
      val q = spanById.get(j.span).map(_.query).getOrElse("")
      val js = Span(j.spanId, j.span, "job", j.callSite, q, j.start, j.end)
      js +: stages.values.filter(s => s.job == j.id && s.completed).toSeq.map { s =>
        val st = Span(s.spanId, j.spanId, "stage", s.name, q, s.submit, s.complete)
        st.attrs ++= Seq("tasks" -> s.totals.tasks.toDouble,
          "task_ms" -> s.totals.taskMs.toDouble,
          "shuffle_write_bytes" -> s.totals.shuffleWrite.toDouble,
          "input_bytes" -> s.totals.inputBytes.toDouble)
        st
      }
    }
  }
}

object Tracer {
  /** Local property that tags every job with the phase span that ran it. */
  val SpanKey = "perfbench.span"
}
