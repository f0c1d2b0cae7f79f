package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the trace sees it: keyed by its call site and, for jobs
  * a micro-batch submits, by the `streaming.sql.batchId` job property. */
final class JobSpan(val id: Int, val startMs: Long, val phase: String,
    val query: String, val batchId: Long, val callSite: String,
    val graftFrame: String, val sqlKind: String, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val stagesDone = new AtomicLong
}

/** Listener for every run. Untraced it only sums executor run time (the
  * end-to-end `task_s`); traced it also keeps a [[JobSpan]] per job. */
final class JobProbe(@volatile var trace: Boolean) extends SparkListener {
  val taskMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageJob = new ConcurrentHashMap[Int, JobSpan]()
  private val sqlKinds = new ConcurrentHashMap[Long, String]()

  /** Micro-batch jobs all carry the stream's start call site, so the SQL
    * execution's plan names what a job does: the output path of a write,
    * or `query` for anything else. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if trace =>
      val plan = Option(x.physicalPlanDescription).getOrElse("")
      // the formatted plan lists each node's details as
      // "(n) Execute InsertIntoHadoopFsRelationCommand" then "Arguments: <path>, ..."
      val kind = "Execute InsertIntoHadoopFsRelationCommand\\s*\\n(?:.*\\n)*?Arguments: ([^,\\s]+)".r
        .findFirstMatchIn(plan).map("write " + _.group(1))
        .orElse(if (plan.contains("complete_")) Some("constraint check") else None)
        .getOrElse("query")
      sqlKinds.put(x.executionId, kind)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (trace) {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val long = prop("callSite.long").getOrElse("")
    // the innermost engine frame names the layer that submitted the job
    val frame = long.split("\n").map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.core.CacheOnce"))
      .getOrElse("")
    val span = new JobSpan(e.jobId, e.time, prop("perfbench.phase").getOrElse(""),
      prop("perfbench.query").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("callSite.short").getOrElse(""), frame,
      prop("spark.sql.execution.id").flatMap(id => Option(sqlKinds.get(id.toLong)))
        .getOrElse(""), e.stageIds)
    jobs.put(e.jobId, span)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (trace) Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (trace) Option(stageJob.get(e.stageInfo.stageId))
      .foreach(_.stagesDone.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      if (trace) Option(stageJob.get(e.stageId)).foreach { j =>
        j.taskMs.addAndGet(m.executorRunTime)
        j.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** The listener bus is asynchronous: wait until the counters settle
    * before attributing them to the work that just finished. */
  def drained(): Unit = {
    var prev = -1L
    var cur = taskMs.get
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while (cur != prev && System.nanoTime() < deadline) {
      Thread.sleep(20)
      prev = cur
      cur = taskMs.get
    }
  }

  def spans: Seq[JobSpan] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** One completed micro-batch, from its progress event. `endMs` is the
  * trigger start plus `triggerExecution`, i.e. when the batch's commit
  * was written. */
final case class BatchRecord(runId: String, phase: String, batchId: Long,
    startMs: Long, endMs: Long, durations: Map[String, Long],
    numInputRows: Long, lag: Long)

final class ProgressProbe extends StreamingQueryListener {
  @volatile var phase = ""
  val batches = mutable.ArrayBuffer.empty[BatchRecord]

  private def offsetSum(json: String): Long =
    if (json == null) 0L
    else "\"[^\"]+\":(\\d+)".r.findAllMatchIn(json).map(_.group(1).toLong).sum

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // progress events also fire for idle polls; only batches that ran count
    if (d.contains("addBatch")) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val src = p.sources.headOption
      val lag = src.map(s => offsetSum(s.latestOffset) - offsetSum(s.endOffset))
        .getOrElse(0L)
      synchronized {
        batches += BatchRecord(p.runId.toString, phase, p.batchId, start,
          start + d.getOrElse("triggerExecution", 0L), d, p.numInputRows, lag)
      }
    }
  }

  def snapshot: Seq[BatchRecord] = synchronized(batches.toList)
}
