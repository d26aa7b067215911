package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory,
  ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced pass's collector: a `SparkListener` for jobs, stages and
  * tasks, a `QueryExecutionListener` for driver planning time and a
  * `StreamingQueryListener` for micro-batch phases. It is attached only
  * around traced calls (never around the harness's own output checks)
  * and keeps raw per-job records in memory; the harness turns them into
  * per-layer metrics after the run.
  *
  * A job record keeps only the `graft.` frames of its call site and of
  * its SQL execution's call site, which is all the layer attribution
  * reads.
  *
  * Lazy operators build plans and start no jobs, so job attribution
  * cannot see them. While attached, the recorder also samples the
  * calling thread's stack every few milliseconds and counts the
  * innermost `graft.` frame of each sample: where the driver spends its
  * time, plan building and analysis included.
  */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private final class Job(val id: Int, val start: Long, val frames: String,
      val sqlFrames: String, val streaming: Boolean) {
    var end = -1L
    var ok = true
    var stages, tasks, failedTasks = 0L
    var cpuNs, runMs, waitMs, shuffleWrite, spill, output = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val sqlExec = mutable.Map[Long, String]()
  private var planMs = 0L
  private var plannedQueries = 0L
  private val progress = mutable.ArrayBuffer[ObjectNode]()
  private val driverSamples = mutable.Map[String, Long]()
  private var sampler: Thread = _
  private val samplePeriodMs = 5L

  private def graftFrames(callSite: String): String =
    Option(callSite).getOrElse("").split("\n").iterator.map(_.trim)
      .filter(_.contains("graft.")).mkString("\n")

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        sqlExec(s.executionId) = graftFrames(s.details)
      }
      case _ => ()
    }
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Recorder.this.synchronized {
        val props = Option(js.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        // the result stage is created last, so it carries this job's own
        // call site (reused parent stages keep their creator's)
        val site = js.stageInfos.sortBy(-_.stageId).headOption
          .map(_.details).getOrElse("")
        val sqlFrames = prop("spark.sql.execution.id")
          .flatMap(id => sqlExec.get(id.toLong)).getOrElse("")
        val job = new Job(js.jobId, js.time, graftFrames(site), sqlFrames,
          prop("sql.streaming.queryId").isDefined)
        jobs(js.jobId) = job
        js.stageIds.foreach(s => stageJob(s) = job)
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      Recorder.this.synchronized {
        stageSubmit(s.stageInfo.stageId) =
          s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stageJob.get(s.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Recorder.this.synchronized {
        stageJob.get(t.stageId).foreach { j =>
          j.tasks += 1
          if (!t.taskInfo.successful) j.failedTasks += 1
          stageSubmit.get(t.stageId).foreach(s =>
            j.waitMs += math.max(0L, t.taskInfo.launchTime - s))
          Option(t.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.output += m.outputMetrics.bytesWritten
          }
        }
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized {
        jobs.get(je.jobId).foreach { j =>
          j.end = je.time
          j.ok = je.jobResult == JobSucceeded
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Recorder.this.synchronized {
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      plannedQueries += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = Json.progress(e.progress)
      Recorder.this.synchronized(progress += p)
    }
  }

  /** Counts `target`'s innermost `graft.` frame ("" for none) until
    * interrupted. */
  private def sample(target: Thread): Unit =
    try while (true) {
      val frame = target.getStackTrace
        .find(_.getClassName.startsWith("graft."))
        .map(f => s"${f.getClassName}.${f.getMethodName}(").getOrElse("")
      synchronized(driverSamples(frame) =
        driverSamples.getOrElse(frame, 0L) + 1)
      Thread.sleep(samplePeriodMs)
    } catch { case _: InterruptedException => () }

  def attach(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    val caller = Thread.currentThread
    sampler = new Thread(() => sample(caller), "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  def detach(): Unit = {
    sampler.interrupt()
    sampler.join()
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: ObjectNode = synchronized {
    val f = JsonNodeFactory.instance
    val out = f.objectNode()
    val arr: ArrayNode = out.putArray("jobs")
    jobs.values.foreach { j =>
      arr.addObject()
        .put("id", j.id).put("start_ms", j.start).put("end_ms", j.end)
        .put("ok", j.ok).put("frames", j.frames)
        .put("sql_frames", j.sqlFrames).put("streaming", j.streaming)
        .put("stages", j.stages).put("tasks", j.tasks)
        .put("failed_tasks", j.failedTasks).put("cpu_ns", j.cpuNs)
        .put("run_ms", j.runMs).put("wait_ms", j.waitMs)
        .put("shuffle_write_bytes", j.shuffleWrite)
        .put("spill_bytes", j.spill).put("output_bytes", j.output)
    }
    out.put("plan_ms", planMs).put("planned_queries", plannedQueries)
    val pa = out.putArray("stream_progress")
    progress.foreach(pa.add)
    val ds = out.putObject("driver_samples")
    driverSamples.foreach { case (frame, n) => ds.put(frame, n) }
    out
  }
}
