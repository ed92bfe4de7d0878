package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: Spark jobs and stages, Catalyst phases and
  * streaming triggers become spans in the [[Recorder]]. Jobs find their
  * unit span through the local property [[Recorder.SpanProp]]; Catalyst
  * phases and triggers carry no such property, so `run.py` attaches them
  * to the unit whose interval holds them (phases) or whose query run
  * produced them (triggers, by `run_id`).
  */
object Trace {

  def install(spark: SparkSession, rec: Recorder): Unit = {
    val jobs = new ConcurrentHashMap[Int, Span]()
    val stageJob = new ConcurrentHashMap[Int, String]()

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val parent = Option(js.properties).map(_.getProperty(Recorder.SpanProp)).orNull
        val id = s"job-${js.jobId}"
        jobs.put(js.jobId, Span(id, parent, parent, "job", "job", js.time.toDouble, -1,
          Map("stages" -> js.stageIds.size)))
        js.stageIds.foreach(sid => stageJob.put(sid, id))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.remove(je.jobId)
        if (j != null) rec.add(j.copy(endMs = je.time.toDouble,
          attrs = j.attrs + ("ok" -> (je.jobResult == JobSucceeded))))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val job = stageJob.getOrDefault(si.stageId, null)
        val group = Option(job).flatMap(j =>
          Option(jobs.get(j.stripPrefix("job-").toInt))).map(_.group).orNull
        val m = si.taskMetrics
        val attrs: Map[String, Any] =
          if (m == null) Map("tasks" -> si.numTasks)
          else Map(
            "tasks" -> si.numTasks,
            "run_ms" -> m.executorRunTime,
            "cpu_ms" -> m.executorCpuTime / 1e6,
            "gc_ms" -> m.jvmGCTime,
            "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
            "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead),
            "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
            "spill_disk_b" -> m.diskBytesSpilled,
            "input_b" -> m.inputMetrics.bytesRead,
            "output_b" -> m.outputMetrics.bytesWritten)
        rec.add(Span(s"stage-${si.stageId}-${si.attemptNumber()}", job, group, "stage", "stage",
          si.submissionTime.getOrElse(0L).toDouble,
          si.completionTime.getOrElse(0L).toDouble, attrs))
      }
    })

    spark.listenerManager.register(new QueryExecutionListener {
      private def phases(funcName: String, qe: QueryExecution, ok: Boolean): Unit =
        qe.tracker.phases.foreach { case (phase, p) =>
          rec.add(Span(rec.newId("catalyst"), null, null, s"catalyst.$phase", "catalyst",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble,
            Map("func" -> funcName, "ok" -> ok)))
        }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(funcName, qe, ok = true)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        phases(funcName, qe, ok = false)
    })

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = progress(e.progress)
        val start = p("start_ms").asInstanceOf[Double]
        rec.add(Span(rec.newId("trigger"), null, null, s"trigger.${e.progress.name}", "trigger",
          start, start + p("trigger_ms").asInstanceOf[Double], p))
      }
    })
  }

  /** The fields of one micro-batch's progress the benchmark uses. */
  def progress(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val observed = Option(p.observedMetrics).map(_.asScala.toMap).getOrElse(Map.empty)
      .get("graft_ingest").map { r =>
        r.schema.fieldNames.map(f => f -> Option(r.getAs[Any](f)).map(v => java.lang.Double.valueOf(v.toString)).orNull).toMap
      }.orNull
    Map(
      "query" -> p.name,
      "run_id" -> p.runId.toString,
      "batch" -> p.batchId,
      "rows" -> p.numInputRows,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L).toDouble,
      "durations" -> d,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "rows" -> s.numRowsTotal,
        "mem_b" -> s.memoryUsedBytes,
        "commit_ms" -> s.commitTimeMs,
        "removed" -> s.numRowsRemoved,
        "dropped_by_watermark" -> s.numRowsDroppedByWatermark)),
      "observed" -> observed)
  }
}
