package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced query execution's engine counters. Jobs, stages and tasks
  * are attributed through the query's job group; plan and stream events
  * (which carry no group) go to the query that is current when they are
  * delivered — the runner drains the listener bus before it moves on.
  */
final class QueryStats {
  var jobs, stages, tasks, taskFailures = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var runMs, cpuNs, gcMs, fetchWaitMs = 0L
  var shuffleWriteB, shuffleReadB, shuffleRecords, spillB = 0L
  var scanB, scanRows = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var stampedBuilds, stampedBuildNs, stampedWrittenB = 0L
  val artifactReads = mutable.Set.empty[String]
  var outputB, outputRows = 0L
  var barriers = 0L
  var batches, emptyBatches, triggerMs, addBatchMs, stateRows = 0L

  /** Seconds covered by at least one job of this query. */
  def jobUnionS: Double = {
    var covered, end = 0L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) { covered += e - from; end = e }
    }
    covered / 1e3
  }

  /** max/median task time in the stage where that ratio is largest. */
  def taskSkew: Double = stageTaskMs.values.filter(_.size >= 2).map { ts =>
    val sorted = ts.sorted
    val med = math.max(sorted(sorted.size / 2), 1L)
    sorted.last.toDouble / med
  }.maxOption.getOrElse(1.0)
}

/** A node of the span tree written at exit (`run → pass → query →
  * {call, action} → job → stage`, plus `barrier` and `stream_batch`
  * under the query). Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Long, endMs: Long)

/** The benchmark's listeners: a SparkListener for jobs, stages and
  * tasks, a QueryExecutionListener for barriers, stamped-artifact builds
  * and reads, and sink writes, and a StreamingQueryListener for
  * micro-batches. They are registered only for traced passes.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val byGroup = mutable.Map.empty[String, (Long, QueryStats)]
  /** Open jobs: job id → (group, span id, start). */
  private val openJobs = mutable.Map.empty[Int, (String, Long, Long)]
  /** Stage id → (group, span id of its job). */
  private val stageOwner = mutable.Map.empty[Int, (String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  @volatile private var current: Option[(Long, QueryStats)] = None

  def reserveId(): Long = synchronized { nextId += 1; nextId }

  def addSpan(s: Span): Unit = synchronized { spans += s }

  /** Starts attributing events to the query span `spanId` under `group`. */
  def begin(group: String, spanId: Long): QueryStats = synchronized {
    val st = new QueryStats
    byGroup(group) = (spanId, st)
    current = Some((spanId, st))
    st
  }

  def end(group: String): Unit = synchronized {
    byGroup.remove(group)
    current = None
  }

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      groupOf(e.properties).filter(byGroup.contains).foreach { g =>
        val sid = reserveId()
        openJobs(e.jobId) = (g, sid, e.time)
        e.stageIds.foreach(stageOwner(_) = (g, sid))
        byGroup(g)._2.jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (g, sid, start) =>
        byGroup.get(g).foreach { case (qid, st) =>
          st.jobIntervals += ((start, e.time))
          spans += Span(sid, qid, "job", s"job ${e.jobId}", start, e.time)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        stageOwner.get(info.stageId).foreach { case (g, jobSid) =>
          byGroup.get(g).foreach { case (_, st) =>
            st.stages += 1
            spans += Span(reserveId(), jobSid, "stage", s"stage ${info.stageId}",
              info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageOwner.get(e.stageId).flatMap(o => byGroup.get(o._1)).foreach { case (_, st) =>
        st.tasks += 1
        if (e.reason != org.apache.spark.Success) st.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          st.spillB += m.diskBytesSpilled
          st.scanB += m.inputMetrics.bytesRead
          st.scanRows += m.inputMetrics.recordsRead
        }
        st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }
  }

  private def isArtifact(path: String): Boolean = path.contains("/graft_")

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach { case (qid, st) => Tracer.this.synchronized {
        val endMs = System.currentTimeMillis()
        val plan = qe.executedPlan
        if (funcName == "localCheckpoint" || funcName == "checkpoint") {
          st.barriers += 1
          spans += Span(reserveId(), qid, "barrier", funcName,
            endMs - durationNs / 1000000, endMs)
        }
        collect(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand =>
              val out = c.outputPath.toString
              val bytes = w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
              if (isArtifact(out) && out.contains(".staging_")) {
                st.stampedBuilds += 1
                st.stampedBuildNs += durationNs
                st.stampedWrittenB += bytes
              } else {
                st.outputB += bytes
                st.outputRows += w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
              }
            case _ =>
          }
        }
        collect(plan) { case s: FileSourceScanExec => s }.foreach { s =>
          s.relation.location.rootPaths.map(_.toString).filter(isArtifact)
            .filterNot(_.contains(".staging_")).foreach(st.artifactReads += _)
        }
      }}
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      current.foreach { case (qid, st) => Tracer.this.synchronized {
        val p = e.progress
        def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        st.batches += 1
        if (p.numInputRows == 0) st.emptyBatches += 1
        st.triggerMs += ms("triggerExecution")
        st.addBatchMs += ms("addBatch")
        st.stateRows = math.max(st.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        spans += Span(reserveId(), qid, "stream_batch", s"batch ${p.batchId}",
          start, start + ms("triggerExecution"))
      }}
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Internals.drainListenerBus(spark.sparkContext)
}
