package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `phase` is "first" (cold pass),
  * "timed" (the measured loop) or "check" (untimed output checks). */
final case class Op(id: Long, name: String, layer: String, phase: String,
                    client: Boolean, startMs: Long, wallS: Double,
                    error: Option[String], stats: Option[OpStats])

/** Per-operation counters collected by the traced run. */
final class OpStats {
  var planMs = 0L; var executions = 0L; var codegen = 0L
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L; var spillBytes = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var bytesWritten = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (jobId, start, end)
  var fs: Map[String, Long] = Map.empty
  val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var streamRows = 0L

  /** Op wall minus the part of it covered by its Spark jobs. */
  def driverGapS(startMs: Long, wallS: Double): Double = {
    val end = startMs + (wallS * 1000).toLong
    val iv = jobSpans.map { case (_, s, e) => (s.max(startMs), e.min(end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) covered += curE - curS
    (wallS - covered / 1000.0).max(0.0)
  }
}

/** Times operations, isolates their failures and, when `enabled`,
  * attributes Spark listener events, codegen compiles, GC and file
  * system calls to the operation that caused them. Spans stay in
  * memory until [[writeSpans]]. */
final class Trace(val enabled: Boolean, runId: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var nextId = 1L
  @volatile private var current: OpStats = _
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, OpStats]()
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = {
    spark = s
    if (!enabled) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val st = current
        if (st != null) {
          st.jobs += 1
          st.jobSpans += ((e.jobId.toLong, e.time, Long.MaxValue))
          e.stageInfos.foreach(si => stageOwner.put(si.stageId, st))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = current
        if (st != null) {
          val i = st.jobSpans.indexWhere(_._1 == e.jobId)
          if (i >= 0) st.jobSpans(i) = st.jobSpans(i).copy(_3 = e.time)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val st = Option(stageOwner.remove(e.stageInfo.stageId)).getOrElse(current)
        if (st != null) {
          st.stages += 1
          st.tasks += e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            st.taskMs += m.executorRunTime
            st.cpuNs += m.executorCpuTime
            st.gcMs += m.jvmGCTime
            st.spillBytes += m.diskBytesSpilled
            st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            st.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val st = current
        if (st != null) {
          st.executions += 1
          st.planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val st = current
        if (st != null) {
          e.progress.durationMs.asScala.foreach { case (k, v) => st.streamMs(k) += v.longValue }
          st.streamRows += e.progress.numInputRows
        }
      }
    })
  }

  /** Run `body` as one operation; a throw is recorded, not rethrown. */
  def op[T](name: String, layer: String, phase: String, client: Boolean = false)
           (body: => T): Option[T] = {
    val id = nextId; nextId += 1
    val st = if (enabled) new OpStats else null
    if (enabled) {
      BenchBus.drain(spark.sparkContext)
      CountingFileSystem.takeOpened()
      current = st
    }
    val (fs0, cg0) =
      if (enabled) (CountingFileSystem.snapshot(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      else (Map.empty[String, Long], 0L)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (res, err) =
      try (Some(body), None)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        (None, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    if (enabled) {
      BenchBus.drain(spark.sparkContext)
      current = null
      st.codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      st.fs = CountingFileSystem.snapshot().map { case (k, v) => k -> (v - fs0(k)) }
    }
    System.err.println(f"[perfbench] $phase%-5s $name%-28s $wall%8.3f s${err.fold("")(_ => " FAILED")}")
    ops += Op(id, name, layer, phase, client, startMs, wall, err, Option(st))
    res
  }

  def failures: Seq[Op] = ops.filter(_.error.isDefined).toSeq

  /** Spans as JSON lines: one per operation and one per Spark job, the
    * job spans parented to the operation that ran them. */
  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    var jobSpanId = 1000000000L
    ops.foreach { o =>
      val end = o.startMs + (o.wallS * 1000).toLong
      sb ++= s"""{"run":"$runId","span":${o.id},"parent":0,"name":"${o.name}","layer":"${o.layer}","phase":"${o.phase}","start_ms":${o.startMs},"end_ms":$end,"ok":${o.error.isEmpty}}""" + "\n"
      o.stats.foreach(_.jobSpans.foreach { case (jid, s, e) =>
        jobSpanId += 1
        sb ++= s"""{"run":"$runId","span":$jobSpanId,"parent":${o.id},"name":"job-$jid","layer":"spark_job","phase":"${o.phase}","start_ms":$s,"end_ms":${if (e == Long.MaxValue) s else e},"ok":true}""" + "\n"
      })
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
