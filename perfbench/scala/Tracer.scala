package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-pass layer accounting from Spark's public listeners and the
  * codegen metrics source. Jobs are attributed to the span
  * that submitted them through the [[PhaseKey]] local property (threads
  * a streaming query starts inherit it from the build span). */
final class Tracer private (spark: SparkSession) {
  import Tracer._

  private final class PhaseStats {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    val skews = mutable.ArrayBuffer.empty[Double]
  }

  private val lock = new Object
  private val phases = mutable.Map.empty[String, PhaseStats]
  private val stagePhase = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val batches = mutable.Set.empty[(String, Long)]
  private val streamMs = mutable.Map.empty[String, Long]
  private val stateRows = mutable.Map.empty[String, Long]
  private val sharedSeen = mutable.Set.empty[String]
  private var storagePeakMb = 0.0
  private var codegen0 = 0L

  private def stats(p: String): PhaseStats =
    phases.getOrElseUpdate(p, new PhaseStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties).flatMap(x => Option(x.getProperty(PhaseKey)))
        .getOrElse("none")
      stats(p).jobs += 1
      e.stageIds.foreach(s => stagePhase(s) = p)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stats(stagePhase.getOrElse(e.stageId, "none"))
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val id = e.stageInfo.stageId
        val s = stats(stagePhase.getOrElse(id, "none"))
        s.stages += 1
        stageTaskMs.remove(id).filter(_.nonEmpty).foreach { ts =>
          val sorted = ts.sorted
          val med = sorted((sorted.size - 1) / 2).max(1L)
          s.skews += sorted.last.toDouble / med
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        if (batches.add(p.runId.toString -> p.batchId)) {
          p.durationMs.asScala.foreach { case (k, v) =>
            streamMs(k) = streamMs.getOrElse(k, 0L) + v.longValue
          }
          streamMs("stateCommit") = streamMs.getOrElse("stateCommit", 0L) +
            p.stateOperators.map(_.commitTimeMs).sum
          stateRows(p.runId.toString) = p.stateOperators.map(_.numRowsTotal).sum
        }
      }
  }

  private def install(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    this
  }

  def beginPass(): Unit = {
    BusAccess.drain(spark.sparkContext)
    lock.synchronized {
      phases.clear(); stagePhase.clear(); stageTaskMs.clear()
      batches.clear(); streamMs.clear(); stateRows.clear()
      sharedSeen.clear(); storagePeakMb = 0.0
    }
    codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Shared-frame tokens live after a query (their union is the
    * number of distinct shared frames the pass built). */
  def noteShared(keys: Set[String]): Unit = sharedSeen ++= keys

  /** Memory + disk held by persisted blocks (checkpoints and shared
    * frames), sampled after a query's spans; the pass keeps the peak. */
  def noteStorage(s: SparkSession): Unit = {
    val mb = s.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    storagePeakMb = storagePeakMb.max(mb)
  }

  /** This pass's layer figures, keyed by metric name. */
  def endPass(s: SparkSession): Map[String, Any] = {
    BusAccess.drain(s.sparkContext)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0
    lock.synchronized {
      def ph(p: String): Map[String, Any] = phases.get(p).map { x =>
        Map("jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
          "task_run_s" -> x.runMs / 1e3, "task_cpu_s" -> x.cpuNs / 1e9,
          "task_gc_s" -> x.gcMs / 1e3,
          "shuffle_read_mb" -> x.shuffleRead / 1048576.0,
          "shuffle_write_mb" -> x.shuffleWrite / 1048576.0,
          "spill_mb" -> x.spill / 1048576.0,
          "input_mb" -> x.input / 1048576.0,
          "task_skew" -> median(x.skews.toSeq))
      }.getOrElse(Map.empty)
      Map(
        "phases" -> phases.keys.toSeq.map(p => p -> ph(p)).toMap,
        "codegen_compiles" -> compiles,
        "shared_frames" -> sharedSeen.size,
        "storage_mb" -> storagePeakMb,
        "stream_triggers" -> batches.size,
        "stream_ms" -> streamMs.toMap,
        "state_rows" -> stateRows.values.sum)
    }
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  def install(spark: SparkSession): Tracer = new Tracer(spark).install()

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
