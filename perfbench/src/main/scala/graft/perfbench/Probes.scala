package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job, as the listener saw it. */
final case class JobSpan(jobId: Int, phase: String, module: String, site: String, startMs: Double,
                         endMs: Double, stages: Int, tasks: Int)

/** Per-layer counters gathered from outside the program: a
  * `SparkListener` (jobs, stages, tasks, executor metrics), a
  * `QueryExecutionListener` (Catalyst phases) and a
  * `StreamingQueryListener` (micro-batches and state). The harness drains
  * the listener bus around every operation and takes what accumulated
  * with [[take]], so each operation gets exactly its own events.
  *
  * Jobs are attributed to a module by the source file of their call
  * site (`"count at Dedup.scala:123"`). A call site in the benchmark's
  * own code (the action on a lazily built plan) falls to the module of
  * the operation that built the plan. */
final class Probes(spark: SparkSession) {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val open = mutable.Map.empty[Int, (Double, String, String, String, Int)]
  private val jobTasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v
  private def locked[T](f: => T): T = this.synchronized(f)

  /** Module of a call site, by its source file; `bench` for the
    * benchmark's own files. */
  def module(callSite: String): String =
    callSite.split(" at ").lastOption.getOrElse("").takeWhile(_ != '.') match {
      case "DocStreams" | "EventStreams" => "streaming"
      case "Workloads" | "Main" | "Inputs" => "bench"
      case file if Probes.modules.contains(file) => file
      case _ => "other"
    }

  private val executionSite = mutable.Map.empty[Long, String]

  private val jobListener = new SparkListener {
    // adaptive query stages submit their jobs from a pool thread, so a
    // job's own call site is Spark's; its SQL execution keeps the caller's
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => locked { executionSite(s.executionId) = s.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(id => executionSite.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse(""))
      val phase = prop("perfbench.phase").getOrElse("none")
      // micro-batch jobs carry the call site of the query's start; a final
      // action in the benchmark's own code counts toward the operation's module
      val mod = if (phase == "stream") "streaming" else module(site) match {
        case "bench" => prop("perfbench.module").filter(Probes.modules.contains).getOrElse("other")
        case m => m
      }
      e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
      open(e.jobId) = (e.time.toDouble, phase, mod, site, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      open.remove(e.jobId).foreach { case (start, phase, mod, site, stages) =>
        val span = JobSpan(e.jobId, phase, mod, site, start, e.time.toDouble, stages, jobTasks(e.jobId))
        jobs += span
        add("spark.jobs", 1)
        add(s"$mod.jobs", 1)
        add(s"$mod.job_ms", span.endMs - span.startMs)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked {
      stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      add("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      add("spark.tasks", 1)
      stageJob.get(e.stageId).foreach(j => jobTasks(j) += 1)
      if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) add("spark.failed_tasks", 1)
      stageSubmitted.get(e.stageId).foreach(t => add("spark.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t)))
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime)
        add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.gc_ms", m.jvmGCTime)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("spark.input_bytes", m.inputMetrics.bytesRead)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      locked {
        qe.tracker.phases.foreach { case (phase, s) => add(s"catalyst.${phase}_ms", s.durationMs) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = locked {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.add_batch_ms", d("addBatch"))
      add("stream.wal_commit_ms", d("walCommit"))
      add("stream.trigger_ms", d("triggerExecution"))
      batchMs += d("triggerExecution")
      p.stateOperators.foreach { s =>
        add("stream.state_rows", s.numRowsTotal.toDouble)
        add("stream.state_bytes", s.memoryUsedBytes.toDouble)
        add("stream.state_commit_ms", s.commitTimeMs.toDouble)
      }
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Drains the bus and returns (and clears) everything counted since
    * the last call. */
  def take(): (Map[String, Double], Seq[JobSpan], Seq[Double]) = {
    drain()
    locked {
      val out = (c.toMap, jobs.toList, batchMs.toList)
      c.clear(); jobs.clear(); batchMs.clear(); jobTasks.clear()
      stageJob.clear(); stageSubmitted.clear(); executionSite.clear()
      out
    }
  }
}

object Probes {
  /** The modules jobs are counted for: those whose jobs were seen on at
    * least one workload. Jobs of any other source file count as `other`. */
  val modules: Seq[String] = Seq("Tables", "Extract", "Load", "Evolution", "Materialize", "Dedup",
    "Similarity", "TextAnalysis", "Graph", "Events", "HistStore", "streaming", "other")
}

/** The largest heap occupancy left after any garbage collection since
  * [[install]]: the data the program keeps live, which a fixed or
  * pre-touched heap hides from the process's RSS. */
object LiveHeap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak.toDouble / (1 << 20)
}
