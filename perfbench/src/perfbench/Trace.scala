package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Epoch milliseconds at nanosecond resolution, so the benchmark's own
  * spans and Spark's millisecond event times share one axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One interval of the trace. Spans of one operation share `op`;
  * `parent` is the span that caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      start: Double, end: Double, cause: String,
                      attrs: Map[String, Double] = Map.empty)

/** Counters of one operation, filled from listener events. */
final class OpStats {
  var buildJobs = 0L; var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var analysisMs = 0.0; var optimizationMs = 0.0; var planningMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] in which no task of this operation ran. */
  def idleMs(from: Double, to: Double): Double = {
    var covered = 0.0
    var reach = from
    for ((s, e) <- taskIntervals.sortBy(_._1)) {
      val a = math.max(s.toDouble, reach)
      val b = math.min(e.toDouble, to)
      if (b > a) { covered += b - a; reach = b }
    }
    math.max(0.0, (to - from) - covered)
  }

  def toMap: Map[String, Any] = Map(
    "build_jobs" -> buildJobs, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs)
}

/** One streaming trigger, from the query's progress event. */
final case class Trigger(query: String, batchId: Long, startMs: Double, endMs: Double,
                         inputRows: Long, durations: Map[String, Double],
                         stateRows: Long, stateCommitMs: Double)

/** Collects every streaming trigger; needed for the serve workload's
  * end-to-end latency, so it is installed with tracing off too. */
final class TriggerLog extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val state = p.stateOperators
    triggers.add(Trigger(p.name, p.batchId, start, start + d.getOrElse("triggerExecution", 0.0),
      p.numInputRows, d, state.map(_.numRowsTotal).sum, state.map(_.commitTimeMs).sum.toDouble))
  }
}

/** The per-layer trace: spans recorded by the benchmark around each
  * layer call, plus child spans and counters from Spark's listeners.
  * Jobs are attributed to an operation by the local properties the
  * runner sets before each call; planning events by the operation that
  * is current while they are delivered (the runner drains the listener
  * bus between operations). Everything stays in memory until the run
  * ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stats = new ConcurrentHashMap[Long, OpStats]()
  @volatile var currentOp = 0L
  @volatile var currentSpan = 0L

  private final case class Job(op: Long, parent: Long, start: Long, cause: String, span: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val blockMem = new ConcurrentHashMap[String, (Int, Long, Long)]()
  @volatile private var cacheBytes = 0L
  @volatile var cachePeak = 0L
  val evicted = new AtomicLong()

  def nextId(): Long = ids.incrementAndGet()
  def statsOf(op: Long): OpStats = stats.computeIfAbsent(op, _ => new OpStats)

  def add(parent: Long, op: Long, layer: String, name: String, start: Double, end: Double,
          cause: String, attrs: Map[String, Double] = Map.empty, id: Long = 0L): Long = {
    val sid = if (id != 0L) id else nextId()
    spans.add(Span(sid, parent, op, layer, name, start, end, cause, attrs))
    sid
  }

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = prop(e.properties, "perfbench.op")
      val cause = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      jobs.put(e.jobId, Job(op, prop(e.properties, "perfbench.span"), e.time, cause, nextId()))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      val st = statsOf(op)
      st.synchronized {
        st.jobs += 1
        if (Option(e.properties).exists(_.getProperty("perfbench.phase") == "build")) st.buildJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
      add(j.parent, j.op, "exec", s"job ${e.jobId}", j.start.toDouble, e.time.toDouble, j.cause,
        id = j.span)
    }
    private def jobOf(stageId: Int): Option[Job] =
      Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      jobOf(info.stageId).foreach { j =>
        val st = statsOf(j.op)
        val tm = info.taskMetrics
        st.synchronized {
          st.stages += 1
          st.tasks += info.numTasks
          if (tm != null) {
            st.runMs += tm.executorRunTime; st.cpuNs += tm.executorCpuTime; st.gcMs += tm.jvmGCTime
            st.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
            st.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
            st.spill += tm.diskBytesSpilled
          }
        }
        val start = info.submissionTime.getOrElse(j.start).toDouble
        val end = info.completionTime.map(_.toDouble).getOrElse(start)
        add(j.span, j.op, "exec", s"stage ${info.stageId}.${info.attemptNumber()}", start, end,
          info.name, Map("tasks" -> info.numTasks.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobOf(e.stageId).foreach { j =>
      val st = statsOf(j.op)
      st.synchronized {
        st.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        if (e.reason != TaskSuccess) st.failedTasks += 1
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val u = e.blockUpdatedInfo
      u.blockId match {
        case RDDBlockId(rdd, _) =>
          val key = s"${u.blockManagerId.executorId}/${u.blockId.name}"
          val (mem, disk) = if (u.storageLevel.isValid) (u.memSize, u.diskSize) else (0L, 0L)
          val old = Option(blockMem.put(key, (rdd, mem, disk))).getOrElse((rdd, 0L, 0L))
          if (old._2 > 0 && mem == 0 && sc.getPersistentRDDs.contains(rdd)) evicted.incrementAndGet()
          synchronized {
            cacheBytes += (mem + disk) - (old._2 + old._3)
            if (cacheBytes > cachePeak) cachePeak = cacheBytes
          }
        case _ =>
      }
    }
  }

  /** Blocks of RDDs that are no longer persisted are released without a
    * block event; drop them from the running total. */
  def reconcileCache(): Unit = synchronized {
    val live = sc.getPersistentRDDs.keySet
    blockMem.asScala.toSeq.foreach { case (k, (rdd, mem, disk)) =>
      if (!live.contains(rdd)) { blockMem.remove(k); cacheBytes -= mem + disk }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val op = currentOp
      val st = statsOf(op)
      for ((phase, ph) <- qe.tracker.phases) {
        st.synchronized {
          phase match {
            case "analysis" => st.analysisMs += ph.durationMs
            case "optimization" => st.optimizationMs += ph.durationMs
            case "planning" => st.planningMs += ph.durationMs
            case _ =>
          }
        }
        add(currentSpan, op, "plans", phase, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble, funcName)
      }
    }
  }

  /** Forgets everything recorded so far (the set-up's work). */
  def reset(): Unit = { drain(); spans.clear(); stats.clear(); cachePeak = 0L; evicted.set(0L) }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(sc)
}
