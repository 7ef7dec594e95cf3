package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-runtime counters for one group of jobs (a span, or the whole run). */
final class SparkCounters {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, scan, result = new LongAdder

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks.increment()
    runMs.add(m.executorRunTime)
    cpuNs.add(m.executorCpuTime)
    gcMs.add(m.jvmGCTime)
    shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
    shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
    spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    scan.add(m.inputMetrics.bytesRead)
    result.add(m.resultSize)
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble,
    "stages" -> stages.sum.toDouble,
    "tasks" -> tasks.sum.toDouble,
    "task_run_s" -> runMs.sum / 1e3,
    "task_cpu_s" -> cpuNs.sum / 1e9,
    "gc_s" -> gcMs.sum / 1e3,
    "shuffle_write_mb" -> shuffleWrite.sum / 1e6,
    "shuffle_read_mb" -> shuffleRead.sum / 1e6,
    "spill_mb" -> spill.sum / 1e6,
    "scan_mb" -> scan.sum / 1e6,
    "result_mb" -> result.sum / 1e6)
}

/** One timed region of the benchmark. Spark jobs started while it is the
  * innermost open span are tagged with its name as their job group.
  */
final case class Span(name: String, depth: Int, startNs: Long,
                      var endNs: Long = 0L, var childNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = (endNs - startNs - childNs) / 1e9
}

/** In-memory trace of one run: a SparkListener and a QueryExecutionListener
  * on the benchmark's own session, attached only inside `traced` regions,
  * plus spans around the public calls the benchmark makes. Counters are kept
  * per phase (the label of the enclosing `traced` region).
  */
final class Tracer(spark: SparkSession) {
  private val GroupKey = "spark.jobGroup.id"
  @volatile private var phase = ""
  private val byPhase = new ConcurrentHashMap[String, SparkCounters]
  private val phaseWallNs = new ConcurrentHashMap[String, AtomicLong]
  private val phasePlanNs = new ConcurrentHashMap[String, AtomicLong]
  private val bySpan = new ConcurrentHashMap[String, SparkCounters]
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  private def counters(m: ConcurrentHashMap[String, SparkCounters], k: String) =
    m.computeIfAbsent(k, _ => new SparkCounters)
  private def clock(m: ConcurrentHashMap[String, AtomicLong], k: String) =
    m.computeIfAbsent(k, _ => new AtomicLong)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .getOrElse("(untagged)")
      val owner = (phase, span)
      counters(byPhase, owner._1).jobs.increment()
      counters(bySpan, owner._2).jobs.increment()
      e.stageIds.foreach(stageOwner.put(_, owner))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (p, s) =>
        counters(byPhase, p).stages.increment()
        counters(bySpan, s).stages.increment()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) Option(stageOwner.get(e.stageId)).foreach { case (p, s) =>
        counters(byPhase, p).add(e.taskMetrics)
        counters(bySpan, s).add(e.taskMetrics)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      clock(phasePlanNs, phase).addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum)
    }
  }

  /** Runs `body` with both listeners attached, counting under `label`. The
    * listener bus is drained before they detach, so every event of the
    * region's jobs is counted.
    */
  def traced[T](label: String)(body: => T): T = {
    phase = label
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val t0 = System.nanoTime()
    try body
    finally {
      clock(phaseWallNs, label).addAndGet(System.nanoTime() - t0)
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(name, open.size, System.nanoTime())
    val sc = spark.sparkContext
    val prevGroup = Option(sc.getLocalProperty(GroupKey))
    open.push(s)
    spans += s
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      open.headOption.foreach(_.childNs += s.endNs - s.startNs)
      prevGroup match {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spark counters, wall and planning seconds of one phase. */
  def phaseReport(label: String): Map[String, Double] =
    Option(byPhase.get(label)).fold(new SparkCounters().toMap)(_.toMap) ++ Map(
      "wall_s" -> Option(phaseWallNs.get(label)).fold(0.0)(_.get / 1e9),
      "plan_s" -> Option(phasePlanNs.get(label)).fold(0.0)(_.get / 1e9))

  /** The trace as plain data: each phase, and per span name the call count,
    * total and self seconds, and the Spark counters of the jobs it tagged.
    */
  def report: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map(
      "phases" -> phaseWallNs.keySet.asScala.toSeq.sorted.map(p => p -> phaseReport(p)).toMap,
      "spans" -> spans.toSeq.groupBy(_.name).toSeq.sortBy(_._2.head.startNs).map {
        case (name, ss) =>
          Map("name" -> name, "depth" -> ss.head.depth, "count" -> ss.size,
            "seconds" -> ss.map(_.seconds).sum,
            "self_seconds" -> ss.map(_.selfSeconds).sum,
            "spark" -> Option(bySpan.get(name)).map(_.toMap).getOrElse(Map.empty))
      })
  }
}
