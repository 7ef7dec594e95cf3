package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

/** Splits the wall time of one call by where the calling thread is inside
  * it, without touching the code it calls: a daemon thread samples that
  * thread's stack every `intervalMs` and charges the time since the
  * previous sample to the innermost frame that matches a marker, or to
  * `Sampler.Other`.
  */
final class Sampler(markers: Seq[(String, StackTraceElement => Boolean)],
                    intervalMs: Long = 10) {

  /** Runs `body` on this thread under the sampler; returns its result and
    * the seconds charged to each marker (every marker and `Other` present).
    */
  def run[T](body: => T): (T, Map[String, Double]) = {
    val target = Thread.currentThread()
    val ns = mutable.LinkedHashMap.from((markers.map(_._1) :+ Sampler.Other).map(_ -> 0L))
    val running = new AtomicBoolean(true)
    val thread = new Thread(() => {
      var last = System.nanoTime()
      while (running.get()) {
        Thread.sleep(intervalMs)
        val stack = target.getStackTrace
        val now = System.nanoTime()
        val where = Sampler.classify(stack, markers)
        ns(where) += now - last
        last = now
      }
    }, "perfbench-sampler")
    thread.setDaemon(true)
    thread.start()
    val result =
      try body
      finally {
        running.set(false)
        thread.join()
      }
    (result, ns.view.mapValues(_ / 1e9).toMap)
  }
}

object Sampler {
  val Other = "other"

  /** The name of the innermost marker on `stack` (innermost frame first, as
    * `Thread.getStackTrace` gives it), or `Other`.
    */
  def classify(stack: Array[StackTraceElement],
               markers: Seq[(String, StackTraceElement => Boolean)]): String =
    stack.iterator.flatMap(f => markers.find(_._2(f)).map(_._1)).nextOption().getOrElse(Other)

  /** A marker for the frames of method `method` of class `cls`. */
  def method(cls: String, method: String): StackTraceElement => Boolean =
    f => f.getClassName == cls && f.getMethodName == method

  /** The parts of one EP2 report (`FullAnalysisMain.run`): the two
    * `AnalysisRunner` halves, the coherence grid search and the figure
    * writers. Time in none of them (loading the table, the read-back of
    * sheets before a chart call) is `Other`.
    */
  val report: Seq[(String, StackTraceElement => Boolean)] = Seq(
    "cluster_half" -> method("graft.pipeline.AnalysisRunner$", "runClusterAnalysis"),
    "lda_report" -> method("graft.pipeline.AnalysisRunner$", "runLdaAnalysis"),
    "grid_search" -> method("graft.operators.TopicModelOps$", "gridSearchOver"),
    "charts" -> ((f: StackTraceElement) => f.getClassName == "graft.pipeline.ChartSink$"))
}
