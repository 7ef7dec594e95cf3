package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SamplerSpec extends AnyFunSuite {
  private def frame(cls: String, method: String) = new StackTraceElement(cls, method, "F.scala", 1)

  test("a sample goes to the innermost marked frame") {
    val stack = Array(
      frame("org.apache.spark.SparkContext", "runJob"),
      frame("graft.pipeline.ChartSink$", "writeCoherenceCurve"),
      frame("graft.operators.TopicModelOps$", "gridSearchOver"),
      frame("graft.pipeline.AnalysisMain$", "run"),
      frame("graft.pipeline.FullAnalysisMain$", "run"))
    assert(Sampler.classify(stack, Sampler.report) == "charts")
    assert(Sampler.classify(stack.drop(2), Sampler.report) == "grid_search")
    assert(Sampler.classify(stack.drop(3), Sampler.report) == Sampler.Other)
    val lda = frame("graft.pipeline.AnalysisRunner$", "runLdaAnalysis")
    assert(Sampler.classify(Array(frame("x.Y", "z"), lda), Sampler.report) == "lda_report")
  }

  test("the split covers the wall time of the sampled call") {
    val markers = Seq("sleep" -> Sampler.method("java.lang.Thread", "sleep"))
    val t0 = System.nanoTime()
    val (r, split) = new Sampler(markers, intervalMs = 5).run { Thread.sleep(400); 7 }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(r == 7)
    assert(split.keySet == Set("sleep", Sampler.Other))
    assert(split("sleep") > 0.3)
    assert(split.values.sum <= wall)
  }
}
