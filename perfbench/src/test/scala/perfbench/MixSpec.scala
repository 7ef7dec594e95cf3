package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MixSpec extends AnyFunSuite {
  test("a face that throws is a failure and never a latency sample") {
    val outcomes = Mix.pass(Seq("ok_a", "boom", "ok_b"), 1) {
      case "boom" => Thread.sleep(20); throw new IllegalStateException("injected")
      case _ => ()
    }
    val boom = outcomes.filter(_.face == "boom")
    assert(boom.size == 1)
    assert(boom.head.seconds.isEmpty)
    assert(boom.head.error.exists(_.contains("injected")))
    assert(outcomes.filter(_.face != "boom").forall(o => o.seconds.isDefined && o.error.isEmpty))
  }

  test("warm orders are seeded shuffles of the mix") {
    val faces = (1 to 12).map(i => s"f$i")
    assert(Mix.order(faces, 7, 3) == Mix.order(faces, 7, 3))
    assert(Mix.order(faces, 7, 3).sorted == faces.sorted)
    assert((1 to 5).map(Mix.order(faces, 7, _)).distinct.size > 1)
  }
}
