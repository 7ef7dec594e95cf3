package perfbench

import scala.util.control.NonFatal

/** One execution of one face: its latency, or the error it threw. Never both. */
final case class Outcome(face: String, pass: Int, seconds: Option[Double],
                         error: Option[String])

object Mix {
  /** Runs each face once, in order, through `run`. A face that throws is a
    * failure with no latency: its time-to-failure is never a sample.
    */
  def pass(faces: Seq[String], passIdx: Int)(run: String => Unit): Seq[Outcome] =
    faces.map { face =>
      val t0 = System.nanoTime()
      try {
        run(face)
        Outcome(face, passIdx, Some((System.nanoTime() - t0) / 1e9), None)
      } catch {
        case NonFatal(e) =>
          Outcome(face, passIdx, None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    }

  /** The face order of warm pass `passIdx`: a seeded shuffle, so no face
    * always follows the same heavy neighbour.
    */
  def order(faces: Seq[String], seed: Long, passIdx: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + passIdx).shuffle(faces)
}
