package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation. `failure` is "" for a success, "exception" or
  * "check"; a failed operation's time is never reported as a success. */
final case class OpRec(kind: String, seconds: Double, loop: Boolean,
                       failure: String, detail: String)

/** Records operations and runs closed loops over them. */
final class Ops(tr: Tracer) {
  private val recs = new ConcurrentLinkedQueue[OpRec]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  /** Set while a request loop runs; its ops count towards throughput. */
  @volatile var inLoop = false
  private val checkNs = new java.util.concurrent.atomic.AtomicLong(0)
  /** Time spent in output checks, outside every timed operation. */
  def checkSeconds: Double = checkNs.get / 1e9

  /** Time `body` as one operation of `kind`, then check its result
    * outside the timed interval. */
  def run[T](kind: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    val req = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val res = try Right(tr.op(kind, req)(body)) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(e) =>
        recs.add(OpRec(kind, dt, inLoop, "exception",
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)))
        None
      case Right(v) =>
        val c0 = System.nanoTime()
        val errs = try check(v) catch {
          case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        checkNs.addAndGet(System.nanoTime() - c0)
        recs.add(OpRec(kind, dt, inLoop, if (errs.isEmpty) "" else "check",
          errs.take(3).mkString("; ").take(300)))
        if (errs.isEmpty) Some(v) else None
    }
  }

  def all: Seq[OpRec] = recs.asScala.toSeq

  /** `clients` threads each run `step(client)` back to back until
    * `seconds` have passed; a step that starts is allowed to finish.
    * Returns the loop's wall time. */
  def closedLoop(seconds: Double, clients: Int)(step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => while (elapsed < seconds) step(c), s"client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    elapsed
  }
}
