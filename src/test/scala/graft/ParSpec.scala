package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** The no-zombie-writers contract of `Par.overlap` and `Par.inParallel`
  * under failure: neither returns or rethrows while a task it started is
  * still running, so a retry's overwrite of the same segment races
  * nothing. */
class ParSpec extends AnyFunSuite {
  private final class Boom(msg: String) extends RuntimeException(msg)

  /** A task that finishes after a delay and records that it did. */
  private def slow[A](done: AtomicBoolean)(a: => A): A = {
    Thread.sleep(300)
    done.set(true)
    a
  }

  test("overlap returns the task's and the body's results") {
    assert(Par.overlap(1)("body") == ((1, "body")))
  }

  test("overlap awaits the task before a failing body's exception surfaces") {
    val done = new AtomicBoolean(false)
    val e = intercept[Boom](Par.overlap(slow(done)(1))(throw new Boom("body")))
    assert(e.getMessage == "body")
    assert(done.get, "the task was still running when the body's failure surfaced")
    assert(e.getSuppressed.isEmpty)
  }

  test("overlap rethrows the task's failure when only the task fails") {
    val e = intercept[Boom](Par.overlap[Int, Int](throw new Boom("task"))(2))
    assert(e.getMessage == "task")
  }

  test("overlap: when both fail, the body's exception carries the task's as suppressed") {
    val done = new AtomicBoolean(false)
    val e = intercept[Boom](Par.overlap[Int, Int](
      slow(done)(throw new Boom("task")))(throw new Boom("body")))
    assert(e.getMessage == "body")
    assert(done.get)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("task"))
  }

  test("inParallel returns results in order and awaits every task before rethrowing") {
    val late = new AtomicBoolean(false)
    assert(Par.inParallel(() => slow(late)(1), () => 2, () => 3) == Seq(1, 2, 3))
    val done = new AtomicBoolean(false)
    val e = intercept[Boom](Par.inParallel[Int](
      () => throw new Boom("first"), () => slow(done)(2)))
    assert(e.getMessage == "first")
    assert(done.get, "a sibling task was still running when the failure surfaced")
  }
}
