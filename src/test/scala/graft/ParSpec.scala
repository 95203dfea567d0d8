package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

class ParSpec extends AnyFunSuite {

  test("a caller interrupted in Par.map returns only after every action has exited") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val exited = new AtomicInteger(0)
    val exitedAtReturn = new AtomicInteger(-1)
    val thrown = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try Par.map(Seq(1, 2)) { _ =>
        started.countDown()
        try release.await() finally exited.incrementAndGet()
      } catch {
        case t: Throwable =>
          exitedAtReturn.set(exited.get)
          thrown.set(t)
      })
    caller.start()
    try {
      assert(started.await(30, TimeUnit.SECONDS), "both actions must start")
      caller.interrupt()
      caller.join(30000)
      assert(!caller.isAlive, "Par.map must return after the interrupt")
      assert(thrown.get.isInstanceOf[InterruptedException],
        s"the interrupt is rethrown, got ${thrown.get}")
      assert(exitedAtReturn.get === 2,
        "both actions must have exited when Par.map returns")
    } finally release.countDown()
  }

  test("nested Par.map shares one process-wide budget: at most 8 leaves run at once, every leaf runs") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val ran = new AtomicInteger(0)
    val out = Par.map(1 to 3) { i =>
      Par.map(1 to 8) { j =>
        peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
        try Thread.sleep(50) finally running.decrementAndGet()
        ran.incrementAndGet()
        (i, j)
      }
    }
    assert(ran.get === 24, "every leaf runs")
    assert(out.flatten === (for (i <- 1 to 3; j <- 1 to 8) yield (i, j)),
      "results keep input order")
    assert(peak.get <= 8, s"${peak.get} leaves ran at once")
    assert(peak.get > 1, "the leaves still overlap")
  }
}
