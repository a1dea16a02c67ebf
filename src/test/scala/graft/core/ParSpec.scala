package graft.core

import graft.SparkSpec

class ParSpec extends SparkSpec {

  test("results come back in thunk order") {
    assert(Par.three(() => 1, () => "b", () => spark.range(5).count()) == ((1, "b", 5L)))
  }

  test("a failing thunk cancels a sibling's running Spark job and is rethrown once every thread joins") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Par.two(
        () => {
          while (sc.statusTracker.getActiveJobIds.isEmpty) Thread.sleep(20)
          throw new IllegalStateException("boom")
        },
        () => sc.parallelize(1 to 4, 4).map { x => Thread.sleep(60000); x }.count())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage == "boom", "the first failure is the one rethrown")
    assert(secs < 20, f"Par waited $secs%.1f s: the sibling's job was not cancelled")
    // the scheduler wakes the waiting thread just before it posts the
    // job's end to the listener bus, so the status store may lag a moment
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def active = { org.apache.spark.SpecBus.drain(sc); sc.statusTracker.getActiveJobIds }
    while (active.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(active.isEmpty, "a cancelled sibling left a running job")
  }

  test("each: no item is still running when it rethrows, and items not yet started never run") {
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val err = intercept[IllegalStateException] {
      Par.each(0 until 10, width = 2) { i =>
        started.incrementAndGet()
        if (i == 0) {
          while (started.get < 2) Thread.sleep(5) // the sibling is running
          throw new IllegalStateException("boom")
        }
        Thread.sleep(1000)
        finished.incrementAndGet()
      }
    }
    assert(err.getMessage == "boom")
    val (s, f) = (started.get, finished.get)
    assert(f == s - 1, s"$s items started but only $f finished before the rethrow")
    assert(s == 2, s"$s items started: the hand-out went on after the failure")
  }
}
