package graft.core

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark jobs from driver threads (optimization guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside one
  * application — actions are sequential only because driver code calls
  * them sequentially. The iterative ANN/MV operators materialize eager
  * `localCheckpoint` frames whose sub-DAGs are pure fixed overhead at any
  * scale (a handful of tasks each); building two independent indexes, or
  * an index and its brute-force baseline, back-to-back leaves the cluster
  * idle through every one of those job tails. Submitting them from a small
  * thread pool back-fills the idle capacity without changing a single
  * frame's CONTENT — the same DataFrames are computed, so results (and
  * oracle hashes) are bit-identical by construction.
  *
  * FIFO scheduling (the default) is exactly the desired back-fill
  * behavior. Threads run the SAME SparkSession; all session state the
  * thunks touch must be thread-safe (the callers here only build/execute
  * DataFrames and read confs — no conf mutation inside parallel sections).
  */
object Par {

  /** Run the thunks concurrently (one thread each — callers pass 2-4) and
    * return their results in order. Each thunk runs in its own Spark job
    * group with `interruptOnCancel`; the first failure cancels every
    * sibling group, its running jobs and any job it would submit next, and
    * is rethrown after every thread has joined — so a failure can neither
    * leave a detached runaway job submitting work mid-bench nor wait for
    * a sibling's long job to finish. A thunk's jobs run in its own group,
    * not in a group the calling thread set.
    */
  def all[A](thunks: (() => A)*): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val run = java.util.UUID.randomUUID()
    val groups = thunks.indices.map(i => s"graft-par-$run-$i")
    val firstFailure = new AtomicReference[Throwable]()
    val results = new Array[Any](thunks.size)
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(
        () => {
          sc.foreach(_.setJobGroup(groups(i), s"graft.core.Par thunk $i", interruptOnCancel = true))
          try results(i) = t()
          catch {
            case e: Throwable =>
              if (firstFailure.compareAndSet(null, e))
                for (c <- sc; g <- groups if g != groups(i))
                  c.cancelJobGroupAndFutureJobs(g, s"sibling graft.core.Par thunk $i failed")
          }
        },
        s"graft-par-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(firstFailure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[A]]
  }

  /** Driver-side parallel foreach over independent per-item work — footer
    * reads, single-file Spark jobs, file copies — on at most `width`
    * threads. The first failure stops the hand-out: items not yet started
    * never run, every started item finishes, and only then is that first
    * failure rethrown. So no item is still running when this returns or
    * throws, and a caller that holds a lock releases it only after its
    * items are done.
    */
  def each[A](items: Seq[A], width: Int = 8)(f: A => Unit): Unit = {
    val work = items.toIndexedSeq
    if (work.sizeIs <= 1) return work.foreach(f)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val firstFailure = new AtomicReference[Throwable]()
    val threads = (0 until math.min(work.size, width)).map { i =>
      val th = new Thread(
        () => {
          var k = next.getAndIncrement()
          while (k < work.size && firstFailure.get == null) {
            try f(work(k))
            catch { case e: Throwable => firstFailure.compareAndSet(null, e) }
            k = next.getAndIncrement()
          }
        },
        s"graft-par-each-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    Option(firstFailure.get).foreach(e => throw e)
  }

  /** Two-ary convenience keeping call sites typed. */
  def two[A, B](a: () => A, b: () => B): (A, B) = {
    val r = all[Any](() => a(), () => b())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  /** Three-ary convenience. */
  def three[A, B, C](a: () => A, b: () => B, c: () => C): (A, B, C) = {
    val r = all[Any](() => a(), () => b(), () => c())
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
