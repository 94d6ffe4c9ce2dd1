package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, Future, ThreadFactory, TimeUnit}
import scala.collection.mutable

/** A bounded window of independent REST requests in flight inside one
  * Spark task.
  *
  * The REST stages are latency-bound: each restore drain, walk or plan
  * probe waits out a round trip per request and uses no CPU meanwhile.
  * One request in flight per task makes the stage's wall time the sum of
  * its round trips; keeping [[Window]] of them in flight divides it by up
  * to [[Window]]. Against the real service a round trip costs tens of
  * milliseconds, so the in-flight count, not the request count, sets the
  * stage time.
  *
  * The window never changes WHAT is sent, only when: every unit of work
  * is run exactly once, in full, by one thread.
  */
private[graft] object InFlight {

  /** Units of work one task keeps in flight. Fixed, not a setting: the
    * work is waiting on the network, so a task's extra threads cost
    * stacks, not cores. */
  val Window = 8

  /** Name prefix of the window threads (tests check none outlive a
    * task). */
  val ThreadPrefix = "rest-window-"

  private val threadIds = new AtomicInteger()
  private val daemons: ThreadFactory = { r: Runnable =>
    val t = new Thread(r, ThreadPrefix + threadIds.incrementAndGet())
    t.setDaemon(true)
    t
  }

  /** Run `work` on every item, up to `window` at once, and return when
    * all have finished.
    *
    * Items are pulled from `items` on the calling thread (a Spark
    * partition iterator must stay on its task thread) and only when a
    * slot is free, so at most `window + 1` items are held at a time.
    * Two items with equal `key` never run at once, and run in input
    * order: the second waits for the first.
    *
    * The first failure found fails the call with the work's own
    * exception, not an `ExecutionException`; the window's threads are
    * interrupted and gone before this returns or throws. */
  def foreach[T](items: Iterator[T], window: Int = Window)(key: T => Any)
                (work: T => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(window, daemons)
    try {
      val done = new ExecutorCompletionService[Any](pool)
      // the latest submitted item per key, until it is reaped
      val latest = mutable.HashMap.empty[Any, Future[Any]]
      var pending = 0 // submitted and not yet taken from `done`
      def reap(): Unit = {
        val f = done.take()
        pending -= 1
        val k = await(f)
        if (latest.get(k).exists(_ eq f)) latest.remove(k)
      }
      items.foreach { item =>
        val k = key(item)
        latest.get(k).foreach(await)
        while (pending >= window) reap()
        latest(k) = done.submit { () => work(item); k }
        pending += 1
      }
      while (pending > 0) reap()
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** `f` over every item, up to [[Window]] at once; results in item
    * order. */
  def map[T, R](items: IndexedSeq[T])(f: T => R): IndexedSeq[R] = {
    val out = new Array[Any](items.size)
    // each slot is written before its future completes, and foreach
    // returns only after it has awaited every future
    foreach(items.indices.iterator)(identity)(i => out(i) = f(items(i)))
    out.toIndexedSeq.asInstanceOf[IndexedSeq[R]]
  }

  private def await(f: Future[Any]): Any =
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }
}
