package graft.core

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}
import scala.jdk.CollectionConverters._

/** Fan-out of independent driver-side thunks, each of which typically
  * submits its own Spark jobs, so the scheduler interleaves their stages.
  *
  * One pool per call: its threads are started by the calling thread and so
  * inherit its Spark local properties (job group, job description, trace
  * spans). Every thunk runs to completion before the first failure is
  * rethrown, with later failures attached as suppressed — no sibling is
  * still writing when the caller's `finally` releases the shared input.
  */
object Par {
  def all[T](parallelism: Int)(thunks: Seq[() => T]): Seq[T] = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val tasks = thunks.map(f => (() =>
      try f() catch { case e: Throwable => failures.add(e); throw e }): Callable[T])
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(parallelism, thunks.size)))
    try {
      val done = pool.invokeAll(tasks.asJava).asScala.toSeq
      failures.asScala.headOption.foreach { first =>
        failures.asScala.drop(1).foreach(first.addSuppressed)
        throw first
      }
      done.map(_.get())
    } finally { pool.shutdown(); () }
  }
}
