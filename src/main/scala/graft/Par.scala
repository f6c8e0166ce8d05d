package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Driver-side parallel map over independent Spark jobs or metadata
  * reads: at most 8 bodies run at once, results come back in input
  * order, and the first failure (in input order) is rethrown as is.
  * The pool lives for one call only: its threads are started by the
  * caller and so inherit its Spark local properties (job group, job
  * description, scheduler pool), and every job a body starts is
  * attributed to the caller's job group.
  */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(xs.size, 8))
      try xs.toVector
        .map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
        .map(fu => try fu.get() catch { case e: ExecutionException => throw e.getCause })
      finally pool.shutdown()
    }
}
