package graft.core

import java.util.concurrent.{SynchronousQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Driver-side overlap of independent work: the one place the engine runs
  * Spark actions from more than one driver thread.
  *
  * The commit protocol every sink and index shares is: stage independent
  * tables together, settle EVERY stage before any promote or rethrow, then
  * promote in the caller's crash order. Settling first matters twice: a
  * failed stage must not leave a prefix of the tables promoted, and an
  * orphaned stage still writing into a version directory would race a
  * retry's stage into the same directory. [[all]], [[both]] and [[settle]]
  * do the first two steps; the promote order stays with each caller.
  *
  * One process-wide pool of daemon threads, `availableProcessors - 1` of
  * them: the submitting thread is the last slot. The pool never queues. A
  * task that finds no idle thread runs on the thread that submitted it, so
  * nested calls cannot deadlock and at most `availableProcessors` tasks
  * run at once per submitting thread. Each task runs with a copy of the
  * submitter's SparkContext local properties (job description, job group)
  * and active session; whatever it sets there ends with it.
  */
object Par {
  private val pool = {
    val n = new AtomicInteger
    val factory: ThreadFactory = r => {
      // no inherited thread-locals: a worker must not keep the local
      // properties of whichever thread happened to spawn it
      val t = new Thread(null, r, s"graft-par-${n.incrementAndGet()}", 0L, false)
      t.setDaemon(true)
      t
    }
    new ThreadPoolExecutor(0, (Runtime.getRuntime.availableProcessors - 1).max(1),
      30L, TimeUnit.SECONDS, new SynchronousQueue[Runnable], factory,
      new ThreadPoolExecutor.CallerRunsPolicy)
  }

  /** The pool as an ExecutionContext, for futures chained off one another
    * (`map`). Settle them with [[settle]].
    */
  implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
    (r: Runnable) => pool.execute(org.apache.spark.GraftThreadBridge.withCallerContext(r)))

  /** Run the thunks together and return their results in order. Returns
    * only after every thunk finished; then rethrows the first failure in
    * argument order.
    */
  def all[T](thunks: Seq[() => T]): Seq[T] = settle(thunks.map(t => Future(t())))

  /** [[all]] for two thunks, the second on the calling thread. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(a)
    val rb = Try(b)
    (settle(Seq(fa)).head, rb.get)
  }

  /** Wait for every future, then return their values in order or rethrow
    * the first failure in argument order.
    */
  def settle[T](fs: Seq[Future[T]]): Seq[T] = {
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.map(_.value.get.get)
  }
}
