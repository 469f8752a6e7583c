package graft.util

import java.util.concurrent.{
  Callable, ExecutionException, Executors, Future, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** The driver's one pool for table-metadata reads (the shape of
  * Iceberg's `ThreadPools.getWorkerPool`): a fixed
  * `availableProcessors` daemon threads, created once per JVM and never
  * shut down, so repeated planning adds no threads. A call made on a
  * pool thread runs inline — pool work never waits on the pool, so
  * calls cannot nest into a deadlock. */
object WorkerPool {
  private final class PoolThread(r: Runnable, name: String)
      extends Thread(r, name)

  val Size: Int = Runtime.getRuntime.availableProcessors

  private lazy val pool = Executors.newFixedThreadPool(Size,
    new ThreadFactory {
      private val seq = new AtomicInteger
      override def newThread(r: Runnable): Thread = {
        val t = new PoolThread(r, s"graft-worker-${seq.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private def onPool: Boolean =
    Thread.currentThread().isInstanceOf[PoolThread]

  /** `xs.map(f)` with each `f` on the pool; results keep `xs`' order.
    * The first failure, in input order, is rethrown as `f` threw it
    * (not wrapped in an `ExecutionException`); calls not yet started
    * are cancelled. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1 || onPool) xs.map(f)
    else {
      val futures: Seq[Future[B]] = xs.map(x =>
        pool.submit(new Callable[B] { override def call(): B = f(x) }))
      try futures.map { fu =>
        try fu.get()
        catch { case e: ExecutionException if e.getCause != null =>
          throw e.getCause
        }
      }
      catch { case t: Throwable =>
        futures.foreach(_.cancel(false))
        throw t
      }
    }
}
