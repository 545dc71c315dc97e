package graft.util

import java.util.UUID
import java.util.concurrent.{CancellationException, ConcurrentLinkedQueue, ExecutionException,
  Executors, FutureTask, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Scoped overlap of driver-side Spark actions — the one place the
  * engine runs independent jobs concurrently from the driver. Actions
  * run one after another only because a driver thread calls them one
  * after another; forking independent ones lets the next job's tasks
  * back-fill executor slots freed by the current job's stragglers.
  *
  * Contract:
  *   - forks run on a daemon pool of `width` threads that belongs to
  *     this scope alone and whose threads the forking thread creates,
  *     so they inherit its Spark local properties (job tags, scheduler
  *     pool); a long-lived shared pool would drop them;
  *   - every job a fork runs carries a tag unique to the scope and the
  *     description `<label>/<fork name>`;
  *   - the first failure cancels the scope's jobs (again every 100 ms
  *     while the scope drains, catching jobs submitted after it) and
  *     skips forks that have not started; the scope waits for every
  *     fork to stop, then rethrows that first failure with later ones
  *     attached as suppressed;
  *   - a scope opened inside a fork inherits the outer tag, so an
  *     outer failure cancels the nested scope's jobs too;
  *   - `width <= 1` runs each fork inline on the calling thread and
  *     leaves that thread's properties untouched.
  */
final class Scope private (sc: SparkContext, label: String, width: Int) {
  private val tag = s"graft-scope-${UUID.randomUUID()}"
  private val forks = mutable.ArrayBuffer.empty[FutureTask[_]]
  private val errors = new ConcurrentLinkedQueue[Throwable]
  private lazy val pool = Executors.newFixedThreadPool(width, (r: Runnable) => {
    val t = new Thread(r, s"graft-scope-$label")
    t.setDaemon(true)
    t
  })

  /** A forked computation: `join` returns its result or rethrows its
    * exception. */
  final class Fork[T] private[Scope] (task: FutureTask[T]) {
    def join(): T = await(task)
  }

  def fork[T](name: String)(body: => T): Fork[T] = {
    val task = new FutureTask[T](() => {
      if (!errors.isEmpty)
        throw new CancellationException(s"$label/$name: not started, an earlier fork failed")
      if (width > 1) {
        sc.addJobTag(tag)
        sc.setJobDescription(s"$label/$name")
      }
      try body catch { case e: Throwable => fail(e); throw e }
    })
    forks += task
    if (width <= 1) task.run() else pool.execute(task)
    new Fork(task)
  }

  private def fail(e: Throwable): Unit = {
    if (!errors.contains(e)) errors.add(e)
    sc.cancelJobsWithTag(tag, s"$label: a fork failed")
  }

  private def await[T](task: FutureTask[T]): T = {
    while (!task.isDone) {
      if (!errors.isEmpty) sc.cancelJobsWithTag(tag, s"$label: a fork failed")
      try task.get(100, TimeUnit.MILLISECONDS)
      catch { case _: TimeoutException | _: ExecutionException => () }
    }
    try task.get() catch { case e: ExecutionException => throw e.getCause }
  }

  /** Wait for every fork, release the pool, rethrow the first failure. */
  private def close(): Unit = {
    forks.foreach(t => try await(t) catch { case _: Throwable => () })
    if (width > 1 && forks.nonEmpty) pool.shutdown()
    errors.asScala.toList match {
      case first :: later => later.foreach(first.addSuppressed); throw first
      case Nil => ()
    }
  }
}

object Scope {

  /** Run `body` with a scope of `width` threads; returns once every
    * fork has stopped (see the class contract). */
  def apply[T](spark: SparkSession, label: String, width: Int)(body: Scope => T): T = {
    val scope = new Scope(spark.sparkContext, label, width)
    try body(scope)
    catch { case e: Throwable => scope.fail(e); throw e }
    finally scope.close()
  }

  /** `f` over `items` on up to `width` threads, results in input order;
    * a single item runs inline. `name` labels each item's jobs. */
  def map[A, B](spark: SparkSession, label: String, width: Int, items: Seq[A])(
      name: A => String)(f: A => B): Seq[B] =
    apply(spark, label, if (items.sizeIs <= 1) 1 else width) { scope =>
      items.map(a => scope.fork(name(a))(f(a))).map(_.join())
    }
}
