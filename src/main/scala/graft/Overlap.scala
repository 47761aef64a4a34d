package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The one driver-side fan-out.
  *
  * Several fixture and fold entries are driver-dispatch-bound: their jobs
  * are small, and most of their wall time is the driver planning and
  * scheduling one job after another while executors idle. Actions that
  * share no output are sequential only because the driver calls them in
  * sequence; submitted from a few driver threads, one track's jobs fill
  * the executors freed by another track's dispatch gaps. Each track still
  * computes exactly what it computed alone: only the schedule changes, so
  * a track may not mutate session conf or write a root another track
  * reads or writes. */
object Overlap {

  /** Tracks in flight at once. */
  private val Width = 4

  private val calls = new AtomicLong()

  /** Run every track and return their results in argument order, whatever
    * order they finish in.
    *
    *  - The pool is made for this call: at most [[Width]] threads, named
    *    `graft-overlap-<call>-<n>`, all started on the caller's thread, so
    *    each inherits a copy of the caller's Spark local properties (job
    *    group, trace keys). Every track's jobs also carry one job tag
    *    unique to the call.
    *  - On the first failure the call cancels its tagged jobs, interrupts
    *    the other tracks, waits for every track to end, and rethrows that
    *    failure with the other tracks' failures attached as suppressed.
    *  - The pool is shut down and its threads joined on every path: no
    *    track outlives the call. */
  def all[T](tracks: (() => T)*): Seq[T] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-overlap-${calls.incrementAndGet()}"
    val width = math.max(1, math.min(tracks.size, Width))
    // every thread is made here, on the caller's thread, by the prestart
    val threads = ArrayBuffer.empty[Thread]
    val named: ThreadFactory = r => {
      val t = new Thread(r, s"$tag-${threads.size + 1}"); threads += t; t
    }
    val pool = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), named)
    pool.prestartAllCoreThreads()
    val done = new ExecutorCompletionService[T](pool)
    try {
      val futures = tracks.map { track =>
        val task: Callable[T] = () => { sc.foreach(_.addJobTag(tag)); track() }
        done.submit(task)
      }
      var failure: Throwable = null
      var pending = futures.size
      while (failure == null && pending > 0) {
        try done.take().get()
        catch {
          case e: ExecutionException => failure = e.getCause
          case e: InterruptedException => failure = e
        }
        pending -= 1
      }
      if (failure != null) {
        sc.foreach(_.cancelJobsWithTag(tag))
        pool.shutdownNow()
        threads.foreach(_.join())
        // a track interrupted between two jobs may have submitted the
        // second after the first cancel
        sc.foreach(_.cancelJobsWithTag(tag))
        futures.filter(_.isDone).foreach { f =>
          try f.get()
          catch {
            case e: ExecutionException =>
              if (e.getCause ne failure) failure.addSuppressed(e.getCause)
          }
        }
        throw failure
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      threads.foreach(_.join())
    }
  }
}
