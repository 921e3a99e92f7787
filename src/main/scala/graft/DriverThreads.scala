package graft

import java.util.concurrent.{CompletableFuture, CompletionException,
  ExecutionException, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Overlap INDEPENDENT driver-side work on driver threads. Spark's
  * scheduler runs several jobs of one application at once; actions are
  * only sequential because driver code calls them sequentially. The
  * ingest job's staged writes and sink applies, and the registry
  * audits' tiers ([[graft.exec.Exec.parBuild]]), are such independent
  * groups. */
private[graft] object DriverThreads {

  /** Run `thunks` concurrently, one pool thread each, and return their
    * results in order. The pool lives
    * for this call only. Each thunk is submitted through
    * `SQLExecution.withThreadLocalCaptured`, so it sees the caller's
    * active session and local properties: job group and tags, and the
    * streaming query id that attributes its jobs to the micro-batch.
    *
    * Every thunk runs to its end before this returns. A failure never
    * interrupts a sibling, which may be in the middle of a rename; the
    * first failure (in time) is rethrown once all have ended, later
    * ones ride along as suppressed. From the first failure until the
    * siblings end, `whileFailing` runs every 100 ms ([[graft.exec.Exec
    * .parBuild]] cancels the siblings' Spark jobs there). An interrupt
    * of the waiting thread does not abandon the siblings either: it is
    * restored once they have ended. */
  def runAll[T](spark: SparkSession, thunks: Seq[() => T],
      whileFailing: () => Unit = () => ()): Seq[T] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val session = castToImpl(spark)
      val pool = Executors.newFixedThreadPool(thunks.length)
      val first = new AtomicReference[Throwable]()
      var interrupted = false
      try {
        val futs = thunks.map { t =>
          SQLExecution.withThreadLocalCaptured(session, pool)(t())
            .whenComplete { (_: T, e: Throwable) =>
              if (e != null) first.compareAndSet(null, causeOf(e)); ()
            }
        }
        val all = CompletableFuture.allOf(futs: _*)
        while (!all.isDone) {
          if (first.get != null) whileFailing()
          try all.get(100, TimeUnit.MILLISECONDS)
          catch {
            case _: TimeoutException | _: ExecutionException => ()
            case _: InterruptedException => interrupted = true
          }
        }
        if (interrupted) Thread.currentThread().interrupt()
        val failed = first.get
        if (failed != null) {
          futs.foreach { f =>
            try f.join()
            catch {
              case e: Throwable =>
                if (causeOf(e) ne failed) failed.addSuppressed(causeOf(e))
            }
          }
          throw failed
        }
        futs.map(_.join())
      } finally {
        pool.shutdown()
        ()
      }
    }

  /** [[runAll]] for side-effecting thunks, one thread per thunk. */
  def overlap(spark: SparkSession, thunks: Seq[() => Unit]): Unit = {
    runAll(spark, thunks); ()
  }

  private def causeOf(e: Throwable): Throwable = e match {
    case c: CompletionException if c.getCause != null => c.getCause
    case _ => e
  }
}
