package graft

import java.util.concurrent.{Executors, ThreadFactory, TimeoutException}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/**
 * Concurrent driver-side construction for the recall gates, whose
 * independent per-tier Dataset builds (and, on a cold call, their eager
 * index and model builds) overlap. Builders run on a pool of their own,
 * one daemon thread per builder, which is shut down afterwards; the wait
 * is bounded by [[Timeout]].
 */
object DriverPool {

  /** Upper bound on one gate's concurrent construction: far above a cold
    * build of every index at the largest fixture scale. */
  val Timeout: FiniteDuration = 1.hour

  /** Every builder's result, in builder order. A builder that throws fails
    * the call with its exception; a wait beyond `timeout` fails with a
    * TimeoutException naming `gate`. */
  def buildAll[T](gate: String, builders: Seq[() => T],
      timeout: FiniteDuration = Timeout): Seq[T] = {
    val pool = Executors.newFixedThreadPool(math.max(1, builders.size),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-$gate")
          t.setDaemon(true)
          t
        }
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(builders)(b => Future(b())), timeout)
    catch {
      case e: TimeoutException => throw new TimeoutException(
        s"$gate: concurrent construction did not finish within $timeout")
          .initCause(e)
    } finally pool.shutdownNow()
  }
}
