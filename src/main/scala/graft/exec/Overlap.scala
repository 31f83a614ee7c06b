package graft.exec

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, Semaphore}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Overlap INDEPENDENT driver-side legs — index builds, a segment's
  * table writes, dual-CDC legs, trainings, partition compactions. Each
  * leg is a few Spark jobs whose fixed per-job overhead, not data, is
  * the cost, so running them concurrently makes the wall the slowest
  * leg instead of the sum. Threads only block on Spark actions whose
  * tasks the scheduler interleaves. */
object Overlap {

  /** Daemon and cached (unbounded): nested fan-outs — a CDC leg whose
    * BM25 segment starts three writes, coarse training beside m PQ
    * trainers — never starve for a thread, and idle threads die. */
  private lazy val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-overlap")
    t.setDaemon(true)
    t
  }

  /** Run `thunks` concurrently, at most `maxInFlight` at once (default:
    * all), and return their results in input order. A single thunk
    * runs inline on the caller's thread.
    *
    * Each leg runs under the caller's CURRENT Spark local properties
    * (job group, description, tags) and active session, captured at
    * this call — never a stale copy from whichever caller created the
    * pool thread.
    *
    * Join-all failure: after the first failure no further leg starts;
    * legs already started run to completion (never interrupted), and
    * only once every one has settled is the first failure rethrown,
    * later ones attached as suppressed. A caller handling the error
    * never races a sibling still writing or committing. */
  def all[T](spark: SparkSession)(thunks: Seq[() => T],
      maxInFlight: Int = Int.MaxValue): Seq[T] = {
    require(maxInFlight > 0, s"maxInFlight must be positive (got $maxInFlight)")
    if (thunks.length <= 1) return thunks.map(_())
    val session =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val slots = new Semaphore(math.min(maxInFlight, thunks.length))
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val started = thunks.iterator.map { th =>
      slots.acquireUninterruptibly()
      if (!failures.isEmpty) { slots.release(); None }
      else Some(SQLExecution.withThreadLocalCaptured(session, pool) {
        try Some(th())
        catch { case e: Throwable => failures.add(e); None }
        finally slots.release()
      })
    }.takeWhile(_.isDefined).flatten.toVector
    val results = started.map(_.join())
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
    results.map(_.get)
  }
}
