package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Run-scoped resource reaping for streaming doors: [[install]] starts
  * the query via `start` and guarantees `reap` runs EXACTLY ONCE when
  * that query terminates — or immediately, when `start()` itself
  * throws. The listener registers BEFORE start so a query that fails
  * or terminates at once still reaps (termination events are buffered
  * until the query id is known, and whichever side — listener thread
  * or caller — observes both facts first performs the one reap); the
  * listener path reaps on a daemon thread so blocking cleanup
  * (broadcast destroy, checkpoint-RDD unpersist) never stalls the
  * shared listener bus.
  *
  * Extracted from StreamingBloomPrescreen's lifecycle fix so every
  * door that pins run-scoped state (broadcast filters, model-table
  * checkpoints) shares ONE audited implementation instead of each
  * re-deriving the registration-order and double-reap subtleties.
  */
object ReapOnTerminate {

  def install(s: SparkSession, start: () => StreamingQuery,
              reap: () => Unit): StreamingQuery = {
    val reaped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val qidRef =
      new java.util.concurrent.atomic.AtomicReference[java.util.UUID](null)
    val seenTerminated =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    def reapOnce(async: Boolean): Unit =
      if (reaped.compareAndSet(false, true)) {
        if (async) {
          val t = new Thread(() => reap(), "graft-door-reap")
          t.setDaemon(true)
          t.start()
        } else reap()
      }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        seenTerminated.add(e.id)
        if (e.id == qidRef.get) {
          reapOnce(async = true)
          s.streams.removeListener(this)
        }
      }
    }
    s.streams.addListener(listener)
    val q =
      try start()
      catch {
        case t: Throwable =>
          s.streams.removeListener(listener)
          reapOnce(async = false)
          throw t
      }
    qidRef.set(q.id)
    if (seenTerminated.contains(q.id)) {
      reapOnce(async = false)
      s.streams.removeListener(listener)
    }
    q
  }

  /** Run `body` (typically a batch of localCheckpoint loads) and
    * return its result plus a reap closure that releases exactly the
    * [[graft.Pinned]] checkpoints `body` took through the `pin`
    * callback it receives (`pin(df)` returns the checkpointed frame).
    * Other components' pins, taken concurrently, are never reaped: see
    * [[graft.Pinned]] for why the RDDs are not found by a diff.
    */
  def tracked[T](s: SparkSession)(body: (DataFrame => DataFrame) => T)
      : (T, () => Unit) = {
    val pins = scala.collection.mutable.ArrayBuffer.empty[graft.Pinned]
    val out = body { df =>
      val p = graft.Pinned(df)
      pins.synchronized { pins += p }
      p.df
    }
    val taken = pins.synchronized(pins.toList)
    (out, () => taken.foreach(_.release()))
  }
}
