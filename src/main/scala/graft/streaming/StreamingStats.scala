package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Sums the progress of the streaming queries a session runs, for
  * `graft.Bench`'s `streaming` map and the sizing spec: micro-batches,
  * the state-store count (`StateOperatorProgress.numShufflePartitions`,
  * the largest seen; 0 for a stateless query) and the summed
  * `triggerExecution` and `addBatch` durations.
  *
  * Progress events reach a listener asynchronously; a query's terminated
  * event follows its last progress event on the same bus, and its started
  * event is delivered synchronously by `start()`. So once as many queries
  * have terminated as started, every progress event so far is counted
  * ([[drain]]). Register with `spark.streams.addListener`. */
final class StreamingStats extends StreamingQueryListener {
  import StreamingStats.Totals

  private val started, terminated = new AtomicLong
  private var totals = Totals(0, 0, 0, 0)

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    started.incrementAndGet()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    totals = Totals(totals.batches + 1,
      (totals.stateParts +: p.stateOperators.map(_.numShufflePartitions)).max,
      totals.triggerMs + ms("triggerExecution"), totals.addBatchMs + ms("addBatch"))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminated.incrementAndGet()

  /** The totals since the last drain, once every started query's events
    * have arrived (or `timeoutMs` passed), and reset them. */
  def drain(timeoutMs: Long = 10000): Totals = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (terminated.get < started.get && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    synchronized {
      val t = totals
      totals = Totals(0, 0, 0, 0)
      t
    }
  }
}

object StreamingStats {
  final case class Totals(batches: Long, stateParts: Long, triggerMs: Long,
                          addBatchMs: Long)
}
