package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

/** Supervisor/health equivalent (reference: 60s supervisor loop
  * database/plugs.py:89-102 + health rules server/system_status.py:12-29).
  * Spark handles task liveness and restart natively; what remains is the
  * freshness SLO, checked here as recency only: a plug is GOOD when its
  * query reported progress within `staleAfterMs`. Lag in blocks behind
  * the source head is not checked (ROADMAP direction 4).
  */
class StreamHealth(staleAfterMs: Long = 60000) extends StreamingQueryListener {

  case class PlugStatus(name: String, lastProgressMs: Long,
                        inputRowsPerSec: Double, batchId: Long)

  private val statuses = new ConcurrentHashMap[String, PlugStatus]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    // unnamed queries have a null name; ConcurrentHashMap forbids null keys
    val key = Option(p.name).getOrElse(p.id.toString)
    statuses.put(key,
      PlugStatus(key, System.currentTimeMillis(),
        p.inputRowsPerSecond, p.batchId))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Health verdict mirroring system_status.py: GOOD iff every tracked
    * query reported progress within the staleness window.
    */
  def sync_status(now: Long = System.currentTimeMillis()): (String, Map[String, PlugStatus]) = {
    val all = statuses.asScala.toMap
    val healthy = all.nonEmpty && all.values.forall(s => now - s.lastProgressMs <= staleAfterMs)
    (if (healthy) "GOOD" else "BAD", all)
  }
}
