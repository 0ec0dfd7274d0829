package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** Stream-gate telemetry, one record per micro-batch progress event,
  * keyed by the run (query) and leg (cold or steady pass) that produced
  * it. The state-store update and commit times stay separate fields, and
  * legs are named, never inferred from sample position. */
object StreamTelemetry {
  final case class Progress(leg: String, run: String, allUpdatesTimeMs: Long,
                            commitTimeMs: Long, numStateStoreInstances: Long,
                            durationMs: Map[String, Long])
}

final class StreamTelemetry(spark: SparkSession) {
  import StreamTelemetry.Progress

  @volatile private var key: (String, String) = ("setup", "")
  private val records = ArrayBuffer[Progress]()

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val durations = p.durationMs.entrySet().toArray(Array.empty[java.util.Map.Entry[String, java.lang.Long]])
        .map(en => en.getKey -> en.getValue.longValue).toMap
      records.synchronized {
        records += Progress(key._1, key._2, ops.map(_.allUpdatesTimeMs).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.numStateStoreInstances.toLong).sum, durations)
      }
    }
  })

  /** Attribute the progress events that follow to (leg, run). The caller
    * drains the listener bus before switching keys. */
  def label(leg: String, run: String): Unit = key = (leg, run)

  def all: Seq[Progress] = records.synchronized(records.toSeq)
}
