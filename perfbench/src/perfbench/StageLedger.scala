package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-layer stage ledger: a SparkListener that attributes every stage and
  * task to the benchmark layer whose call submitted it and sums the task
  * metrics per layer.
  *
  * The harness runs each layer call under the job group `perfbench:<layer>`
  * and the local property [[LayerKey]]. Attribution reads the property, not
  * the group id, so engine code that sets job groups of its own cannot
  * steal a stage from the layer that called it. Stages are attributed when
  * they are submitted, which is the job that actually runs them; a stage
  * reused from an earlier job is skipped and never reported twice.
  */
final class StageLedger extends SparkListener {
  import StageLedger._

  private val stageLayer = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val layers = mutable.LinkedHashMap[String, LayerStats]()
  private val endedJobs = mutable.Set[Int]()

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty(LayerKey))).getOrElse(Unattributed)

  private def stats(layer: String): LayerStats = layers.getOrElseUpdate(layer, new LayerStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    if (layer != SyncLayer) stats(layer).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs += e.jobId
    notifyAll()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageLayer(e.stageInfo.stageId) = layerOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val layer = stageLayer.getOrElse(e.stageId, Unattributed)
    if (layer != SyncLayer) {
      val s = stats(layer)
      s.tasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += math.max(1L, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val layer = stageLayer.getOrElse(id, Unattributed)
    if (layer != SyncLayer) {
      val s = stats(layer)
      s.stages += 1
      val times = stageTaskMs.remove(id).getOrElse(mutable.ArrayBuffer())
      if (times.nonEmpty && times.sum > s.heaviestStageMs) {
        s.heaviestStageMs = times.sum
        s.heaviestStageSkew = times.max.toDouble / Stats.median(times.map(_.toDouble).toSeq)
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * runs one marker job and waits for its end. Events reach a listener in
    * posting order, so once the marker's end arrives, every earlier job's
    * task and stage events have been counted.
    */
  def sync(sc: SparkContext): Unit = {
    val before = synchronized(endedJobs.size)
    withLayer(sc, SyncLayer)(sc.parallelize(Seq(1), 1).count())
    synchronized {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (endedJobs.size <= before && System.nanoTime() < deadline) wait(100)
      if (endedJobs.size <= before)
        throw new IllegalStateException("stage ledger: listener events did not arrive within 60 s")
    }
  }

  /** Snapshot of the per-layer sums since the last reset, then clear them. */
  def drain(): Map[String, LayerStats] = synchronized {
    val out = layers.toMap
    layers.clear()
    stageTaskMs.clear()
    out
  }
}

/** Task-metric sums of one layer. Times are milliseconds. */
final class LayerStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var heaviestStageMs = 0L
  /** max / median task wall in the layer's heaviest stage (by summed task wall). */
  var heaviestStageSkew = 0.0
}

object StageLedger {
  val LayerKey = "perfbench.layer"
  val GroupPrefix = "perfbench:"
  val Unattributed = "unattributed"
  private val SyncLayer = "sync"

  /** Run `body` with its jobs tagged as `layer` (job group + ledger property). */
  def withLayer[T](sc: SparkContext, layer: String)(body: => T): T = {
    sc.setJobGroup(GroupPrefix + layer, layer)
    sc.setLocalProperty(LayerKey, layer)
    try body
    finally {
      sc.clearJobGroup()
      sc.setLocalProperty(LayerKey, null)
    }
  }
}
