package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Layer spans and counters of one job. With tracing off every call passes
  * straight through, so the timed job makes exactly the engine calls a user
  * would. With tracing on, each layer call runs under its ledger tag inside
  * a span, and its output is persisted and forced inside that span, so the
  * span's wall is the layer's own work and no later layer recomputes it.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer[Tracer.Span]()
  val counters = mutable.LinkedHashMap[String, Double]()

  def layer[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try StageLedger.withLayer(spark.sparkContext, name)(body)
      finally spans += Tracer.Span(name, t0, System.nanoTime())
    }

  /** A layer whose output feeds the next layer: when tracing, persist it and
    * run `measure` (one action that records the layer's counters) in the span.
    */
  def force[T](name: String, make: => Dataset[T])(measure: Dataset[T] => Unit): Dataset[T] =
    if (!on) make
    else layer(name) {
      val d = make.persist(StorageLevel.MEMORY_AND_DISK)
      measure(d)
      d
    }

  def put(key: String, value: Double): Unit = if (on) counters(key) = value
}

object Tracer {
  final case class Span(name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
