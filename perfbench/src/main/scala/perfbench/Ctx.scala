package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Measurements of one pass over a workload's timed path. */
final class Iteration(val traced: Boolean) {
  /** Seconds per timed step; their sum is the pass's `pipeline_s`. */
  val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Seconds of each call of a step. */
  val calls = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var dumpRecords = 0L
  var reloadRecords = 0L
  var compactRecords = 0L
  var dumpBytes = 0L
  val decisionsMs = ArrayBuffer.empty[Double]
  val batchMs = ArrayBuffer.empty[Double]
  var querySeconds = 0.0

  def step(name: String, s: Double): Unit = {
    steps(name) = steps.getOrElse(name, 0.0) + s
    calls.getOrElseUpdate(name, ArrayBuffer.empty) += s
  }
  def pipelineS: Double = steps.values.sum
}

/** Run-wide state: the session, the seed, the directory of the fixed
  * inputs (`data`), the tracer when the current pass is traced,
  * per-layer samples, and the operation/failure tally.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val data: String) {
  var tracer: Option[Tracer] = None
  /** On during the untimed warm-up pass, whose outputs are not checked. */
  var warmingUp = false
  val probe = new Probe
  var attempted = 0L
  var failedOps = 0L
  val failures = ArrayBuffer.empty[String]

  /** Times `body`; inside a traced pass it is also a span. */
  def timed[T](name: String)(body: => T): (T, Double, Option[Span]) = tracer match {
    case Some(t) =>
      val (r, s) = t.span(name)(body)
      (r, s.seconds, Some(s))
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9, None)
  }

  /** A timed call into a layer. Outside the warm-up pass a full
    * collection runs first, outside the timing: every call starts from
    * a collected heap, and the heap the program holds between calls is
    * sampled ([[HeapWatch]]).
    */
  def call[T](name: String)(body: => T): (T, Double, Option[Span]) = {
    if (!warmingUp) HeapWatch.collect()
    timed(name)(body)
  }

  /** One checked operation: counts as attempted, and as failed when the
    * check reports anything or throws.
    */
  def check(what: String)(f: => Seq[String]): Unit = if (!warmingUp) {
    attempted += 1
    val found = try f catch { case e: Exception => Seq(s"$what: check threw $e") }
    if (found.nonEmpty) {
      failedOps += 1
      failures ++= found.map(m => s"$what: $m")
    }
  }

  def traced: Boolean = tracer.isDefined

  /** Records a traced call's Spark work under `prefix`. */
  def sparkLayer(prefix: String, span: Option[Span]): Unit =
    for (t <- tracer; s <- span) {
      val w = t.workOf(s.id)
      probe.add(s"$prefix.s", s.seconds)
      probe.add(s"$prefix.jobs", w.jobs)
      probe.add(s"$prefix.executor_cpu_s", w.cpuNs / 1e9)
      probe.add(s"$prefix.shuffle_write_bytes", w.shuffleWriteBytes)
      probe.add(s"$prefix.spill_bytes", w.spillBytes)
      if (w.jobs > 0) probe.add(s"$prefix.driver_tail_s", math.max(0L, s.endMs - w.lastJobEndMs) / 1e3)
    }

  def sample(name: String, v: => Double): Unit = if (traced) probe.add(name, v)
}
