package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `parent` is the enclosing span's id,
  * or -1 at the top level.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span, or to one micro-batch of a
  * streaming span.
  */
final class Work {
  var jobs = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var lastJobEndMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
  }
}

/** Span recorder and stage-metrics listener for the traced run.
  *
  * Each span sets a Spark job group before its call, so every job the
  * call launches carries the span's id; jobs of a streaming query run
  * under the query's own group and are charged to the innermost open
  * span, keyed by their micro-batch id. The listener bus is drained
  * when a span closes, so no event of a closed span is still in flight.
  * Spans stay in memory until the run writes them out.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"
  private val GroupKey = "spark.jobGroup.id"
  private val BatchKey = "streaming.sql.batchId"

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile private var current = -1

  private type Owner = (Int, Long)
  private val work = new ConcurrentHashMap[Owner, Work]()
  private val stageOwner = new ConcurrentHashMap[Int, Owner]()
  private val jobOwner = new ConcurrentHashMap[Int, Owner]()

  def install(): Unit = sc.addSparkListener(this)
  def uninstall(): Unit = sc.removeSparkListener(this)

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    current = id
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      val s = Span(id, name, parent, t0, t1, System.currentTimeMillis())
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      spans += s
      (r, s)
    } finally {
      stack = stack.tail
      current = parent
      if (parent >= 0) sc.setJobGroup(GroupPrefix + parent, "", interruptOnCancel = false)
      else sc.clearJobGroup()
    }
  }

  /** Work of a span, summed over its micro-batches. */
  def workOf(spanId: Int): Work = {
    val w = new Work
    work.forEach((k, v) => if (k._1 == spanId) w.add(v))
    w
  }

  /** Work of a streaming span per micro-batch id. */
  def batchesOf(spanId: Int): Map[Long, Work] = {
    val b = Map.newBuilder[Long, Work]
    work.forEach((k, v) => if (k._1 == spanId && k._2 >= 0) b += k._2 -> v)
    b.result()
  }

  private def workFor(o: Owner): Work = work.computeIfAbsent(o, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val spanId = props.flatMap(p => Option(p.getProperty(GroupKey)))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
      .getOrElse(current)
    val batch = props.flatMap(p => Option(p.getProperty(BatchKey))).map(_.toLong).getOrElse(-1L)
    val owner = (spanId, batch)
    jobOwner.put(e.jobId, owner)
    e.stageIds.foreach(s => stageOwner.put(s, owner))
    val w = workFor(owner)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOwner.get(e.jobId)).foreach { o =>
      val w = workFor(o)
      w.synchronized { w.lastJobEndMs = math.max(w.lastJobEndMs, e.time) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (o <- Option(stageOwner.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val w = workFor(o)
      w.synchronized {
        w.cpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}
