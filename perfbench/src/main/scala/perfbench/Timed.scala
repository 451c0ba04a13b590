package perfbench

import scala.collection.mutable
import org.apache.spark.sql.Dataset
import graft.pipeline._

/** Per-layer observations of a run: metric name → one sample per call. */
final class Probe {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

/** Timing decorator around a [[RecordSink]]; results pass through
  * unchanged. Counters accumulate until [[drainTo]] records them as
  * one sample per reload call.
  */
final class TimedSink(inner: RecordSink) extends RecordSink {
  private var endOffsetsNs = 0L
  private var endOffsetsCalls = 0
  private var writeNs = 0L

  override def endOffsets: Map[Int, Long] = {
    val t0 = System.nanoTime()
    try inner.endOffsets
    finally { endOffsetsNs += System.nanoTime() - t0; endOffsetsCalls += 1 }
  }

  override def write(records: Dataset[KafkaRecord]): Long = {
    val t0 = System.nanoTime()
    try inner.write(records)
    finally writeNs += System.nanoTime() - t0
  }

  def drainTo(p: Probe): Unit = {
    p.add("sink.end_offsets.s", endOffsetsNs / 1e9)
    p.add("sink.end_offsets.calls", endOffsetsCalls)
    p.add("sink.write.s", writeNs / 1e9)
    endOffsetsNs = 0L; endOffsetsCalls = 0; writeNs = 0L
  }
}

/** Timing decorator around a [[StateStore]]; results pass through
  * unchanged. Every `states` read records its time and the number of
  * state lines it parsed (one of which a hot decision uses).
  */
final class TimedStateStore(inner: StateStore, probe: Probe) extends StateStore {
  override def save(state: DumpState): Unit = {
    val t0 = System.nanoTime()
    try inner.save(state)
    finally probe.add("state.save.ms", (System.nanoTime() - t0) / 1e6)
  }

  override def states(topic: String): Seq[DumpState] = {
    val t0 = System.nanoTime()
    val r = inner.states(topic)
    probe.add("state.states.ms", (System.nanoTime() - t0) / 1e6)
    probe.add("state.states.lines", r.size)
    r
  }
}

/** Consumer-group admin that records each reset instead of calling a
  * broker.
  */
final class RecordingAdmin extends GroupOffsetsAdmin {
  val calls = mutable.ArrayBuffer.empty[(String, Map[(String, Int), Long])]
  override def alterConsumerGroupOffsets(groupId: String, offsets: Map[(String, Int), Long]): Unit =
    calls += groupId -> offsets
}
