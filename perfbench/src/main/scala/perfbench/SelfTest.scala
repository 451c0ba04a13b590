package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** Tests of the benchmark's own code: statistics, generators, checks
  * and the timing decorators. `perfbench.SelfTest <scratch dir> <data dir>`;
  * exits non-zero when any test fails.
  */
object SelfTest {
  private val failed = ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failed += name
        println(s"FAIL $name: $e")
    }

  private def assertEq[T](got: T, want: T, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    if (args.length != 2) sys.error("usage: SelfTest <scratch dir> <data dir>")
    val Array(work, data) = args

    test("percentile interpolates between closest ranks") {
      val xs = (1 to 10).map(_.toDouble).reverse
      near(Stats.percentile(xs, 50), 5.5)
      near(Stats.percentile(xs, 25), 3.25)
      near(Stats.percentile(xs, 90), 9.1)
      near(Stats.percentile(xs, 0), 1.0)
      near(Stats.percentile(xs, 100), 10.0)
      near(Stats.median(Seq(7.0)), 7.0)
    }

    test("a tail percentile needs ten samples beyond it") {
      assertEq(Stats.samplesFor(50), 20)
      assertEq(Stats.samplesFor(90), 100)
      assertEq(Stats.samplesFor(99), 1000)
      assertEq(Stats.samplesFor(99.9), 10000)
    }

    val spark = Main.session(2, work)
    try {
      test("generators: the same seed gives the same input") {
        def tail(seed: Long) = Gen.contentHash(Gen.tailRecords(spark, 1200, seed), col("key"), col("value"))
        def polled(seed: Long) = Gen.contentHash(Gen.polledRecords(spark, 1200, 4, seed), col("key"), col("value"))
        assertEq(tail(7), tail(7))
        assertEq(polled(7), polled(7))
        if (tail(7) == tail(8)) throw new AssertionError("seeds 7 and 8 gave the same records")
      }

      test("generators: each tail partition is one offset-ordered split") {
        val df = Gen.tailRecords(spark, 1200, 3)
        assertEq(df.rdd.getNumPartitions, Gen.Partitions)
        val ordered = df.select(col("partition"), col("offset")).rdd.mapPartitions { it =>
          val rows = it.map(r => (r.getInt(0), r.getLong(1))).toSeq
          Iterator(rows.map(_._1).distinct.size == 1 && rows.map(_._2) == rows.map(_._2).sorted)
        }.collect()
        assertEq(ordered.forall(identity), true)
      }

      test("corpus: different seeds give the same dump content") {
        val docs = CorpusCuration.documents(spark, data).where(col("doc_id") < 400)
        val layouts = Seq(1L, 2L).map { seed =>
          val src = s"$work/corpus-$seed"
          Gen.writeCorpus(docs, src, seed)
          val root = s"$work/catalog-$seed"
          new Dumper(spark).dump(CorpusCodec.encode(spark.read.parquet(s"$src/documents.parquet")),
            root, "20300101000000", 50)
          val dir = s"$root/20300101000000"
          val l = Checks.layout(spark, dir, "20300101000000", 50)
          assertEq(l.failures, Nil)
          val scan = Checks.scan(spark, Seq(dir), CorpusCuration.docOrder)
          (l.rows, scan.content, scan.violations)
        }
        // both in (partition, offset) order with equal files and content: the same rows in the same order
        assertEq(layouts(0)._3, 0L, "order violations")
        assertEq(layouts(1)._3, 0L, "order violations")
        assertEq(layouts(0)._1, layouts(1)._1, "rows per file")
        assertEq(layouts(0)._2, layouts(1)._2, "content")
      }

      test("checks catch a misnamed file and a misordered dump") {
        val root = s"$work/catalog-bad"
        val records = Gen.tailRecords(spark, 1200, 5).withColumn("neg", -col("offset"))
        new Dumper(spark).dump(records, root, "20300101000000", 500, Seq("partition", "neg"))
        val dir = s"$root/20300101000000"
        if (Checks.scan(spark, Seq(dir), col("0")).violations == 0)
          throw new AssertionError("descending offsets passed the order check")
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
        fs.rename(new org.apache.hadoop.fs.Path(dir, "20300101000000-000000000000500.parquet"),
                  new org.apache.hadoop.fs.Path(dir, "20300101000000-000000000000501.parquet"))
        if (Checks.layout(spark, dir, "20300101000000", 500).failures.isEmpty)
          throw new AssertionError("a misnamed file passed the layout check")
        if (Checks.layout(spark, dir, "20300101000000", 100).failures.isEmpty)
          throw new AssertionError("oversized files passed the layout check")
      }

      test("TimedSink passes results through unchanged") {
        val inner = new RecordSink {
          def endOffsets: Map[Int, Long] = Map(0 -> 41L, 3 -> 7L)
          def write(records: Dataset[KafkaRecord]): Long = 123L
        }
        val probe = new Probe
        val sink = new TimedSink(inner)
        import spark.implicits._
        assertEq(sink.endOffsets, Map(0 -> 41L, 3 -> 7L))
        assertEq(sink.write(Seq(KafkaRecord(Array[Byte](1), Array[Byte](2))).toDS()), 123L)
        sink.drainTo(probe)
        assertEq(probe.samples("sink.end_offsets.calls").toSeq, Seq(1.0))
        assertEq(probe.samples("sink.write.s").size, 1)
      }

      test("TimedStateStore passes results through unchanged") {
        val dir = s"$work/state"
        val inner = new FileStateStore(dir)
        val probe = new Probe
        val timed = new TimedStateStore(inner, probe)
        val a = DumpState("20300101000000", "t", Map("0" -> 5L), 100L, "Identity")
        val b = DumpState("20300101000001", "t", Map("0" -> 9L, "1" -> 2L), 200L, "Identity")
        timed.save(a)
        inner.save(b)
        assertEq(timed.states("t"), inner.states("t"))
        assertEq(timed.states("t"), Seq(a, b))
        assertEq(timed.latestMatching("t", b.dump_id, "Identity"), Some(b))
        assertEq(timed.latestMatching("t", a.dump_id, "Identity"), None)
        assertEq(probe.samples("state.states.lines").last, 2.0)
        assertEq(probe.samples("state.save.ms").size, 1)
      }
    } finally spark.stop()

    if (failed.nonEmpty) {
      println(s"${failed.size} self-test(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
