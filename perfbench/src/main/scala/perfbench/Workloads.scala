package perfbench

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._

/** A workload: inputs made once per run by `setup`, then a timed path
  * that `iterate` runs as often as the run's time allows.
  */
abstract class Workload(val ctx: Ctx) {
  def topic: String
  /** Input sizes, for the result record. */
  def sizes: Map[String, Any]
  /** Writes every input under `dir` (timed as `setup_s`). */
  def setup(dir: String): Unit
  /** Untimed preparation after setup: expected outputs. */
  def prepare(): Unit = ()
  /** One pass of the timed path, with its checks. */
  def iterate(i: Int, it: Iteration): Unit

  protected def spark: SparkSession = ctx.spark
  protected val identity = new IdentityTransformer
  protected val Group = "perfbench-consumers"

  protected var dir: String = _
  protected def root = s"$dir/catalog"
  protected def stateDir = s"$dir/state"
  protected def conf = spark.sparkContext.hadoopConfiguration

  protected def rm(path: String): Unit = {
    val p = new HPath(path)
    FileSystem.get(p.toUri, conf).delete(p, true)
    ()
  }

  /** Dump ids of the timed path sort after every pre-seeded one. */
  protected def dumpIdFor(i: Int): String =
    DumpCatalog.newDumpId(java.time.Instant.parse("2030-01-01T00:00:00Z").toEpochMilli + i * 1000L)

  /** Pre-seeds the catalog with `dumps` older (empty) dumps and the
    * state store with `lines` older states of this topic, so "latest"
    * and the hot-reload state read have history to get through.
    */
  protected def seedHistory(dumps: Int, lines: Int): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val t0 = java.time.Instant.parse("2001-01-01T00:00:00Z").toEpochMilli
    val ids = (0 until dumps).map(k => DumpCatalog.newDumpId(t0 + k * 3600000L + rnd.nextInt(3000000)))
    val fs = FileSystem.get(new java.net.URI(root), conf)
    ids.foreach(id => fs.mkdirs(new HPath(root, id)))
    val store = new FileStateStore(stateDir)
    for (k <- 0 until lines) {
      val id = ids(k % ids.size)
      store.save(DumpState(
        dump_id = id, topic_name = topic,
        offsets = (0 until Gen.Partitions).map(p => p.toString -> rnd.nextInt(1 << 30).toLong).toMap,
        dump_date = java.time.Instant.from(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
          .withZone(java.time.ZoneOffset.UTC).parse(id)).getEpochSecond,
        transformer_id = if (k % 3 == 0) "Identity" else "Uppercase"))
    }
  }

  protected def store(): StateStore = {
    val s = new FileStateStore(stateDir)
    if (ctx.traced) new TimedStateStore(s, ctx.probe) else s
  }

  protected def freshSink(path: String): RecordSink = {
    val s = new ParquetRecordSink(spark, path)
    if (ctx.traced) new TimedSink(s) else s
  }

  protected def drainSink(s: RecordSink): Unit = s match {
    case t: TimedSink => t.drainTo(ctx.probe)
    case _ =>
  }

  protected def failIf(conds: (Boolean, String)*): Seq[String] = conds.collect { case (true, m) => m }

  /** The parquet files of an input directory, in name order. */
  protected def partFiles(path: String): Seq[HPath] = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    fs.listStatus(new HPath(path)).map(_.getPath).filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  }

  /** Rounds of the timed path per pass. Each call is one sample of its
    * step's time, and the rounds of a pass are seconds apart, so the
    * samples of one step see different moments of the host's speed.
    * The warm-up pass (pass 0) makes one round.
    */
  protected def rounds: Int
  protected def roundsIn(pass: Int): Int = if (pass == 0) 1 else rounds

  /** Hot decisions made at each [[tick]]. */
  protected def decisionsPerTick: Int
  protected def stateLines: Int

  /** The newest reload of the pass (dump id, saved state, sink): what
    * a hot decision resolves to.
    */
  private var hot: Option[(String, DumpState, String)] = None

  protected def beginPass(): Unit = hot = None

  private var decisionPathWarm = false

  /** A block of hot decisions, once the pass has reloaded a dump.
    * Workloads tick after every call and every check, so many small
    * blocks sample the host's speed all through the pass, not at one
    * moment of it. The first tick of the warm-up pass makes enough
    * decisions to parse 60k state lines, so the JIT has compiled the
    * decision path before any timed pass.
    */
  protected def tick(it: Iteration): Unit =
    hot.foreach { case (id, saved, sink) =>
      val n = if (decisionPathWarm) decisionsPerTick else 60000 / stateLines
      decisionPathWarm = true
      decisions(it, n, id, saved, sink)
    }

  /** One dump of `records`, checked against `expected`. A dump into a
    * dump id that exists overwrites it.
    */
  protected def dump(it: Iteration, dumpId: String, records: DataFrame, maxPerFile: Int,
                     expected: (Long, BigDecimal), sortKey: Column): Unit = {
    val (_, secs, span) = ctx.call("dumper.dump") {
      new Dumper(spark).dump(records, root, dumpId, maxPerFile)
    }
    it.step("dump", secs)
    it.dumpRecords = expected._1
    ctx.sparkLayer("dumper.dump", span)
    tick(it)
    ctx.check("dump") {
      val (l, f) = Checks.dump(spark, s"$root/$dumpId", dumpId, maxPerFile, sortKey, expected)
      it.dumpBytes = l.bytes
      ctx.sample("dumper.dump.files_out", l.files.size)
      ctx.sample("dumper.dump.bytes_out", l.bytes)
      f
    }
    tick(it)
  }

  /** Reload of a whole dump into the fresh sink `sinkDir` (the data
    * path). Only the first reload of a dump in a pass may take the hot
    * path (`first`); later ones re-produce (`allowHotReload = false`).
    * The reload becomes the one hot decisions resolve to.
    */
  protected def reload(it: Iteration, dumpId: String, sinkDir: String, expected: (Long, BigDecimal),
                       first: Boolean): Unit = {
    val sink = freshSink(sinkDir)
    val reloader = new Reloader(spark, store())
    val (res, secs, span) = ctx.call("reloader.reload") {
      reloader.reload(topic, s"$root/$dumpId", dumpId, identity, sink, allowHotReload = first)
    }
    it.step("reload", secs)
    it.reloadRecords = expected._1
    ctx.sparkLayer("reloader.reload", span)
    drainSink(sink)
    val (n, saved) = res match {
      case Reloaded(n, state) => (n, state)
      case other => throw new IllegalStateException(s"reload of $dumpId: expected a data reload, got $other")
    }
    hot = Some((dumpId, saved, sinkDir))
    tick(it)
    ctx.check("reload") {
      val got = Gen.contentHash(spark.read.parquet(sinkDir), col("key"), col("value"))
      failIf((n != expected._1) -> s"reloaded $n rows, expected ${expected._1}",
             (got != expected) -> s"sink content $got, expected $expected")
    }
    tick(it)
  }

  /** Compaction of a dump; checks content, order and the catalog layout. */
  protected def compact(it: Iteration, dumpId: String, expected: (Long, BigDecimal), sortKey: Column): Unit = {
    val before = Checks.layout(spark, s"$root/$dumpId", dumpId, Long.MaxValue)
    val (names, secs, span) = ctx.call("dumper.compact") {
      new Dumper(spark).compact(root, dumpId, 1000000)
    }
    it.step("compact", secs)
    it.compactRecords = expected._1
    ctx.sparkLayer("dumper.compact", span)
    ctx.sample("dumper.compact.files_in", before.files.size)
    ctx.sample("dumper.compact.files_out", names.size)
    tick(it)
    ctx.check("compact") {
      val (l, f) = Checks.dump(spark, s"$root/$dumpId", dumpId, 1000000, sortKey, expected)
      f ++ failIf((l.files != names) -> s"compact returned $names, directory holds ${l.files}")
    }
    tick(it)
  }

  /** Hot-reload decisions against the newest dump: resolve "latest",
    * take the reload hot path, reset the consumer group.
    */
  private def decisions(it: Iteration, n: Int, expectId: String, saved: DumpState, sinkDir: String): Unit = {
    val cat = new DumpCatalog(root, conf)
    val reloader = new Reloader(spark, store())
    val sink = new ParquetRecordSink(spark, sinkDir)
    val admin = new RecordingAdmin
    val want = saved.offsets.map { case (p, o) => (topic, p.toInt) -> o }
    ctx.sample("catalog.dump_ids", cat.dumpIds().size)
    for (_ <- 0 until n) {
      val ((id, res, applied), secs, _) = ctx.timed("hot_decision") {
        val (id, _, sl) = ctx.timed("catalog.latest")(cat.latestDumpId())
        val (res, _, _) = ctx.timed("reloader.reload_hot") {
          reloader.reload(topic, cat.dumpPath(id.get), id.get, identity, sink)
        }
        val (applied, _, sg) = ctx.timed("group_reset")(GroupReset.applyIfHot(admin, Group, topic, res))
        sl.foreach(s => ctx.probe.add("catalog.latest.ms", s.seconds * 1e3))
        sg.foreach(s => ctx.probe.add("group_reset.ms", s.seconds * 1e3))
        (id, res, applied)
      }
      it.decisionsMs += secs * 1e3
      it.step("hot_decisions", secs)
      ctx.check("hot decision") {
        failIf(!id.contains(expectId) -> s"latest resolved to $id, expected $expectId",
               (res != HotReload(saved.offsets)) -> s"decision $res, expected HotReload(${saved.offsets})",
               !applied.contains(want) -> s"group reset $applied, expected $want",
               !admin.calls.lastOption.contains(Group -> want) -> s"admin saw ${admin.calls.lastOption}")
      }
    }
  }

  /** Byte order of the key is (partition, offset) order. */
  protected val keyOrder: Column = col("0")
}

/** The product path on the reference's record shape, bound by per-row
  * work: dump → reload → compact, with hot-reload decisions over a
  * long state history.
  */
final class BulkTail(ctx: Ctx) extends Workload(ctx) {
  val topic = "bulk-tail"
  private val Records = 480000L
  private val MaxPerFile = 100000
  private val OlderDumps = 300
  protected val stateLines = 3000
  protected val decisionsPerTick = 6
  protected val rounds = 2
  private var inputHash: (Long, BigDecimal) = _

  def sizes: Map[String, Any] = Map("records" -> Records, "partitions" -> Gen.Partitions,
    "max_per_file" -> MaxPerFile, "compact_to" -> 1000000, "older_dumps" -> OlderDumps,
    "state_lines" -> stateLines, "decisions_per_tick" -> decisionsPerTick, "rounds_per_pass" -> rounds)

  private def input = s"$dir/input"

  def setup(d: String): Unit = {
    dir = d
    Gen.tailRecords(spark, Records, ctx.seed).write.parquet(input)
    seedHistory(OlderDumps, stateLines)
  }

  override def prepare(): Unit =
    inputHash = Gen.contentHash(spark.read.parquet(input), col("key"), col("value"))

  /** The input; for the warm-up pass a quarter of it (3 of its 12
    * files): the same plans on less data.
    */
  private def records(pass: Int): DataFrame =
    if (pass > 0) spark.read.parquet(input)
    else {
      val files = partFiles(input)
      spark.read.parquet(files.take(files.size / 4).map(_.toString): _*)
    }

  def iterate(i: Int, it: Iteration): Unit = {
    val dumpId = dumpIdFor(i)
    beginPass()
    val sinks = (0 until roundsIn(i)).map { r =>
      val sink = s"$dir/sink-$i-$r"
      dump(it, dumpId, records(i), MaxPerFile, inputHash, keyOrder)
      reload(it, dumpId, sink, inputHash, first = r == 0)
      compact(it, dumpId, inputHash, keyOrder)
      sink
    }
    rm(s"$root/$dumpId")
    sinks.foreach(rm)
  }
}

/** Continuous dump of many small polls: Streams.streamingDumpToCatalog
  * drains the input two files per trigger, one dump per micro-batch,
  * so per-dump fixed cost outweighs per-row cost. The newest dump is
  * then reloaded and compacted, with hot-reload decisions.
  */
final class MicrobatchStream(ctx: Ctx) extends Workload(ctx) {
  val topic = "microbatch"
  private val Records = 60000L
  private val Files = 12
  private val MaxPerFile = 2500
  private val OlderDumps = 50
  protected val stateLines = 500
  protected val decisionsPerTick = 12
  protected val rounds = 2
  private var inputHash: (Long, BigDecimal) = _

  def sizes: Map[String, Any] = Map("records" -> Records, "files" -> Files, "files_per_trigger" -> 2,
    "partitions" -> Gen.Partitions, "max_per_file" -> MaxPerFile, "older_dumps" -> OlderDumps,
    "state_lines" -> stateLines, "decisions_per_tick" -> decisionsPerTick, "rounds_per_pass" -> rounds)

  private def input = s"$dir/input"

  def setup(d: String): Unit = {
    dir = d
    Gen.polledRecords(spark, Records, Files, ctx.seed).write.parquet(input)
    seedHistory(OlderDumps, stateLines)
  }

  /** The warm-up pass streams a third of the input (its first 4 files):
    * the same plans on less data.
    */
  private def warmInput = s"$dir/warm-up-input"

  override def prepare(): Unit = {
    inputHash = Gen.contentHash(spark.read.parquet(input), col("key"), col("value"))
    val fs = FileSystem.get(new java.net.URI(input), conf)
    partFiles(input).take(Files / 3).foreach(f =>
      FileUtil.copy(fs, f, fs, new HPath(warmInput, f.getName), false, conf))
  }

  /** Rounds of stream dump → reload → compact of the newest dump. Each
    * round streams the whole input into dumps of its own.
    */
  def iterate(i: Int, it: Iteration): Unit = {
    beginPass()
    val source = if (i == 0) warmInput else input
    val schema = spark.read.parquet(source).schema
    for (r <- 0 until roundsIn(i)) {
      val prefix = s"${dumpIdFor(i)}-r$r"
      val ckpt = s"$dir/checkpoint-$i-$r"
      val (q, secs, span) = ctx.call("streams.stream_dump") {
        val q = graft.streaming.Streams.streamingDumpToCatalog(
          spark, schema, source, root, prefix, MaxPerFile, ckpt)
        q.awaitTermination()
        q
      }
      it.step("stream", secs)
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      // numInputRows counts every scan of a batch (the dump's range
      // sampling re-reads it), so the record count comes from the input
      it.dumpRecords = Records
      progress.foreach(p => it.batchMs += p.durationMs.get("triggerExecution").toDouble)
      recordStream(span, progress)

      val ids = new DumpCatalog(root, conf).dumpIds().filter(_.startsWith(prefix)).sorted
      // one scan per dump: their sum is checked against the input, and
      // the newest one is the expected content of its reload and compaction
      val scans = ids.map(id => Checks.scan(spark, Seq(s"$root/$id"), keyOrder))
      ctx.check("stream dump") {
        val layouts = ids.map(id => Checks.layout(spark, s"$root/$id", id, MaxPerFile))
        it.dumpBytes = layouts.map(_.bytes).sum
        layouts.foreach { l =>
          ctx.sample("dumper.dump.files_out", l.files.size)
          ctx.sample("dumper.dump.bytes_out", l.bytes)
        }
        val got = (scans.map(_.content._1).sum, scans.map(_.content._2).sum)
        val violations = scans.map(_.violations).sum
        layouts.flatMap(_.failures) ++ failIf(
          (ids.size != Files / 2) -> s"${ids.size} dumps, expected ${Files / 2}",
          (progress.length != Files / 2) -> s"${progress.length} batches, expected ${Files / 2}",
          (got != inputHash) -> s"stream dumps hold $got, expected $inputHash",
          (violations != 0) -> s"$violations rows out of order")
      }
      val sink = s"$dir/sink-$i-$r"
      // the round's newest dump has no saved state yet: its first reload
      // produces, and the decisions that follow resolve to it
      reload(it, ids.last, sink, scans.last.content, first = true)
      compact(it, ids.last, scans.last.content, keyOrder)
      ids.foreach(id => rm(s"$root/$id"))
      rm(ckpt)
      rm(sink)
    }
  }

  private def recordStream(span: Option[Span], progress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
    for (t <- ctx.tracer; s <- span) {
      val p = ctx.probe
      p.add("stream.batches", progress.length)
      def ms(q: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(q.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      // Spark reports whole ms per batch; the per-pass mean keeps the
      // sub-ms part
      for ((metric, key) <- Seq("stream.trigger_ms" -> "triggerExecution", "stream.add_batch_ms" -> "addBatch",
                                "stream.wal_commit_ms" -> "walCommit", "stream.latest_offset_ms" -> "latestOffset",
                                "stream.query_planning_ms" -> "queryPlanning"))
        p.add(metric, progress.map(ms(_, key)).sum / math.max(1, progress.length))
      val perBatch = t.batchesOf(s.id)
      progress.foreach { q =>
        // each micro-batch is one Dumper.dump call inside foreachBatch
        perBatch.get(q.batchId).foreach { w =>
          p.add("dumper.dump.s", ms(q, "addBatch") / 1e3)
          p.add("dumper.dump.jobs", w.jobs)
          p.add("dumper.dump.executor_cpu_s", w.cpuNs / 1e9)
          p.add("dumper.dump.shuffle_write_bytes", w.shuffleWriteBytes)
          p.add("dumper.dump.spill_bytes", w.spillBytes)
          // trigger end minus the batch's last job end, less the offset
          // commit that follows addBatch
          val end = java.time.Instant.parse(q.timestamp).toEpochMilli + ms(q, "triggerExecution").toLong
          p.add("dumper.dump.driver_tail_s",
            math.max(0.0, end - ms(q, "commitOffsets") - w.lastJobEndMs) / 1e3)
        }
      }
    }
}

/** The `Cli pipeline` capstone on a documents corpus: encode → dump →
  * reload → decode, then the curation and text-analysis queries on the
  * round-tripped corpus, then compaction; hot-reload decisions run
  * throughout. Documents are interleaved across 3 partitions (doc_id % 3),
  * so the dump's range shuffle does real work.
  */
final class CorpusCuration(ctx: Ctx) extends Workload(ctx) {
  val topic: String = CorpusCodec.Topic
  private val MaxPerFile = 500
  private val OlderDumps = 50
  protected val stateLines = 500
  protected val decisionsPerTick = 5
  protected val rounds = 2
  import CorpusCuration.{Queries, docOrder}
  private lazy val registry = graft.SparkEntry.queries
  private var encodedHash: (Long, BigDecimal) = _
  private var docsHash: (Long, BigDecimal) = _
  private def docsHashOf(df: DataFrame) = Gen.contentHash(df, CorpusCuration.Columns.map(col): _*)
  /** Query results on the source corpus. The first pass (the untimed
    * warm-up) runs the queries there; every later pass must reproduce
    * them on its round-tripped corpus.
    */
  private var reference: Map[String, (Long, Long)] = Map.empty

  def sizes: Map[String, Any] = Map("documents" -> docsHash._1, "max_per_file" -> MaxPerFile,
    "queries" -> Queries, "older_dumps" -> OlderDumps, "state_lines" -> stateLines,
    "decisions_per_tick" -> decisionsPerTick, "rounds_per_pass" -> rounds)

  private def src = s"$dir/corpus-src"
  private def srcDocs: DataFrame = spark.read.parquet(s"$src/documents.parquet")


  def setup(d: String): Unit = {
    dir = d
    Gen.writeCorpus(CorpusCuration.documents(spark, ctx.data), src, ctx.seed)
    seedHistory(OlderDumps, stateLines)
  }

  override def prepare(): Unit = {
    encodedHash = Gen.contentHash(CorpusCodec.encode(srcDocs), col("key"), col("value"))
    docsHash = docsHashOf(srcDocs)
  }

  /** Rounds of encode → dump → reload → compact; the first round
    * decodes its sink and runs the queries before it compacts.
    */
  def iterate(i: Int, it: Iteration): Unit = {
    val dumpId = dumpIdFor(i)
    beginPass()
    val sinks = (0 until roundsIn(i)).map { r =>
      val sink = s"$dir/sink-$i-$r"
      dump(it, dumpId, CorpusCodec.encode(srcDocs), MaxPerFile, encodedHash, docOrder)
      reload(it, dumpId, sink, encodedHash, first = r == 0)
      if (r == 0) decodeAndQuery(it, s"$dir/corpus-$i", sink)
      compact(it, dumpId, encodedHash, docOrder)
      sink
    }
    rm(s"$root/$dumpId")
    sinks.foreach(rm)
  }

  /** Decodes the reloaded `sink` into `corpus` and runs the queries on
    * it (on the source corpus in the warm-up pass, which makes the
    * reference).
    */
  private def decodeAndQuery(it: Iteration, corpus: String, sink: String): Unit = {
    val (_, dsecs, _) = ctx.call("codec.decode") {
      CorpusCodec.decode(spark.read.parquet(sink)).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    }
    it.step("decode", dsecs)
    ctx.sample("codec.decode.s", dsecs)
    tick(it)
    ctx.check("decode") {
      val got = docsHashOf(spark.read.parquet(s"$corpus/documents.parquet"))
      failIf((got != docsHash) -> s"decoded corpus $got, expected $docsHash")
    }
    tick(it)

    val queryDir = if (reference.isEmpty) src else corpus
    val results = Queries.map { q =>
      var optimizeNs, planNs = 0L
      val ((fp, df), qsecs, qspan) = ctx.call(s"query.$q") {
        val df = registry(q)(spark, queryDir)
        if (ctx.traced) {
          // the plan's lazy phases, forced in the order execution would
          // force them, timed to the nanosecond (the tracker keeps ms)
          val qe = df.queryExecution
          val t0 = System.nanoTime()
          qe.optimizedPlan
          val t1 = System.nanoTime()
          qe.executedPlan
          optimizeNs = t1 - t0
          planNs = System.nanoTime() - t1
        }
        (Fingerprint.of(df), df)
      }
      it.step("queries", qsecs)
      it.querySeconds += qsecs
      for (t <- ctx.tracer; s <- qspan) {
        val w = t.workOf(s.id)
        val analysis = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble)
        ctx.probe.add(s"query.$q.s", qsecs)
        ctx.probe.add(s"query.$q.analysis_ms", analysis.getOrElse(0.0))
        ctx.probe.add(s"query.$q.optimization_ms", optimizeNs / 1e6)
        ctx.probe.add(s"query.$q.planning_ms", planNs / 1e6)
        ctx.probe.add(s"query.$q.executor_cpu_s", w.cpuNs / 1e9)
        ctx.probe.add(s"query.$q.shuffle_write_bytes", w.shuffleWriteBytes)
      }
      ctx.check(s"query $q") {
        val want = reference.getOrElse(q, fp)
        failIf((fp != want) -> s"result (rows, hash) $fp, expected $want from the source corpus",
               (fp._1 == 0) -> "no rows")
      }
      tick(it)
      q -> fp
    }
    if (reference.isEmpty) reference = results.toMap
    graft.sources.Tables.invalidate(corpus)
    rm(corpus)
  }
}

object CorpusCuration {
  /** The documents table's columns. */
  val Columns = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** The corpus: the first 1500 documents (doc_id 0-1499) of the
    * repository's sf0.1 test corpus, kept in `<data>/documents.parquet`.
    */
  def documents(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/documents.parquet")

  /** The pipeline capstone's reports (d10, t14, t26) and the text and
    * dedup queries the open performance items target.
    */
  val Queries = Seq("d10_curate_canonical", "t14_corpus_pipeline", "t26_epoch_shuffle",
    "t8_tfidf", "t17_bigram_lm", "t19_bm25", "t24_perplexity_filter",
    "d16_minhash_calibration", "d8_prefix_join")

  /** (partition, offset) that CorpusCodec gives a dumped document,
    * derived from its doc_id key, as a binary sort key.
    */
  val docOrder: Column = {
    val id = "cast(cast(`0` as string) as bigint)"
    concat(Gen.bytesOf(expr(s"pmod($id, 3)"), 8), Gen.bytesOf(expr(s"$id div 3"), 8))
  }
}

object Workloads {
  val names = Seq("bulk_tail", "microbatch_stream", "corpus_curation")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "bulk_tail" => new BulkTail(ctx)
    case "microbatch_stream" => new MicrobatchStream(ctx)
    case "corpus_curation" => new CorpusCuration(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (expected ${names.mkString(", ")})")
  }
}
