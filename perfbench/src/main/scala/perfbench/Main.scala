package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark entry: one workload, one seed, one process.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --data DIR --out FILE [--spans FILE] [--cpus N]
  *
  * Set-up runs three times in fresh directories (`setup_s` is their
  * median); one untimed, unchecked warm-up pass follows; then passes of the timed
  * path repeat until `--seconds` have gone by. With `--trace 1`,
  * passes alternate untraced and traced: traced passes give the
  * per-layer metrics, and the gap between the two kinds of pass is the
  * tracing overhead. Every pass checks its outputs outside the timed
  * steps. The result goes to `--out` as JSON.
  */
object Main {
  val SetupRounds = 3

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = req("workload")
    val seed = req("seed").toLong
    val seconds = req("seconds").toDouble
    val trace = req("trace") == "1"
    val work = req("work")
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt

    HeapWatch.install()
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, seed, req("data"))
      val w = Workloads(workload, ctx)
      val setupS = (0 until SetupRounds).map { k =>
        val s0 = System.nanoTime()
        w.setup(s"$work/setup-$k")
        (System.nanoTime() - s0) / 1e9
      }
      log(s"session ${sessionS}s, set-ups ${setupS.mkString(", ")}")
      (0 until SetupRounds - 1).foreach(k => deleteTree(s"$work/setup-$k"))
      w.prepare()
      ctx.warmingUp = true
      w.iterate(0, new Iteration(traced = false))
      ctx.warmingUp = false
      log("warm-up pass done")
      HeapWatch.collect()
      HeapWatch.reset()

      val tracer = new Tracer(spark)
      val passes = ArrayBuffer.empty[Iteration]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      // at least one pass of each kind and enough hot decisions for the
      // reported percentile; past that, a pass starts only when it
      // is expected (from the passes so far) to end by the deadline
      val minPasses = if (trace) 2 else 1
      val walls = ArrayBuffer.empty[Double]
      def decisions = passes.filterNot(_.traced).map(_.decisionsMs.size).sum
      def fits = System.nanoTime() + (Stats.median(walls) * 1e9).toLong <= deadline
      while (passes.size < minPasses || decisions < Stats.samplesFor(Report.DecisionPercentile) || fits) {
        val p0 = System.nanoTime()
        val traced = trace && passes.size % 2 == 1
        val it = new Iteration(traced)
        if (traced) { tracer.install(); ctx.tracer = Some(tracer) }
        val gc0 = HeapWatch.programGcMs
        try w.iterate(passes.size + 1, it)
        finally if (traced) {
          ctx.probe.add("jvm.gc_s", (HeapWatch.programGcMs - gc0) / 1e3)
          ctx.tracer = None
          tracer.uninstall()
        }
        passes += it
        walls += (System.nanoTime() - p0) / 1e9
        HeapWatch.collect()
        log(f"pass ${passes.size}${if (traced) " (traced)" else ""}: ${it.pipelineS}%.3f s")
      }
      val result = Report(workload, seed, trace, ctx, passes.toSeq, setupS, sessionS, w, cpus)
      Json.writeFile(req("out"), result)
      opts.get("spans").filter(_ => trace).foreach { p =>
        Json.writeFile(p, tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
    } finally spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def deleteTree(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    ()
  }
}
