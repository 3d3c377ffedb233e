package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark runner: one client, each op waits for the one
  * before it. Generates the workload's seeded inputs, sets up
  * `setupRounds` times on a fresh session, warms up, then repeats the op
  * as many times as fill about the requested number of seconds and
  * prints one JSON result line.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates
  * traced and untraced ops: traced ops record spans around every call
  * into a layer and attribute Spark task metrics to the innermost open
  * span; the untraced ones give the tracing overhead. */
object Main {
  /** Ops a run makes at least, so its median is one of several. */
  val MinOps = 4
  /** The end-to-end metrics the result line reports. */
  val Gated: Set[String] = Set("setup_s", "op_cpu_s", "op_cpu_tail_s",
    "read_cpu_s", "peak_rss_mb", "write_amp", "space_amp")
  /** In a traced run: traced and untraced ops each. */
  val MinTracedOps = 3
  val Layers: Seq[String] = Seq("sources", "infer", "bronze", "transform",
    "pipeline", "sinks", "streaming", "txnlog", "dedup", "similarity",
    "curation")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, traceOut: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")),
      Paths.get(need("--trace-out")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The tail percentile. The highest percentile with at least ten
    * samples beyond it is below the median until a run has twenty
    * samples, and a run gets fewer; so the tail is the 90th percentile,
    * interpolated between the two nearest ranks, and the result records
    * how many samples lie beyond it. */
  val TailPct = 90.0
  def percentile(xs: Seq[Double], pct: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * pct / 100
      val lo = r.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (r - lo) * (s(lo + 1) - s(lo))
    }

  /** (steal, total) CPU jiffies of the machine so far: the share of
    * time the hypervisor ran other guests on this machine's CPUs. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (t.length > 7) t(7) else 0L, t.sum)
    } finally f.close()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024
  }

  def workload(name: String, work: Path, seed: Long, seconds: Int): Workload =
    name match {
      case "medallion_batch" => new Medallion(work, seed)
      case "cdc_stream" => new Cdc(work, seed, seconds)
      case "curation_dedup" => new CurationDedup(work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val wl = workload(a.workload, a.work.resolve("data"), a.seed, a.seconds)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = Seq.newBuilder[(String, Double)]
    def phase(name: String): Unit =
      phases += name -> (System.currentTimeMillis() - jvmStart) / 1e3
    phase("main")
    var spark = session(cores, a.work)
    phase("session")
    val (_, genS) = Clock.timed(wl.generate(spark))
    val setups = (0 until wl.setupRounds).map { r =>
      spark.stop()
      Clock.timed { spark = session(cores, a.work); wl.setup(spark, r) }._2
    }
    val (_, warmS) = Clock.timed(wl.warmUp(spark))

    val tr = new Tracer(a.trace)
    val listener = new TaskListener
    val times = Seq.newBuilder[Timing]
    val tracedLat = Seq.newBuilder[Double]
    val untracedLat = Seq.newBuilder[Double]
    val reads = Seq.newBuilder[Timing]
    var attempted = 0
    var failed = 0
    var rows, inBytes, outBytes = 0L
    val failures = Seq.newBuilder[String]
    phase("warm")
    val cpu0 = cpuJiffies()
    val nOps = wl.timedOps(a.seconds, a.trace)
    while (attempted < nOps) {
      val i = attempted
      attempted += 1
      val traced = a.trace && i % 2 == 0
      tr.op = if (traced) i else -1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val r =
        try wl.op(spark, i, tr)
        catch { case NonFatal(e) =>
          OpResult(Timing(0, 0), Timing(0, 0), 0, 0, 0, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tr.op = -1
      if (r.ok) {
        times += r.time
        (if (traced) tracedLat else untracedLat) += r.time.wallS
        reads += r.read
        rows += r.inputRows
        inBytes += r.inputBytes
        outBytes += r.bytesWritten
      } else {
        failed += 1
        failures += s"op $i: ${r.why.take(300)}"
      }
    }
    phase("timed")
    val cpu1 = cpuJiffies()
    val ok = times.result()
    val spaceAmp = if (ok.nonEmpty) wl.spaceAmp(spark) else Double.NaN
    phase("space")
    val wall = ok.map(_.wallS)
    val cpu = ok.map(_.cpuS)
    val tailS = percentile(wall, TailPct)

    val readCpu = reads.result().map(_.cpuS)

    // Every end-to-end metric. The result line carries `Gated` of them:
    // the CPU-time ones stand in for the wall-clock ones, which follow
    // the load other guests put on a shared host (see the README). CPU
    // time is a cost, so its central figure is the mean: over a few ops
    // it holds stiller from run to run than the median.
    val e2e = Seq(
      ("setup_s", median(setups), "s"),
      ("op_cpu_s", cpu.sum / cpu.size, "s"),
      ("op_cpu_tail_s", percentile(cpu, TailPct), "s"),
      ("read_cpu_s", readCpu.sum / readCpu.size, "s"),
      ("rows_per_cpu_s", rows / cpu.sum, "1/s"),
      ("peak_rss_mb", peakRssMb(), "MiB"),
      ("write_amp", outBytes.toDouble / inBytes, "ratio"),
      ("space_amp", spaceAmp, "ratio"),
      ("op_p50_s", median(wall), "s"),
      ("op_tail_s", tailS, "s"),
      ("rows_per_s", rows / wall.sum, "1/s"),
      ("read_p50_s", median(reads.result().map(_.wallS)), "s"))
    val layerMetrics =
      if (a.trace) Attribution.layerMetrics(tr, listener, cores,
        tracedLat.result(), untracedLat.result())
      else Nil
    if (a.trace) Attribution.writeSpans(tr, a.traceOut.resolve(
      s"${a.workload}-seed${a.seed}.spans.jsonl"))
    spark.stop()
    phase("stop")

    val detail = Json.obj(
      "phases_s" -> Json.obj(phases.result().map { case (k, v) => k -> Json.num(v) }: _*),
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed.toDouble),
      "cores" -> Json.num(cores.toDouble),
      "seconds" -> Json.num(a.seconds.toDouble),
      "input_generation_s" -> Json.num(genS),
      "setup_rounds_s" -> Json.arr(setups.map(Json.num)),
      "warm_up_s" -> Json.num(warmS),
      "steal_share_timed" -> Json.num(
        (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)),
      "samples" -> Json.num(ok.size.toDouble),
      "op_latencies_s" -> Json.arr(wall.map(Json.num)),
      "op_cpu_s" -> Json.arr(cpu.map(Json.num)),
      "op_tail_percentile" -> Json.num(TailPct),
      "op_tail_samples_beyond" -> Json.num(wall.count(_ > tailS).toDouble),
      "failed_ratio" -> Json.num(failed.toDouble / attempted),
      "inputs" -> Json.obj(wl.properties.map { case (k, v) => k -> Json.num(v) }: _*),
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "failures" -> Json.arr(failures.result().take(5).map(Json.str)))
    println(Json.obj("detail" -> detail))

    val metrics = if (a.trace) layerMetrics else e2e.filter(m => Gated(m._1))
    val finite = metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    val correct = failed == 0 && finite
    println(Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(if (v.isNaN || v.isInfinite) 0.0 else v),
          "unit" -> Json.str(u)) }: _*)))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def write(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }
}
