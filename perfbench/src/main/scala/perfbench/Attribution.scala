package perfbench

import java.nio.file.Path

/** Turns the spans of a traced run and the listener's task records into
  * the per-layer metrics. Every value is a mean per traced op, so runs
  * that complete different numbers of ops stay comparable. */
object Attribution {

  /** Layer counters the workloads add, with their units. */
  val Counters: Seq[(String, String)] = Seq(
    "sources.rows" -> "count", "sources.bytes_read" -> "B",
    "infer.sample_rows" -> "count", "infer.confidence" -> "ratio",
    "bronze.files_written" -> "count", "bronze.bytes_written" -> "B",
    "transform.steps" -> "count", "transform.steps_failed" -> "count",
    "sinks.bytes_written" -> "B",
    "streaming.batches" -> "count", "streaming.rows" -> "count",
    "txnlog.files_rewritten" -> "count", "txnlog.bytes_rewritten" -> "B",
    "txnlog.commit_retries" -> "count", "txnlog.live_files" -> "count",
    "txnlog.log_bytes" -> "B",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.rows_removed" -> "count",
    "similarity.pairs_scored" -> "count", "similarity.pairs_kept" -> "count",
    "curation.docs_in" -> "count", "curation.docs_kept" -> "count")

  /** Sub-calls of a layer timed on their own (span name -> metric). */
  val Timed: Seq[(String, String)] = Seq(
    "txnlog.merge" -> "txnlog.merge_s", "txnlog.compact" -> "txnlog.compact_s",
    "txnlog.read" -> "txnlog.read_s")

  def layerMetrics(tr: Tracer, l: TaskListener,
      cores: Int, traced: Seq[Double], untraced: Seq[Double])
      : Seq[(String, Double, String)] = {
    val spans = tr.all
    val self = Tracer.selfNs(spans)
    val nOps = math.max(1, spans.map(_.op).distinct.size).toDouble
    val byOp = spans.groupBy(_.op)
    // Each job goes to the innermost span open when it was submitted;
    // its stages, and so its tasks, follow it.
    val jobLayer = l.synchronized(l.jobs.toList).flatMap { case (_, t, stages) =>
      byOp.values.flatMap(ss => Tracer.innermost(tr, ss, t.toDouble))
        .headOption.map(s => (s.layer, stages))
    }
    val stageLayer = jobLayer.flatMap { case (ly, st) => st.map(_ -> ly) }.toMap
    val tasks = l.synchronized(l.tasks.toList).flatMap(t => stageLayer.get(t.stageId).map(_ -> t))
    def per(v: Double) = v / nOps

    val common = Main.Layers.flatMap { ly =>
      val selfS = per(spans.filter(_.layer == ly).map(s => self(s.id)).sum / 1e9)
      val ts = tasks.collect { case (`ly`, t) => t }
      val taskS = per(ts.map(_.runMs).sum / 1e3)
      Seq(
        (s"$ly.self_s", selfS, "s"),
        (s"$ly.jobs", per(jobLayer.count(_._1 == ly).toDouble), "count"),
        (s"$ly.task_s", taskS, "s"),
        (s"$ly.util", if (selfS > 0) taskS / (selfS * cores) else 0.0, "ratio"),
        (s"$ly.shuffle_bytes", per(ts.map(_.shuffleBytes).sum.toDouble), "B"),
        (s"$ly.spill_bytes", per(ts.map(_.spillBytes).sum.toDouble), "B"),
        (s"$ly.tasks_failed", per(ts.count(_.failed).toDouble), "count"))
    }
    val counts = tr.counts
    val counters = Counters.map { case (k, u) => (k, per(counts.getOrElse(k, 0.0)), u) }
    val timed = Timed.map { case (name, k) =>
      (k, per(spans.filter(_.name == name).map(_.durNs).sum / 1e9), "s")
    }
    val cand = counts.getOrElse("dedup.candidate_pairs", 0.0)
    val precision = ("dedup.precision",
      if (cand > 0) counts.getOrElse("dedup.verified_pairs", 0.0) / cand else 0.0, "ratio")
    val opSelf = per(spans.filter(_.layer == "op").map(s => self(s.id)).sum / 1e9)
    val tracedP50 = if (traced.nonEmpty) Main.median(traced) else 0.0
    val untracedP50 = if (untraced.nonEmpty) Main.median(untraced) else 0.0
    val trace = Seq(
      ("trace.op_p50_s", tracedP50, "s"),
      ("trace.untraced_op_p50_s", untracedP50, "s"),
      ("trace.overhead_s", tracedP50 - untracedP50, "s"),
      ("trace.op_self_s", opSelf, "s"),
      ("trace.ops", nOps, "count"))
    common ++ counters ++ timed ++ Seq(precision) ++ trace
  }

  def writeSpans(tr: Tracer, out: Path): Unit = {
    val spans = tr.all.sortBy(_.startNs)
    val self = Tracer.selfNs(spans)
    Json.write(out, spans.iterator.map { s =>
      Json.obj(
        "op" -> Json.num(s.op), "id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name),
        "start_ms" -> Json.num(tr.epochMs(s.startNs)),
        "end_ms" -> Json.num(tr.epochMs(s.endNs)),
        "self_ms" -> Json.num(self(s.id) / 1e6))
    })
  }
}
