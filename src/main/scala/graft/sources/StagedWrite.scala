package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.util.SerializableConfiguration

import graft.operators.TxnLog

/** Parquet staging where every write TASK reports its (file, rows)
  * back in the job result — the writer-commit-message discipline of
  * Delta (`AddFile.numRecords`) and Iceberg (`DataFile.recordCount`):
  * the commit learns row counts from the tasks that wrote the bytes,
  * so the log can carry exact per-file counts WITHOUT the driver
  * re-opening one parquet footer per new file at commit time (serial,
  * O(new files) driver I/O — at a 100 TB commit staging thousands of
  * files, that re-read is the commit-latency bottleneck) and without
  * a batched count re-SCAN of data just written.
  *
  * Mechanics mirror [[GraftDeltaWriterFactory]]: Spark's own parquet
  * `OutputWriter` (same bytes `df.write.parquet` produces), one file
  * per non-empty partition, file names unique per task ATTEMPT — a
  * retried/speculative task writes under a fresh name, the failed
  * attempt's orphan is invisible to the commit (only collected
  * results are referenced) and reclaimed by the age-guarded vacuum,
  * the same deal every staged write in this log makes. Empty
  * partitions write nothing, so callers get no zero-row files to
  * filter. */
object StagedWrite {

  /** What one staged write produced: the files with their
    * task-reported row counts (sorted by path, zero-row outputs
    * dropped) and the [[TxnLog.CommitStats]] their tasks folded. */
  final case class Staged(
      files: Seq[(String, Long)], stats: TxnLog.CommitStats) {
    def paths: Seq[String] = files.map(_._1)
    def rows: Map[String, Long] = files.toMap
  }

  object Staged {
    /** Nothing staged: the commits that only change metadata or add
      * delete files. */
    val empty: Staged = Staged(Seq.empty, TxnLog.CommitStats.empty)

    /** Fold task reports — (file, rows, folded stats) — into a
      * [[Staged]]: the one place writer results become commit stats,
      * shared by [[stage]] and the DSv2 writers whose tasks report
      * through commit messages. */
    def of(spec: WriterStats.Spec,
        reports: Seq[(String, Long, Option[WriterStats.FileStats])])
        : Staged = {
      val live = reports.filter(_._2 > 0).sortBy(_._1)
      Staged(live.map { case (rel, n, _) => (rel, n) },
        WriterStats.assemble(spec,
          live.flatMap { case (rel, _, fs) => fs.map(rel -> _) }))
    }
  }

  /** Stage `physical` under `root/subdir` with writer-side stats for
    * the column sets `declared` declares (`statsKey`, `colStats` keys,
    * `ndv` keys): the spec is validated on the driver before any task
    * runs, each task folds its file's stats as it writes, and the
    * result carries the files, their row counts and the assembled
    * commit stats — zero footer reads and zero post-write stats jobs
    * at commit. Every engine write path that stages parquet itself
    * goes through here. */
  def stage(physical: DataFrame, root: Path, subdir: String,
      declared: TxnLog.Manifest): Staged = {
    val spec = WriterStats.specFor(physical.sparkSession, physical.schema,
      declared)
    Staged.of(spec, parquetWithStats(physical, root, subdir, Some(spec)))
  }

  /** `staged`, written under the declared column sets of
    * `stagedUnder`, as seen by each tip a commit attempt targets: the
    * returned function gives `staged` with its stats under that tip's
    * [[TxnLog.Manifest.declaredSets]]. Bounds recorded under the
    * wrong column would silently mis-prune later scans, so a rebase
    * onto a tip whose sets differ reads the staged files back
    * ([[TxnLog.commitStatsFor]], one job folding the same
    * [[WriterStats.Collector]] the write tasks ran); the writer-side
    * stats seed the staging sets, and every set is computed at most
    * once (the files are immutable once staged). The one place staged
    * stats follow a rebase: every [[commit]] takes them from here. */
  private def statsUnder(spark: => SparkSession, root: Path, staged: Staged,
      stagedUnder: TxnLog.Manifest): TxnLog.Manifest => Staged = {
    val cache = scala.collection.mutable.Map(
      stagedUnder.declaredSets -> staged.stats)
    tip => {
      val sets @ (key, colCols, ndvCols) = tip.declaredSets
      staged.copy(stats = cache.getOrElseUpdate(sets,
        TxnLog.commitStatsFor(spark, root, staged.paths, key, colCols,
          ndvCols)))
    }
  }

  /** A lost race [[commit]] cannot rebase over: an intervening commit
    * that breaks the write's [[Rule]]. Every caller refuses with it,
    * except the copy-on-write rewrites that read their rows from the
    * tip, which replan from data ([[replanning]]). */
  final class Conflict(msg: String) extends RuntimeException(msg)

  /** How [[commit]] judges each commit that won a race against a write
    * — the Delta/Iceberg WriteSerializable check, one rule per write.
    * `targets` are the files of the planned version the write depends
    * on: a commit that REMOVED one does not commute (rebasing would
    * clobber its rewrite, or misplace recorded ordinals). */
  sealed abstract class Rule(val targets: Set[String])

  /** No check and no walk: appends, creates, equality deletes, restore
    * and metadata commits rebase onto whatever committed. */
  case object Blind extends Rule(Set.empty)

  /** A write that targets `files`: also refuses a NEW merge-on-read
    * delete (this write's output files carry a fresh seq and would
    * escape it, resurrecting rows it removes; a delete that vanished
    * means a materialize ran, caught via the files it rewrote). Append
    * and rewrites of other files commute: their files survive the
    * rebased commit untouched, and rows a concurrent append landed
    * were never seen by this write, so the write is ordered before the
    * append, exactly WriteSerializable's insert semantics. */
  final case class Targets(files: Set[String]) extends Rule(files)

  /** [[TxnLog.mergeCowByKey]]: [[Targets]], and also a commit other
    * than a blind `append` that added a file whose range under `key`
    * meets the batch's [`lo`, `hi`] or is unknown — it holds rows the
    * merge never read, so two merges inserting one key must not both
    * insert it. */
  final case class Merge(files: Set[String], key: String, lo: Long,
      hi: Long) extends Rule(files)

  /** [[TxnLog.deleteByPosMor]]: only a commit that removed a file the
    * positions `named`; a concurrent merge-on-read delete commutes. */
  final case class PosDelete(named: Set[String]) extends Rule(named)

  /** The log's one commit loop. `planned` is the manifest the write
    * read and staged `staged` under, and the first attempt's parent —
    * no tip re-read before it. It may declare what the stored version
    * does not (a re-keyed `statsKey` and stats, as [[TxnLog.compact]]'s):
    * the commit folds and delta-encodes against the parent as stored
    * ([[TxnLog.tryCommitManifest]]). `build(tip, under)` makes the
    * manifest committed on `tip`, taking the staged files from
    * `under(m)`: their stats under the declared sets of the manifest
    * `m` it declares ([[statsUnder]]). It runs once per attempt, and
    * may call [[TxnLog.abortCommit]] to end the loop as a no-op on the
    * tip it was given.
    *
    * A lost race REBASES onto the new tip unless an intervening commit
    * breaks `rule`: each commit since the base is read once, in order
    * ([[TxnLog.since]]), and judged against the one before it; a
    * [[Blind]] write walks nothing and re-reads only the tip.
    * `addsRows`: the staged rows are new (an update's output),
    * validated against the CHECK constraints of each tip an attempt
    * targets whenever that set changed, rather than rows a rewrite only
    * carries (`setConstraint` never re-checks existing rows, so a
    * compaction never refuses over one). `label` names the write in
    * refusals. `spark` is used only to re-derive staged stats or
    * validate added rows, so a commit that stages nothing runs without
    * a session. */
  def commit(spark: => SparkSession, root: Path, planned: TxnLog.Manifest,
      staged: Staged, rule: Rule, label: String, addsRows: Boolean)(
      build: (TxnLog.Manifest, TxnLog.Manifest => Staged) =>
        TxnLog.Manifest): TxnLog.Committed = {
    val under = statsUnder(spark, root, staged, planned)
    var base = planned
    var checkedUnder: Map[String, String] = Map.empty
    var conflicts = 0
    while (conflicts < TxnLog.MaxCommitAttempts) {
      if (addsRows && base.constraints != checkedUnder) {
        validateConstraints(spark, root, base, staged.paths)
        checkedUnder = base.constraints
      }
      val next = try build(base, under) catch {
        case _: TxnLog.CommitAborted =>
          return TxnLog.Committed(base.version, conflicts)
      }
      TxnLog.tryCommitManifest(root,
        next.copy(version = base.version + 1, parent = base.version)) match {
        case Some(v) => return TxnLog.Committed(v, conflicts)
        case None =>
          conflicts += 1
          base =
            if (rule == Blind) TxnLog.tip(root)
            else TxnLog.since(root, base.version, Long.MaxValue)
              .foldLeft(base)(judge(root, rule, planned.deletes.toSet, label))
      }
    }
    sys.error(s"$label commit lost ${TxnLog.MaxCommitAttempts} races on $root")
  }

  /** `mv`, a commit that won a race, judged against `prev`, the version
    * before it: throws [[Conflict]] when it breaks `rule`, else returns
    * it as the next base. `known` are the deletes the write planned
    * against. */
  private def judge(root: Path, rule: Rule, known: Set[TxnLog.DeleteFile],
      label: String)(prev: TxnLog.Manifest, mv: TxnLog.Manifest)
      : TxnLog.Manifest = {
    val why = rule match {
      case _ if prev.files.filterNot(mv.files.toSet).exists(rule.targets) =>
        Some("removed files it targets")
      case _: Targets | _: Merge if mv.deletes.exists(d => !known(d)) =>
        Some("added a merge-on-read delete (fresh-seq output would escape it)")
      case Merge(_, key, lo, hi) if mv.action != "append" &&
          mv.files.filterNot(prev.files.toSet).exists(f =>
            !mv.statsKey.contains(key) || mv.stats.get(f).forall {
              case (kmin, kmax) => kmin <= hi && kmax >= lo
            }) => Some("added files in its key range")
      case _ => None
    }
    why.foreach(w => throw new Conflict(s"concurrent ${mv.action} at " +
      s"commit ${mv.version} on $root $w — it does not commute with this " +
      s"$label; retry it"))
    mv
  }

  /** Run `attempt` — plan from the table, stage, [[commit]] — again
    * whenever its commit throws [[Conflict]], up to
    * [[TxnLog.MaxCommitAttempts]] plans; `attempt` gets the plan's
    * ordinal (0 first). Only the copy-on-write rewrites that read
    * their rows from the tip ([[TxnLog.mergeCowByKey]],
    * `GraftTables.deleteWhere`) can replan from data: a lost race
    * against a disjoint commit was already rebased by [[commit]]
    * without re-reading or re-writing anything. */
  def replanning[A](attempt: Int => A): A = {
    def run(plan: Int): A =
      try attempt(plan)
      catch {
        case _: Conflict if plan + 1 < TxnLog.MaxCommitAttempts =>
          run(plan + 1)
      }
    run(0)
  }

  /** The commit of a merge-on-read update — the delta row-level write
    * and `GraftTables.updateMor`: `staged`'s data files appended and
    * the position-delete files `posFiles` added in ONE [[commit]],
    * whose targets are the files the positions name (a commit that
    * rewrote one relocated the recorded ordinals; read Spark-free,
    * small). A write that only deleted is a `delete-mor` commit (the
    * change feed classifies it as pure deletes); one that wrote rows
    * is `update-mor` (paired pre/post images). */
  def commitDelta(spark: SparkSession, root: Path,
      planned: TxnLog.Manifest, staged: Staged, posFiles: Seq[String],
      label: String): TxnLog.Committed = {
    val named = posFiles.flatMap(p => TxnLog.posDeleteNamedFiles(root,
      TxnLog.DeleteFile(p, "", 0L, 0L, kind = "pos"))).toSet
    val action = if (staged.files.isEmpty) "delete-mor" else "update-mor"
    commit(spark, root, planned, staged, Targets(named), label,
      addsRows = true) {
      (t, under) =>
        TxnLog.replaceFiles(root, t, action, Set.empty, under(t))
          .copy(deletes = t.deletes ++ posFiles.map(p =>
            TxnLog.DeleteFile(p, "", t.version + 1,
              Files.size(root.resolve(p)), kind = "pos")))
    }
  }

  // CHECK constraints guard every data-adding write (Delta enforces
  // invariants on UPDATE/MERGE outputs, not just inserts): validate
  // the staged files — physical columns renamed to the tip's logical
  // names, the names constraint predicates bind — before publishing.
  // The rows a copy-on-write update carried verbatim re-validate too;
  // they were valid when written and stay valid, so the pass costs
  // one scan of O(written bytes).
  private def validateConstraints(spark: SparkSession, root: Path,
      tip: TxnLog.Manifest, files: Seq[String]): Unit = {
    if (tip.constraints.isEmpty || files.isEmpty) return
    import org.apache.spark.sql.functions.col
    val logical = tip.columns.toSeq.flatten
      .map(c => c.physical -> c.name).toMap
    val rows = graft.util.ParquetSchema.read(spark,
      files.map(f => root.resolve(f).toString))
    TxnLog.checkConstraints(
      rows.select(rows.columns.toSeq.map(c =>
        col(c).as(logical.getOrElse(c, c))): _*),
      tip.constraints)
  }

  /** The task-side write under [[stage]]: one parquet per non-empty
    * partition under `root/subdir`, each task reporting its
    * table-relative (file, rows) and — when `spec` collects anything —
    * the stats it folded over the rows as it wrote them
    * ([[WriterStats.Collector]]). `spec = None` collects nothing. */
  def parquetWithStats(physical: DataFrame, root: Path,
      subdir: String, spec: Option[WriterStats.Spec])
      : Seq[(String, Long, Option[WriterStats.FileStats])] = {
    val spark = physical.sparkSession
    val schema = physical.schema
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      schema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    val conf = new SerializableConfiguration(job.getConfiguration)
    Files.createDirectories(root.resolve(subdir))
    val rootUri = root.toUri.toString
    // An empty spec collects nothing per row — drop it so the row
    // loop stays the bare write.
    val statsSpec = spec.filterNot(_.isEmpty)
    physical.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val attempt = TaskContext.get().taskAttemptId()
        val ctx = new TaskAttemptContextImpl(conf.value,
          new TaskAttemptID("graft", 0, TaskType.MAP, pid, 0))
        val rel = s"$subdir/part-$pid-a$attempt" +
          owf.getFileExtension(ctx)
        val out = owf.newInstance(s"$rootUri/$rel", schema, ctx)
        val collector = statsSpec.map(new WriterStats.Collector(_))
        var n = 0L
        try rows.foreach { r =>
          out.write(r)
          collector.foreach(_.update(r))
          n += 1
        }
        finally out.close()
        Iterator.single((rel, n, collector.map(_.result())))
      }
    }.collect().toSeq
  }
}
