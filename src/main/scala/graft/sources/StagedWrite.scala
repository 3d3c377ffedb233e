package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
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
