package graft.sources

import java.nio.file.Files

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.operators.TxnLog

/** SQL `UPDATE`, `MERGE INTO`, and non-translatable `DELETE` over the
  * log — the v2 GROUP-BASED row-level operation contract (the
  * copy-on-write mode Iceberg pioneered). Spark's rewrite rules
  * (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable`) read the table through
  * [[GraftRowLevelOperation.newScanBuilder]], apply the
  * assignments/actions as plan projections, and hand the resulting
  * row set to [[GraftReplaceDataWrite]], which stages parquet on the
  * executors (Spark's own parquet output writers — vectorizable
  * files, identical bytes to any other write) and publishes ONE
  * commit.
  *
  * THE COPY-ON-WRITE CONTRACT, and why the scan is special
  * (`GroupBasedRowLevelOperationScanPlanning` pushes the command's
  * condition into this scan expecting exactly Iceberg's semantics):
  *
  *  - Pushed filters select which GROUPS (files — our group
  *    granularity) participate in the rewrite, via manifest-stats
  *    pruning. A file whose committed [min, max] cannot match the
  *    condition keeps its bytes and its manifest entry untouched.
  *  - The scan returns EVERY ROW of the files it plans — the pushed
  *    condition is NOT applied to rows (no parquet data filters, no
  *    row-group skipping on the condition): unmatched rows of an
  *    affected file must flow through the rewrite unchanged, or they
  *    are silently lost. The condition itself lives in the rewritten
  *    plan's projections (residual semantics), so correctness never
  *    depends on what the scan drops.
  *  - The write commits `(snapshot − scannedFiles) ∪ writtenFiles`:
  *    exactly the files the scan planned are replaced — the file set
  *    the scan records on the shared operation instance
  *    ([[GraftRowLevelOperation.scannedFiles]], the Iceberg
  *    configured-scan idiom). An UPDATE touching 10% of the key
  *    range rewrites ~10% of files at 100 TB, not the table.
  *
  * The commit targets the snapshot the statement read; on a lost
  * race it REBASES automatically iff every intervening commit is
  * DISJOINT from the rewrite's groups (appends, rewrites of
  * unscanned files — Delta's WriteSerializable allowance), and
  * refuses loudly only on TRUE overlap: a commit that rewrote a
  * scanned file does not commute with this statement, so blind retry
  * would silently clobber it (Delta's
  * ConcurrentModificationException discipline). */
final class GraftRowLevelOperation(
    snap: GraftSnapshot, cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** Files the configured scan planned — the groups the write
    * replaces. Defaults to the full snapshot (a scan that pushes no
    * condition rewrites everything, e.g. a MERGE with no
    * target-side predicate). */
  @volatile private[sources] var scannedFiles: Seq[String] =
    snap.manifest.files

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(SparkSession.active, this, snap, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftReplaceDataWrite(snap, GraftRowLevelOperation.this)
        override def description(): String = s"GraftReplaceData($cmd)"
      }
    }

  override def description(): String = s"GraftRowLevel($cmd)"
}

final case class GraftRowLevelBuilder(
    snap: GraftSnapshot, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  /** `spark.graft.rowlevel.mode = mor` routes UPDATE/MERGE/row-level
    * DELETE through the DELTA (merge-on-read) operation
    * ([[GraftDeltaOperation]]: appended rows + position deletes,
    * O(changed rows)); the default stays group-based copy-on-write
    * (O(affected files), zero read-time debt). Semantics are
    * identical either way — the mode is a cost model choice. */
  override def build(): RowLevelOperation =
    if (SparkSession.active.conf.getOption("spark.graft.rowlevel.mode")
        .exists(_.equalsIgnoreCase("mor")))
      new GraftDeltaOperation(snap, info.command)
    else
      new GraftRowLevelOperation(snap, info.command)
}

/** The copy-on-write scan builder: pushed filters prune FILES from
  * manifest metadata and are recorded on the operation so the write
  * replaces exactly those — they are never pushed to the parquet
  * reader as data filters (see [[GraftRowLevelOperation]]'s contract
  * note: a CoW scan must return every row of every file it plans). */
final class GraftCowScanBuilder(
    spark: SparkSession, op: GraftRowLevelOperation,
    snap: GraftSnapshot, options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {

  private var requiredSchema: StructType = snap.schema
  private var pushedExprs: Seq[Expression] = Seq.empty

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    filters // all residual: the condition stays in the rewritten plan
  }

  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  private def physFilters: Seq[Expression] =
    if (!snap.isMapped) pushedExprs
    else pushedExprs.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.withName(snap.physicalOf(a.name))
    })

  override def build(): Scan = {
    val kept = GraftPruning.prune(snap.manifest, physFilters)
    op.scannedFiles = kept
    // With equality deletes pending, the CoW scan must return every
    // SURVIVING row of the planned files — and only surviving rows: a
    // rewrite that read raw files would bake deleted rows into
    // fresh-seq files (silent resurrection). The shared MoR planner
    // applies them inside the scan; the command's condition is still
    // NOT pushed (the CoW contract below).
    if (snap.manifest.deletes.nonEmpty && kept.nonEmpty) {
      val p = GraftMor.plan(spark, snap, kept, requiredSchema,
        Seq.empty, options)
      return new GraftScan(p.groups.head.scan, snap, Seq.empty, options,
        _ => sys.error("a row-level operation scan cannot stream"),
        mor = Some(p), kept = kept)
    }
    val index = new ManifestFileIndex(spark, snap.root, kept,
      snap.manifest.sizes, snap.physicalSchema)
    val inner = ParquetScanBuilder(spark, index, snap.physicalSchema,
      snap.physicalSchema, options)
    // Deliberately NO inner.pushFilters: row/row-group filtering on
    // the condition would drop the unmatched rows the rewrite must
    // carry forward.
    val physRequired = StructType(requiredSchema.fields.map(f =>
      f.copy(name = snap.physicalOf(f.name))))
    inner.pruneColumns(physRequired)
    new GraftScan(inner.build(), snap, Seq.empty, options,
      _ => sys.error("a row-level operation scan cannot stream"),
      kept = kept, statsExact = true)
  }
}

/** One written file: its table-relative path, row count, and the
  * writer-side commit stats the task folded while writing (r22) —
  * rides the commit message so the driver can drop empty outputs and
  * commit without re-reading ANYTHING. */
final case class GraftWrittenFile(relPath: String, rows: Long,
    stats: Option[WriterStats.FileStats] = None)
  extends WriterCommitMessage

final class GraftReplaceDataWrite(
    snap: GraftSnapshot, op: GraftRowLevelOperation) extends BatchWrite {

  private val spark = SparkSession.active
  private val staging = s"rl${System.currentTimeMillis()}-" +
    java.util.UUID.randomUUID().toString.take(8)

  // Writer-side stats under the SNAPSHOT's declared column sets
  // (r22): the write tasks fold key/column bounds + NDV sketches as
  // they write, so the common (no-rebase) commit runs zero post-write
  // stats jobs; a rebase onto a tip whose sets changed falls back to
  // the fused read-back scan.
  private val writerSpec =
    WriterStats.specFor(spark, snap.physicalSchema, snap.manifest)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(snap.root.resolve(staging))
    // Spark's own parquet write setup (codec, write support, schema
    // conf) — the staged files are byte-identical to any df.write.
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      snap.physicalSchema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    GraftWriterFactory(owf, snap.root.toUri.toString, staging,
      snap.physicalSchema,
      new SerializableConfiguration(job.getConfiguration),
      Some(writerSpec))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Row counts and writer-side stats come from the write tasks'
    // commit messages (the StagedWrite discipline — zero footer reads,
    // zero post-write stats jobs); zero-row outputs are dropped.
    // Without the counts the connector's exact rowCount, which needs
    // FULL coverage of kept files, would go dark until a compaction.
    val staged = StagedWrite.Staged.of(writerSpec,
      messages.toSeq.map(_.asInstanceOf[GraftWrittenFile])
        .map(w => (w.relPath, w.rows, w.stats)))
    // Replace EXACTLY the files the configured scan planned (the
    // groups that participated in the rewrite); everything the
    // condition's stats pruned survives untouched, with its stats,
    // partition values, and sizes carried forward. A concurrent
    // commit that removed a scanned file does not commute — rebasing
    // would clobber it.
    val scanned = op.scannedFiles.toSet
    // The scan APPLIED the snapshot's pending equality deletes to the
    // files it replaces (fresh seq, coverage baked in); the list rides
    // along for the untouched files it still scopes.
    StagedWrite.commit(spark, snap.root, snap.manifest, staged, scanned,
      "row-level operation", addsRows = true) { (t, under) =>
      TxnLog.replaceFiles(snap.root, t, "replace", scanned, under(t))
    }
  }

  // Staged files of an aborted write are reclaimed by the age-guarded
  // vacuum, like any other lost attempt.
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class GraftWriterFactory(
    owf: OutputWriterFactory, rootUri: String, staging: String,
    schema: StructType, conf: SerializableConfiguration,
    spec: Option[WriterStats.Spec] = None)
  extends DataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID("graft", 0, TaskType.MAP, partitionId, 0))
    val rel =
      s"$staging/part-$partitionId-$taskId${owf.getFileExtension(ctx)}"
    val out = owf.newInstance(s"$rootUri/$rel", schema, ctx)
    // Writer-side stats folded over the rows AS WRITTEN (r22) — after
    // any marker projection, so the stats describe the file's bytes.
    val collector = spec.filterNot(_.isEmpty)
      .map(new WriterStats.Collector(_))
    new DataWriter[InternalRow] {
      private var rows = 0L
      // Group-based ReplaceData with NO declared metadata attributes
      // leaves the rewrite's leading __row_operation marker in the
      // task rows (Spark applies ReplaceDataProjections only on the
      // metadata-bearing task; Iceberg never hits this corner because
      // it always requires a _file column). Detect the one-extra-
      // leading-column shape on the first record and project it off;
      // rows already matching the schema pass through untouched.
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      override def write(record: InternalRow): Unit = {
        if (rows == 0 && record.numFields == schema.length + 1)
          proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            schema, 1 to schema.length)
        if (proj == null) {
          out.write(record)
          collector.foreach(_.update(record))
        } else {
          proj.project(record)
          out.write(proj)
          collector.foreach(_.update(proj))
        }
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        GraftWrittenFile(rel, rows, collector.map(_.result()))
      }
      override def abort(): Unit = out.close()
      override def close(): Unit = ()
    }
  }
}
