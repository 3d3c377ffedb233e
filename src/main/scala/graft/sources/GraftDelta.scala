package graft.sources

import java.nio.file.Files

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` in MERGE-ON-READ
  * mode — the DSv2 DELTA row-level contract ([[SupportsDelta]], the
  * API Iceberg's `write.update.mode = merge-on-read` runs on). Under
  * `spark.graft.rowlevel.mode = mor`, [[GraftRowLevelBuilder]] returns
  * this operation instead of the group-based (copy-on-write) one, and
  * Spark's rewrite rules plan a `WriteDelta` instead of `ReplaceData`:
  *
  *  - The SCAN is the ordinary read path ([[GraftScanBuilder]]) with
  *    the row-id METADATA COLUMNS (`_graft_file`, `_graft_pos`)
  *    requested — so unlike the copy-on-write scan, the command's
  *    condition IS pushed into parquet (row-group/page skipping live):
  *    only MATCHING rows flow, there is no carry-forward obligation.
  *  - The WRITE receives per-row operations: deletes/update-preimages
  *    buffer their (file, ordinal) row id, inserts/update-postimages
  *    stream into ordinary parquet. Each task emits at most one data
  *    file and one position-delete file.
  *  - The COMMIT publishes appended files + position-delete references
  *    in ONE manifest: `update-mor` when rows were written,
  *    `delete-mor` when the statement only removed rows. Cost is
  *    O(changed rows), never a whole-file rewrite: an UPDATE touching
  *    0.1% of rows scattered across thousands of files at 100 TB pays
  *    for exactly those rows.
  *
  * Conflict discipline is [[GraftReplaceDataWrite]]'s, through the
  * same loop ([[StagedWrite.commitDelta]], WriteSerializable): a lost
  * race rebases iff every intervening commit left the position-targeted
  * files alive and added no new merge-on-read delete (this
  * statement's fresh-seq output would escape one); anything else
  * refuses loudly and the user retries. */
final class GraftDeltaOperation(
    snap: GraftSnapshot, cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  // The plain read path: full filter pushdown + file pruning +
  // MoR-aware scan — exactly what a delta scan is allowed to be.
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, snap, options)

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftMor.MetaFileCol),
    Expressions.column(GraftMor.MetaPosCol))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new GraftDeltaBatchWrite(snap, cmd)
        override def description(): String = s"GraftDeltaWrite($cmd)"
      }
    }

  override def description(): String = s"GraftDelta($cmd)"
}

/** One task's output: the staged data file (inserts + update
  * post-images) and the staged position-delete file (deletes + update
  * pre-image row ids), either absent when the task produced none —
  * plus the writer-side commit stats the task folded over the data
  * rows as it wrote them (r22). */
final case class GraftDeltaFiles(
    dataRel: Option[String], dataRows: Long,
    posRel: Option[String], posRows: Long,
    stats: Option[WriterStats.FileStats] = None)
  extends WriterCommitMessage

final class GraftDeltaBatchWrite(
    snap: GraftSnapshot, cmd: RowLevelOperation.Command)
  extends DeltaBatchWrite {

  private val spark = SparkSession.active
  private val staging = s"dl${System.currentTimeMillis()}-" +
    java.util.UUID.randomUUID().toString.take(8)

  // Nullable like every DataFrame-written position file, so one
  // projected read schema (optional) matches both writers.
  private val posSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = true),
    StructField("pos", LongType, nullable = true)))

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    Files.createDirectories(snap.root.resolve(staging))
    // Two writer factories because the parquet write support carries
    // its schema in the job conf — one per output shape.
    def owfFor(schema: StructType): (OutputWriterFactory, SerializableConfiguration) = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
        schema,
        new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
      (owf, new SerializableConfiguration(job.getConfiguration))
    }
    val (dataOwf, dataConf) = owfFor(snap.physicalSchema)
    val (posOwf, posConf) = owfFor(posSchema)
    GraftDeltaWriterFactory(dataOwf, dataConf, snap.physicalSchema,
      posOwf, posConf, posSchema, snap.root.toUri.toString, staging,
      Some(writerSpec))
  }

  // Writer-side stats under the SNAPSHOT's declared column sets
  // (r22): the delta write's data files get their key/column bounds +
  // NDV sketches folded by the write tasks themselves, so the common
  // (no-rebase) commit runs zero post-write stats jobs; a rebase onto
  // a tip whose sets changed falls back to the fused read-back scan.
  private val writerSpec =
    WriterStats.specFor(spark, snap.physicalSchema, snap.manifest)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val outs = messages.map(_.asInstanceOf[GraftDeltaFiles])
    // Exact per-file counts and writer-side stats from the writers'
    // own commit messages — no footer is ever re-read.
    val staged = StagedWrite.Staged.of(writerSpec, outs.toSeq.flatMap(o =>
      o.dataRel.map(rel => (rel, o.dataRows, o.stats))))
    val posFiles = outs.flatMap(o =>
      o.posRel.filter(_ => o.posRows > 0)).toSeq.sorted
    if (staged.files.isEmpty && posFiles.isEmpty) return // nothing matched
    StagedWrite.commitDelta(spark, snap.root, snap.manifest, staged,
      posFiles, "delta operation")
  }

  // Staged files of an aborted write are reclaimed by the age-guarded
  // vacuum, like any other lost attempt.
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class GraftDeltaWriterFactory(
    dataOwf: OutputWriterFactory, dataConf: SerializableConfiguration,
    dataSchema: StructType,
    posOwf: OutputWriterFactory, posConf: SerializableConfiguration,
    posSchema: StructType,
    rootUri: String, staging: String,
    spec: Option[WriterStats.Spec] = None)
  extends DeltaWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    new DeltaWriter[InternalRow] {
      private var dataOut: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var dataRel: Option[String] = None
      private var dataRows = 0L
      // Writer-side stats over the data rows as written (r22).
      private val collector = spec.filterNot(_.isEmpty)
        .map(new WriterStats.Collector(_))
      // (file, ordinal) pairs this task deletes — O(task's deleted
      // rows) heap, bounded by split size (the same deal Iceberg's
      // position-delete writers make), sorted before writing.
      private val positions =
        scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

      private def ensureDataOut(): Unit = if (dataOut == null) {
        val ctx = new TaskAttemptContextImpl(dataConf.value,
          new TaskAttemptID("graft", 0, TaskType.MAP, partitionId, 0))
        val rel = s"$staging/part-$partitionId-$taskId" +
          dataOwf.getFileExtension(ctx)
        dataOut = dataOwf.newInstance(s"$rootUri/$rel", dataSchema, ctx)
        dataRel = Some(rel)
      }

      override def insert(row: InternalRow): Unit = {
        ensureDataOut()
        dataOut.write(row)
        collector.foreach(_.update(row))
        dataRows += 1
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        require(!id.isNullAt(0) && !id.isNullAt(1),
          "delta delete with a NULL row id (source-side MERGE row?)")
        positions += ((id.getUTF8String(0).toString, id.getLong(1)))
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        delete(meta, id)
        insert(row)
      }

      override def commit(): WriterCommitMessage = {
        if (dataOut != null) dataOut.close()
        var posRel: Option[String] = None
        var posRows = 0L
        if (positions.nonEmpty) {
          val ctx = new TaskAttemptContextImpl(posConf.value,
            new TaskAttemptID("graft", 0, TaskType.MAP, partitionId, 1))
          val rel = s"$staging/pos-$partitionId-$taskId" +
            posOwf.getFileExtension(ctx)
          val out = posOwf.newInstance(s"$rootUri/$rel", posSchema, ctx)
          val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
          positions.sortInPlace()
          var i = 0
          while (i < positions.length) {
            // Adjacent duplicates (an UPDATE matching a row twice is
            // refused upstream by Spark; dupes here would mean the
            // same row deleted twice — harmless, skip them).
            if (i == 0 || positions(i) != positions(i - 1)) {
              row.update(0, UTF8String.fromString(positions(i)._1))
              row.update(1, positions(i)._2)
              out.write(row)
              posRows += 1
            }
            i += 1
          }
          out.close()
          posRel = Some(rel)
        }
        GraftDeltaFiles(dataRel, dataRows, posRel, posRows,
          collector.map(_.result()))
      }

      override def abort(): Unit = if (dataOut != null) dataOut.close()
      override def close(): Unit = ()
    }
  }
}
