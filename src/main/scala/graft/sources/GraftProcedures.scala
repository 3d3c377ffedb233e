package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TxnLog

/** Table-maintenance operations as DSv2 STORED PROCEDURES (Spark 4's
  * `ProcedureCatalog` / `CALL` statement — the shape Iceberg pioneered
  * with `CALL catalog.system.rewrite_data_files`), so SQL-only tools
  * can run them with zero engine-API access:
  *
  * ```sql
  * CALL graft.restore(table => '/path/to/t', version => 3)
  * CALL graft.optimize(table => '/path/to/t')
  * CALL graft.materialize_deletes(table => '/path/to/t')
  * CALL graft.expire(table => '/path/to/t', retain_last => 10)
  * ```
  *
  * Each procedure is one call into the corresponding [[TxnLog]]
  * primitive and returns a small result row (versions, file counts) as
  * a [[LocalScan]] — Spark's analyzer binds arguments (named or
  * positional, defaults filled), the catalog only names the surface.
  * All driver-side metadata work; the heavy lifting (the OPTIMIZE
  * rewrite itself) runs as ordinary distributed Spark jobs inside the
  * TxnLog call. */
object GraftProcedures {

  private def tableRoot(args: InternalRow): Path = {
    val p = Paths.get(args.getUTF8String(0).toString)
    require(Files.isDirectory(TxnLog.logDir(p)),
      s"no graft table at $p (no _log directory)")
    p
  }

  private def result(schema: StructType, values: Any*): Array[InternalRow] =
    Array[InternalRow](new GenericInternalRow(values.toArray.map {
      case s: String => UTF8String.fromString(s): Any
      case other => other
    }))

  /** One self-binding procedure: parameters are declared IN-mode,
    * `bind` is identity (argument coercion is the analyzer's job),
    * and `call` returns a single local result row. */
  private abstract class GraftProcedure(
      procName: String, desc: String,
      params: Seq[(String, DataType, Option[String])],
      resultSchema: StructType)
    extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    override def parameters(): Array[ProcedureParameter] =
      params.map { case (n, t, dflt) =>
        val b = ProcedureParameter.in(n, t)
        dflt.foreach(b.defaultValue)
        b.build()
      }.toArray

    protected def run(args: InternalRow): Array[InternalRow]

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val out = run(input)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = resultSchema
      }).iterator()
    }
  }

  private val RestoreSchema = StructType(Seq(
    StructField("restored_to_version", LongType),
    StructField("new_version", LongType)))

  /** `CALL graft.restore(table, version)` → [[TxnLog.restore]]: the
    * tip becomes content-identical to the target snapshot as ONE new
    * metadata commit; nothing is deleted, history stays. */
  private object RestoreProcedure extends GraftProcedure(
    "restore",
    "RESTORE TABLE to an old version as one new commit",
    Seq(("table", StringType, None), ("version", LongType, None)),
    RestoreSchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val to = args.getLong(1)
      val c = TxnLog.restore(root, to)
      result(RestoreSchema, to, c.version)
    }
  }

  private val OptimizeSchema = StructType(Seq(
    StructField("new_version", LongType),
    StructField("files_before", LongType),
    StructField("files_after", LongType)))

  /** `CALL graft.optimize(table[, min_file_bytes, target_file_bytes])`
    * → [[TxnLog.compactSmall]]: bin-pack ONLY sub-threshold files —
    * O(small-file bytes), the compaction one schedules continuously at
    * 100 TB. No-op (tip version unchanged) when fewer than two files
    * qualify. */
  private object OptimizeProcedure extends GraftProcedure(
    "optimize",
    "incremental OPTIMIZE: bin-pack files smaller than min_file_bytes",
    Seq(("table", StringType, None),
      ("min_file_bytes", LongType, Some((32L << 20).toString)),
      ("target_file_bytes", LongType,
        Some(TxnLog.TargetFileBytes.toString))),
    OptimizeSchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val before = TxnLog.tip(root).files.size.toLong
      val c = TxnLog.compactSmall(SparkSession.active, root,
        s"opt${System.currentTimeMillis()}",
        minFileBytes = args.getLong(1),
        targetFileBytes = args.getLong(2))
      result(OptimizeSchema, c.version,
        before, TxnLog.tip(root).files.size.toLong)
    }
  }

  private val MaterializeSchema = StructType(Seq(
    StructField("new_version", LongType),
    StructField("deletes_cleared", LongType)))

  /** `CALL graft.materialize_deletes(table)` →
    * [[TxnLog.materializeDeletes]]: fold pending merge-on-read
    * equality deletes back into data files at O(affected bytes). */
  private object MaterializeProcedure extends GraftProcedure(
    "materialize_deletes",
    "fold pending merge-on-read deletes into the data files",
    Seq(("table", StringType, None)),
    MaterializeSchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val pending = TxnLog.tip(root).deletes.size.toLong
      val c = TxnLog.materializeDeletes(SparkSession.active, root,
        s"mat${System.currentTimeMillis()}")
      result(MaterializeSchema, c.version, pending)
    }
  }

  private val DeclareNdvSchema = StructType(Seq(
    StructField("new_version", LongType),
    StructField("columns", StringType),
    StructField("files_sketched", LongType)))

  /** `CALL graft.declare_ndv(table, columns)` → [[TxnLog.declareNdv]]:
    * declare comma-separated columns for per-file KMV distinct-count
    * sketches — the SQL-only way to give the cost-based optimizer a
    * distinct count for STRING keys (join reorder / broadcast
    * estimation), which min/max manifest bounds can never carry.
    * Sketches are computed for every current file in one scan; every
    * later write maintains entries for the files it stages. */
  private object DeclareNdvProcedure extends GraftProcedure(
    "declare_ndv",
    "declare KMV distinct-count sketch columns (string-key NDV for the CBO)",
    Seq(("table", StringType, None), ("columns", StringType, None)),
    DeclareNdvSchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val cols = args.getUTF8String(1).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, "declare_ndv needs at least one column")
      // Users name LOGICAL columns; the sketches scan raw parquet and
      // the manifest keys them by PHYSICAL name (GraftScan maps them
      // back physical→logical). On a table with RENAME COLUMN history
      // the two differ — translate here exactly like the write paths
      // do, or the declaration would fail (or worse, sketch a
      // different column in a rename-swap case).
      val snap = GraftTables.resolve(Map("path" -> root.toString))
      val phys = cols.map { c =>
        require(snap.schema.fieldNames.contains(c) ||
          snap.physicalSchema.fieldNames.contains(c),
          s"declare_ndv: no column `$c` in ${snap.schema.fieldNames
            .mkString("[", ", ", "]")}")
        snap.physicalOf(c)
      }
      val c = TxnLog.declareNdv(SparkSession.active, root, phys)
      result(DeclareNdvSchema, c.version, cols.mkString(","),
        TxnLog.tip(root).files.size.toLong)
    }
  }

  private val ExpireSchema = StructType(Seq(
    StructField("expired_versions", LongType),
    StructField("vacuumed_files", LongType)))

  /** `CALL graft.expire(table, retain_last, vacuum_horizon_ms)` →
    * [[TxnLog.expire]] + [[TxnLog.vacuum]]: drop old manifests
    * (streaming replay watermarks retained) and reclaim unreferenced
    * files older than the horizon (the age guard that protects
    * in-flight writers' staged files). */
  private object ExpireProcedure extends GraftProcedure(
    "expire",
    "expire old versions and vacuum unreferenced files",
    Seq(("table", StringType, None),
      ("retain_last", LongType, Some("10")),
      ("vacuum_horizon_ms", LongType, Some((7L * 24 * 3600 * 1000).toString))),
    ExpireSchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val expired = TxnLog.expire(root, args.getLong(1).toInt)
      val vacuumed = TxnLog.vacuum(root, args.getLong(2))
      result(ExpireSchema, expired.size.toLong,
        vacuumed.deleted.size.toLong)
    }
  }

  private val UpdateMorSchema = StructType(Seq(
    StructField("new_version", LongType),
    StructField("files_appended", LongType)))

  /** `CALL graft.update_mor(table, where, set_column, set_expr)` →
    * [[GraftTables.updateMor]]: merge-on-read UPDATE — matched rows
    * re-appended with the assignment applied, their old ordinals
    * position-deleted, ONE commit. O(matched rows), never a file
    * rewrite; the SQL `UPDATE` statement stays the copy-on-write
    * path (multi-assignment updates go through the engine API). */
  private object UpdateMorProcedure extends GraftProcedure(
    "update_mor",
    "merge-on-read UPDATE: append rewritten rows + position-delete " +
      "their old ordinals in one commit",
    Seq(("table", StringType, None),
      ("where", StringType, None),
      ("set_column", StringType, None),
      ("set_expr", StringType, None)),
    UpdateMorSchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val before = TxnLog.tip(root).files.size.toLong
      val c = GraftTables.updateMor(SparkSession.active, root,
        args.getUTF8String(1).toString,
        Map(args.getUTF8String(2).toString ->
          args.getUTF8String(3).toString))
      result(UpdateMorSchema, c.version,
        TxnLog.tip(root).files.size.toLong - before)
    }
  }

  private val HistorySchema = StructType(Seq(
    StructField("version", LongType),
    StructField("parent", LongType),
    StructField("action", StringType),
    StructField("ts_millis", LongType),
    StructField("n_files", LongType),
    StructField("n_pending_deletes", LongType),
    StructField("txn_app", StringType),
    StructField("txn_batch", LongType)))

  /** `CALL graft.history(table[, limit])` — the Delta `DESCRIBE
    * HISTORY` surface: one row per retained commit, newest first
    * (version, action, wall-clock stamp, file/pending-delete counts,
    * streaming txn stamp). Pure manifest metadata — no data files
    * touched, O(retained versions) however large the table. */
  private object HistoryProcedure extends GraftProcedure(
    "history",
    "commit history, newest first (DESCRIBE HISTORY)",
    Seq(("table", StringType, None),
      ("limit", LongType, Some(Long.MaxValue.toString))),
    HistorySchema) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val root = tableRoot(args)
      val limit = args.getLong(1)
      TxnLog.versions(root).sorted.reverse.take(
        math.min(limit, Int.MaxValue.toLong).toInt).map { v =>
        val m = TxnLog.readManifest(root, v)
        new GenericInternalRow(Array[Any](
          m.version, m.parent, UTF8String.fromString(m.action), m.ts,
          m.files.size.toLong, m.deletes.size.toLong,
          m.txn.map(t => UTF8String.fromString(t._1)).orNull,
          m.txn.map(t => java.lang.Long.valueOf(t._2)).orNull))
      }.toArray
    }
  }

  private val byName: Map[String, UnboundProcedure] = Seq(
    RestoreProcedure, OptimizeProcedure,
    MaterializeProcedure, ExpireProcedure, UpdateMorProcedure,
    HistoryProcedure, DeclareNdvProcedure)
    .map(p => p.name() -> (p: UnboundProcedure)).toMap

  def load(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      ident.namespace.sameElements(Array("system")),
      s"unknown procedure namespace ${ident.namespace.mkString(".")}")
    byName.getOrElse(ident.name,
      throw new RuntimeException(
        s"undefined procedure: ${ident.name} " +
          s"(available: ${byName.keys.toSeq.sorted.mkString(", ")})"))
  }

  def list(): Array[Identifier] =
    byName.keys.toArray.sorted.map(Identifier.of(Array.empty, _))
}
