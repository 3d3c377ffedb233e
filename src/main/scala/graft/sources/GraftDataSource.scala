package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.TxnLog

/** The transaction log ([[TxnLog]]) as a FIRST-CLASS Spark read path —
  * a DataSourceV2 connector, so snapshot reads are planned by Catalyst
  * from the manifest instead of resolved by helper calls before the
  * plan exists:
  *
  * ```
  * spark.read.format("graft").option("versionAsOf", 1).load(path)
  * spark.sql(s"SELECT ... FROM graft.`$path` VERSION AS OF 1")   // via GraftCatalog
  * ```
  *
  * What the connector adds over [[TxnLog.readVersion]] (which remains
  * the thin helper API):
  *
  *  - **Manifest-stats file skipping.** Pushed-down filters on the
  *    manifest's declared `statsKey` prune files whose committed
  *    [min, max] range cannot match, BEFORE any file is opened — the
  *    Delta add-file-stats / Iceberg manifest-bounds idea, surfaced
  *    as fewer partitions in the plan (assertable via the scan's file
  *    index). A file KNOWN to hold no non-NULL keys carries the
  *    explicit [[TxnLog.EmptyRange]] entry and prunes under any key
  *    predicate; a file with NO entry is unknown and is always kept.
  *  - **Partition pruning from metadata.** Per-file partition values
  *    carried in the manifest ([[TxnLog.Manifest.partitions]]) prune
  *    on equality/IN predicates over partition columns, Iceberg
  *    manifest-entry style — no directory listing, no file opens.
  *  - **Time travel in SQL.** [[GraftCatalog]] implements
  *    `TableCatalog.loadTable(ident, version)`, which is exactly what
  *    Spark's `VERSION AS OF` resolution calls.
  *
  *  - **Writes through the standard API.**
  *    `df.write.format("graft").mode("append"/"overwrite").save(path)`
  *    and SQL `INSERT INTO graft.`path`` stage parquet and commit
  *    through the log's optimistic protocol ([[GraftWriteBuilder]]) —
  *    concurrent writers rebase, readers keep snapshot isolation.
  *
  * The scan itself DELEGATES to Spark's own parquet scan over the
  * pruned file list (a [[ManifestFileIndex]] of exactly the
  * surviving manifest entries + [[ParquetScanBuilder]]), so
  * whole-stage codegen, vectorized reading, row-group statistics
  * pushdown, and column pruning all apply unchanged — the connector's
  * job is only WHICH files exist, which is what a table format is.
  * Correctness does not depend on pruning: every pushed filter is
  * also reported back as a residual, so Spark re-applies it post-scan.
  *
  * At 100 TB: planning cost is O(manifest entries) driver-side
  * metadata — no listing, no footer reads for pruned files — and the
  * data path is Spark's parquet reader at full parallelism over only
  * the qualifying files. */
class GraftDataSource extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTables.resolve(options.asCaseSensitiveMap().asScala.toMap).schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = properties.asScala.toMap
    new GraftTable(GraftTables.resolve(opts), cdf = GraftCdfSource.isCdf(opts))
  }

  /** V1 streaming-source half of `readChangeFeed`: when the option is
    * set, [[GraftTable.capabilities]] drops MICRO_BATCH_READ and
    * Spark's stream resolution falls back to this provider — the
    * route a CDF batch needs, because it is a computed plan (joins
    * classifying rewrites), not a file scan an InputPartition can
    * express. Non-CDF streams never reach here (the DSv2
    * [[GraftMicroBatchStream]] keeps serving them); the schema half
    * still answers for both because Spark materializes the V1
    * fallback relation eagerly. */
  override def sourceSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val snapSchema =
      GraftTables.resolve(parameters).schema
    (shortName(),
      if (GraftCdfSource.isCdf(parameters))
        GraftCdfSource.feedSchema(snapSchema)
      else snapSchema)
  }

  override def createSource(
      sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    require(GraftCdfSource.isCdf(parameters),
      "the graft V1 source serves readChangeFeed streams only; " +
        "plain streams read through the DSv2 micro-batch path")
    GraftCdfSource.fromParameters(sqlContext, parameters)
  }

  /** `df.writeStream.format("graft")` — the sink commits each
    * micro-batch through the log with a (appId, batchId) `txn` stamp,
    * so a checkpoint-recovered replay of an already-committed batch
    * is a no-op: exactly-once into the table. */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft streaming sink is append-only, got $outputMode " +
        "(aggregate with watermarks + append, or foreachBatch + merge)")
    val path = parameters.getOrElse("path",
      sys.error("graft streaming sink requires a path"))
    // The writer's durable identity, for replay detection: an explicit
    // txnAppId option, else the checkpoint location (which IS the
    // query's identity across restarts).
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(sys.error("graft streaming sink needs a " +
        "checkpointLocation (or explicit txnAppId) to be exactly-once"))
    // `option("constraint.<name>", "<sql predicate>")` declares CHECK
    // constraints a stream-CREATED table is born with — batch 0
    // validates against them BEFORE the create commit (previously the
    // first batch bypassed validation entirely because the table, and
    // hence its constraint set, did not exist yet). On an existing
    // table they must match what the manifest already declares.
    val constraints = parameters.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT)
          .startsWith("constraint.") =>
        k.substring("constraint.".length) -> v
    }
    new GraftStreamingSink(Paths.get(path), appId, constraints)
  }
}

/** V1 streaming sink over the log (the API Delta shipped on for
  * years): `addBatch` stages the micro-batch as parquet and publishes
  * one optimistic append commit stamped with (appId, batchId). After
  * a failure, Structured Streaming REPLAYS the last batch; the stamp
  * makes the replay observable (`TxnLog.lastTxn`) and the sink skips
  * it — exactly-once without coordination beyond the log. A first
  * batch into a fresh path CREATES the table with declared columns
  * from the batch schema. */
final class GraftStreamingSink(root: Path, appId: String,
    constraints: Map[String, String] = Map.empty)
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // Cheap pre-check only — the AUTHORITATIVE replay check runs
    // inside each commit attempt ([[GraftTables.insert]] /
    // [[GraftTables.createFrom]] re-verify the (appId, batchId)
    // watermark against the tip they are about to commit on), so two
    // concurrent instances of the same query (a zombie driver after
    // failover) cannot both land the same batch: the loser's commit
    // rebases on the winner's tip, sees the stamp, and aborts.
    if (TxnLog.lastTxn(root, appId).exists(_ >= batchId)) return
    val txn = Some(appId -> batchId)
    // The incoming frame is flagged streaming (batch writes refused);
    // re-wrap its physical plan as a batch frame — the V1-sink idiom.
    val batch = org.apache.spark.sql.graftshim.BatchDF.from(data)
    if (TxnLog.latest(root).isEmpty)
      GraftTables.createFrom(root, batch, txn, constraints)
    else {
      val snap = GraftTables.resolve(Map("path" -> root.toString))
      // Declared sink constraints must agree with the live table's —
      // a silently narrower set would let later batches skip checks
      // the writer believes are on.
      constraints.foreach { case (n, p) =>
        require(snap.manifest.constraints.get(n).contains(p),
          s"streaming sink declares constraint '$n' ($p) but table " +
            s"$root carries ${snap.manifest.constraints.getOrElse(n,
              "<none>")}; ALTER the table instead of the sink option")
      }
      GraftTables.insert(snap, batch, overwrite = false, txn)
    }
  }

  override def toString: String = s"GraftSink[$root]"
}

/** One pinned snapshot: the table root, the resolved manifest, the
  * LOGICAL schema a reader of THIS version sees, and the PHYSICAL
  * schema the bytes were written under (same positions and logical
  * types, possibly different names — the column-mapping contract;
  * identical when the manifest declares no mapping). `pinned` is true
  * when the snapshot was resolved with an explicit `versionAsOf` —
  * such a snapshot is read-only (writing to the past is refused). */
final case class GraftSnapshot(
    root: Path, manifest: TxnLog.Manifest, schema: StructType,
    physicalSchema: StructType, pinned: Boolean = false) {
  def isMapped: Boolean = schema != physicalSchema

  /** physical name of a logical column (identity when unmapped). */
  def physicalOf(logical: String): String =
    schema.fieldNames.indexOf(logical) match {
      case -1 => logical
      case i => physicalSchema.fieldNames(i)
    }

  /** logical name of a physical column (identity when unmapped). */
  def logicalOf(physical: String): String =
    physicalSchema.fieldNames.indexOf(physical) match {
      case -1 => physical
      case i => schema.fieldNames(i)
    }
}

object GraftTables {

  /** Resolve `path` (+ optional `versionAsOf`) to a pinned snapshot.
    * Schema comes from the manifest's declared columns when present
    * (metadata-only), else from the files' parquet footers with
    * schema merging — one inference job per version, cached — so an
    * additive-evolution tip unions old and new file schemas.
    *
    * `fromVersion = f` requests an INCREMENTAL read: exactly the rows
    * appended after version f (up to `versionAsOf`, else the tip),
    * planned as the file-set difference of the two manifests — the
    * Iceberg incremental-append-scan idiom, and the scale idiom for
    * consuming a growing table without reprocessing it. Data files
    * are immutable, so the diff IS the appended rows — provided every
    * intervening commit is an `append`; a merge/replace/compact in
    * the window changes or relocates existing rows, where a file diff
    * would lie, so the resolve REFUSES loudly instead. */
  def resolve(rawOptions: Map[String, String]): GraftSnapshot = {
    // DSv2 options are case-insensitive by contract
    // (CaseInsensitiveStringMap) — honoring that here keeps
    // .option("versionasof", ...) from silently reading the tip
    // instead of the pinned version.
    val options = rawOptions.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v
    }
    val path = options.getOrElse("path",
      sys.error("graft source requires a path"))
    val root = Paths.get(path)
    val pinned = options.contains("versionasof") ||
      options.contains("fromversion") ||
      options.contains("timestampasof")
    require(!(options.contains("versionasof") &&
      options.contains("timestampasof")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    // timestampAsOf accepts epoch millis or a SQL timestamp string;
    // it resolves to the highest version committed at or before it.
    // The string form is interpreted in SPARK'S SESSION TIMEZONE
    // (spark.sql.session.timeZone), matching `TIMESTAMP AS OF`
    // semantics — not the JVM default zone, which can differ and
    // silently pin a different version.
    val tsPin = options.get("timestampasof").map { s =>
      val millis =
        if (s.forall(_.isDigit)) s.toLong
        else {
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          val zone = DateTimeUtils.getZoneId(
            SparkSession.getActiveSession
              .map(_.sessionState.conf.sessionLocalTimeZone)
              .getOrElse(java.util.TimeZone.getDefault.getID))
          DateTimeUtils.stringToTimestamp(
              org.apache.spark.unsafe.types.UTF8String.fromString(s), zone)
            .map(DateTimeUtils.microsToMillis)
            .getOrElse(sys.error(s"unparseable timestampAsOf: $s"))
        }
      TxnLog.versionAtTimestamp(root, millis)
    }
    val version = options.get("versionasof").map(_.toLong)
      .orElse(tsPin)
      .orElse(TxnLog.latest(root)).getOrElse {
        // A streaming WRITE resolves its sink table before the first
        // batch can create it (DataStreamWriter probes the provider
        // for the capability check). Only streaming writes carry a
        // checkpointLocation option, so exactly there a missing log
        // resolves to an empty sentinel instead of an error — the
        // sink's first addBatch performs the real create.
        if (options.contains("checkpointlocation"))
          return GraftSnapshot(root,
            TxnLog.Manifest(-1L, -2L, "none", Seq.empty),
            new StructType(), new StructType())
        sys.error(s"no committed version at $root")
      }
    val m0 = TxnLog.readManifest(root, version)
    val m = options.get("fromversion").map(_.toLong) match {
      case None => m0
      case Some(f) =>
        require(f <= version,
          s"fromVersion $f is beyond the read version $version")
        TxnLog.appendedSince(root, f, m0, s"incremental read $f -> $version")
    }
    m.columns match {
      case Some(cols) =>
        // Declared schema with mapping ids: logical = what this
        // version's reader sees; physical = the immutable names the
        // bytes carry. Types are LOGICAL on both sides — Spark 4's
        // parquet reader widens narrower physical types (int32 →
        // bigint etc.) during the vectorized read, which is what
        // makes type widening a manifest-only commit.
        GraftSnapshot(root, m, declaredSchema(cols, _.name),
          declaredSchema(cols, _.physical), pinned)
      case None =>
        require(m.files.nonEmpty, s"version $version of $root is empty " +
          "and declares no schema — commit columns to read it")
        val inferred = inferredSchema(root, version,
          options.get("fromversion"), m.files)
        GraftSnapshot(root, m, inferred, inferred, pinned)
    }
  }

  /** The declared columns as a schema, each named by `name`. */
  private def declaredSchema(cols: Seq[TxnLog.ColumnDef],
      name: TxnLog.ColumnDef => String): StructType =
    StructType.fromDDL(
      cols.map(c => s"`${name(c)}` ${c.typ}").mkString(", "))

  /** The rows of `files` under manifest `m`, read through the
    * connector's own scan: the one read path that applies `m`'s
    * pending equality and position deletes ([[GraftMor]]) and skips
    * files by the manifest's stats. Columns keep their PHYSICAL names
    * in declared order (the first file's footer schema when `m`
    * declares none) — the shape the log's rewrites stage and the
    * change feed renames under each side's own manifest. The relation
    * is built straight from a pinned snapshot: no option string is
    * parsed and no schema-inference job runs. Row provenance
    * ([[GraftMor.MetaFileCol]], [[GraftMor.MetaPosCol]]) selects as on
    * any connector read. */
  private[graft] def scanFiles(spark: SparkSession, root: Path,
      m: TxnLog.Manifest, files: Seq[String]): DataFrame = {
    val physical = m.columns match {
      case Some(cols) => declaredSchema(cols, _.physical)
      case None => files.headOption
        .flatMap(f => graft.util.ParquetSchema.footerSchema(spark,
          root.resolve(f).toString))
        .getOrElse(sys.error(s"no schema for v${m.version} of $root: " +
          "it declares no columns and the first read file's footer " +
          "is unreadable"))
    }
    val snap = GraftSnapshot(root, m.copy(files = files), physical,
      physical, pinned = true)
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new GraftTable(snap), None, None))
  }

  /** The rows of `files` of `m` that pass `keep`, projected to `out`,
    * as one scan's rows whose partitions each read ONE file (a file
    * larger than a split reads as several), with each partition's
    * table-relative file. The scan selects [[GraftMor.MetaFileCol]],
    * which plans it with single-file partitions and tags each with its
    * file; the tag column is projected away again task-side. */
  private[graft] def rowsByFile(spark: SparkSession, root: Path,
      m: TxnLog.Manifest, files: Seq[String],
      keep: org.apache.spark.sql.Column,
      out: Seq[org.apache.spark.sql.Column])
      : (org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
        Seq[String]) = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
    val df = scanFiles(spark, root, m, files).filter(keep)
      .select(out :+ org.apache.spark.sql.functions.col(GraftMor.MetaFileCol): _*)
    val rows = df.queryExecution.toRdd
    val partFiles = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.inputRDD.partitions.toSeq.map {
        case p: DataSourceRDDPartition => p.inputPartitions match {
          case Seq(GraftMor.MorInputPartition(_, _, Some(f))) => f
          case other => sys.error(s"not a one-file partition: $other")
        }
        case other => sys.error(s"not a connector scan partition: $other")
      }
    }.flatten
    require(partFiles.size == rows.getNumPartitions &&
      partFiles.toSet == files.toSet,
      s"the scan of ${files.size} file(s) at $root did not plan one " +
        "file per partition")
    val data = df.schema.fields.init.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable): Expression
    }.toSeq
    (rows.mapPartitions { it =>
      val project = UnsafeProjection.create(data)
      it.map(project)
    }, partFiles)
  }

  // A committed version is immutable (manifests are put-if-absent,
  // never replaced), so its inferred schema is too — cache it, or
  // every read of an undeclared-schema table pays a footer-merge job.
  // Declared-columns tables never reach this path (schema is manifest
  // metadata). Bounded crudely: cleared when it grows past 256 keys.
  private val inferredSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Option[String]), StructType]()

  private def inferredSchema(root: Path, version: Long,
      fromVersion: Option[String], files: Seq[String]): StructType = {
    if (inferredSchemaCache.size > 256) inferredSchemaCache.clear()
    inferredSchemaCache.computeIfAbsent(
      (root.toAbsolutePath.toString, version, fromVersion),
      _ => SparkSession.active.read
        .option("mergeSchema", "true")
        .parquet(files.map(f => root.resolve(f).toString): _*)
        .schema)
  }

  /** Reader-side convenience: `read(spark, table, Some(v))` ==
    * `spark.read.format("graft").option("versionAsOf", v).load(...)`. */
  def read(spark: SparkSession, table: Path,
      versionAsOf: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft")
    versionAsOf.foreach(v => r.option("versionAsOf", v.toString))
    r.load(table.toString)
  }

  private val stagingCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Stage `data` as parquet under the table root and commit it to
    * the log — the engine behind `df.write.format("graft")`, SQL
    * `INSERT INTO` ([[GraftWriteBuilder]]), and each streaming batch
    * ([[GraftStreamingSink]], which passes its `txn` stamp). */
  def insert(snap: GraftSnapshot, data: DataFrame,
      overwrite: Boolean,
      txn: Option[(String, Long)] = None): Unit = {
    val cols = snap.schema.fieldNames
    require(data.columns.toSet == cols.toSet,
      s"graft insert schema mismatch: table has ${cols.mkString(",")}, " +
        s"write has ${data.columns.mkString(",")}")
    import org.apache.spark.sql.functions.col
    // CHECK constraints validate against LOGICAL names, before any
    // bytes are staged — a violating batch is refused whole (one
    // conditional-aggregate pass, the Delta invariant discipline).
    TxnLog.checkConstraints(data, snap.manifest.constraints)
    // Project to declared order under PHYSICAL names (column mapping),
    // casting to the declared logical types.
    val physical = data.select(cols.toSeq.map(c =>
      col(c).cast(snap.schema(c).dataType).as(snap.physicalOf(c))): _*)
    val spark = data.sparkSession
    // Writer-side stats (r22): the write tasks fold the commit stats
    // over the rows as they stage them, under the SNAPSHOT's declared
    // column sets — zero post-write stats jobs on the common path.
    val staged = StagedWrite.stage(physical, snap.root, stagingDir(),
      snap.manifest)
    // A blind commit: it rebases onto any tip, and the staged files'
    // stats follow each tip's declared sets (`under`).
    StagedWrite.commit(spark, snap.root, snap.manifest, staged,
        StagedWrite.Blind, "insert", addsRows = false) { (tip, under) =>
      // Idempotent-replay guard, INSIDE the attempt: if this writer's
      // (appId, batchId) already sits at or below a committed stamp —
      // including one a concurrent zombie instance landed while we
      // were staging — the batch is done; abort as a no-op instead of
      // committing it twice (exactly-once is enforced at the commit,
      // the Delta discipline). Zero extra reads: the watermark fold
      // rides the tip manifest already in hand.
      txn.foreach { case (app, batch) =>
        if (TxnLog.lastTxnAt(snap.root, tip, app).exists(_ >= batch))
          TxnLog.abortCommit()
      }
      // A constraint commit that raced in between our resolve and this
      // attempt: re-validate against the TIP's set (one extra batch
      // pass, only in that rare window) so no unvalidated rows land.
      if (tip.constraints != snap.manifest.constraints)
        TxnLog.checkConstraints(data, tip.constraints)
      // A table created without declared columns (raw commitRetry
      // fixtures) gets them declared here from the resolved schema
      // (identity mapping) — which is also what keeps an emptied
      // table (truncate / delete-everything) readable: resolve needs
      // declared columns when no files remain to infer from.
      val cols = tip.columns.orElse(Some(
        snap.schema.fields.zipWithIndex.map { case (f, i) =>
          TxnLog.ColumnDef(i + 1, f.name, f.dataType.catalogString,
            snap.physicalOf(f.name))
        }.toSeq))
      // An overwrite replaces every file and so retires every pending
      // delete; an append keeps them, and the appended files' fresh
      // seq keeps them out of the deletes' scope.
      if (overwrite)
        TxnLog.replaceFiles(snap.root,
          tip.copy(columns = cols, deletes = Seq.empty), "replace",
          tip.files.toSet, under(tip)).copy(txn = txn)
      else
        TxnLog.replaceFiles(snap.root, tip.copy(columns = cols),
          "append", Set.empty, under(tip)).copy(txn = txn)
    }
  }

  /** First write into a fresh path: CREATE the table from the frame,
    * declaring its schema as manifest columns (identity mapping). If
    * a concurrent instance of the same streaming query created the
    * table with this very batch first (zombie driver), the rebased
    * attempt sees its own (appId, batchId) stamp and aborts; if some
    * OTHER writer created the table meanwhile, the create degrades to
    * an append so it cannot clobber their files. */
  def createFrom(root: Path, data: DataFrame,
      txn: Option[(String, Long)] = None,
      constraints: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(root)
    // Batch 0 of a stream-created table validates against the
    // DECLARED constraints before any bytes are staged — the table it
    // creates is then born carrying them, so every later batch
    // validates through [[insert]]'s tip-constraint pass.
    TxnLog.checkConstraints(data, constraints)
    // Auto-NDV starts AT CREATE: a table born without sketches can
    // never reach full coverage through appends alone (the merged
    // estimate requires every kept file to carry an entry). Sketched
    // by the write tasks themselves (r22, WriterStats) — zero
    // post-write stats jobs.
    val staged = StagedWrite.stage(data, root, stagingDir(),
      TxnLog.PreCreate)
    val cols = data.schema.fields.zipWithIndex.map { case (f, i) =>
      TxnLog.ColumnDef(i + 1, f.name, f.dataType.catalogString, f.name)
    }.toSeq
    StagedWrite.commit(data.sparkSession, root, TxnLog.PreCreate, staged,
        StagedWrite.Blind, "create", addsRows = false) { (tip, under) =>
      txn.foreach { case (app, batch) =>
        if (TxnLog.lastTxnAt(root, tip, app).exists(_ >= batch))
          TxnLog.abortCommit()
      }
      if (tip.version < 0L)
        TxnLog.replaceFiles(root, TxnLog.PreCreate.copy(
          columns = Some(cols), constraints = constraints), "create",
          Set.empty, under(tip)).copy(txn = txn)
      else {
        // Some OTHER writer created the table while we staged; the
        // create degrades to an append — which must honor THAT
        // table's constraint set, not just ours, and record the
        // appended files' stats under THAT table's declarations.
        if (tip.constraints != constraints)
          TxnLog.checkConstraints(data, tip.constraints)
        TxnLog.replaceFiles(root,
          tip.copy(columns = tip.columns.orElse(Some(cols))), "append",
          Set.empty, under(tip)).copy(txn = txn)
      }
    }
  }

  /** A fresh staging subdirectory name for an insert or create. */
  private def stagingDir(): String =
    s"w${System.currentTimeMillis()}-${stagingCounter.incrementAndGet()}"

  /** `DELETE FROM graft.`path` WHERE pred` as a copy-on-write log
    * commit: manifest metadata ([[GraftPruning]]) picks the files that
    * can possibly hold matching rows, ONLY those are rewritten with
    * the non-matching rows kept (`pred IS TRUE` rows drop — NULL
    * predicates keep their rows, SQL DELETE semantics), and the commit
    * is (tip − affected) ∪ rewritten. A predicate whose bounds miss
    * every file is a metadata-only no-op; a rewrite left empty
    * (everything in the file matched) is dropped from the file set.
    * It plans from `snap`'s version and stages once, then commits
    * through the log's one loop, [[StagedWrite.commit]], with the
    * affected files as its targets: a lost race against a commit that
    * left them alive rebases (rows a concurrent append landed are
    * ordered after the delete), and only a non-commuting one REPLANS
    * against the new tip. Old files survive for time travel — at 100 TB this is the
    * GDPR-delete path: O(affected files) work, through plain SQL. */
  def deleteWhere(snap: GraftSnapshot,
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = SparkSession.active
    val root = snap.root
    // MERGE-ON-READ routing: with `spark.graft.delete.mode = mor`, a
    // DELETE whose whole predicate is key-equality on the table's
    // stats key (IN-list / =) commits as an EQUALITY-DELETE file —
    // O(deleted keys) bytes, zero data files rewritten — instead of a
    // copy-on-write rewrite: the GDPR-delete path through plain SQL.
    // Any OTHER predicate (ranges, other columns, conjunctions — or a
    // table with no key column at all) commits as a POSITION-DELETE
    // file instead (below, after predicate translation): MoR mode
    // means MoR, whatever the predicate's shape.
    // `spark.graft.rowlevel.mode = mor` implies it too: a session that
    // routed UPDATE/MERGE through the delta contract expects DELETE to
    // avoid file rewrites as well — one switch, a coherent cost model.
    val morMode = Seq("spark.graft.delete.mode", "spark.graft.rowlevel.mode")
      .exists(k => spark.conf.getOption(k).exists(_.equalsIgnoreCase("mor")))
    if (morMode) {
      val logicalKey = snap.manifest.statsKey.map(snap.logicalOf)
      val keyVals: Option[Seq[Long]] = (filters.toSeq, logicalKey) match {
        case (Seq(org.apache.spark.sql.sources.EqualTo(a, v: Number)),
            Some(lk)) if a == lk => Some(Seq(v.longValue))
        case (Seq(org.apache.spark.sql.sources.In(a, vs)), Some(lk))
            if a == lk && vs.nonEmpty &&
              vs.forall(_.isInstanceOf[Number]) =>
          Some(vs.toSeq.map(_.asInstanceOf[Number].longValue).distinct)
        case _ => None
      }
      keyVals.foreach { vals =>
        val session = spark
        import session.implicits._
        TxnLog.deleteByKeyMor(spark, root, vals.toDF(logicalKey.get),
          logicalKey.get,
          s"mor${System.currentTimeMillis()}-" +
            s"${stagingCounter.incrementAndGet()}")
        return
      }
    }
    // DELETE predicates arrive with LOGICAL column names; manifest
    // stats and the parquet bytes both speak PHYSICAL names, so on a
    // column-mapped table rewrite the attributes before pruning or
    // filtering — the same mapping the row-level CoW scan applies
    // ([[GraftCowScanBuilder.physFilters]]).
    val exprs0 = filters.toSeq.map(f => GraftFilters.toCatalyst(f)
      .getOrElse(sys.error(s"untranslatable DELETE predicate: $f")))
    val exprs =
      if (!snap.isMapped) exprs0
      else exprs0.map(_.transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(snap.physicalOf(a.name))
      })
    val pred = exprs
      .map(org.apache.spark.sql.graftshim.BatchDF.column)
      .reduceOption(_ && _).getOrElse(lit(true))
    // MoR, position form: the predicate's matching rows become a
    // (file_path, pos) delete file — O(deleted rows) bytes committed,
    // zero data files rewritten. This is the only MoR shape available
    // when the predicate is not key-equality (Iceberg's position
    // deletes / Delta's deletion vectors): equality deletes cannot
    // express "these exact rows" without a key column.
    if (morMode) {
      import org.apache.spark.sql.functions.col
      val tipVersion = TxnLog.latest(root).getOrElse(
        sys.error(s"DELETE on a version-less table at $root"))
      val tip = TxnLog.readManifest(root, tipVersion)
      val affected = GraftPruning.prune(tip, exprs)
      if (affected.isEmpty) return // no file can match: metadata no-op
      // The affected files through the connector scan, each matching
      // row named by its provenance (table-relative file, ordinal).
      val positions = scanFiles(spark, root, tip, affected)
        .filter(pred.eqNullSafe(lit(true)))
        .select(col(GraftMor.MetaFileCol).as("file_path"),
          col(GraftMor.MetaPosCol).as("pos"))
      // An empty hit set after the scan (stats pruned wider than the
      // rows): metadata no-op, like the CoW path's empty prune.
      if (positions.isEmpty) return
      TxnLog.deleteByPosMor(spark, root, positions,
        s"morpos${System.currentTimeMillis()}-" +
          s"${stagingCounter.incrementAndGet()}")
      return
    }
    StagedWrite.replanning { plan =>
      val tip = if (plan == 0) snap.manifest else TxnLog.tip(root)
      require(tip.version >= 0L, s"DELETE on a version-less table at $root")
      val affected = GraftPruning.prune(tip, exprs).toSet
      // An empty `affected` means no file can match: a metadata no-op.
      if (affected.nonEmpty) {
        // The scan applies any PENDING deletes to the affected files
        // before the rewrite — a raw read would bake deleted rows into
        // fresh-seq files (silent resurrection). The list is carried
        // by replaceFiles; untouched files stay scoped by sequence.
        val keep = scanFiles(spark, root, tip, affected.toSeq.sorted)
          .filter(!pred.eqNullSafe(lit(true)))
        val nOut = TxnLog.rewriteFanOut(root, tip, affected,
          TxnLog.TargetFileBytes)
        val out = if (nOut <= 1) keep.coalesce(1) else keep.repartition(nOut)
        val staged = StagedWrite.stage(out, root,
          s"del${System.currentTimeMillis()}-" +
            s"${stagingCounter.incrementAndGet()}", tip)
        StagedWrite.commit(spark, root, tip, staged,
          StagedWrite.Targets(affected), "delete",
          addsRows = false) { (t, under) =>
          // Declare columns if the tip never did — a delete that
          // empties the table must leave it readable (resolve needs
          // declared columns when no files remain to infer from).
          val cols = t.columns.orElse(Some(
            snap.schema.fields.zipWithIndex.map { case (f, i) =>
              TxnLog.ColumnDef(i + 1, f.name, f.dataType.catalogString,
                snap.physicalOf(f.name))
            }.toSeq))
          TxnLog.replaceFiles(root, t.copy(columns = cols), "delete",
            affected, under(t))
        }
      }
    }
  }

  /** MERGE-ON-READ UPDATE (the Iceberg v2 `write.update.mode =
    * merge-on-read` semantics): rows matching `where` are REWRITTEN as
    * appended files with the `set` assignments applied, and their old
    * ordinals are POSITION-DELETED — both in ONE commit (action
    * `update-mor`), so readers see the update atomically. Cost is
    * O(matched rows) written + O(matched rows) delete bytes, never a
    * whole-file rewrite: at 100 TB, an UPDATE touching 0.1% of rows
    * scattered across thousands of files pays for exactly those rows,
    * where copy-on-write would rewrite every touched file.
    *
    * `where` is a SQL boolean and `set` maps column → SQL expression,
    * both over LOGICAL column names (mapped tables handled). Pending
    * deletes of BOTH forms are honored before matching — an already-
    * deleted row is never updated back to life. The appended files get
    * a fresh sequence, so pending equality deletes correctly do not
    * apply to them (their effect was already folded into the read).
    * The rewritten rows are validated against the table's CHECK
    * constraints. The commit is the delta row-level write's
    * ([[StagedWrite.commitDelta]]): it rebases over a concurrent commit
    * that left the position-named files alive and added no
    * merge-on-read delete, and refuses loudly otherwise (the positions
    * would name relocated rows, or the fresh-seq output would escape
    * the new delete) — replan and retry. */
  def updateMor(spark: SparkSession, root: Path,
      where: String, set: Map[String, String]): TxnLog.Committed = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    require(set.nonEmpty, "updateMor needs at least one assignment")
    val snap = resolve(Map("path" -> root.toString))
    val t0 = snap.manifest
    val logicalCols = snap.schema.fieldNames.toSeq
    set.keys.foreach(c => require(logicalCols.contains(c),
      s"updateMor sets unknown column '$c' " +
        s"(table has ${logicalCols.mkString(",")})"))
    val provenance = Seq(GraftMor.MetaFileCol, GraftMor.MetaPosCol)
    provenance.foreach(h => require(!logicalCols.contains(h),
      s"updateMor reserves column name '$h'"))
    val whereExpr = spark.sessionState.sqlParser.parseExpression(where)
    val physWhere =
      if (!snap.isMapped) whereExpr
      else whereExpr.transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(snap.physicalOf(a.name))
      }
    val affected = GraftPruning.prune(t0, Seq(physWhere))
    if (affected.isEmpty) return TxnLog.Committed(t0.version, 0)
    // The affected files through the connector scan with each row's
    // provenance (table-relative file, parquet ordinal); the scan
    // applies pending deletes of both forms. Survivors under LOGICAL
    // names; match the predicate (pred IS TRUE, SQL UPDATE
    // semantics). Persisted: read twice below.
    val matched = scanFiles(spark, root, t0, affected)
      .select(snap.physicalSchema.fieldNames.toSeq.map(p =>
        col(p).as(snap.logicalOf(p))) ++ provenance.map(col): _*)
      .filter(expr(where) <=> lit(true)).persist()
    try {
      if (matched.isEmpty) return TxnLog.Committed(t0.version, 0)
      val stamp = s"upd${System.currentTimeMillis()}-" +
        s"${stagingCounter.incrementAndGet()}"
      val posSub = s"$stamp-pos"
      val dataSub = s"$stamp-data"
      val posWritten = TxnLog.writePosDeletes(
        matched.select(col(GraftMor.MetaFileCol).as("file_path"),
          col(GraftMor.MetaPosCol).as("pos")), root, posSub)
      // The rewritten rows, assignments applied, physical shape.
      // Write tasks report (file, rows) back — no count re-scan, no
      // empty files written — and fold the rewritten files' stats as
      // they write (r22, WriterStats): zero post-write stats jobs.
      val rewritten = matched.select(logicalCols.map { c =>
        set.get(c).map(expr).getOrElse(col(c))
          .cast(snap.schema(c).dataType).as(snap.physicalOf(c))
      }: _*)
      StagedWrite.commitDelta(spark, root, t0,
        StagedWrite.stage(rewritten, root, dataSub, t0), posWritten,
        "updateMor")
    } finally matched.unpersist()
  }

  /** Register [[GraftCatalog]] as catalog `graft` on a LIVE session
    * (catalog configs are resolved lazily, so a runtime conf set is
    * enough — no restart). Enables `FROM graft.`/abs/path`` and
    * `VERSION AS OF` in SQL. Idempotent. */
  def registerCatalog(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
}

final class GraftTable(snap: GraftSnapshot, cdf: Boolean = false)
  extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row provenance as DSv2 METADATA COLUMNS (Delta's `_metadata`
    * idea): `_graft_file` = table-relative data file, `_graft_pos` =
    * parquet row ordinal within it — selectable from any batch read,
    * and the ROW ID the delta (merge-on-read) row-level operations
    * key on ([[GraftDeltaOperation.rowId]]). Served by the MoR
    * planner with per-file scan groups; the ordinal is the parquet
    * reader's own generated row index, stable under splits and
    * filter pushdown. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftMor.MetaFileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "table-relative data file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftMor.MetaPosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "parquet row ordinal of the row within its file"
      })

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    !snap.pinned &&
      filters.forall(GraftFilters.toCatalyst(_).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    GraftTables.deleteWhere(snap, filters)

  // Override the SupportsDelete default bridge for the V2-predicate
  // variants: Spark's `PredicateUtils.toV1` keeps the translatable
  // SIDE of an OR whose other side fails, so the inherited defaults
  // would approve — and then execute — a filter WEAKER than the SQL
  // condition, silently deleting fewer rows than the statement names
  // (no residual protects a metadata delete). The exact converter
  // refuses instead, and Spark falls back to the row-level rewrite.
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = {
    val v1 = predicates.map(GraftV2Filters.toV1Exact)
    v1.forall(_.isDefined) && canDeleteWhere(v1.map(_.get))
  }

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    deleteWhere(predicates.map(p =>
      GraftV2Filters.toV1Exact(p).getOrElse(sys.error(
        s"deleteWhere called with a predicate canDeleteWhere refused: $p"))))

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!snap.pinned,
      s"cannot run a row-level operation on ${name()}: the pinned " +
        "past is immutable")
    GraftRowLevelBuilder(snap, info)
  }

  override def name(): String =
    s"graft.`${snap.root}` @ v${snap.manifest.version}"

  override def schema(): StructType = snap.schema

  // With readChangeFeed set, MICRO_BATCH_READ is withheld so stream
  // resolution falls back to the V1 CDF source ([[GraftCdfSource]] —
  // a CDF batch is a computed plan, not a partitionable file scan).
  override def capabilities(): java.util.Set[TableCapability] =
    if (cdf) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    require(!cdf,
      "readChangeFeed is a streaming option (readStream.format(\"graft\")); " +
        "batch change feeds are served by TxnLog.changes")
    new GraftScanBuilder(SparkSession.active, snap, options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!snap.pinned,
      s"cannot write to ${name()}: versionAsOf pins a historical " +
        "snapshot, and the past is immutable — write to the tip")
    new GraftWriteBuilder(snap)
  }
}

/** The write path: staged parquet + one optimistic log commit. The
  * incoming frame (logical column names, any order) is projected to
  * the PHYSICAL schema, written to a fresh staging subdirectory by
  * Spark's parquet writer at full parallelism, whose tasks also fold
  * the new files' row counts and declared stats, and then one blind
  * commit of the log's one loop ([[StagedWrite.commit]]) publishes it
  * — `append` keeps the tip's files, `overwrite` (SaveMode.Overwrite /
  * INSERT OVERWRITE) replaces the file set while history stays
  * time-travelable. A lost commit race rebases on the new tip with no
  * check (appends and full overwrites both commute under rebase), and
  * the staged stats follow the new tip's declarations. Uses Spark's V1
  * insert fallback (`V1Write`), which hands us the whole DataFrame —
  * the right fit when the commit is one atomic manifest put rather
  * than per-task commit messages. */
final class GraftWriteBuilder(snap: GraftSnapshot)
  extends WriteBuilder with SupportsTruncate {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation
        : org.apache.spark.sql.sources.InsertableRelation =
      new org.apache.spark.sql.sources.InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          GraftTables.insert(snap, data, overwriteAll || overwrite)
      }
  }
}

/** Captures pushed-down filters, prunes the manifest's file list from
  * its metadata (key stats + partition values), then builds Spark's
  * own parquet scan over the survivors. All filters are returned as
  * residuals — pruning is an optimization, never a correctness
  * dependency. */
final class GraftScanBuilder(
    spark: SparkSession, snap: GraftSnapshot,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var requiredSchema: StructType = snap.schema
  private var pushedExprs: Seq[Expression] = Seq.empty
  private var aggPushed = false
  // Row-provenance metadata columns requested ([[GraftMor.MetaFileCol]]
  // / [[GraftMor.MetaPosCol]]) — split off the data schema at prune
  // time; the MoR planner serves them (per-file groups).
  private var metaCols: Seq[String] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters
    filters // every filter stays a residual; we only use them to skip files
  }

  // Filter display/dedup happens on the delegated ParquetScan (whose
  // own pushed filters show in explain); nothing extra to report here.
  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(required: StructType): Unit = {
    val (meta, data) = required.fields.partition(f =>
      f.name == GraftMor.MetaFileCol || f.name == GraftMor.MetaPosCol)
    metaCols = meta.map(_.name).toSeq
      .sortBy(Seq(GraftMor.MetaFileCol, GraftMor.MetaPosCol).indexOf)
    requiredSchema = StructType(data)
  }

  /** Pruning compares filters (logical names) against manifest
    * metadata (physical names: statsKey and partition columns are
    * declared against the bytes) — rewrite the filters to physical
    * first; identity when the manifest declares no mapping. */
  private def physFilters: Seq[Expression] =
    if (!snap.isMapped) pushedExprs
    else pushedExprs.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.withName(snap.physicalOf(a.name))
    })

  /** The inner builder over the PRUNED file set, filters pushed —
    * shared by the aggregate-pushdown probe and the final build so
    * both see the same files. Forced after pushFilters (Spark's
    * pushdown order guarantees filters come first). */
  private lazy val prunedInner: ParquetScanBuilder = {
    val kept = GraftPruning.prune(snap.manifest, physFilters)
    val index = new ManifestFileIndex(spark, snap.root, kept,
      snap.manifest.sizes, snap.physicalSchema)
    val b = ParquetScanBuilder(spark, index, snap.physicalSchema,
      snap.physicalSchema, options)
    b.pushFilters(physFilters)
    b
  }

  // MIN/MAX/COUNT pushdown answers from parquet footer statistics of
  // the pruned file set — delegated to Spark's parquet builder, which
  // enforces its own rules (no data filters, supported types). Mapped
  // tables skip it: the aggregate references logical names the
  // physical footers don't carry.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = !snap.isMapped && snap.manifest.deletes.isEmpty &&
    metaCols.isEmpty && prunedInner.supportCompletePushDown(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    // Mapped tables: the aggregate references logical names the
    // physical footers don't carry. Pending merge-on-read deletes:
    // footer statistics still count the deleted rows.
    if (snap.isMapped || snap.manifest.deletes.nonEmpty ||
      metaCols.nonEmpty) return false
    aggPushed = prunedInner.pushAggregation(agg)
    aggPushed
  }

  /** The parquet scan over exactly `files`, with this builder's
    * pushed (physical-name) filters and pruned columns applied. */
  private def parquetScanOver(files: Seq[String],
      sizes: Map[String, Long], filters: Seq[Expression]): Scan = {
    val index = new ManifestFileIndex(spark, snap.root, files,
      sizes, snap.physicalSchema)
    val inner = ParquetScanBuilder(spark, index, snap.physicalSchema,
      snap.physicalSchema, options)
    inner.pushFilters(filters)
    val physRequired = StructType(requiredSchema.fields.map(f =>
      f.copy(name = snap.physicalOf(f.name))))
    inner.pruneColumns(physRequired)
    inner.build()
  }

  /** Plan a merge-on-read scan over the pruned files — the shared
    * [[GraftMor.plan]] groups them by applicable delete and wraps the
    * group scans with the key-filtering reader. */
  private def buildMor(pf: Seq[Expression], kept: Seq[String]): Scan = {
    val p = GraftMor.plan(spark, snap, kept, requiredSchema, pf, options,
      metaCols)
    val overDiff: TxnLog.Manifest => Scan =
      if (metaCols.isEmpty)
        diff => parquetScanOver(diff.files, diff.sizes, pf)
      else
        _ => sys.error("graft metadata columns are batch-only " +
          "(a streaming diff has no stable row provenance)")
    new GraftScan(
      p.groups.headOption.map(_.scan)
        .getOrElse(parquetScanOver(kept, snap.manifest.sizes, pf)),
      snap, pf, options, overDiff, mor = Some(p), kept = kept)
  }

  override def build(): Scan = {
    val pf = physFilters
    val kept = GraftPruning.prune(snap.manifest, pf)
    if (((snap.manifest.deletes.nonEmpty && kept.nonEmpty) ||
        metaCols.nonEmpty) && !aggPushed)
      return buildMor(pf, kept)
    val inner =
      if (aggPushed) prunedInner.build() // scan output = the aggregate
      else parquetScanOver(kept, snap.manifest.sizes, pf)
    new GraftScan(inner, snap, pf, options,
      diff => parquetScanOver(diff.files, diff.sizes, pf),
      kept = kept, statsExact = !aggPushed)
  }
}

/** The scan the connector hands Spark: delegates the BATCH data path
  * to the inner (file-pruned) parquet scan, positionally renames the
  * output back to LOGICAL names when the manifest declares column
  * mapping (rows are positional `InternalRow`s, so names are plan
  * metadata only — what makes RENAME a manifest-only commit), and
  * provides the MICRO-BATCH stream over the log
  * ([[GraftMicroBatchStream]]): each new append version becomes
  * streamable data, planned as a manifest diff. */
final class GraftScan(
    val inner: Scan, snap: GraftSnapshot,
    physFilters: Seq[Expression],
    options: CaseInsensitiveStringMap,
    scanOverDiff: TxnLog.Manifest => Scan,
    mor: Option[GraftMor.Plan] = None,
    // The manifest-pruned file set this scan reads plus whether its
    // output is raw table rows (false under aggregate pushdown, whose
    // output cardinality is the GROUP count) — what lets
    // [[estimateStatistics]] report the EXACT row count and column
    // bounds from manifest metadata alone.
    kept: Seq[String] = Nil,
    statsExact: Boolean = false)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = mor match {
    case Some(p) => p.logicalSchema
    case None =>
      if (!snap.isMapped) inner.readSchema()
      else StructType(inner.readSchema().fields.map(f =>
        f.copy(name = snap.logicalOf(f.name))))
  }

  // The inner FileScan reports size statistics from the PRUNED file
  // set; hiding them behind this wrapper would make every graft
  // relation look defaultSizeInBytes-huge and never auto-broadcast —
  // the silent join-strategy regression, so delegate. On top of the
  // byte size, the manifest's footer-earned per-file row counts and
  // per-column bounds give the optimizer an EXACT rowCount and
  // min/max/NDV column statistics (the Delta add-file-stats /
  // Iceberg manifest-record-count idea) — what makes join reorder
  // and broadcast-threshold decisions right when a graft table is
  // the filtered small side, with zero plan-time filesystem calls.
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val sizeOpt: java.util.OptionalLong = mor match {
      // Manifest-sizes estimate (a slight over-count: deleted rows
      // still weigh in) — present so small MoR tables still broadcast.
      case Some(p) => java.util.OptionalLong.of(p.sizeBytes)
      case None => inner match {
        case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
          s.estimateStatistics().sizeInBytes()
        case _ => java.util.OptionalLong.empty()
      }
    }
    // Row counts are EXACT only when this scan returns raw table rows
    // (not a pushed aggregate) and no pending MoR delete hides rows
    // the footer counts still include. An empty kept set is the exact
    // count 0, not unknown — pruning proved no file qualifies.
    val rowsOpt: java.util.OptionalLong =
      if (!statsExact || mor.isDefined || snap.manifest.deletes.nonEmpty)
        java.util.OptionalLong.empty()
      else {
        val r = snap.manifest.rows
        if (kept.forall(r.contains))
          java.util.OptionalLong.of(kept.iterator.map(r).sum)
        else java.util.OptionalLong.empty()
      }
    val cols = columnStatsMap
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = sizeOpt
      override def numRows(): java.util.OptionalLong = rowsOpt
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        cols
    }
  }

  /** Column statistics over the pruned file set, from the manifest's
    * per-file bounds: min/max are exact folds of the committed
    * per-file ranges; distinctCount is the standard UPPER-BOUND
    * estimate min(rowCount, max−min+1) — integral columns only, the
    * manifest bounds contract. A column is reported only when EVERY
    * kept file carries an entry (a missing entry = unknown, and a
    * partial fold could misstate the true bound); all-NULL files
    * ([[TxnLog.EmptyRange]]) contribute nothing to the fold. */
  private def columnStatsMap: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (!statsExact || mor.isDefined || snap.manifest.deletes.nonEmpty ||
        kept.isEmpty)
      return out
    val m = snap.manifest
    val rowsKnown: Option[Long] =
      if (kept.forall(m.rows.contains)) Some(kept.iterator.map(m.rows).sum)
      else None
    // KMV sketch (nullCount, NDV) per PHYSICAL column, merged over
    // exactly the kept files (the estimate follows pruning like
    // everything else). Defined only under full coverage — partial
    // coverage must not understate a count the join reorderer
    // trusts. Both pieces ship together: Spark's estimation only
    // uses a distinct count accompanied by a null count.
    val sketchNdv: Map[String, (Long, Long)] = m.ndv.flatMap {
      case (phys, perFile) =>
        TxnLog.ndvMerged(perFile, kept).map(phys -> _)
    }
    // statsKey bounds first so a same-column colStats entry (the
    // multi-column generalization) wins.
    val perCol = m.statsKey.map(k => k -> m.stats).toMap ++ m.colStats
    perCol.foreach { case (phys, perFile) =>
      if (kept.forall(perFile.contains)) {
        val ranges = kept.map(perFile).filterNot(_ == TxnLog.EmptyRange)
        val logical = snap.logicalOf(phys)
        val field = snap.schema.fields.find(_.name == logical)
        if (ranges.nonEmpty && field.isDefined) {
          val lo = ranges.iterator.map(_._1).min
          val hi = ranges.iterator.map(_._2).max
          // Box to the column's declared type: catalyst ColumnStat
          // values are stored raw and compared under the attribute's
          // type, so a Long where an Int is expected would break
          // estimation downstream.
          import org.apache.spark.sql.types._
          val box: Long => Option[Any] = field.get.dataType match {
            case ByteType => v => Some(java.lang.Byte.valueOf(v.toByte))
            case ShortType => v => Some(java.lang.Short.valueOf(v.toShort))
            case IntegerType => v => Some(java.lang.Integer.valueOf(v.toInt))
            case LongType => v => Some(java.lang.Long.valueOf(v))
            case _ => _ => None // non-integral: bounds not comparable
          }
          (box(lo), box(hi)) match {
            case (Some(mn), Some(mx)) =>
              val span = BigInt(hi) - BigInt(lo) + 1
              val spanNdv = rowsKnown.fold(span)(n => span.min(BigInt(n)))
                .min(BigInt(Long.MaxValue)).toLong
              // A measured KMV sketch beats the integral-span upper
              // bound when the table carries one for this column —
              // and brings the exact null count estimation needs.
              // The span is still a HARD upper bound (the sketch's
              // ~18% error could report ndv>2 for a 0/1 flag), so the
              // estimate is capped by it.
              val sk = sketchNdv.get(phys)
              val ndv = sk.fold(spanNdv)(s => math.min(s._2, spanNdv))
              out.put(
                org.apache.spark.sql.connector.expressions.Expressions
                  .column(logical),
                new org.apache.spark.sql.connector.read.colstats
                    .ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(ndv)
                  override def nullCount(): java.util.OptionalLong =
                    sk.fold(java.util.OptionalLong.empty())(s =>
                      java.util.OptionalLong.of(s._1))
                  override def min(): java.util.Optional[Object] =
                    java.util.Optional.of(mn.asInstanceOf[Object])
                  override def max(): java.util.Optional[Object] =
                    java.util.Optional.of(mx.asInstanceOf[Object])
                })
            case _ => ()
          }
        }
      }
    }
    // Columns carrying ONLY a sketch (string keys — no comparable
    // bounds, the exact case min/max stats can never serve): report
    // the distinct count alone. This is what gives the CBO a
    // cardinality for string-keyed joins/aggregates at plan time.
    sketchNdv.foreach { case (phys, (nulls, n)) =>
      val logical = snap.logicalOf(phys)
      val ref = org.apache.spark.sql.connector.expressions.Expressions
        .column(logical)
      if (!out.containsKey(ref) &&
          snap.schema.fields.exists(_.name == logical))
        out.put(ref,
          new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(n)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nulls)
          })
    }
    out
  }

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    mor match {
      case Some(p) => new GraftMor.MorBatch(p.groups)
      case None => inner.toBatch
    }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(snap, physFilters, options, scanOverDiff)

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (mor.isDefined) Scan.ColumnarSupportMode.UNSUPPORTED
    else inner.columnarSupportMode()

  override def description(): String =
    if (mor.isDefined)
      s"GraftMoR(${mor.get.groups.size} groups, ${inner.description()})"
    else s"Graft(${inner.description()})"
}

/** A `FileIndex` served ENTIRELY from manifest metadata: paths come
  * from the (pruned) file list and byte lengths from the manifest's
  * committed `sizes`, so scan planning — split computation, cost
  * estimation, everything up to the first actual read — makes ZERO
  * filesystem calls. This is the planning discipline of every real
  * table format (Delta/Iceberg plan from their logs, never from
  * listings); `InMemoryFileIndex` by contrast stats each file at
  * index construction, which at 10⁶ files IS the planning
  * bottleneck. A file missing a committed size (pre-r13 manifest)
  * falls back to one local stat — the bootstrap path, healed by the
  * next commit. */
final class ManifestFileIndex(
    spark: SparkSession, root: Path, relFiles: Seq[String],
    sizes: Map[String, Long], schema: StructType)
  extends org.apache.spark.sql.execution.datasources
    .PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {
  import org.apache.hadoop.fs.FileStatus
  import org.apache.spark.sql.execution.datasources.PartitionSpec

  private val statuses: Seq[FileStatus] = relFiles.map { f =>
    val size = sizes.getOrElse(f, Files.size(root.resolve(f)))
    new FileStatus(size, false, 1, 128L << 20, 0L,
      new HPath(root.resolve(f).toUri))
  }

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override val leafFiles: scala.collection.mutable.LinkedHashMap[
      HPath, FileStatus] =
    scala.collection.mutable.LinkedHashMap(
      statuses.map(s => s.getPath -> s): _*)

  override val leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }

  override def rootPaths: Seq[HPath] = statuses.map(_.getPath)

  override def refresh(): Unit = ()
}

/** A log version as a streaming offset. */
final case class GraftStreamOffset(version: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** `spark.readStream.format("graft").load(path)` — the transaction
  * log AS a structured-streaming source: the offset is the log
  * version, `latestOffset` is one directory listing of `_log/`, and
  * each micro-batch is the manifest FILE DIFF between two offsets —
  * exactly the rows appended in that window, planned from metadata
  * like every other read (stats skipping applies per batch via the
  * pushed filters). Offset -1 means "before the table existed", so a
  * fresh stream's first batch is the full current snapshot, and a
  * checkpoint-resumed stream continues from the exact version it
  * committed (standard offset semantics — the engine-side bookkeeping
  * that foreachBatch consumers of [[GraftTables.read]] would
  * otherwise hand-roll). A non-append commit inside a batch window
  * (merge/replace/compact) fails the stream loudly — a file diff
  * would misstate those changes, same rule as the batch
  * `fromVersion` read. `startingVersion` skips history: the stream
  * begins at that version's append instead of the full snapshot. */
final class GraftMicroBatchStream(
    snap: GraftSnapshot,
    physFilters: Seq[Expression],
    options: CaseInsensitiveStringMap,
    scanOverDiff: TxnLog.Manifest => Scan)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private val root = snap.root

  // Admission control: at most this many log versions per micro-batch
  // (each version = one commit's file diff). A stream started against
  // a long backlog — the 100 TB catch-up case — must not plan the
  // whole history as one batch; capping by versions bounds every
  // batch at the granularity writers committed in, composing with
  // Trigger.AvailableNow (the pinned tip is reached over several
  // capped batches, then the run terminates).
  private val maxVersionsPerTrigger: Option[Long] =
    Option(options.get("maxVersionsPerTrigger")).map { s =>
      val n = s.toLong
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
      n
    }

  override def initialOffset(): Offset = GraftStreamOffset(
    Option(options.get("startingVersion")).map(_.toLong - 1L)
      .getOrElse(-1L))

  override def latestOffset(): Offset =
    GraftStreamOffset(TxnLog.latest(root).getOrElse(-1L))

  // Trigger.AvailableNow: pin the tip ONCE at stream start and drain
  // up to it, so the run terminates even while writers keep
  // committing — the admission-control contract.
  @volatile private var availableNowTarget: Option[Offset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestOffset())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(latestOffset())
      .asInstanceOf[GraftStreamOffset].version
    val s = start.asInstanceOf[GraftStreamOffset].version
    GraftStreamOffset(maxVersionsPerTrigger.map { cap =>
      // Count RETAINED versions (expiry can leave gaps in the
      // numbering), so the capped end is always a readable manifest.
      // Clamp: a cap beyond Int.MaxValue must saturate, not overflow
      // negative (take(negative) would return empty and stall the
      // stream at the start offset forever).
      TxnLog.versions(root).filter(v => v > s && v <= target)
        .take(math.min(cap, Int.MaxValue.toLong).toInt)
        .lastOption.getOrElse(s)
    }.getOrElse(target))
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  /** The manifest slice holding exactly the rows of (startV, endV]. */
  private def diffManifest(startV: Long, endV: Long): TxnLog.Manifest = {
    val endM = TxnLog.readManifest(root, endV)
    if (startV < 0L) endM
    else TxnLog.appendedSince(root, startV, endM,
      s"stream window $startV -> $endV")
  }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].version
    val e = end.asInstanceOf[GraftStreamOffset].version
    if (e < 0L || e <= s) return Array.empty
    val diff = diffManifest(s, e)
    val pruned = GraftPruning.prune(diff, physFilters)
    scanOverDiff(diff.copy(files = pruned)).toBatch.planInputPartitions()
  }

  // The parquet reader factory is file-independent (schema + conf
  // only), so one built over an empty file list serves every batch.
  override def createReaderFactory(): PartitionReaderFactory =
    scanOverDiff(snap.manifest.copy(files = Seq.empty))
      .toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** `sources.Filter` → catalyst expression, for the filter shapes the
  * DELETE path accepts. The result serves BOTH consumers: manifest
  * pruning ([[GraftPruning]] pattern-matches `Attribute`/`Literal`
  * nodes — `UnresolvedAttribute` IS an `Attribute`) and row filtering
  * (wrapped back into a `Column`). Unknown shapes return None and the
  * table reports it cannot delete by that predicate. */
object GraftFilters {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or}
  import org.apache.spark.sql.sources

  private def attr(a: String) = UnresolvedAttribute.quoted(a)

  def toCatalyst(f: sources.Filter): Option[Expression] = f match {
    case sources.EqualTo(a, v) => Some(EqualTo(attr(a), Literal(v)))
    case sources.GreaterThan(a, v) => Some(GreaterThan(attr(a), Literal(v)))
    case sources.GreaterThanOrEqual(a, v) =>
      Some(GreaterThanOrEqual(attr(a), Literal(v)))
    case sources.LessThan(a, v) => Some(LessThan(attr(a), Literal(v)))
    case sources.LessThanOrEqual(a, v) =>
      Some(LessThanOrEqual(attr(a), Literal(v)))
    case sources.In(a, vs) =>
      Some(In(attr(a), vs.toSeq.map(Literal(_))))
    case sources.IsNull(a) => Some(IsNull(attr(a)))
    case sources.IsNotNull(a) => Some(IsNotNull(attr(a)))
    case sources.And(l, r) =>
      for { a <- toCatalyst(l); b <- toCatalyst(r) } yield And(a, b)
    case sources.Or(l, r) =>
      for { a <- toCatalyst(l); b <- toCatalyst(r) } yield Or(a, b)
    case sources.Not(c) => toCatalyst(c).map(Not)
    case sources.AlwaysTrue() => Some(Literal.TrueLiteral)
    case sources.AlwaysFalse() => Some(Literal.FalseLiteral)
    case _ => None
  }
}

/** V2 `Predicate` → V1 `Filter`, EXACT: None unless the WHOLE
  * predicate converts. Spark 4's own default bridge — the
  * `SupportsDelete` default methods via `PredicateUtils.toV1` —
  * returns the translatable SIDE of an `OR` (or `AND`) whose other
  * side fails V1 translation. That is harmless under a scan (the
  * residual re-filters rows) but a metadata DELETE has NO residual:
  * `DELETE WHERE id % 10 = 7 OR id >= 200` arrived here as just
  * `GreaterThanOrEqual(id,200)`, deleting FEWER rows than the
  * statement names and reporting success. [[GraftTable]] overrides
  * the V2-predicate methods with this converter so any
  * not-fully-expressible predicate REFUSES the metadata path and
  * Spark keeps the row-level rewrite (WriteDelta / ReplaceData),
  * which applies the full condition. */
object GraftV2Filters {
  import org.apache.spark.sql.connector.expressions.{Expression => VExpr, LiteralValue, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, And => VAnd, Not => VNot, Or => VOr, Predicate}
  import org.apache.spark.sql.sources

  private def column(e: VExpr): Option[String] = e match {
    case n: NamedReference if n.fieldNames.length == 1 =>
      Some(n.fieldNames()(0))
    case _ => None
  }

  // V1 filters carry external Scala values (String, not UTF8String);
  // a V2 literal holds the catalyst-internal form.
  private def value(e: VExpr): Option[Any] = e match {
    case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
      Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType))
    case _ => None
  }

  private def all[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  def toV1Exact(p: Predicate): Option[sources.Filter] = p match {
    case _: AlwaysTrue => Some(sources.AlwaysTrue())
    case _: AlwaysFalse => Some(sources.AlwaysFalse())
    case a: VAnd =>
      for { l <- toV1Exact(a.left()); r <- toV1Exact(a.right()) }
        yield sources.And(l, r)
    case o: VOr =>
      for { l <- toV1Exact(o.left()); r <- toV1Exact(o.right()) }
        yield sources.Or(l, r)
    case n: VNot => toV1Exact(n.child()).map(sources.Not)
    case _ => (p.name(), p.children()) match {
      case ("IS_NULL", Array(c)) => column(c).map(sources.IsNull)
      case ("IS_NOT_NULL", Array(c)) => column(c).map(sources.IsNotNull)
      case ("IN", arr) if arr.length >= 2 =>
        for {
          c <- column(arr(0))
          vs <- all(arr.toSeq.tail.map(value))
        } yield sources.In(c, vs.toArray)
      case (op @ ("=" | ">" | ">=" | "<" | "<="), Array(l, r)) =>
        val direct = for { c <- column(l); v <- value(r) }
          yield (c, v, false)
        val flipped = for { c <- column(r); v <- value(l) }
          yield (c, v, true)
        direct.orElse(flipped).map { case (c, v, flip) =>
          (op, flip) match {
            case ("=", _) => sources.EqualTo(c, v)
            case (">", false) => sources.GreaterThan(c, v)
            case (">", true) => sources.LessThan(c, v)
            case (">=", false) => sources.GreaterThanOrEqual(c, v)
            case (">=", true) => sources.LessThanOrEqual(c, v)
            case ("<", false) => sources.LessThan(c, v)
            case ("<", true) => sources.GreaterThan(c, v)
            case ("<=", false) => sources.LessThanOrEqual(c, v)
            case ("<=", true) => sources.GreaterThanOrEqual(c, v)
          }
        }
      case _ => None
    }
  }
}

object GraftPruning {
  import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, Or}

  /** One pushed comparison `col <op> literal` (either operand order),
    * normalized so the attribute is on the left. */
  private object Cmp {
    def unapply(e: Expression): Option[(String, Any, String)] = e match {
      case EqualTo(a: Attribute, Literal(v, _)) => Some((a.name, v, "="))
      case EqualTo(Literal(v, _), a: Attribute) => Some((a.name, v, "="))
      case GreaterThan(a: Attribute, Literal(v, _)) => Some((a.name, v, ">"))
      case GreaterThan(Literal(v, _), a: Attribute) => Some((a.name, v, "<"))
      case GreaterThanOrEqual(a: Attribute, Literal(v, _)) => Some((a.name, v, ">="))
      case GreaterThanOrEqual(Literal(v, _), a: Attribute) => Some((a.name, v, "<="))
      case LessThan(a: Attribute, Literal(v, _)) => Some((a.name, v, "<"))
      case LessThan(Literal(v, _), a: Attribute) => Some((a.name, v, ">"))
      case LessThanOrEqual(a: Attribute, Literal(v, _)) => Some((a.name, v, "<="))
      case LessThanOrEqual(Literal(v, _), a: Attribute) => Some((a.name, v, ">="))
      case _ => None
    }
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: Number => Some(n.longValue)
    case _ => None
  }

  /** Literal value as the exact string a partition-value entry would
    * carry — ONLY for types whose rendering is canonical (integrals,
    * strings, booleans). Fractional/decimal literals render ambiguously
    * ("3.0" vs "3") and partition pruning is NOT protected by residual
    * filters, so they must never prune. */
  private def partValueOf(v: Any): Option[String] = v match {
    case null => None
    case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
         _: java.lang.Long | _: java.lang.Boolean => Some(v.toString)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** The files of `m` a scan with the given pushed filters must open:
    * metadata-only pruning on (a) the committed [min, max] bounds per
    * file — the declared statsKey's AND every column carried in the
    * manifest's multi-column `colStats` — and (b) per-file partition
    * values. Any filter shape not understood keeps the file —
    * conservative by construction. */
  def prune(m: TxnLog.Manifest,
      filters: Seq[Expression]): Seq[String] = {
    def queryBounds(c: String): (Long, Long) =
      filters.foldLeft((Long.MinValue, Long.MaxValue)) {
        case (acc, f) => intersect(acc, boundsOf(c, f))
      }
    val keyBounds = m.statsKey.map(queryBounds)
    // One (column, constrained query range, per-file entries) triple
    // per colStats column the filters actually constrain.
    val colBounds: Seq[((Long, Long), Map[String, (Long, Long)])] =
      m.colStats.toSeq.flatMap { case (c, perFile) =>
        val b = queryBounds(c)
        if (b == (Long.MinValue, Long.MaxValue)) None
        else Some((b, perFile))
      }
    val partEq: Map[String, Set[String]] = filters.flatMap {
      case Cmp(c, v, "=") => partValueOf(v).map(s => c -> Set(s))
      case In(a: Attribute, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val rendered =
          vs.flatMap(l => partValueOf(l.asInstanceOf[Literal].value))
        // every IN value must render canonically, or the file set the
        // ambiguous value might match would be wrongly dropped
        if (rendered.size == vs.size) Some(a.name -> rendered.toSet)
        else None
      case _ => None
    }.groupMapReduce(_._1)(_._2)(_ intersect _)
    // No entry = UNKNOWN (a generic commit may not have computed
    // stats) — keep the file; pruning must never be a correctness
    // dependency. A known no-non-NULL-values file carries the
    // explicit TxnLog.EmptyRange entry, whose empty interval fails
    // the intersection test and prunes.
    def rangeOk(entry: Option[(Long, Long)], lo: Long, hi: Long): Boolean =
      entry match {
        case None => true
        case Some((kmin, kmax)) => kmin <= hi && kmax >= lo
      }
    m.files.filter { f =>
      val statsOk = keyBounds.forall { case (lo, hi) =>
        if (lo == Long.MinValue && hi == Long.MaxValue) true
        else rangeOk(m.stats.get(f), lo, hi)
      } && colBounds.forall { case ((lo, hi), perFile) =>
        rangeOk(perFile.get(f), lo, hi)
      }
      val partsOk = m.partitions.get(f) match {
        case None => true
        case Some(values) => values.forall { case (col, v) =>
          partEq.get(col).forall(_.contains(v))
        }
      }
      statsOk && partsOk
    }
  }

  /** [lo, hi] implied for column `k` by one pushed conjunct; the full
    * range when the conjunct says nothing usable about `k`. The open
    * bounds of strict comparisons are kept closed — a safe
    * over-approximation. */
  private def boundsOf(k: String, f: Expression): (Long, Long) = {
    val full = (Long.MinValue, Long.MaxValue)
    f match {
      case Cmp(c, v, op) if c == k =>
        asLong(v).fold(full)(l => op match {
          case "=" => (l, l)
          case ">" | ">=" => (l, Long.MaxValue)
          case "<" | "<=" => (Long.MinValue, l)
        })
      case In(a: Attribute, vs) if a.name == k && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        val ls = vs.flatMap(l => asLong(l.asInstanceOf[Literal].value))
        if (ls.size != vs.size) full else (ls.min, ls.max)
      case And(l, r) =>
        intersect(boundsOf(k, l), boundsOf(k, r))
      case Or(l, r) =>
        val (ll, lh) = boundsOf(k, l); val (rl, rh) = boundsOf(k, r)
        (math.min(ll, rl), math.max(lh, rh))
      case _ => full
    }
  }

  private def intersect(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    (math.max(a._1, b._1), math.min(a._2, b._2))
}

/** `TableCatalog` over transaction-logged table paths: the identifier
  * IS the table root (``graft.`/abs/path` ``), and Spark's
  * `VERSION AS OF n` resolves through `loadTable(ident, version)` —
  * the v2 time-travel contract. Read-only: the write path is the
  * commit protocol ([[TxnLog]]), not SQL DDL. */
final class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = "graft"

  /** SQL `CALL graft.restore(...)` / `optimize` /
    * `materialize_deletes` / `expire` — table maintenance as DSv2
    * stored procedures ([[GraftProcedures]]), the Iceberg `CALL`
    * shape on Spark 4's native procedure API. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(ident)

  override def listProcedures(
      namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) GraftProcedures.list() else Array.empty

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): Path =
    Paths.get((ident.namespace :+ ident.name).mkString("/"))

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (!Files.isDirectory(TxnLog.logDir(root)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    new GraftTable(GraftTables.resolve(Map("path" -> root.toString)))
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!Files.isDirectory(TxnLog.logDir(root)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    new GraftTable(GraftTables.resolve(Map(
      "path" -> root.toString, "versionAsOf" -> version)))
  }

  /** SQL `TIMESTAMP AS OF` — the v2 contract hands the literal as
    * MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!Files.isDirectory(TxnLog.logDir(root)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    new GraftTable(GraftTables.resolve(Map("path" -> root.toString,
      "timestampAsOf" -> (timestamp / 1000L).toString)))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def tableExists(ident: Identifier): Boolean =
    Files.isDirectory(TxnLog.logDir(rootOf(ident)))

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft tables are created through the TxnLog commit protocol")

  /** SQL `ALTER TABLE` routed to the manifest-only evolution commits:
    * ADD COLUMNS / DROP COLUMN / RENAME COLUMN / ALTER COLUMN TYPE
    * (widening) each land as one metadata commit — no data movement at
    * any scale. Nested fields and anything else (narrowing, position
    * moves, property changes) are refused loudly. */
  override def alterTable(
      ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!Files.isDirectory(TxnLog.logDir(root)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    def topLevel(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        s"nested column ${fieldNames.mkString(".")} is not supported")
      fieldNames.head
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        TxnLog.addColumn(root, topLevel(a.fieldNames),
          a.dataType.catalogString)
      case d: TableChange.DeleteColumn =>
        TxnLog.dropColumn(root, topLevel(d.fieldNames))
      case r: TableChange.RenameColumn =>
        TxnLog.renameColumn(root, topLevel(r.fieldNames), r.newName)
      case u: TableChange.UpdateColumnType =>
        TxnLog.widenColumn(root, topLevel(u.fieldNames),
          u.newDataType.catalogString)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables are paths")
}
