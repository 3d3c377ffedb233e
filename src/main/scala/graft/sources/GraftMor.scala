package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

/** Merge-on-read plumbing for EQUALITY and POSITION DELETES inside
  * the DSv2 scan — the two Iceberg v2 delete shapes (spec §"Equality
  * delete files" / §"Position delete files"; readers load the
  * applicable delete set and drop matching rows during the scan,
  * `DeleteFilter` in the reference implementations). Putting the
  * filter INSIDE the scan is what makes every consumer correct with no
  * plan rewrite: SQL, time travel, catalog reads and DataFrame reads
  * all pass through here, and so do the transaction log's own reads
  * ([[GraftTables.scanFiles]]) — `readVersion`, the inputs of its
  * rewrites (merge, compact, compactSmall, materializeDeletes), its
  * change feed — and the connector's DELETE and `updateMor`. This is
  * the only code that applies pending deletes.
  *
  * Shape: the snapshot's data files group by WHICH deletes apply to
  * them (equality: per-file sequence strictly below the delete's —
  * later appends escape, so deleted keys can be re-inserted;
  * position: exact file membership). Each group gets its own inner
  * parquet scan, with the delete-key columns force-included; a
  * wrapping reader drops rows whose key sits in the group's (sorted,
  * binary-searched) deleted-key array and projects any force-included
  * column back out. Position-targeted files (and any scan requesting
  * the row-provenance metadata columns) read through a PROVENANCE
  * group: ONE inner scan planned with single-file PARTITIONS (a
  * pinned-open-cost session keeps the packer from mixing files; a
  * split of one large file still holds exactly one file) that
  * additionally requests Spark's native parquet row-index column
  * (`_tmp_metadata_row_index`, generated by the reader itself, so the
  * ordinal stays correct under splits and row-group/page skipping);
  * each partition resolves its file identity once, and rows whose
  * ordinal sits in that file's sorted dropped-position array are
  * filtered like the key arrays. Driver planning stays O(groups),
  * never O(files). Rows, not columnar batches: the same trade Iceberg
  * makes — MoR reads pay a row-filter tax until compaction repays it.
  *
  * Scale: the delete arrays are O(pending deleted keys/positions)
  * driver/task memory — bounded by compaction cadence exactly as in
  * Iceberg, and the reason
  * [[graft.operators.TxnLog.materializeDeletes]] exists.
  */
private[sources] object GraftMor {

  /** The column name Spark's parquet readers (both vectorized and
    * parquet-mr, V1 and DSv2 alike) recognize and POPULATE with the
    * row's 0-based ordinal within its file instead of reading it from
    * the bytes — `ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME`,
    * the mechanism behind `_metadata.row_index`. Must be requested
    * nullable (a non-nullable absent column fails the reader's
    * missing-column check before the generator engages). */
  val RowIndexCol = "_tmp_metadata_row_index"

  /** Row-provenance METADATA COLUMNS ([[GraftTable.metadataColumns]]):
    * the table-relative data file and the parquet row ordinal within
    * it — the row id the DSv2 delta (merge-on-read) row-level
    * operations key on, and selectable from any batch read like
    * Delta's `_metadata`. Served from this planner: the file name is
    * a per-group constant, the ordinal the reader-generated row
    * index. */
  val MetaFileCol = "_graft_file"
  val MetaPosCol = "_graft_pos"

  /** Row-provenance spec for a group whose inner scan was planned with
    * SINGLE-FILE PARTITIONS (see [[plan]]'s pinned session): the
    * reader resolves each partition's file identity ONCE and serves
    * metadata columns / per-file dropped ordinals from it. ONE inner
    * scan per group — never one per file — so driver planning stays
    * O(groups) however many files an UPDATE touches.
    * `dataOrds`: required-column ordinals in the inner row.
    * `metaCols`: requested metadata columns, in output order.
    * `posOrd`: ordinal of the reader-generated row-index column.
    * `posByRel`: dropped ordinals per table-relative file.
    * `relByAbs`: normalized-absolute → table-relative, for tags. */
  final case class PerFile(
      dataOrds: Seq[(Int, DataType)],
      metaCols: Seq[String],
      posOrd: Option[Int],
      posByRel: Map[String, Array[Long]],
      relByAbs: Map[String, String])

  final case class Group(
      scan: Scan,
      keyFilters: Seq[(Int, DataType, Array[Long])],
      project: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
      perFile: Option[PerFile] = None)

  /** A fully-planned MoR read: the groups, the scan's reported
    * (logical-name) schema, and the manifest-sizes byte estimate that
    * keeps broadcast decisions working. */
  final case class Plan(
      groups: Seq[Group], logicalSchema: StructType, sizeBytes: Long)

  final case class MorInputPartition(group: Int, inner: InputPartition,
      fileTag: Option[String] = None) extends InputPartition

  /** The normalized absolute form of a partition's single file — the
    * same java.nio normalization [[plan]] keys `relByAbs` with. */
  private def partitionAbs(p: InputPartition): String = {
    val fp = p.asInstanceOf[
      org.apache.spark.sql.execution.datasources.FilePartition]
    val paths = fp.files.map(_.filePath.toUri).distinct
    require(paths.length == 1,
      s"provenance scan planned a multi-file partition (${paths.length} " +
        "files) — the single-file-partition pin was lost")
    java.nio.file.Paths.get(paths.head).toAbsolutePath.normalize.toString
  }

  final class MorBatch(groups: Seq[Group]) extends Batch {
    override def planInputPartitions(): Array[InputPartition] =
      groups.zipWithIndex.flatMap { case (g, i) =>
        g.scan.toBatch.planInputPartitions().map { p =>
          val tag = g.perFile.map(pf =>
            pf.relByAbs.getOrElse(partitionAbs(p), sys.error(
              s"provenance partition over ${partitionAbs(p)} not in " +
                "the planned file set")))
          MorInputPartition(i, p, tag): InputPartition
        }
      }.toArray

    override def createReaderFactory(): PartitionReaderFactory =
      new MorReaderFactory(groups.map(g =>
        (g.scan.toBatch.createReaderFactory(), g.keyFilters, g.project,
          g.perFile)))
  }

  final class MorReaderFactory(
      groups: Seq[(PartitionReaderFactory,
        Seq[(Int, DataType, Array[Long])],
        Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]],
        Option[PerFile])])
    extends PartitionReaderFactory {

    // Row-based on purpose: filtering inside columnar batches would
    // mean rebuilding vectors per batch; the row reader is the
    // documented MoR cost and only pending-delete snapshots pay it.
    override def supportColumnarReads(p: InputPartition): Boolean = false

    override def createReader(
        p: InputPartition): PartitionReader[InternalRow] = {
      val mp = p.asInstanceOf[MorInputPartition]
      val (factory, keyFilters, project, perFile) = groups(mp.group)
      val inner = factory.createReader(mp.inner)
      // This partition's dropped ordinals and output projection —
      // per-partition because the file tag is (PerFile path only).
      val posFilter: Option[(Int, Array[Long])] = for {
        pf <- perFile; ord <- pf.posOrd; tag <- mp.fileTag
        dropped <- pf.posByRel.get(tag)
      } yield (ord, dropped)
      val partProject: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] =
        perFile.map { pf =>
          import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
          pf.dataOrds.map { case (i, dt) =>
            BoundReference(i, dt, nullable = true)
              : org.apache.spark.sql.catalyst.expressions.Expression
          } ++ pf.metaCols.map {
            case MetaFileCol => Literal(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(mp.fileTag.get),
              org.apache.spark.sql.types.StringType)
            case MetaPosCol => BoundReference(pf.posOrd.get, LongType,
              nullable = true)
            case other => sys.error(s"unknown metadata column $other")
          }
        }.orElse(project)
      new PartitionReader[InternalRow] {
        private val proj = partProject.map(UnsafeProjection.create)
        private var current: InternalRow = _

        // NULL keys never match an equality delete (SQL equality
        // semantics; Iceberg behaves the same) — kept. The row-index
        // column is reader-generated and never null in practice; a
        // null (defensive) keeps the row.
        private def deleted(r: InternalRow): Boolean =
          posFilter.exists { case (ord, dropped) =>
            !r.isNullAt(ord) &&
              java.util.Arrays.binarySearch(dropped, r.getLong(ord)) >= 0
          } || keyFilters.exists { case (ord, dt, keys) =>
            !r.isNullAt(ord) && {
              val v = dt match {
                case LongType => r.getLong(ord)
                case IntegerType => r.getInt(ord).toLong
                case ShortType => r.getShort(ord).toLong
                case ByteType => r.getByte(ord).toLong
                case other => throw new IllegalStateException(
                  s"non-integral equality-delete key type $other")
              }
              java.util.Arrays.binarySearch(keys, v) >= 0
            }
          }

        override def next(): Boolean = {
          while (inner.next()) {
            val r = inner.get()
            if (!deleted(r)) { current = r; return true }
          }
          false
        }

        override def get(): InternalRow =
          proj.map(_.apply(current)).getOrElse(current)

        override def close(): Unit = inner.close()
      }
    }
  }

  /** The required columns of `requested` in DATA-SCHEMA order with
    * physical names — the row shape a graft inner parquet scan reports
    * (`FileScanBuilder` prunes in dataSchema order, not request
    * order). */
  def physRequired(snap: GraftSnapshot, requested: StructType): StructType = {
    val wanted = requested.fieldNames.map(snap.physicalOf).toSet
    StructType(snap.physicalSchema.fields.filter(f => wanted(f.name)))
  }

  /** Plan the full MoR read over `kept` files: collect the deleted
    * keys ONCE on the driver (O(pending deleted keys), the Iceberg
    * eq-delete bound), group files by applicable deletes, and build
    * each group's inner parquet scan with its delete-key columns
    * force-included. `filters` are pushed to the inner scans when
    * given — the copy-on-write row-level scan passes none (its
    * contract forbids data filters), the plain read path passes its
    * residual filters. */
  def plan(spark: org.apache.spark.sql.SparkSession, snap: GraftSnapshot,
      kept: Seq[String], requested: StructType,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
      metaCols: Seq[String] = Nil): Plan = {
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
    val m = snap.manifest
    val eqDeletes = m.deletes.filter(_.kind != "pos")
    // Deduplicated after the collect: a `distinct` would cost a shuffle
    // per delete file on every planned scan.
    val keysByFile: Map[String, Array[Long]] = eqDeletes.map { d =>
      d.path -> graft.util.ParquetSchema.read(spark,
          Seq(snap.root.resolve(d.path).toString))
        .select(org.apache.spark.sql.functions.col(d.key).cast("long"))
        .na.drop()
        .collect().map(_.getLong(0)).distinct.sorted
    }.toMap
    // Dropped row ordinals per position-targeted data file —
    // O(pending deleted rows) driver memory, the eq-key-array bound.
    val posByFile: Map[String, Array[Long]] =
      graft.operators.TxnLog.posDeletePositions(spark, snap.root,
        m.deletes.filter(_.kind == "pos"))
    val outPhys = physRequired(snap, requested)
    // Provenance scans (position-targeted files, metadata-column
    // requests) need per-PARTITION file identity. They get it from
    // ONE scan per group planned under a pinned session whose
    // open-cost makes the file packer put every file in its own
    // partition (a split of one large file still holds exactly one
    // file, and the reader-generated row index stays correct) —
    // driver planning stays O(groups), never O(files).
    lazy val pinnedSession = {
      val s = org.apache.spark.sql.graftshim.BatchDF.cloneSession(spark)
      s.conf.set("spark.sql.files.openCostInBytes", (1L << 50).toString)
      s
    }
    def scanOver(files: Seq[String], extra: Seq[String],
        withRowIndex: Boolean, singleFileParts: Boolean): Scan = {
      val session = if (singleFileParts) pinnedSession else spark
      val index = new ManifestFileIndex(session, snap.root, files,
        m.sizes, snap.physicalSchema)
      val b = ParquetScanBuilder(session, index, snap.physicalSchema,
        snap.physicalSchema, options)
      if (filters.nonEmpty) b.pushFilters(filters)
      val extraFields = extra.filterNot(outPhys.fieldNames.contains)
        .map(snap.physicalSchema(_)) ++
        (if (withRowIndex)
          Seq(StructField(RowIndexCol, LongType, nullable = true))
        else Nil)
      b.pruneColumns(StructType(outPhys.fields ++ extraFields))
      b.build()
    }
    val wantPos = metaCols.contains(MetaPosCol)
    def groupOver(files: Seq[String],
        dels: Seq[graft.operators.TxnLog.DeleteFile],
        provenance: Boolean): Group = {
      import org.apache.spark.sql.catalyst.expressions.BoundReference
      val hasPositions = files.exists(posByFile.contains)
      val withRowIndex = provenance && (hasPositions || wantPos)
      val extra =
        dels.map(_.key).distinct.filterNot(outPhys.fieldNames.contains)
      val inner = scanOver(files, extra, withRowIndex,
        singleFileParts = provenance)
      val innerSchema = inner.readSchema()
      val keyFilters = dels.groupBy(_.key).toSeq.sortBy(_._1).map {
        case (k, ds) =>
          val keys = ds.flatMap(d => keysByFile(d.path))
            .distinct.sorted.toArray
          (innerSchema.fieldIndex(k), innerSchema(k).dataType, keys)
      }
      if (provenance) {
        val rootAbs = snap.root.toAbsolutePath.normalize
        Group(inner, keyFilters, project = None,
          perFile = Some(PerFile(
            dataOrds = outPhys.fields.toSeq.map(f =>
              (innerSchema.fieldIndex(f.name), f.dataType)),
            metaCols = metaCols,
            posOrd = if (withRowIndex)
              Some(innerSchema.fieldIndex(RowIndexCol)) else None,
            posByRel = posByFile.view.filterKeys(files.toSet).toMap,
            relByAbs = files.map(f =>
              rootAbs.resolve(f).normalize.toString -> f).toMap)))
      } else {
        val project =
          if (extra.isEmpty) None
          else Some(outPhys.fields.toSeq.map(f =>
            BoundReference(innerSchema.fieldIndex(f.name), f.dataType,
              nullable = true)
              : org.apache.spark.sql.catalyst.expressions.Expression))
        Group(inner, keyFilters, project)
      }
    }
    val groups = kept.groupBy(f =>
        eqDeletes.filter(d => m.seqs.getOrElse(f, -1L) < d.seq))
      .toSeq.sortBy(_._2.head)
      .flatMap { case (dels, fs) =>
        if (metaCols.nonEmpty)
          // Metadata columns requested: the whole class reads with
          // provenance (one scan, single-file partitions).
          Seq(groupOver(fs.sorted, dels, provenance = true))
        else {
          // Only position-TARGETED files need provenance; the rest
          // read through the plain (freely-packed) scan.
          val (posFs, plain) = fs.partition(posByFile.contains)
          (if (plain.isEmpty) Nil
          else Seq(groupOver(plain, dels, provenance = false))) ++
            (if (posFs.isEmpty) Nil
            else Seq(groupOver(posFs.sorted, dels, provenance = true)))
        }
      }
    val metaFields = metaCols.map {
      case MetaFileCol => StructField(MetaFileCol,
        org.apache.spark.sql.types.StringType, nullable = false)
      case MetaPosCol => StructField(MetaPosCol, LongType, nullable = false)
    }
    val outSchema = StructType(outPhys.fields.map(f =>
      f.copy(name = snap.logicalOf(f.name))) ++ metaFields)
    Plan(groups, outSchema, math.max(kept.flatMap(m.sizes.get).sum, 1L))
  }
}
