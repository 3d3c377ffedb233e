package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._

import graft.operators.TxnLog

/** Per-file commit stats, the one implementation: every per-file
  * stats entry a manifest carries comes from a [[Collector]] folded
  * over that file's rows, the way Delta (`AddFile.stats`) and Iceberg
  * (`DataFile` value bounds/null counts) collect them. A staged write
  * folds one per written file inside its write task, as it writes
  * ([[StagedWrite.parquetWithStats]]), so a commit runs no post-write
  * stats job. The read-back, [[TxnLog.commitStatsFor]], scans files
  * already written and folds one Collector per file in the same way;
  * [[assemble]] builds the [[TxnLog.CommitStats]] of both.
  *
  * The conventions therefore hold by construction: the EmptyRange
  * entry for an all-NULL column, no entry for a zero-row file, the
  * integral-type refusal for declared bound columns and the stats key,
  * integral widening to BIGINT, the auto-NDV expansion over
  * string/integral schema columns, and sign-flipped xxhash64 bottom-k
  * sketches (Spark's own [[XxHash64Function]], seed 42 — the
  * `xxhash64()` SQL function's exact hash). */
object WriterStats {

  /** Refuse, on the driver, a column `c` of `schema` whose values
    * manifest bounds cannot hold: they compare as BIGINT, so declared
    * bound columns, stats keys, merge keys and equality-delete keys
    * must be byte/short/int/long. `what` names the column's role.
    * A BIGINT cast of anything else is a correctness hazard: a
    * TIMESTAMP casts to epoch seconds while pushed literals compare in
    * micros, and a cast that nulls out data would write the
    * [[TxnLog.EmptyRange]] entry, so scans and copy-on-write rewrites
    * would prune files that hold matching rows. */
  def requireIntegral(schema: StructType, what: String, c: String): Unit =
    schema.fields.find(_.name == c).getOrElse(
      sys.error(s"$what `$c` does not exist in the table schema " +
        schema.fieldNames.mkString("[", ", ", "]"))).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => sys.error(
        s"$what `$c` has non-integral type ${other.simpleString}: " +
          "manifest bounds compare as BIGINT, so only " +
          "byte/short/int/long columns may be declared")
    }

  /** The per-column stats plan, resolved and VALIDATED on the driver
    * against the written schema before any task runs — serializable,
    * shipped inside the write closure / writer factory.
    *
    * `ndvCols0` (the declared set) is kept alongside the expanded
    * `ndvCols` because a commit that staged no file still carries an
    * empty map per DECLARED column ([[assemble]]'s zero-file shape). */
  final case class Spec(
      schema: StructType,
      statsKey: Option[String],
      colStatCols: Seq[String],
      ndvCols0: Seq[String],
      ndvCols: Seq[String]) {
    /** Nothing to collect: no task folds anything, and the read-back
      * runs no job. */
    def isEmpty: Boolean =
      statsKey.isEmpty && colStatCols.isEmpty && ndvCols.isEmpty
  }

  /** Build the spec: existence checks, the integral contract for
    * declared bound columns AND the stats key (a non-integral
    * declaration must refuse HERE, before any task creates a file or a
    * bound reaches a manifest), and the auto-NDV expansion (declared ++
    * every string/integral schema column, distinct, sorted) gated on
    * [[TxnLog.NdvAutoConfKey]]. */
  def spec(
      spark: SparkSession, schema: StructType,
      statsKey: Option[String],
      colStatCols: Seq[String],
      ndvCols0: Seq[String], ndvAutoMode: Boolean = true): Spec = {
    colStatCols.foreach(requireIntegral(schema, "colStats column", _))
    statsKey.foreach(requireIntegral(schema, "stats key", _))
    ndvCols0.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"ndv column `$c` does not exist in the table schema " +
          schema.fieldNames.mkString("[", ", ", "]"))
    }
    val ndvCols =
      if (!ndvAutoMode || !TxnLog.ndvAuto(spark)) ndvCols0
      else (ndvCols0 ++ schema.fields.collect {
        case f if TxnLog.ndvAutoEligible(f.dataType) => f.name
      }).distinct.sorted
    Spec(schema, statsKey, colStatCols, ndvCols0, ndvCols)
  }

  /** [[spec]] for the column sets `declared` declares. */
  def specFor(spark: SparkSession, schema: StructType,
      declared: TxnLog.Manifest): Spec = {
    val (key, cols, ndvCols) = declared.declaredSets
    spec(spark, schema, key, cols, ndvCols)
  }

  /** One file's folded stats. `key`/`colBounds` use the manifest's
    * [[TxnLog.EmptyRange]] for an all-NULL column; sketch arrays are
    * the ≤k smallest distinct sign-flipped hashes, sorted ascending.
    * Plain arrays/tuples so the value rides a task result or DSv2
    * commit message unmodified. */
  final case class FileStats(
      key: Option[(Long, Long)],
      colBounds: Array[(Long, Long)],
      ndvNulls: Array[Long],
      ndvSketches: Array[Array[Long]]) {

    /** The stats of the rows of both `this` and `that` — two splits of
      * one file: bounds widen (EmptyRange is the identity), NULL counts
      * add, sketches union and keep the k smallest. */
    def merge(that: FileStats): FileStats = {
      def span(a: (Long, Long), b: (Long, Long)) =
        (math.min(a._1, b._1), math.max(a._2, b._2))
      FileStats(
        key.zip(that.key).map { case (a, b) => span(a, b) },
        colBounds.zip(that.colBounds).map { case (a, b) => span(a, b) },
        ndvNulls.zip(that.ndvNulls).map { case (a, b) => a + b },
        ndvSketches.zip(that.ndvSketches).map { case (a, b) =>
          (a ++ b).distinct.sorted.take(TxnLog.NdvSketchK) })
    }
  }

  /** Per-task, per-file stats folder. NOT thread-safe (one per write
    * task, the task updates it inline with each row it writes). */
  final class Collector(spec: Spec) {
    private val k = TxnLog.NdvSketchK

    /** Integral accessor widened to Long — the value semantics of
      * `cast(col, "bigint")` for byte/short/int/long (exact,
      * order-preserving). */
    private def longReader(ord: Int, dt: DataType): InternalRow => Long =
      dt match {
        case ByteType => r => r.getByte(ord).toLong
        case ShortType => r => r.getShort(ord).toLong
        case IntegerType => r => r.getInt(ord).toLong
        case LongType => r => r.getLong(ord)
        case other => sys.error(
          s"stats bounds need an integral column, got ${other.simpleString}")
      }

    private val keyField = spec.statsKey.map { n =>
      val ord = spec.schema.fieldIndex(n)
      (ord, longReader(ord, spec.schema(ord).dataType))
    }
    private val colFields = spec.colStatCols.map { n =>
      val ord = spec.schema.fieldIndex(n)
      (ord, longReader(ord, spec.schema(ord).dataType))
    }.toArray
    private val ndvFields = spec.ndvCols.map { n =>
      val ord = spec.schema.fieldIndex(n)
      (ord, spec.schema(ord).dataType)
    }.toArray

    // Bounds start AT EmptyRange (MaxValue, MinValue): any observed
    // value tightens both ends, and a column that stays all-NULL
    // yields exactly the explicit EmptyRange entry the manifest
    // convention wants (mn <= mx for any real observation, so the
    // sentinel is unreachable by data).
    private var keyMn = Long.MaxValue
    private var keyMx = Long.MinValue
    private val colMn = Array.fill(colFields.length)(Long.MaxValue)
    private val colMx = Array.fill(colFields.length)(Long.MinValue)
    private val nulls = new Array[Long](ndvFields.length)
    private val sketches =
      Array.fill(ndvFields.length)(mutable.TreeSet.empty[Long])

    def update(row: InternalRow): Unit = {
      keyField.foreach { case (ord, read) =>
        if (!row.isNullAt(ord)) {
          val v = read(row)
          if (v < keyMn) keyMn = v
          if (v > keyMx) keyMx = v
        }
      }
      var i = 0
      while (i < colFields.length) {
        val (ord, read) = colFields(i)
        if (!row.isNullAt(ord)) {
          val v = read(row)
          if (v < colMn(i)) colMn(i) = v
          if (v > colMx(i)) colMx(i) = v
        }
        i += 1
      }
      i = 0
      while (i < ndvFields.length) {
        val (ord, dt) = ndvFields(i)
        if (row.isNullAt(ord)) nulls(i) += 1
        else {
          // Spark's own xxhash64 (seed 42) over the INTERNAL value —
          // bit-identical to the `xxhash64(col)` SQL function —
          // sign-flipped so signed order equals unsigned hash order.
          val h = XxHash64Function.hash(row.get(ord, dt), dt, 42L) ^
            Long.MinValue
          val s = sketches(i)
          // Bottom-k distinct insert; the size-k early reject skips
          // values provably not in the bottom k.
          if (s.size < k) s += h
          else if (h < s.last) {
            s += h
            if (s.size > k) s -= s.last
          }
        }
        i += 1
      }
    }

    def result(): FileStats = FileStats(
      spec.statsKey.map(_ => (keyMn, keyMx)),
      colMn.indices.map(i => (colMn(i), colMx(i))).toArray,
      nulls.clone(),
      sketches.map(_.toArray))
  }

  /** Assemble per-file results into the [[TxnLog.CommitStats]] a
    * commit carries: with no file, an empty map per declared column;
    * maps keyed by the expanded NDV set; no entry for a file absent
    * from `perFile` (a zero-row file folds no row). */
  def assemble(
      spec: Spec,
      perFile: Seq[(String, FileStats)]): TxnLog.CommitStats = {
    if (perFile.isEmpty)
      return TxnLog.CommitStats(Map.empty,
        spec.colStatCols.map(_ -> Map.empty[String, (Long, Long)]).toMap,
        spec.ndvCols0.map(_ -> Map.empty[String, Seq[Long]]).toMap)
    if (spec.isEmpty) return TxnLog.CommitStats.empty
    val key = spec.statsKey.fold(Map.empty[String, (Long, Long)]) { _ =>
      perFile.map { case (rel, fs) => rel -> fs.key.get }.toMap
    }
    val colStats = spec.colStatCols.zipWithIndex.map { case (c, i) =>
      c -> perFile.map { case (rel, fs) => rel -> fs.colBounds(i) }.toMap
    }.toMap
    val ndv = spec.ndvCols.zipWithIndex.map { case (c, i) =>
      c -> perFile.map { case (rel, fs) =>
        rel -> (fs.ndvNulls(i) +: fs.ndvSketches(i).toSeq)
      }.toMap
    }.toMap
    TxnLog.CommitStats(key, colStats, ndv)
  }
}
