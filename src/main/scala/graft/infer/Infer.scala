package graft.infer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.types.{FieldSpec, LogicalType}
import graft.types.LogicalType._

/** Confidence-scored schema inference — SURVEY.md §2.2.
  *
  * Semantics mirror the reference's pandas heuristics
  * (`backend/app/services/schema_detection.py:172-322`): per-column type
  * voting over a bounded sample — boolean if >95% of non-null values fall
  * in the boolean token set, integer/float if >95% parse (thousands
  * commas stripped), timestamp/date if >80% match the format regexes,
  * else string; all-null columns degrade to string with confidence 0.5.
  *
  * The mechanism is Spark-native instead of pandas: one projection packs
  * each string column's six vote conditions into an int of bit flags,
  * and a collect-limit brings back the first ≤`sampleRows` packed rows
  * in partition order. That is one job with no shuffle: it scans
  * partitions one after another and usually reads only the first. The
  * driver sums the bits into the vote counters.
  */
object Infer {

  val BoolTokens: Seq[String] =
    Seq("true", "false", "yes", "no", "1", "0", "t", "f", "y", "n")

  // Format regexes (reference `schema_detection.py:172-181`).
  private val IntRe = "^[+-]?[0-9]+$"
  // `inf`/`infinity`/`nan` (any case, signed) are accepted because the
  // mirrored reference parses candidates with Python float(), which
  // accepts them.
  private val FloatRe =
    "^[+-]?(([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?|(?i:inf(inity)?|nan))$"
  private val DateRe =
    "^([0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{2}/[0-9]{2}/[0-9]{4}|[0-9]{2}-[0-9]{2}-[0-9]{4})$"
  private val TsRe =
    "^([0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}(:[0-9]{2}(\\.[0-9]+)?)?|[0-9]{2}/[0-9]{2}/[0-9]{4} [0-9]{2}:[0-9]{2}(:[0-9]{2})?)$"

  final case class TypeVotes(
      nonNull: Long, bool: Long, int: Long, float: Long,
      date: Long, ts: Long)

  /** Decide (type, confidence) from vote counters — thresholds 0.95 for
    * bool/numeric, 0.8 for date/time (`schema_detection.py:199-260`). */
  def decide(v: TypeVotes): (LogicalType, Double) = {
    if (v.nonNull == 0) return (TString, 0.5)
    val n = v.nonNull.toDouble
    if (v.bool / n > 0.95) (TBoolean, v.bool / n)
    else if (v.int / n > 0.95) (TLong, v.int / n)
    else if (v.float / n > 0.95) (TDouble, v.float / n)
    else if (v.ts / n > 0.8) (TTimestamp, v.ts / n)
    else if (v.date / n > 0.8) (TDate, v.date / n)
    else (TString, 1.0)
  }

  private def trimmed(c: String) = trim(col(c))
  private def noComma(c: String) = regexp_replace(trimmed(c), ",", "")

  /** Bit flags of one column's votes: bit 0 non-blank, then bool, int,
    * float, date and timestamp; 0 for a null or blank value. */
  private def packedVotes(c: String): Column = {
    val votes = Seq(
      lower(trimmed(c)).isin(BoolTokens: _*),
      noComma(c).rlike(IntRe),
      noComma(c).rlike(FloatRe),
      trimmed(c).rlike(DateRe),
      trimmed(c).rlike(TsRe))
    val bits = votes.zipWithIndex.foldLeft(lit(1)) { case (acc, (v, i)) =>
      acc.bitwiseOR(when(v, 2 << i).otherwise(0))
    }
    when(trimmed(c).isNotNull && trimmed(c) =!= "", bits).otherwise(0).as(c)
  }

  /** Vote counters for every string column in `cols`, over the first
    * ≤`sampleRows` rows of `df` in partition order: one collect-limit
    * job, summed on the driver. */
  def voteCounts(
      df: DataFrame, cols: Seq[String], sampleRows: Int): Map[String, TypeVotes] = {
    if (cols.isEmpty) return Map.empty
    val counts = Array.ofDim[Long](cols.size, 6)
    df.select(cols.map(packedVotes): _*).limit(sampleRows).collect()
      .foreach { r =>
        for (i <- cols.indices; b <- 0 until 6)
          counts(i)(b) += (r.getInt(i) >> b) & 1
      }
    cols.zip(counts).map { case (c, v) =>
      c -> TypeVotes(v(0), v(1), v(2), v(3), v(4), v(5))
    }.toMap
  }

  /** infer_types — full inference over a DataFrame. String columns get
    * the voting heuristic on their first ≤`sampleRows` rows; typed
    * columns keep their Spark type with confidence 1.0. */
  def inferTypes(df: DataFrame, sampleRows: Int = 1000): Seq[FieldSpec] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType)
      .map(_.name).toSeq
    val votes = voteCounts(df, stringCols, sampleRows)
    df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) {
        val (t, conf) = decide(votes(f.name))
        FieldSpec(f.name, t, nullable = true, confidence = conf)
      } else
        FieldSpec(f.name, LogicalType.fromSpark(f.dataType),
          f.nullable, confidence = 1.0)
    }
  }

  /** column_stats — null count, distinct count, numeric min/max and up to
    * 5 sample values per column (`schema_detection.py:263-322`). One
    * aggregate pass for the counters; a tiny limit(5) collect for
    * samples. At full-table scale swap countDistinct for
    * approx_count_distinct. */
  def columnStats(
      df: DataFrame, exact: Boolean = true): Seq[FieldSpec] = {
    val fields = df.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      val isNum = f.dataType.isInstanceOf[NumericType]
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        (if (exact) countDistinct(c) else approx_count_distinct(c))
          .as(s"${f.name}__uniq"),
        (if (isNum) min(c).cast("double") else lit(null).cast("double"))
          .as(s"${f.name}__min"),
        (if (isNum) max(c).cast("double") else lit(null).cast("double"))
          .as(s"${f.name}__max"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val sampleRows = df.limit(5).collect()
    fields.zipWithIndex.map { case (f, i) =>
      val b = i * 4
      val samples = sampleRows.toSeq
        .map(row => Option(row.get(row.fieldIndex(f.name))))
        .collect { case Some(v) => v.toString }
      FieldSpec(
        f.name, LogicalType.fromSpark(f.dataType), f.nullable,
        confidence = 1.0,
        nullCount = if (r.isNullAt(b)) 0L else r.getLong(b),
        uniqueCount = r.getLong(b + 1),
        sampleValues = samples,
        min = if (r.isNullAt(b + 2)) None else Some(r.getDouble(b + 2).toString),
        max = if (r.isNullAt(b + 3)) None else Some(r.getDouble(b + 3).toString))
    }
  }

  /** schema_compat_check — signature (sorted column names) comparison of
    * candidate files against the first file
    * (`schema_detection.py:403-432,527-579`). Footer/header-only reads:
    * cheap even when files are huge. */
  final case class FileCompat(
      path: String, compatible: Boolean, missing: Seq[String],
      extra: Seq[String])

  def compatCheck(
      spark: SparkSession,
      paths: Seq[String],
      read: String => DataFrame): Seq[FileCompat] = {
    if (paths.isEmpty) return Nil
    val refCols = read(paths.head).columns.toSet
    paths.map { p =>
      val cols = read(p).columns.toSet
      FileCompat(p, cols == refCols,
        missing = (refCols -- cols).toSeq.sorted,
        extra = (cols -- refCols).toSeq.sorted)
    }
  }

  /** detect_confidence — round(0.7·avg(field confidence) +
    * 0.3·(compatible files / all files), 3)
    * (`schema_detection.py:584-587`). An empty compat list contributes
    * ratio 0.0, mirroring the reference's file_ratio when no files were
    * checked. */
  def overallConfidence(
      fields: Seq[FieldSpec], compat: Seq[FileCompat]): Double = {
    val avgField =
      if (fields.isEmpty) 0.0
      else fields.map(_.confidence).sum / fields.size
    val ratio =
      if (compat.isEmpty) 0.0
      else compat.count(_.compatible).toDouble / compat.size
    BigDecimal(0.7 * avgField + 0.3 * ratio)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** kafka_schema_sample / api_schema_sample — bounded-sample inference
    * for non-file sources (`schema_detection.py:40-165, 611-772`): cap
    * the rows, stringify every column (stream payloads and API JSON
    * arrive untyped), and run the voting heuristic. The source DataFrame
    * comes from `Streaming.kafkaStream`+`from_json` or
    * `Sources.scanRestApi`. */
  def sampleSourceSchema(
      df: DataFrame, maxRows: Int = 50): Seq[FieldSpec] = {
    val asStrings = df.select(
      df.columns.map(c => col(c).cast(StringType).as(c)).toSeq: _*)
    inferTypes(asStrings, sampleRows = maxRows)
  }

  /** sample_rows_synthesis — fabricate N rows cycling each field's sample
    * values with typed casts; null when a field has no samples
    * (`sandbox.py:78-117`). Used by dry-run. */
  def synthesizeRows(
      spark: SparkSession, fields: Seq[FieldSpec], n: Int = 10): DataFrame = {
    val schema = StructType(fields.map(f => StructField(f.name, f.tpe.spark)))
    def cast(v: String, t: LogicalType): Any = t match {
      case TString    => v
      case TInteger   => v.trim.replace(",", "").toDouble.toInt
      case TLong      => v.trim.replace(",", "").toDouble.toLong
      case TFloat     => v.trim.replace(",", "").toFloat
      case TDouble    => v.trim.replace(",", "").toDouble
      case TBoolean   => Seq("true", "yes", "1", "t", "y")
                           .contains(v.trim.toLowerCase)
      case TTimestamp => java.sql.Timestamp.valueOf(
                           v.trim.replace("T", " ") match {
                             case s if s.length == 16 => s + ":00"
                             case s => s
                           })
      case TDate      => java.sql.Date.valueOf(v.trim)
    }
    val rows = (0 until n).map { i =>
      Row.fromSeq(fields.map { f =>
        if (f.sampleValues.isEmpty) null
        else
          try cast(f.sampleValues(i % f.sampleValues.size), f.tpe)
          catch { case _: Exception => null }
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }
}
