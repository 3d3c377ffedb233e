package graft.operators

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import graft.types.{FieldOverride, FieldSpec}

/** Bronze-layer operators — SURVEY.md §2.1.
  *
  * union_by_name / metadata_stamp / field_override mirror the reference's
  * bronze ingestion (`bronze_ingestion.py:184-196`, override application
  * `bronze_ingestion.py:63-77` + `routers/schemas.py:299-318`), with
  * Parquet (not CSV) interchange as the deliberate divergence documented
  * in SURVEY.md §1.3.
  */
object Bronze {

  /** union_by_name — combine multi-file reads tolerating missing columns
    * (`bronze_ingestion.py:184-187`). */
  def unionByName(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** metadata_stamp — add the four ingestion-metadata columns
    * (`bronze_ingestion.py:190-196`). The date/timestamp are parameters
    * (callers pass now()) so tests and oracle queries stay deterministic. */
  def metadataStamp(
      df: DataFrame,
      ingestionDate: Date,
      ingestionTs: Timestamp,
      pipelineId: String,
      schemaVersion: Int): DataFrame =
    df.withColumn("_ingestion_date", lit(ingestionDate))
      .withColumn("_ingestion_timestamp", lit(ingestionTs))
      .withColumn("_pipeline_id", lit(pipelineId))
      .withColumn("_schema_version", lit(schemaVersion))

  /** field_override — rename / re-type / drop-excluded, applied as one
    * projection so Catalyst sees a plain select (column pruning reaches
    * the scan). */
  def applyOverrides(
      df: DataFrame,
      fields: Seq[FieldSpec],
      overrides: Seq[FieldOverride]): DataFrame = {
    val ovr = overrides.map(o => o.field -> o).toMap
    val cols = fields
      .filterNot(f => ovr.get(f.name).exists(_.exclude))
      .map { f =>
        val o = ovr.get(f.name)
        val typed = o.flatMap(_.newType) match {
          case Some(t) => col(f.name).cast(t.spark)
          case None    => col(f.name)
        }
        typed.as(o.flatMap(_.newName).getOrElse(f.name))
      }
    df.select(cols: _*)
  }

  /** sink_parquet_append_partitioned — bronze sink: append, partitioned by
    * `_ingestion_date` (`bronze_ingestion.py:198-206`; parquet per the
    * Kafka path `dag_generator.py:440-448`). Partitioning by ingestion
    * date keeps per-day reprocessing pruned at 100 TB.
    *
    * Each date lands in one task, so each run writes one well-sized file
    * per date, not one per task and date (tasks × dates tiny files; at
    * scale, millions). A frame stamped with one literal date (as
    * `metadataStamp` does) has one date, so it is written by one task
    * with no shuffle; the source is then read and parsed in that task
    * too. Other frames hash-repartition on the date first, and AQE
    * coalesces small dates together. */
  def writeBronze(df: DataFrame, path: String): Unit = {
    val oneDate = df.queryExecution.optimizedPlan match {
      case Project(list, _) =>
        list.exists { case Alias(e, "_ingestion_date") => e.foldable; case _ => false }
      case _ => false
    }
    (if (oneDate) df.coalesce(1) else df.repartition(col("_ingestion_date")))
      .write
      .mode("append")
      .partitionBy("_ingestion_date")
      .parquet(path)
  }
}
