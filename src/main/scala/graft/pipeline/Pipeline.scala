package graft.pipeline

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Bronze
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.{Chain, Step, StepResult}
import graft.util.ParquetSchema

/** Medallion pipeline runner — the in-process replacement for the
  * reference's generated Airflow DAG chain (SURVEY.md §2.5,
  * `dag_generator.py:809-1157`): bronze ingest → silver chain → gold
  * chain → sink, one JVM, function composition instead of
  * TriggerDagRunOperator. Layer interchange is Parquet (schema
  * preserving), not the reference's CSV (SURVEY.md §1.3).
  */
object Pipeline {

  /** pipeline_status_machine states (`backend/app/schemas/pipeline.py:24-34`). */
  object Status {
    val Draft = "draft"
    val SchemaDetected = "schema_detected"
    val SchemaConfirmed = "schema_confirmed"
    val BronzeReady = "bronze_ready"
    val SilverConfigured = "silver_configured"
    val GoldConfigured = "gold_configured"
    val GoldReady = "gold_ready"
    val Active = "active"
    val Paused = "paused"
    val Error = "error"
  }

  /** One layer of a run. `outputRows`, `outputFiles` and `outputBytes`
    * describe the layer directory after the write; bronze is an append,
    * so its numbers are the directory's totals across runs. */
  final case class LayerRun(
      layer: String,
      inputRows: Long,
      outputRows: Long,
      outputFiles: Int,
      outputBytes: Long,
      durationMs: Long,
      steps: Seq[StepResult])

  final case class RunResult(
      status: String,
      layers: Seq[LayerRun],
      goldPath: String)

  /** Execute bronze → silver → gold over parquet layer directories.
    *
    * `count_records` semantics: input/output counts per layer
    * (`silver_service.py:80,129`). Each layer's output rows, files and
    * bytes come from the footers of the data files in its directory
    * ([[ParquetSchema.totals]]), read on the driver after the write:
    * no Spark job and no re-scan of the written data. Layer reads take
    * their schema from a footer too ([[Sources.scanParquet]]), so the
    * run adds no job beyond its steps' and the layer writes'.
    */
  def run(
      spark: SparkSession,
      source: DataFrame,
      silverSteps: Seq[Step],
      goldSteps: Seq[Step],
      layerRoot: String,
      pipelineId: String = "p1",
      ingestionDate: Date = Date.valueOf("2026-01-01"),
      ingestionTs: Timestamp = Timestamp.valueOf("2026-01-01 00:00:00")): RunResult = {

    val layers = Seq.newBuilder[LayerRun]

    def timed[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1000000)
    }

    // Bronze: stamp + partitioned append.
    val bronzePath = s"$layerRoot/bronze"
    val (_, bms) = timed {
      Bronze.writeBronze(
        Bronze.metadataStamp(source, ingestionDate, ingestionTs,
          pipelineId, 1),
        bronzePath)
    }
    val bronze = ParquetSchema.totals(spark, bronzePath)
    layers += LayerRun("bronze", bronze.rows, bronze.rows, bronze.files,
      bronze.bytes, bms, Nil)

    // Silver: transform chain over bronze.
    val bronzeDf = Sources.scanParquet(spark, bronzePath)
    val silverPath = s"$layerRoot/silver"
    val (silverOut, sms) = timed {
      val (df, stepResults) = Chain.run(bronzeDf, silverSteps)
      if (stepResults.exists(_.status == "failed"))
        return RunResult(Status.Error, layers.result(), "")
      Sinks.parquetOverwrite(df, silverPath)
      stepResults
    }
    val silver = ParquetSchema.totals(spark, silverPath)
    layers += LayerRun("silver", bronze.rows, silver.rows, silver.files,
      silver.bytes, sms, silverOut)

    // Gold: silver_schema_handoff = gold reads the silver OUTPUT
    // (`spark_utils.py:177-238`), then its own chain.
    val goldPath = s"$layerRoot/gold"
    val silverDf = Sources.scanParquet(spark, silverPath)
    val (goldOut, gms) = timed {
      val (df, stepResults) = Chain.run(silverDf, goldSteps)
      if (stepResults.exists(_.status == "failed"))
        return RunResult(Status.Error, layers.result(), "")
      Sinks.parquetOverwrite(df, goldPath)
      stepResults
    }
    val gold = ParquetSchema.totals(spark, goldPath)
    layers += LayerRun("gold", silver.rows, gold.rows, gold.files,
      gold.bytes, gms, goldOut)

    RunResult(Status.GoldReady, layers.result(), goldPath)
  }

  /** preview_limit — the first `n` rows, the exact row count and the
    * schema listing (`spark_utils.py:245-274`). */
  final case class Preview(
      totalRows: Long,
      rows: Seq[Seq[Any]],
      schema: Seq[(String, String)])

  /** Collects `limit(n)` first; only when the limit fills does a
    * `count()` run for the total, so a table smaller than `n` costs one
    * job and `totalRows` stays exact either way. */
  def preview(df: DataFrame, n: Int = 10): Preview = {
    val rows = df.limit(n).collect().toSeq.map(_.toSeq)
    Preview(
      if (rows.size < n) rows.size else df.count(),
      rows,
      df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString))
  }
}
