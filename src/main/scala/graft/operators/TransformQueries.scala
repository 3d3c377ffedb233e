package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Pipeline
import graft.sources.Sources
import graft.transform.{Chain, SqlTransforms, Step, TransformRegistry}
import graft.types.FieldSpec
import graft.types.LogicalType._

/** Driver-contract queries for the transform-chain / control-plane
  * operators of SURVEY.md §2.3 and §2.5. */
object TransformQueries {

  private def bandExpr = when(col("o_totalprice") < 150000, "low")
    .otherwise("high").as("band")

  /** transform_chain — ordered fold of three steps over orders. */
  def transformChain(spark: SparkSession, dir: String): DataFrame = {
    val steps = Seq(
      Step("filter_open", _.filter(col("o_orderstatus") === "O"), order = 0),
      Step("derive_band", _.withColumn("band", bandExpr), order = 1),
      Step("agg_band",
        _.groupBy("band").agg(count(lit(1)).as("n_orders")), order = 2),
      Step("inactive_never_runs", _.limit(0), order = 3, active = false))
    val (out, results) = Chain.run(Relational.table(spark, dir, "orders"), steps)
    require(results.forall(_.status == "success"))
    out.orderBy("band")
  }

  /** dry_run — execute a SQL-expression step on 10 synthesized rows. */
  def dryRun(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fields = Seq(
      FieldSpec("name", TString, sampleValues = Seq("alice", "bob", "carol")),
      FieldSpec("age", TLong, sampleValues = Seq("30", "40")))
    val step = SqlTransforms.step(spark, "double_age",
      "SELECT name, age * 2 AS doubled FROM __input__")
    val r = Chain.dryRun(spark, step, fields)
    require(r.error.isEmpty, r.error.getOrElse(""))
    r.rows.zipWithIndex
      .map { case (m, i) =>
        (i, m("name").asInstanceOf[String], m("doubled").asInstanceOf[Long]) }
      .toDF("row_id", "name", "doubled")
      .orderBy("row_id")
  }

  /** version_control — confirm/re-confirm/rollback lifecycle. */
  def versionControl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val reg = new TransformRegistry
    reg.confirm("f", identity)
    reg.confirm("g", identity)
    reg.confirm("f", _.limit(1)) // v2 archives v1
    reg.rollback("f", 1)         // reactivate v1
    val rows =
      (reg.history("f") ++ reg.history("g"))
        .map(s => (s.name, s.version, s.active))
    rows.toDF("step_name", "version", "active")
      .orderBy("step_name", "version")
  }

  /** code_validate — static gate over SQL-expression transforms. */
  def codeValidate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cases = Seq(
      "SELECT name FROM __input__",                    // ok
      "INSERT INTO t SELECT * FROM __input__",         // side effect
      "SELECT 1",                                      // no __input__
      "SELECT name FROM __input__ WHERE ((")           // parse error
    cases.zipWithIndex
      .map { case (sql, i) =>
        (i, SqlTransforms.validate(spark, sql).isRight) }
      .toDF("check_idx", "valid")
      .orderBy("check_idx")
  }

  /** preview_limit — limit(n) rows, the exact total (a count only
    * when the limit fills) and the schema listing. */
  def previewLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Pipeline.preview(Relational.table(spark, dir, "customer"), 5)
    Seq((p.totalRows, p.rows.size.toLong, p.schema.size.toLong))
      .toDF("total_rows", "n_preview_rows", "n_cols")
  }

  /** count_records — input/output counts around a chain run. */
  def countRecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val in = Relational.table(spark, dir, "orders")
    val (out, _) = Chain.run(in,
      Seq(Step("open_only", _.filter(col("o_orderstatus") === "O"))))
    Seq((in.count(), out.count())).toDF("input_rows", "output_rows")
  }

  /** pipeline_medallion — full bronze→silver→gold run with SQL-expression
    * steps and parquet layer interchange; returns the gold table. Covers
    * dag_generate (runner), silver_schema_handoff (gold reads the silver
    * output), count_records and the status machine. */
  def pipelineMedallion(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft_medallion").toString
    val silver = Seq(
      SqlTransforms.step(spark, "open_orders",
        """SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM __input__ WHERE o_orderstatus = 'O'""", order = 0),
      SqlTransforms.step(spark, "band",
        """SELECT *, CASE WHEN o_totalprice < 150000 THEN 'low'
           ELSE 'high' END AS band FROM __input__""", order = 1))
    val gold = Seq(
      SqlTransforms.step(spark, "by_band",
        "SELECT band, count(*) AS n_orders FROM __input__ GROUP BY band"))
    val r = Pipeline.run(spark, Relational.table(spark, dir, "orders"),
      silver, gold, root)
    require(r.status == Pipeline.Status.GoldReady, s"status=${r.status}")
    require(r.layers.map(_.layer) == Seq("bronze", "silver", "gold"))
    Sources.scanParquet(spark, r.goldPath).orderBy("band")
  }

  /** pipeline_cs2_sensors — the reference's case study 2 (IoT sensor
    * stream) re-expressed over the events table: silver derives a
    * Fahrenheit→Celsius-style unit conversion and an out-of-range
    * anomaly flag; gold aggregates min/max/avg per (entity, hour) and
    * keeps hours with >3 anomalies (`updated_paper_sections.tex:31-37`). */
  def pipelineCs2Sensors(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft_cs2").toString
    Relational.ensureNanosAsLong(spark)
    val silver = Seq(
      SqlTransforms.step(spark, "derive_celsius",
        """SELECT event_id, event_type, value,
                  (value - 32.0) * 5.0 / 9.0 AS celsius,
                  hour(ts) AS h
           FROM __input__""", order = 0),
      SqlTransforms.step(spark, "flag_anomaly",
        """SELECT *, CASE WHEN celsius < -20.0 OR celsius > 50.0
           THEN 1 ELSE 0 END AS is_anomaly FROM __input__""", order = 1))
    val gold = Seq(
      SqlTransforms.step(spark, "hourly_profile",
        """SELECT event_type, h,
                  count(*) AS n_events,
                  min(celsius) AS min_c,
                  max(celsius) AS max_c,
                  round(avg(celsius), 2) AS avg_c,
                  sum(is_anomaly) AS n_anomalies
           FROM __input__ GROUP BY event_type, h
           HAVING sum(is_anomaly) > 3"""))
    val src = Relational.table(spark, dir, "events")
    val r = Pipeline.run(spark, src, silver, gold, root,
      pipelineId = "cs2")
    require(r.status == Pipeline.Status.GoldReady, s"status=${r.status}")
    Sources.scanParquet(spark, r.goldPath).orderBy("event_type", "h")
  }

  /** pipeline_cs3_editors — the reference's case study 3 (Wikimedia
    * recent changes): silver excludes "bot" actors and derives the
    * hour; gold ranks the top editors per hour with a window function
    * (`updated_paper_sections.tex:43-53`). Bot exclusion maps to the
    * synthetic data as a deterministic actor predicate. */
  def pipelineCs3Editors(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("graft_cs3").toString
    Relational.ensureNanosAsLong(spark)
    val silver = Seq(
      SqlTransforms.step(spark, "exclude_bots",
        """SELECT event_id, user_id, hour(ts) AS h
           FROM __input__
           WHERE NOT endswith(lower(concat('user', user_id)), '0')""",
        order = 0))
    val gold = Seq(
      SqlTransforms.step(spark, "topk_editors",
        """SELECT h, user_id, n_edits, rnk FROM (
             SELECT h, user_id, count(*) AS n_edits,
               CAST(row_number() OVER (PARTITION BY h
                    ORDER BY count(*) DESC, user_id ASC) AS INT) AS rnk
             FROM __input__ GROUP BY h, user_id)
           WHERE rnk <= 5"""))
    val src = Relational.table(spark, dir, "events")
    val r = Pipeline.run(spark, src, silver, gold, root,
      pipelineId = "cs3")
    require(r.status == Pipeline.Status.GoldReady, s"status=${r.status}")
    Sources.scanParquet(spark, r.goldPath).orderBy("h", "rnk")
  }

  /** chain_failure_status — the chain's failure state machine
    * (`silver_service.py:96-127`): the first failing step records its
    * error, every later step is SKIPPED (not run against a broken
    * frame), earlier successes keep their status. The failing step
    * references a missing column, so the failure surfaces at plan
    * construction — before any data moves. */
  def chainFailureStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = Seq(
      Step("ok_filter", _.filter(col("o_orderstatus") === "O"), order = 0),
      Step("boom_missing_col", _.select(col("no_such_column")), order = 1),
      Step("never_runs", _.limit(1), order = 2))
    val (_, results) =
      Chain.run(Relational.table(spark, dir, "orders"), steps)
    results
      .map(r => (r.name, r.order, r.status, r.error.isDefined))
      .toDF("step_name", "ord", "status", "has_error")
      .orderBy("ord")
  }

  /** code_store — the file-persisted audit trail of transform code
    * (reference `code_saver.py`): every lifecycle event (AI draft,
    * dry-run, confirm v1, manual edit, confirm v2, gold confirm,
    * pipeline dump) lands as a slugged, timestamped file under
    * `<project>/<layer>/`. Runs the full scripted lifecycle against a
    * scratch root with a FIXED clock (filenames deterministic for the
    * oracle), validates each step through the same SQL gate the chain
    * uses, and emits the resulting listing. Read-back is asserted
    * in-query so the listing also proves content round-trip. */
  def codeStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = graft.util.Scratch.dir("graft_codestore")
    val store = new graft.transform.CodeStore(root,
      clock = () => java.time.Instant.parse("2026-01-01T00:00:00Z"))
    val project = "Demo Project!"
    val draft = "SELECT *, o_totalprice * 0.9 AS discounted FROM __input__"
    val edited = "SELECT *, round(o_totalprice * 0.9, 2) AS discounted FROM __input__"
    val goldSql = "SELECT count(*) AS n FROM __input__"
    // Validate through the same gate the chain uses before persisting,
    // mirroring the reference flow (generate -> validate -> save).
    Seq(draft, edited, goldSql).foreach { sql =>
      SqlTransforms.step(spark, "gate", sql)
    }
    store.saveAiGenerated(project, "silver", "discount", "Add a discounted price column", draft)
    store.saveDryRun(project, "silver", "discount", draft)
    store.saveConfirmed(project, "silver", "discount", draft, version = 1)
    store.saveManualEdit(project, "silver", "discount", edited)
    store.saveConfirmed(project, "silver", "discount", edited, version = 2)
    store.saveConfirmed(project, "gold", "order_counts", goldSql, version = 1)
    store.savePipeline(project, "silver", Seq(("discount", 2, edited)),
      inPath = "/data/bronze", outPath = "/data/silver")
    val listing = store.list()
    // Content round-trip: the confirmed v2 artifact carries the edited
    // SQL and its header metadata.
    val v2 = listing.collectFirst {
      case (p, l, f) if f.contains("confirmed_v2") => store.read(project, l, f)
    }.getOrElse(sys.error("confirmed_v2 artifact missing"))
    require(v2.contains(edited) && v2.contains("-- Version: 2"), v2)
    listing.toDF("project", "layer", "file_name")
      .orderBy("project", "layer", "file_name")
  }

  /** pipeline_schema_evolution — schema evolution exercised on the
    * WRITE path through the medallion chain (the read-side twin is
    * scan_parquet_evolving): bronze generation 1 lands
    * (o_orderkey, o_totalprice) stamped _schema_version = 1; a later
    * ingest adds a new source field with a field OVERRIDE applied
    * (o_orderpriority renamed to `priority` — the registry's v2
    * schema) and appends into the SAME bronze table. The evolving read
    * (mergeSchema) surfaces v1 rows with the new column null; the
    * transform registry then carries the evolution in code: the silver
    * step's v1 knew nothing of `priority`, its re-confirmed v2
    * normalizes the null generation with a sentinel, and
    * `Chain.run(reg.activeChain)` folds BOTH generations through the
    * active version. Gold aggregates per (band, priority), so a read
    * that dropped either generation, failed to merge footers, or ran
    * the archived v1 step breaks the oracle. */
  def pipelineSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.types.{FieldOverride, FieldSpec}
    import graft.types.LogicalType._
    val bronze = graft.util.Scratch.dir("graft_evolve_write")
      .resolve("bronze").toString
    val orders = Relational.table(spark, dir, "orders")
    val stampD = java.sql.Date.valueOf("2026-01-01")
    def stamp(df: DataFrame, v: Int) = graft.operators.Bronze.metadataStamp(
      df, stampD, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
      "evolve", v)
    // Generation 1: the narrow schema.
    stamp(orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice"), 1)
      .write.mode("append").parquet(bronze)
    // Generation 2: the feed added o_orderpriority; the registry's v2
    // schema renames it via a field override before landing.
    val v2Fields = Seq(FieldSpec("o_orderkey", TLong),
      FieldSpec("o_totalprice", TDouble),
      FieldSpec("o_orderpriority", TString))
    val gen2 = graft.operators.Bronze.applyOverrides(
      orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority"),
      v2Fields,
      Seq(FieldOverride("o_orderpriority", newName = Some("priority"))))
    stamp(gen2, 2).write.mode("append").parquet(bronze)
    // The evolving read: both generations, one frame, v1 rows null.
    val merged = spark.read.option("mergeSchema", "true").parquet(bronze)
    require(merged.schema.fieldNames.contains("priority"),
      "mergeSchema must surface the evolved column")
    // The registry carries the code-side evolution: v2 supersedes v1.
    val reg = new TransformRegistry
    reg.confirm("classify", SqlTransforms.step(spark, "classify",
      """SELECT o_orderkey, o_totalprice,
            CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
              AS band
         FROM __input__""").fn)
    reg.confirm("classify", SqlTransforms.step(spark, "classify",
      """SELECT o_orderkey, o_totalprice, _schema_version,
            CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
              AS band,
            coalesce(priority, '<v1>') AS priority
         FROM __input__""").fn)
    val (silverOut, results) = Chain.run(merged, reg.activeChain)
    require(results.forall(_.status == "success"),
      results.map(r => s"${r.name}:${r.status}").mkString(","))
    silverOut.groupBy("band", "priority")
      // Exact integer cents (r17/r18 discipline): the r18 100x gate
      // caught the double sum here diverging sub-half-cent at ~1e12.
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("bigint"))
          .as("sum_cents"),
        min(col("_schema_version")).as("min_gen"),
        max(col("_schema_version")).as("max_gen"))
      .orderBy("band", "priority")
  }

  /** silver_schema_handoff — gold's input schema is re-read from the
    * silver OUTPUT files, not the declared schema. */
  def silverSchemaHandoff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = graft.util.Scratch.dir("graft_handoff").resolve("s").toString
    val silver = Relational.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") * 2).as("doubled_bal"))
    graft.sinks.Sinks.parquetOverwrite(silver, out)
    val handoff = Sources.scanParquet(spark, out)
    handoff.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString))
      .toDF("column_name", "dtype")
      .orderBy("column_name")
  }
}
