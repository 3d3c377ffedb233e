package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The relational operator catalog of SURVEY.md §2.4 — the operators the
  * reference demonstrably executes on its open transform surface
  * (`benchmarks/results/updated_paper_sections.tex:13-53`,
  * `backend/app/services/ai_service.py:30-69`), re-expressed as named,
  * parameterized Spark functions over the driver testdata.
  *
  * Scale notes (100 TB): every function here stays fully declarative —
  * filters and projections reach the parquet scan (predicate pushdown /
  * column pruning), small-dimension joins are explicitly `broadcast()`,
  * aggregations use hash partial+final, and window ranking partitions by
  * a bounded key so no single partition explodes.
  */
object Relational {

  /** Set the TIMESTAMP(NANOS) legacy read conf at most ONCE per session
    * (an idempotent guard, not a per-call mutation). It cannot move
    * fully into our session builders because the correctness driver
    * constructs its own SparkSession and calls straight into
    * SparkEntry.queries. */
  def ensureNanosAsLong(spark: SparkSession): Unit =
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize an events-style `ts` column to plain `TimestampType`,
    * keyed on the OBSERVED resolved dataType rather than an assumed
    * parquet physical type. The driver's testdata has shipped the column
    * as TIMESTAMP(NANOS) (resolves to raw Long under the legacy
    * `nanosAsLong` conf) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (resolves to TIMESTAMP_NTZ), and could legally ship
    * TIMESTAMP(MICROS, UTC) (resolves to TimestampType). Any other form
    * fails LOUDLY with the observed type, so a future testdata
    * regeneration yields one clear error instead of silently-shrunk
    * timestamps. The NTZ→LTZ cast is value-preserving here because every
    * session (Verify/specs) pins spark.sql.session.timeZone=UTC. */
  /** File sets whose raw-Long ts magnitude has already been vetted
    * this JVM (the files are immutable testdata). */
  private val tsProbedFiles =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").fold(df) { f =>
      f.dataType match {
        case LongType => // epoch nanos (TIMESTAMP(NANOS) via legacy conf, or a raw long column)
          // Magnitude guard: modern epoch-nanos are ~1.7e18; epoch-micros
          // (~1.7e15) or -millis (~1.7e12) shipped as raw Longs would be
          // silently divided into the 1970s. Fail loudly at read time
          // instead of waiting for a downstream year-range probe. A
          // streaming DataFrame cannot run the probe action (collect on
          // a stream throws); those sources land files this engine
          // itself wrote from already-normalized timestamps, so the
          // batch-side probe has always vetted the same values.
          // The probe is one tiny Spark job, but this path sits under
          // dozens of hot queries (several read the events table more
          // than once) and the files are immutable — so each distinct
          // file set is probed ONCE per JVM. A non-file source (empty
          // inputFiles) still probes every time.
          if (!df.isStreaming) {
            // Cache key carries size+mtime of the first file, not just its
            // path: regenerating testdata IN PLACE (same path, new values)
            // within one JVM must re-probe — the magnitude guard exists
            // precisely to catch that regression. Unresolvable paths
            // (non-local filesystems) fall back to path-only keying.
            val key = df.inputFiles.headOption.map { p =>
              val f = try new java.io.File(new java.net.URI(p))
                      catch { case _: Exception => new java.io.File(p) }
              if (f.isFile) s"$p:${f.length}:${f.lastModified}" else p
            }.getOrElse("")
            if (key.isEmpty || tsProbedFiles.add(key)) {
              val probe = df.select(col("ts")).filter(col("ts").isNotNull)
                .limit(1).collect()
              probe.headOption.map(_.getLong(0)).filter(_ < 100000000000000000L)
                .foreach { v => sys.error(
                  s"events.ts is a raw LONG but value $v is too small for " +
                    "epoch-nanos (expected >= 1e17). The testdata likely ships " +
                    "epoch-micros or -millis now; extend Relational.normalizeTs.")
                }
            }
          }
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df
        case other => sys.error(
          s"events.ts resolved to unhandled type $other — expected epoch-nanos LONG, " +
            "TIMESTAMP_NTZ, or TIMESTAMP. The testdata's parquet physical type has " +
            "changed again; extend Relational.normalizeTs for the new form.")
      }
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Older testdata generations carry `events.ts` as TIMESTAMP(NANOS),
    // which Spark refuses by default (PARQUET_TYPE_ILLEGAL) — the legacy
    // conf reads those as raw nanos Longs; newer generations carry
    // TIMESTAMP(MICROS, NTZ). normalizeTs maps every observed form to one
    // canonical TimestampType column.
    ensureNanosAsLong(spark)
    // No-inference-job read (r22): the schema comes off the first
    // footer driver-side via Spark's own converter under the session
    // conf — this is THE table entry point (~170 call sites), so the
    // per-read inference job it replaces was the single most repeated
    // fixed cost in the engine.
    normalizeTs(graft.util.ParquetSchema.read(
      spark, Seq(s"$dir/$name.parquet")))
  }

  /** filter_predicate — "filter out cancelled flights" (CS1), ns==0 (CS3).
    * Predicate is pushed into the parquet scan. */
  def filterPredicate(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .filter(col("o_orderstatus") =!= "F" && col("o_totalprice") > 1000.0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")

  /** project_columns — column selection / dropping excluded fields. */
  def projectColumns(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** derive_column_arith — °F→°C style arithmetic derivation (CS2):
    * revenue = extendedprice * (1 - discount), charge adds tax. */
  def deriveColumnArith(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // No rounding: the raw IEEE-754 expression (same association order
        // in DuckDB) is bit-identical across engines; round() would
        // introduce half-way tie disagreements instead of removing them.
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("charge"))
      .orderBy("l_orderkey", "l_linenumber")

  /** timestamp_diff — delay minutes via unix_timestamp subtraction (CS1).
    * Here: days between order date and line-item ship date. */
  def timestampDiff(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
    val o = table(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        ((unix_timestamp(col("l_shipdate"))
          - unix_timestamp(col("o_orderdate"))) / 86400.0)
          .cast("long").as("ship_delay_days"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** conditional_case — multi-branch categorization with when/otherwise
    * (CS1 delay_category On-Time/Minor/Moderate/Severe). */
  def conditionalCase(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .when(col("o_totalprice") < 300000, "large")
          .otherwise("jumbo").as("price_band"))
      .groupBy("price_band").agg(count(lit(1)).as("n_orders"))
      .orderBy("price_band")

  /** parse_timestamp — to_timestamp string→timestamp (CS3). Round-trips a
    * formatted string back to a timestamp with an explicit format. */
  def parseTimestamp(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_str"))
      .select(
        col("o_orderkey"),
        to_timestamp(col("o_str"), "yyyy-MM-dd HH:mm:ss").as("o_parsed"))
      .orderBy("o_orderkey")

  /** extract_time_part — hour()/year()/month() extraction (CS2, CS3). */
  def extractTimePart(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .select(
        col("event_id"),
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"),
        hour(col("ts")).as("h"))
      .orderBy("event_id")

  /** string_match_filter — case-insensitive suffix exclusion, the CS3
    * "exclude users ending in bot" pattern. */
  def stringMatchFilter(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "customer")
      .filter(!lower(col("c_name")).endsWith("0")
        && lower(col("c_mktsegment")).rlike("^(building|machinery)$"))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** lookup_join — equi-join fact rows with a small reference table
    * (CS1 routes.csv). The dimension side is explicitly broadcast: at
    * 100 TB the fact side never shuffles for this join. */
  def lookupJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val nat = table(spark, dir, "nation")
    val reg = table(spark, dir, "region")
    cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy("r_name", "n_name")
  }

  /** group_agg_multi — groupBy two keys, min/max/avg over measures + count
    * (CS2 sensor_id×hour aggregation). Hash aggregate with map-side
    * partials; shuffle only carries one row per group. */
  def groupAggMulti(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(col("event_type"), hour(col("ts")).as("h"))
      .agg(
        count(lit(1)).as("n_events"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"),
        round(avg(col("value")), 2).as("avg_value"))
      .orderBy("event_type", "h")

  /** agg_having — post-aggregation filter ("hours with >3 anomalies", CS2).
    * The anomaly predicate is folded into a conditional count. */
  def aggHaving(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(hour(col("ts")).as("h"))
      .agg(sum(when(col("value") > 180.0, 1).otherwise(0)).as("n_anomalies"))
      .filter(col("n_anomalies") > 3)
      .orderBy("h")

  /** window_topk — ranking window, top-K per partition (CS3 top-10 editors
    * per hour). Tie-broken on the id for determinism. */
  def windowTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val counts = table(spark, dir, "events")
      .groupBy(hour(col("ts")).as("h"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("h"))
      .orderBy(col("n_events").desc, col("user_id").asc)
    counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("h", "rank")
  }

  /** type_cast — explicit cast chain (confirm-time new_type overrides). */
  def typeCast(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem")
      .select(
        col("l_orderkey").cast("string").as("orderkey_str"),
        col("l_quantity").cast("int").as("quantity_int"),
        col("l_linenumber").cast("long").as("linenumber_long"),
        col("l_shipdate").cast("date").as("shipdate_date"))
      .orderBy("orderkey_str", "linenumber_long")

  /** udf_enrichment — the reference sanctions external-API enrichment in a
    * scalar UDF (`ai_service.py:48`). Zero-egress here, so the enrichment
    * function is a deterministic stub; the plumbing (scalar UDF in the
    * plan) is real. Flagged as a perf hazard: a UDF breaks codegen, so it
    * is applied after filtering to the minimal column set. */
  def udfEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val enrich = udf { (seg: String) =>
      // Stand-in for an HTTP lookup: deterministic "region code".
      if (seg == null) "UNK" else seg.take(3).toUpperCase
    }
    table(spark, dir, "customer")
      .select(col("c_custkey"), enrich(col("c_mktsegment")).as("seg_code"))
      .orderBy("c_custkey")
  }
}
