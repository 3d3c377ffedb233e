package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators — the Spark-native form of the
  * reference's Kafka micro-batch ingestion (`dag_generator.py:319-506`)
  * plus the event-time capabilities a training-data pipeline needs that
  * the reference lacks (watermarks, windowed aggregation, custom state).
  *
  * Delivery semantics: `Trigger.AvailableNow` + a checkpoint directory
  * reproduces the reference's "consume everything since the last
  * committed offset, commit only after a successful write" loop —
  * the checkpoint is the offset store, commit happens post-sink,
  * exactly-once into the bronze table.
  */
object Streaming {

  /** Stop the JVM-global state-store machinery: unload every loaded
    * provider and stop the maintenance thread. Streaming queries
    * leave their providers LOADED after `query.stop()` (unloading is
    * maintenance's job, lazily) — so a maintenance tick that fires
    * after `SparkSession.stop()` logs
    * `ERROR StateStore: ... SparkEnv not active, cannot do
    * maintenance` with a full stack trace. Benign (post-run), but an
    * ERROR in a clean run's log is noise that masks real ones and,
    * concretely, ate the driver's bounded stdout tail capture of the
    * r19 bench totals. Call this before stopping a session that ran
    * streaming queries. Idempotent; the machinery self-restarts if a
    * new streaming query starts later. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Bloom sizing floor for the streaming dedup index short-circuit
    * (TOTAL across shards — each of the nBuckets shards gets its
    * 1/nBuckets cut). The sketches are sized to the COUNTED index rows
    * at rebuild (×2 headroom for within-run appends), never below this
    * floor — a fixed capacity would be oversaturated the moment
    * engagement triggers, running at far worse than the design fpp.
    * False positives only cost a wasted exact probe. */
  private val BloomMinCapacity = 500000L
  private val BloomFpp = 0.03

  /** Cost-based switch for the bloom short-circuit (same idea as
    * Spark's broadcast threshold): below this many indexed digests the
    * anti-join is cheaper than the per-batch sketch upkeep, so the
    * bloom stays disengaged; above it, skipping the join on
    * bloom-negative rows wins. Fixture-scale runs sit far below the
    * default. `private[graft] var` so the spec can force engagement. */
  @volatile private[graft] var BloomMinIndexRows: Long = 1000000L

  /** Spec hook: when enabled, each bloom-split batch runs one extra
    * census aggregate and accumulates (bloom-negative rows that
    * bypassed the anti-join, might-contain rows that took it) into
    * [[lastBloomSplit]]. Off by default — the census is observability
    * for the spec, not part of the query, and must not cost the
    * production path a per-batch job. */
  @volatile private[graft] var bloomCensusEnabled: Boolean = false
  @volatile private[graft] var lastBloomSplit: (Long, Long) = (0L, 0L)

  /** Events-table stream source. A file stream needs a user-supplied
    * schema BEFORE the query starts; deriving it from the footers of the
    * files actually present (one batch read of the same directory) means
    * the source tracks whatever physical `ts` form the fixture carries —
    * nanos-Long, TIMESTAMP_NTZ micros, or TIMESTAMP — instead of baking
    * one generation's shape into a hard-coded StructType. normalizeTs
    * then canonicalizes `ts` to TimestampType exactly as the batch path
    * does, so stream and batch oracle agree by construction.
    *
    * PRECONDITION the hard-coded schema did not have: at least one file
    * must already be in `srcDir` when the stream is DEFINED (the batch
    * read infers from it — an empty dir throws UNABLE_TO_INFER_SCHEMA).
    * Every caller lands its first file before calling this; a source
    * that genuinely starts empty should pass an explicit schema via
    * `spark.readStream.schema(...)` instead. */
  def eventsStream(
      spark: SparkSession, srcDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    graft.operators.Relational.ensureNanosAsLong(spark)
    // Schema off the first footer driver-side (r22): the old batch
    // read's schema-inference Spark job was pure fixed cost on every
    // stream BUILD — and stream fixtures build 2+ streams per query.
    val observed = graft.util.ParquetSchema.footerSchema(spark, srcDir)
      .getOrElse(spark.read.parquet(srcDir).schema)
    val reader = options.foldLeft(spark.readStream.schema(observed)) {
      case (r, (k, v)) => r.option(k, v)
    }
    graft.operators.Relational.normalizeTs(reader.parquet(srcDir))
  }

  /** scan_kafka_batch core — run a streaming DataFrame to completion
    * (AvailableNow) into an in-memory table and return its contents.
    * `outputMode` must match the aggregation shape.
    *
    * `statePartitions` pins the number of state-store instances for the
    * life of the checkpoint (stateful operators read
    * `spark.sql.shuffle.partitions` at FIRST batch and keep it). Every
    * state store pays a per-commit cost each micro-batch, so the count
    * should track stream volume, not the session's batch shuffle width:
    * measured here, a stream-stream join over the bench data runs 2-3×
    * faster at 8 stores than at 32. A large cluster deployment passes a
    * cores-proportional value instead. The conf is set scoped — saved
    * and restored around the run — never left mutated on the session. */
  /** Fully-qualified class name of Spark's RocksDB state store provider
    * (ships in spark-sql + rocksdbjni — no extra dependency). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Scale-adaptive state partitioning (r21, guide §2.4/§2.2): AQE
    * cannot coalesce stateful streaming shuffles (it is disabled in
    * stateful workloads), so the state-store instance count is pinned
    * at first batch to whatever `spark.sql.shuffle.partitions`
    * happens to be — and every store pays an open/commit cycle per
    * micro-batch whether it holds state or not. Measured on the bench
    * host: a 2-row AvailableNow stateful agg spends 719-1016 ms in
    * addBatch at 32 store partitions vs 333-431 ms at 1-4. Derive the
    * count from the SOURCE BYTES instead — one state partition per
    * `spark.graft.stream.stateBytesPerPartition` (default 16 MB) of
    * source data, clamped to [1, spark.sql.shuffle.partitions] — the
    * AQE-for-state discipline, not a local constant: at production
    * volumes the derivation saturates at the cluster's configured
    * shuffle width, and the per-checkpoint pin keeps resumed runs on
    * the first run's value exactly as before. */
  def adaptiveStatePartitions(spark: SparkSession, srcDir: String): Int = {
    val target = spark.conf.getOption(
      "spark.graft.stream.stateBytesPerPartition")
      .map(_.trim.toLong).getOrElse(16L << 20)
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Unknown size: return the cap DIRECTLY (ADVICE r21 — the old
    // Long.MaxValue sentinel overflowed `bytes + target - 1` to a
    // negative value, so the clamp yielded 1 state partition, the
    // opposite of the documented intent, and the wrong value got
    // pinned into the checkpoint).
    val bytes =
      try graft.util.FsWalk.files(srcDir).map(_.length()).sum
      catch { case _: Exception => return cap }
    math.max(1, math.min(cap.toLong,
      (bytes + target - 1) / math.max(target, 1L)).toInt)
  }

  def runAvailableNow(
      df: DataFrame, checkpoint: String,
      outputMode: String = "complete",
      statePartitions: Option[Int] = None,
      stateProvider: Option[String] = None,
      noDataBatches: Option[Boolean] = None): DataFrame = {
    val spark = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    val prevProvider = spark.conf.getOption(providerKey)
    val prevNoData = spark.conf.getOption(noDataKey)
    val table = "mb_" + java.util.UUID.randomUUID.toString.replace("-", "")
    statePartitions.foreach(n => spark.conf.set(key, n.toString))
    // Scoped like the others. Needed because TimeMode.ProcessingTime's
    // shouldRunAnotherBatch is unconditionally true (processing time
    // always advances), so AvailableNow + no-data batches = an
    // infinite watermark-batch loop (measured: the TTL query never
    // terminated). A query that needs nothing from no-data batches
    // turns them off; event-time queries MUST leave them on (the
    // watermark-advance batch is what fires timers / closes windows).
    noDataBatches.foreach(b => spark.conf.set(noDataKey, b.toString))
    // Scoped like statePartitions: the provider class is ALSO pinned
    // into the checkpoint at first batch. The default HDFS-backed
    // provider keeps every store's working set on the executor heap —
    // fine for bounded fixtures, a ceiling for 100 TB-scale keyed
    // state (large dedup indexes, wide session maps), where the
    // RocksDB provider ([[RocksDbProvider]]) spills state to local SST
    // files and bounds memory per store.
    stateProvider.foreach(p => spark.conf.set(providerKey, p))
    try {
      val q = df.writeStream
        .outputMode(outputMode)
        .format("memory").queryName(table)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      statePartitions.foreach(_ => spark.conf.set(key, prev))
      stateProvider.foreach { _ =>
        prevProvider match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None => spark.conf.unset(providerKey)
        }
      }
      noDataBatches.foreach { _ =>
        prevNoData match {
          case Some(p) => spark.conf.set(noDataKey, p)
          case None => spark.conf.unset(noDataKey)
        }
      }
    }
    // Materialize the sink contents, then DROP the memory-sink temp
    // view: without this, every micro-batch run leaves a mb_* catalog
    // entry (and its rows) behind for the life of the session.
    try spark.table(table).localCheckpoint(true)
    finally spark.catalog.dropTempView(table)
  }

  /** The Kafka path proper (untestable here — no broker/connector in the
    * environment; same mechanics as the parquet-source variant above).
    * `maxOffsetsPerTrigger` is the reference's max_messages cap. */
  def kafkaStream(
      spark: SparkSession, bootstrap: String, topic: String,
      maxOffsetsPerTrigger: Long = 100000): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()
      // The reference's Kafka metadata columns (dag_generator.py:400-406).
      .select(
        col("topic").as("_kafka_topic"),
        col("partition").as("_kafka_partition"),
        col("offset").as("_kafka_offset"),
        col("timestamp").as("_kafka_timestamp"),
        current_timestamp().as("_kafka_ingested_at"),
        col("value").cast("string").as("payload"))

  /** Event-time tumbling-window aggregation with a watermark: late rows
    * beyond the watermark are dropped, state is bounded — the piece that
    * makes 100 TB/day streams tractable. */
  def windowedCounts(
      events: DataFrame, watermark: String = "1 hour",
      window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // Exact integer cents (r17 exact-cents discipline): stateful
        // sums accumulate in arrival order across micro-batches, so
        // only an integer sum is reproducible at any magnitude.
        sum(round(col("value") * 100).cast("bigint")).as("sum_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_cents"))

  /** Event-time SESSION windows (dynamic-gap windowing): a user's
    * session extends while events arrive within `gap` of the previous
    * one; the watermark closes sessions and evicts their state. The
    * native `session_window` merges per-key overlapping windows inside
    * the aggregation — no self-join, no driver logic. */
  def sessionCounts(
      events: DataFrame, watermark: String = "1 hour",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("user_id"), col("n_events"))

  /** stream_session_window driver query — run the session aggregation
    * to completion; final sessions equal the batch gaps-and-islands
    * computation, which is the oracle. */
  def sessionWindowQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_swin")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    runAvailableNow(
      sessionCounts(eventsStream(spark, srcDir.toString)),
      base.resolve("ckpt").toString, statePartitions = Some(8))
      .orderBy("user_id", "session_start")
  }

  final case class UserEvent(user_id: Long, event_type: String)
  final case class UserSession(user_id: Long, n_events: Long, n_purchases: Long)

  /** Custom per-key state via mapGroupsWithState: running per-user event
    * and purchase counters (the KeyValueGroupedDataset stateful path the
    * reference has no equivalent for). */
  def userCounters(events: Dataset[UserEvent]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserSession, UserSession](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent], st: GroupState[UserSession]) =>
          val prev = st.getOption.getOrElse(UserSession(uid, 0L, 0L))
          var n = prev.n_events
          var p = prev.n_purchases
          rows.foreach { e =>
            n += 1
            if (e.event_type == "purchase") p += 1
          }
          val cur = UserSession(uid, n, p)
          st.update(cur)
          cur
      }
  }

  /** stream_dedup — exact deduplication ON THE STREAM: the source dir
    * carries every event twice (two copies of the file, the redelivery
    * an at-least-once transport produces), and
    * `dropDuplicatesWithinWatermark` drops the replays while the
    * watermark bounds the dedup state — the property that makes exact
    * stream dedup tractable on an unbounded 100 TB/day feed, where an
    * unwatermarked dropDuplicates would grow state forever. The result
    * must equal the batch aggregate over the SINGLE-copy table, which is
    * the oracle. */
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_sdedup")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events_a.parquet"))
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events_b.parquet"))
    val deduped = eventsStream(spark, srcDir.toString)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    runAvailableNow(deduped, base.resolve("ckpt").toString,
        outputMode = "append", statePartitions = Some(8))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("sum_cents"))
      .orderBy("event_type")
  }

  /** stream_curation — the curation chain AS A STREAM: documents arrive
    * as files (the crawl-drop pattern: each fetch lands a parquet file;
    * `maxFilesPerTrigger` would cap batch size on a real feed), pass
    * the quality gate (same predicates as the batch funnel), and
    * exact-dedup on a (lang, digest) key — `dropDuplicates` state keyed
    * by digest, the streaming twin of the batch anti-join. The source
    * injects every document TWICE (two file copies), so the dedup
    * state is genuinely exercised: the final per-language counts must
    * collapse back to the batch answer over distinct texts, which is
    * the oracle. On an unbounded feed the dedup key would carry an
    * ingest-time watermark (`dropDuplicatesWithinWatermark`) to bound
    * state, as stream_dedup demonstrates; here the run is bounded by
    * AvailableNow, so plain dropDuplicates keeps exact cross-batch
    * semantics. */
  def streamCurationQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_scur")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/documents.parquet"),
      srcDir.resolve("documents_a.parquet"))
    Files.copy(Paths.get(s"$dir/documents.parquet"),
      srcDir.resolve("documents_b.parquet"))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val ws = graft.operators.TextOps.tokens(col("text"))
    val (nTok, pass) = graft.operators.Curation.qualityGate(ws)
    val curated = spark.readStream.schema(schema)
      .parquet(srcDir.toString)
      .withColumn("n_tok", nTok)
      .filter(pass)
      .withColumn("digest", sha2(col("text").cast("binary"), 256))
      .dropDuplicates("lang", "digest")
    runAvailableNow(curated, base.resolve("ckpt").toString,
        outputMode = "append", statePartitions = Some(8))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("bigint").as("sum_tokens"))
      .orderBy("lang")
  }

  /** stream_incremental_dedup — recurring corpus ingest as a stream
    * probing a PERSISTED digest index. The state-store dedup the other
    * streaming queries use (`dropDuplicates*`) keeps its key set INSIDE
    * the checkpoint: right for bounded/watermarked keys, wrong for a
    * corpus-scale digest set — at 10^10 documents the store would hold
    * the whole corpus's hashes in executor state and reload them on
    * every restart. Here the digest set lives where the corpus lives
    * (a parquet index, the streaming twin of `Dedup.incrementalDedup`'s
    * on-disk LSH sibling): each micro-batch collapses to first-per-
    * digest within itself, anti-joins the persisted index, appends its
    * survivors to the output AND their digests to the index. Per batch
    * that is O(batch) new work against an equi-join whose right side
    * scans digests, never documents.
    *
    * The index is a digest-BUCKETED catalog table, not plain parquet:
    * the per-batch anti-join consumes the bucket layout, so the
    * corpus-sized stored side NEVER re-shuffles — only the O(batch)
    * probe side hashes into the bucket partitioning (the same
    * write-once-join-forever trade as `Skew.writeBucketed`, asserted
    * in the spec). `nBuckets` is a PARAMETER sized to the corpus at
    * index creation (bucket count is fixed for a table's lifetime):
    * it caps both the stored side's join parallelism and the per-shard
    * bloom size, so size it for ~10^8 digests per bucket at the design
    * corpus — e.g. 128 buckets for 10^10 documents — rather than
    * accepting the fixture-scale default of 8.
    *
    * A driver-held set of PER-BUCKET Bloom filters over the indexed
    * digests short-circuits the join: bloom-NEGATIVE batch rows are
    * definitely new and bypass the anti-join entirely; only the
    * might-contain subset (true dups + fpp false positives) probes the
    * index, so a mostly-novel feed pays the join on a sliver of each
    * batch. The sketch is SHARDED along the index's own bucket law
    * (`pmod(hash(digest), nBuckets)` — the same Murmur3 law
    * `bucketBy` applies), one bloom per bucket, and each batch row is
    * probed against ONLY its bucket's shard
    * ([[graft.functions.BucketedBloomMightContain]], codegen'd): this
    * is what keeps the short-circuit viable past the point one sketch
    * saturates — total capacity scales with nBuckets, each shard stays
    * bounded, and at extreme corpus sizes shards can rebuild/refresh
    * per bucket instead of as one monolith. All shards are REBUILT
    * from the index at every stream start in ONE distributed aggregate
    * (`BloomFilterAggregate` grouped by bucket id — partial aggregation
    * means only sketch bytes ever shuffle) rather than persisted — a
    * persisted sketch can lag the index after a crash between the two
    * writes, and a stale bloom turns "definitely new" into silent
    * duplicates; rebuilt-at-start, the shards are exact w.r.t. the
    * index by construction, and a false positive only costs a wasted
    * exact probe, never a wrong answer. Within a run each batch's
    * survivor shards are built distributed the same way and OR-merged
    * into the driver copies (sketch-sized transfer, same shape as
    * `Packing.hllStoreQuery`'s mergeable HLLs). Engagement is
    * COST-BASED ([[BloomMinIndexRows]], the same idea as Spark's
    * broadcast threshold): below it the anti-join is cheaper than
    * sketch upkeep and the blooms stay off — fixture-scale runs take
    * the plain path; the spec forces engagement to pin the split.
    *
    * Restart safety: the checkpoint's offset log decides which FILES
    * re-enter; a replayed batch re-probes the index, so its
    * already-indexed digests drop out and the append is idempotent.
    * The output-then-index write order means a crash BETWEEN the two
    * appends replays survivors whose digests are absent from the index
    * — duplicate output rows, never lost ones; production closes that
    * window by committing both appends in one table-format transaction
    * (the stream side is unchanged). Run 2 below restarts the query on
    * the same checkpoint after new files land, and must emit only the
    * genuinely-new texts.
    *
    * The oracle replays the feed in SQL: run 1 lands the even-id half
    * (first-per-text by min doc_id), run 2 lands a re-keyed FULL copy
    * (survivors = texts absent from the even half, re-keyed by
    * [[graft.operators.Dedup.ReKeyOffset]]). */
  def streamIncrementalDedupQuery(spark: SparkSession, dir: String,
      nBuckets: Int = 8): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val base = graft.util.Scratch.dir("graft_sincrdedup")
    val srcDir = base.resolve("in")
    val idxPath = base.resolve("digest_index").toString
    // The catalog name is derived from the per-invocation scratch dir:
    // two overlapping invocations (or a retry racing a hung stream)
    // must not share — or drop — each other's index table.
    val idxTable = "graft_sincr_" +
      base.getFileName.toString.toLowerCase.replaceAll("[^a-z0-9]", "")
    val outPath = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    val docsAll = graft.operators.Relational.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    import org.apache.spark.util.sketch.BloomFilter
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // The shard a digest belongs to — `functions.hash` IS the Murmur3
    // law (seed 42) HashPartitioning gives bucketBy, so the bloom
    // shards align 1:1 with the index's bucket files.
    def bucketId(c: org.apache.spark.sql.Column) = pmod(hash(c), lit(nBuckets))
    // One distributed aggregate → one (bucket, serialized bloom) row
    // per NON-EMPTY bucket. BloomFilterAggregate partial-aggregates
    // map-side, so the shuffle carries at most nBuckets sketches per
    // task, never digests; its serialized form is the sketch library's
    // own (`BloomFilter.readFrom`-compatible, the same bytes
    // `BloomFilterMightContain` probes).
    def buildShards(df: DataFrame, est: Long, bits: Long): Map[Int, BloomFilter] =
      df.groupBy(bucketId(col("digest")).as("_bkt"))
        .agg(ColumnBridge.column(new BloomFilterAggregate(
            ColumnBridge.expression(xxhash64(col("digest"))),
            Literal(est), Literal(bits)).toAggregateExpression()).as("_bf"))
        .collect()
        .map(r => r.getInt(0) ->
          graft.functions.BucketedBloomMightContain.read(
            r.getAs[Array[Byte]](1)))
        .toMap
    var blooms: Option[Array[BloomFilter]] = None
    // Shard capacity/bits are fixed at rebuild time and shared with
    // every per-batch add: mergeInPlace requires identical bit size
    // and hash count, which follow from (capacity, numBits).
    var shardCapacity: Long = BloomMinCapacity
    var shardBits: Long = BloomFilter.optimalNumOfBits(shardCapacity, BloomFpp)
    lastBloomSplit = (0L, 0L)
    def dedupBatch(b: DataFrame): Unit = {
      val ss = b.sparkSession
      val firstPerDigest = b
        .withColumn("digest", sha2(col("text").cast("binary"), 256))
        .groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
      val survivors = ((blooms, ss.catalog.tableExists(idxTable)) match {
        case (Some(shards), true) =>
          // The probe selects each row's OWN shard by bucket id and
          // tests only that bloom — a codegen'd native expression, no
          // UDF in the hot path, branch count independent of nBuckets.
          // Keyed by xxhash64 of the digest because the sketch stores
          // longs; a 64-bit collision is just a false positive →
          // wasted exact probe.
          val maybeCol = graft.functions.BucketedBloomMightContain(
            shards, bucketId(col("digest")), xxhash64(col("digest")))
          val probed = firstPerDigest.withColumn("_maybe", maybeCol)
            .localCheckpoint(true) // one bloom probe feeds both branches
          if (bloomCensusEnabled) {
            val sr = probed.agg(
              count(when(!col("_maybe"), 1)).as("n_new"),
              count(when(col("_maybe"), 1)).as("n_maybe")).head()
            lastBloomSplit = (lastBloomSplit._1 + sr.getLong(0),
              lastBloomSplit._2 + sr.getLong(1))
          }
          val checked = probed.filter(col("_maybe"))
            .join(ss.table(idxTable), Seq("digest"), "left_anti")
          probed.filter(!col("_maybe")).unionByName(checked).drop("_maybe")
        case (None, true) =>
          firstPerDigest.join(ss.table(idxTable), Seq("digest"), "left_anti")
        case _ => firstPerDigest
      }).localCheckpoint(true) // one probe, two appends
      survivors.select("doc_id").write.mode("append").parquet(outPath)
      val idxWrite = survivors.select("digest").write.mode("append")
        .bucketBy(nBuckets, "digest").sortBy("digest").format("parquet")
      if (ss.catalog.tableExists(idxTable)) idxWrite.saveAsTable(idxTable)
      else idxWrite.option("path", idxPath).saveAsTable(idxTable)
      // Fold the appended digests into the driver shards (engaged runs
      // only): the add-sketches are built DISTRIBUTED over the
      // (checkpointed) survivors, bucket by bucket; only bloom bytes
      // cross for the OR-merge, and each add merges into its own
      // shard — same (capacity, bits), so mergeInPlace is compatible.
      blooms.foreach { shards =>
        buildShards(survivors, shardCapacity, shardBits).foreach {
          case (i, add) => shards(i).mergeInPlace(add)
        }
      }
    }
    def run(): Unit = {
      // Sync the shards to the index ON DISK (not the previous run's
      // in-memory copies): after a crash-and-replay the index is the
      // only truth, and "definitely new" must be exact w.r.t. it. The
      // engagement check is a parquet-metadata count — no data scan.
      blooms = if (spark.catalog.tableExists(idxTable)) {
        val indexRows = spark.table(idxTable).count()
        if (indexRows >= BloomMinIndexRows) {
          // Size to the data, not a constant: a bloom built at a fixed
          // capacity is oversaturated (fpp >> design) the moment the
          // cost gate lets it engage. 2× headroom absorbs this run's
          // own appends without re-sizing mid-run; each shard takes
          // its 1/nBuckets cut (hash-uniform digests split evenly).
          shardCapacity = math.max(
            indexRows * 2 / nBuckets,
            math.max(BloomMinCapacity / nBuckets, 64L))
          shardBits = BloomFilter.optimalNumOfBits(shardCapacity, BloomFpp)
          val built =
            buildShards(spark.table(idxTable), shardCapacity, shardBits)
          // Empty buckets get fresh empty shards with the SAME sizing,
          // so probes return false ("definitely new" — nothing indexed
          // there) and later adds merge compatibly.
          Some(Array.tabulate(nBuckets)(i =>
            built.getOrElse(i, BloomFilter.create(shardCapacity, shardBits))))
        } else None
      } else None
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream
        .outputMode("append")
        .foreachBatch((b: DataFrame, _: Long) => dedupBatch(b))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    try {
      // Run 1: the even-id half of the corpus has arrived.
      landSingleFile(docsAll.filter(col("doc_id") % 2 === 0),
        base, srcDir, "a.parquet")
      run()
      // Run 2 (fresh query, same checkpoint): a re-keyed copy of the
      // FULL corpus lands — every even-half text is a cross-run
      // duplicate the index must drop; odd-only texts are genuinely
      // new and survive.
      landSingleFile(docsAll.withColumn("doc_id",
          graft.operators.Dedup.pinnedDocId(col("doc_id"))
            + graft.operators.Dedup.ReKeyOffset),
        base, srcDir, "b.parquet")
      run()
    } finally {
      // Per-invocation scratch: the catalog entry must not outlive the
      // query, even on failure. The output below reads only the outPath
      // parquet, which never depended on the table.
      spark.sql(s"DROP TABLE IF EXISTS $idxTable")
    }
    spark.read.parquet(outPath).orderBy("doc_id")
  }

  /** Watermarked stream-stream interval join: purchases within
    * `horizon` AFTER an error by the same user (error→conversion
    * attribution). Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark can expire join state — the
    * difference between bounded memory and state that grows with the
    * full history of both streams on an unbounded feed. Inner join in
    * append mode: rows emit once both watermarks pass the match window. */
  def errorPurchaseJoin(
      errors: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour", horizon: String = "30 minutes")
      : DataFrame = {
    val e = errors
      .select(col("user_id"), col("event_id").as("error_id"),
        col("ts").as("ets"))
      .withWatermark("ets", watermark)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermark)
    e.join(p, expr(
      s"user_id = p_user_id AND pts >= ets AND pts <= ets + interval $horizon"))
  }

  /** stream_join driver query — run the attribution join to completion
    * over two stream sources reading the same events table; the final
    * per-user pair counts equal the batch interval join, which is the
    * oracle. */
  def streamJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_sjoin")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val errors = eventsStream(spark, srcDir.toString)
      .filter(col("event_type") === "error")
    val purchases = eventsStream(spark, srcDir.toString)
      .filter(col("event_type") === "purchase")
    runAvailableNow(errorPurchaseJoin(errors, purchases),
        base.resolve("ckpt").toString, outputMode = "append",
        statePartitions = Some(8))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** stream_join_dedup — the HOT-KEY GUARD for the stream-stream
    * interval join (r19, the 100x pin-stress finding made an
    * operator): Spark's symmetric hash join scans ALL state rows for
    * a key on every same-key input, so a key duplicated m-fold costs
    * m² state-scan work AND emits m² pairs — at the 100x composite
    * (every event 100-fold, identical timestamps) the raw
    * stream_join ran 10+ minutes producing 10^4x pairs, all exact
    * but mostly duplicates of the same (user, error-ts, purchase-ts)
    * attribution fact. Real corpora do have hot keys (bot users,
    * replayed feeds), so the guarded variant collapses exact
    * duplicate events per side with `dropDuplicatesWithinWatermark`
    * BEFORE the join (two bounded dedup state stores feeding the
    * join — the multiple-stateful-operator pipeline Spark 4
    * supports): per-key state multiplicity and output return to the
    * DISTINCT-event cardinality whatever the duplication factor, and
    * the result is the distinct-pair attribution count — measured at
    * the 100x composite, minutes collapse back to seconds with the
    * answer equal to the 1x distinct answer. */
  def streamJoinDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_sjdedup")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val errors = eventsStream(spark, srcDir.toString)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("ets"))
      .withWatermark("ets", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "ets")
    val purchases = eventsStream(spark, srcDir.toString)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("pts"))
      .withWatermark("pts", "1 hour")
      .dropDuplicatesWithinWatermark("p_user_id", "pts")
    val joined = errors.join(purchases, expr(
      "user_id = p_user_id AND pts >= ets AND " +
        "pts <= ets + interval 30 minutes"))
    runAvailableNow(joined, base.resolve("ckpt").toString,
        outputMode = "append", statePartitions = Some(8))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** stream_resume — exactly-once across a RESTART: run an aggregation
    * to completion over file A with a checkpoint, then land file B in
    * the source dir and run a SECOND streaming query against the SAME
    * checkpoint. The checkpoint's offset log makes run 2 process only
    * the new file, yet the final state equals the batch aggregate over
    * A ∪ B — the reference's "commit offsets only after a successful
    * write" loop (`dag_generator.py:414-454`), surviving process death.
    * Rows double-counted on resume, or file B missed, would both break
    * the oracle equality. */
  /** Land a DataFrame as ONE plain parquet file in a stream-source dir
    * (the file source lists files, not subdirectories — a
    * directory-shaped df.write output would be invisible to it). */
  private def landSingleFile(
      df: DataFrame, tmpBase: java.nio.file.Path,
      srcDir: java.nio.file.Path, name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val tmp = tmpBase.resolve(name + "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      finally listing.close()
    Files.move(part, srcDir.resolve(name))
  }

  /** The events table re-encoded for the stream source (`ts`
    * deliberately as raw epoch-nanos Long, so the landed files exercise
    * normalizeTs's nanos path regardless of the fixture's own physical
    * form), restricted to one event_id parity — the "half a feed has
    * arrived" fixture for restart tests. */
  private def eventsHalf(
      spark: SparkSession, dir: String, parity: Int): DataFrame =
    graft.operators.Relational.table(spark, dir, "events")
      .filter(col("event_id") % 2 === parity)
      .select(col("event_id"), (unix_micros(col("ts")) * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  /** BOTH [[eventsHalf]] parity slices staged in ONE job (r22, the
    * writeSlices discipline — the restart fixtures used to run one
    * filtered full scan + write per half): tag the parity, one
    * partitionBy write, and hand back a MOVER. A half "arrives" in
    * the source dir when the caller invokes the mover — exactly the
    * rename [[landSingleFile]] always ended with, so arrival-time
    * semantics (file B lands only after run 1's checkpoint commits)
    * are untouched; only the up-front staging collapsed to one pass.
    * Every landed file, staged or fallback, gets a strictly increasing
    * mtime from one counter over `clock`, so the file source's arrival
    * order stays the caller's move order even when two moves share a
    * clock tick or the clock steps back. An empty slice (no dir
    * written) falls back to the old filtered single-file write,
    * preserving the zero-row-file layout. */
  private[graft] def stageEventHalves(
      spark: SparkSession, dir: String, tmpBase: java.nio.file.Path,
      clock: () => Long): (Int, java.nio.file.Path, String) => Unit = {
    import scala.jdk.CollectionConverters._
    val stage = tmpBase.resolve("halves_stage")
    graft.operators.Relational.table(spark, dir, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"),
        (col("event_id") % 2).cast("int").as("__p"))
      .repartition(2, col("__p"))
      .write.partitionBy("__p").parquet(stage.toString)
    var lastStamp = 0L
    (parity: Int, srcDir: java.nio.file.Path, name: String) => {
      val d = stage.resolve(s"__p=$parity")
      val dst = srcDir.resolve(name)
      if (!Files.isDirectory(d))
        landSingleFile(eventsHalf(spark, dir, parity), tmpBase,
          srcDir, name)
      else {
        val listing = Files.list(d)
        val part =
          try listing.iterator().asScala
            .find(_.getFileName.toString.startsWith("part-"))
            .getOrElse(sys.error(s"no part file under $d"))
          finally listing.close()
        Files.move(part, dst)
      }
      lastStamp = math.max(clock(), lastStamp + 1)
      dst.toFile.setLastModified(lastStamp)
    }
  }

  def streamResumeQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_sresume")
    val srcDir = base.resolve("in")
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    def agg(df: DataFrame): DataFrame =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          // Exact integer cents (r17 exact-cents discipline): the
          // resumed stream folds batches in arrival order.
          sum(round(col("value") * 100).cast("bigint")).as("sum_cents"))
    // Both halves staged in ONE job (r22); each "arrives" at its move.
    val land = stageEventHalves(spark, dir, base,
      () => System.currentTimeMillis())
    // Run 1: only the first half of events (split by event_id parity)
    // is present.
    land(0, srcDir, "a.parquet")
    runAvailableNow(agg(eventsStream(spark, srcDir.toString)), ckpt,
      statePartitions = Some(8))
    // Run 2: second half lands; same checkpoint resumes from the
    // committed offset and folds the new file into the state.
    land(1, srcDir, "b.parquet")
    runAvailableNow(agg(eventsStream(spark, srcDir.toString)), ckpt,
      statePartitions = Some(8))
      .orderBy("event_type")
  }

  /** stream_upsert — foreachBatch MERGE into a keyed gold table: each
    * micro-batch folds its rows into "latest event per user", persisted
    * across batches AND across query restarts (run 1 sees half the
    * feed, run 2 the rest; the final table must equal the batch
    * latest-per-key over everything — the oracle). foreachBatch is the
    * sink escape hatch the built-in sinks can't express: arbitrary
    * batch-side logic with the stream's exactly-once bookkeeping.
    *
    * Scale: the upsert here rewrites the whole (key-bounded) gold
    * table per batch — right when the key space is small (per-user
    * latest state). For a 100 TB key space the same foreachBatch body
    * targets a format with real MERGE (dynamic partition overwrite or
    * a table format), not a full rewrite; the streaming side is
    * unchanged — [[streamCdcApplyQuery]] is exactly that upgrade. */
  def streamUpsertQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.util.Scratch.dir("graft_supsert")
    val srcDir = base.resolve("in")
    val gold = base.resolve("gold").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    // Latest row per user: max (ts, event_id) — deterministic tie-break.
    def latestPerUser(df: DataFrame): DataFrame = df
      .withColumn("_rn", row_number().over(
        Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("_rn") === 1).drop("_rn")
    def upsertBatch(batch: DataFrame): Unit = {
      val incoming = latestPerUser(batch)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"))
      val existing =
        if (Files.exists(Paths.get(gold)))
          batch.sparkSession.read.parquet(gold)
        else incoming.limit(0)
      // Materialize the merge BEFORE overwriting the dir it reads from.
      val merged = latestPerUser(existing.unionByName(incoming))
        .localCheckpoint(true)
      merged.write.mode("overwrite").parquet(gold)
    }
    def run(): Unit = {
      val q = eventsStream(spark, srcDir.toString)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts"))
        .writeStream
        .outputMode("append")
        .foreachBatch((b: DataFrame, _: Long) => upsertBatch(b))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // Both halves staged in ONE job (r22); each "arrives" at its move.
    val land = stageEventHalves(spark, dir, base,
      () => System.currentTimeMillis())
    land(0, srcDir, "a.parquet")
    run()
    land(1, srcDir, "b.parquet")
    run()
    spark.read.parquet(gold)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("ts").as("ts_micros"))
      .orderBy("user_id")
  }

  /** stream_late_drop — the watermark's DROP side made falsifiable.
    * Every watermarked query here bounds state by dropping late rows;
    * this one witnesses the drop itself: run 1 processes the on-time
    * half and advances the watermark; run 2 replays the other half
    * shifted 10 days into the past (every row landing far behind the
    * checkpointed watermark) plus one fence row 3 hours ahead (so all
    * on-time windows finalize and emit). The exactly-once parquet file
    * sink accumulates the appended windows across both restarts, and
    * the dropped-row count is read from the engine's own
    * `numRowsDroppedByWatermark` state metric. The watermark filter
    * sits at the state store, BEHIND the map-side partial aggregation,
    * so what gets dropped-and-counted is partial-agg rows — one per
    * (late group × map task that saw it). That placement is itself the
    * scale design (late data costs a partial agg, never state), and it
    * makes the exact count split-dependent, so the witness pins the
    * SPLIT-ROBUST band instead: drops == 0 in run 1, and in run 2
    * distinct-late-groups <= drops <= late-input-rows — bounds that
    * hold however the scheduler carves the batch (the late half lands
    * as THREE files here precisely so the batch genuinely splits).
    * The final window table equals the batch aggregate over the
    * on-time half alone: at 100 TB/day this pair (bounded state +
    * counted drops) is the difference between a stream that runs
    * forever and one that OOMs on day three — and the metric is what
    * makes silent data loss visible to the operator. */
  def streamLateDropQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_latedrop")
    val srcDir = base.resolve("in")
    val outPath = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    val onTime = eventsHalf(spark, dir, 0)
    def run(): Long = {
      // Scale-adaptive state width (r21): the checkpoint pins run 1's
      // value, so both runs commit the same (source-sized) store
      // count instead of the session's batch shuffle width. Conf is
      // scoped — saved and restored — like runAvailableNow's.
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key,
        adaptiveStatePartitions(spark, srcDir.toString).toString)
      try {
        val q = windowedCounts(eventsStream(spark, srcDir.toString))
          .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("event_type"), col("n_events"),
            col("sum_cents"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", outPath)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress.toSeq
          .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
          .map(_.numRowsDroppedByWatermark).sum
      } finally spark.conf.set(key, prev)
    }
    landSingleFile(onTime, base, srcDir, "a.parquet")
    val dropsRun1 = run()
    val maxA = onTime.agg(max(col("ts"))).head().getLong(0)
    val tenDaysNs = 10L * 24 * 3600 * 1000000000L
    val threeHoursNs = 3L * 3600 * 1000000000L
    val late = eventsHalf(spark, dir, 1)
      .withColumn("ts", col("ts") - lit(tenDaysNs))
    val fence = eventsHalf(spark, dir, 1).limit(1)
      .withColumn("ts", lit(maxA + threeHoursNs))
    // Multi-file late batch (the very shape the old repartition(1) pin
    // could not survive): two late shards plus the fence.
    landSingleFile(late.filter(col("event_id") % 4 === 1),
      base, srcDir, "b1.parquet")
    landSingleFile(late.filter(col("event_id") % 4 === 3),
      base, srcDir, "b2.parquet")
    landSingleFile(fence, base, srcDir, "b3.parquet")
    val dropsRun2 = run()
    val nLateGroups = graft.operators.Relational.table(spark, dir, "events")
      .filter(col("event_id") % 2 === 1)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .distinct().count()
    val nLateRows = graft.operators.Relational.table(spark, dir, "events")
      .filter(col("event_id") % 2 === 1).count()
    spark.read.parquet(outPath)
      .withColumn("n_late_groups", lit(nLateGroups))
      .withColumn("drops_in_band",
        lit(dropsRun1 == 0L && dropsRun2 >= nLateGroups &&
          dropsRun2 <= nLateRows))
      .orderBy("window_start", "event_type")
  }

  /** stream_cdc_apply — a CDC change feed applied to a partitioned
    * parquet table through the copy-on-write MERGE
    * ([[graft.operators.SourceSinkQueries.mergeCow]]): each
    * micro-batch of (key, values, partition, op) change rows
    * full-outer-merges into the table inside foreachBatch — upserts
    * restate, tombstones delete, untouched rows survive — and the
    * stream's checkpoint gives the feed its exactly-once batch
    * boundaries across restarts (run 1 applies the restatement +
    * deletes, run 2 resumes the SAME checkpoint and applies the
    * inserts). This closes the scale caveat [[streamUpsertQuery]]
    * documents: that query rewrites its whole (key-bounded) gold table
    * per batch; here the foreachBatch body targets real MERGE
    * semantics, so each batch rewrites only the partitions its change
    * rows touch — witnessed from the filesystem across every batch
    * (untouched partitions keep byte-identical file lists). At 100 TB
    * a CDC trickle into a huge table costs per-batch work proportional
    * to the touched partitions, not the table. */
  def streamCdcApplyQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_cdc")
    val srcDir = base.resolve("in")
    val tbl = base.resolve("table").resolve("orders").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    // Exact integer cents end to end (r17 exact-cents discipline);
    // the insert re-key shift is 1e11 per the ReKeyOffset discipline.
    val orders = graft.operators.Relational.table(spark, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"),
        year(col("o_orderdate")).cast("int").as("_p"))
    orders.write.partitionBy("_p").parquet(tbl)
    val target = orders.agg(min(col("_p"))).head().getInt(0)
    // Batch A: restate prices for the even keys of the oldest year,
    // tombstone the keys ending in 3. Batch B: insert new keys.
    val batchA = orders
      .filter(col("_p") === target && col("o_orderkey") % 2 === 0)
      .withColumn("cents", col("cents") * 2)
      .withColumn("op", lit("upsert"))
      .unionByName(orders
        .filter(col("_p") === target && col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"),
          lit(null).cast("bigint").as("cents"), col("_p"),
          lit("delete").as("op")))
    val batchB = orders
      .filter(col("_p") === target && col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") + 100000000000L).as("o_orderkey"),
        lit(10000L).as("cents"), col("_p"),
        lit("upsert").as("op"))
    var intact = true
    var rewritten = true
    var nBatches = 0L
    def run(): Unit = {
      val schema = graft.util.ParquetSchema
        .footerSchema(spark, srcDir.toString)
        .getOrElse(spark.read.parquet(srcDir.toString).schema)
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val (i, r) = graft.operators.SourceSinkQueries
              .mergeCow(b.sparkSession, tbl, b, "o_orderkey", "_p")
            intact &= i
            rewritten &= r
            nBatches += 1
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    landSingleFile(batchA, base, srcDir, "a.parquet")
    run()
    landSingleFile(batchB, base, srcDir, "b.parquet")
    run()
    spark.read.parquet(tbl).groupBy(col("_p"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("sum_cents"))
      .select(col("_p"), col("n_rows"), col("sum_cents"),
        lit(intact).as("untouched_intact"),
        lit(rewritten).as("affected_rewritten"),
        lit(nBatches).as("batches_applied"))
      .orderBy("_p")
  }

  /** stream_cdc_apply_mor — the CDC trickle applied MERGE-ON-READ: each
    * micro-batch of (key, value, op) change rows runs ONE SQL `MERGE`
    * against the log table under `spark.graft.rowlevel.mode = mor`
    * (the DSv2 SupportsDelta plan, [[graft.sources.GraftDeltaOperation]]),
    * so every batch commits appended rows + position deletes —
    * O(batch's changed rows) — and NEVER rewrites a data file
    * (witnessed across every batch: the pre-existing file set only
    * grows). This closes the scale story [[streamCdcApplyQuery]]
    * tells for copy-on-write: a CDC trickle into a 100 TB table under
    * CoW pays a file rewrite per touched file per batch; under MoR it
    * pays for the rows themselves, and compaction runs on ITS
    * schedule, not the stream's. Exactly-once comes from the stream
    * checkpoint (batch boundaries) + the MERGE's atomic commit. */
  def streamCdcApplyMorQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TxnLog
    val base = graft.util.Scratch.dir("graft_cdcmor")
    val srcDir = base.resolve("in")
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    val tbl = base.resolve("table").resolve("orders")
    Files.createDirectories(tbl)
    val orders = graft.operators.Relational.table(spark, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .filter(col("o_orderkey") % 3 === 0)
    orders.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(tbl.resolve("d0").toString)
    val baseFiles = TxnLog.parquetsUnder(tbl, "d0")
    TxnLog.commitRetry(tbl, "create", _ => baseFiles,
      statsFor = _ => TxnLog.keyStats(spark, tbl, baseFiles, "o_orderkey"),
      statsKey = Some("o_orderkey"))
    graft.sources.GraftTables.registerCatalog(spark)
    // Batch A: restate the evens (cents doubled), tombstone ≡3 (mod
    // 30); batch B: brand-new keys (+1e11 — the ReKeyOffset shift,
    // beyond any real key at any SF). Disjoint by construction.
    val batchA = orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), (col("cents") * 2).as("cents"),
        lit("upsert").as("op"))
      .unionByName(orders.filter(col("o_orderkey") % 30 === 3)
        .select(col("o_orderkey"), lit(null).cast("bigint").as("cents"),
          lit("delete").as("op")))
    val batchB = orders.filter(col("o_orderkey") % 15 === 0)
      // +1e11: far above any real key at any SF (the r15 ReKeyOffset
      // lesson — a small shift collides with large-SF keys).
      .select((col("o_orderkey") + 100000000000L).as("o_orderkey"),
        (col("cents") + 9L).as("cents"), lit("upsert").as("op"))
    var appendOnly = true
    var allMor = true
    var nBatches = 0L
    def run(): Unit = {
      val schema = graft.util.ParquetSchema
        .footerSchema(spark, srcDir.toString)
        .getOrElse(spark.read.parquet(srcDir.toString).schema)
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          if (!b.isEmpty) {
            val s = b.sparkSession
            val preFiles = TxnLog.tip(tbl).files.toSet
            val view = s"cdc_mor_b${System.nanoTime()}"
            b.createOrReplaceTempView(view)
            s.conf.set("spark.graft.rowlevel.mode", "mor")
            try s.sql(
              s"MERGE INTO graft.`$tbl` t USING $view s " +
                "ON t.o_orderkey = s.o_orderkey " +
                "WHEN MATCHED AND s.op = 'delete' THEN DELETE " +
                "WHEN MATCHED THEN UPDATE SET cents = s.cents " +
                "WHEN NOT MATCHED AND s.op != 'delete' THEN " +
                "INSERT (o_orderkey, cents) VALUES (s.o_orderkey, s.cents)")
            finally {
              s.conf.unset("spark.graft.rowlevel.mode")
              s.catalog.dropTempView(view)
            }
            val m = TxnLog.tip(tbl)
            appendOnly &= preFiles.subsetOf(m.files.toSet)
            allMor &= Set("update-mor", "delete-mor")(m.action)
            nBatches += 1
          }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    landSingleFile(batchA, base, srcDir, "a.parquet")
    run()
    landSingleFile(batchB, base, srcDir, "b.parquet")
    run()
    graft.sources.GraftTables.read(spark, tbl)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents")).as("sum_cents"))
      .select(col("n_rows"), col("sum_cents"),
        lit(appendOnly).as("append_only"),
        lit(allMor).as("all_mor"),
        lit(nBatches).as("batches_applied"))
  }

  /** stream_cdc_maintain — the CDC stream WITH its maintenance loop,
    * on the transaction log ([[graft.operators.TxnLog]]): the
    * OPTIMIZE-on-write discipline a perpetual CDC table needs, folded
    * into foreachBatch the way a long-running ingest actually runs —
    *
    *   - every micro-batch key-scoped COW-MERGEs into the log
    *     ([[graft.operators.TxnLog.mergeCowByKey]]): only files whose
    *     stats intersect the batch's key range rewrite, pure inserts
    *     append, each batch is one atomic commit;
    *   - every 2nd batch COMPACTS the tip (a manifest swap), with the
    *     aggregate proven identical across the swap in-loop;
    *   - after the run, versions beyond the retention window EXPIRE
    *     and a log-derived VACUUM reclaims exactly the files only
    *     expired versions referenced — the age guard keeps a freshly
    *     planted (in-flight writer's) orphan, and the tip re-reads
    *     bit-stable after the GC.
    *
    * The four change batches touch DISJOINT key sets, so the final
    * state is order-independent and the oracle replays it exactly;
    * the counters (4 batches, 2 compactions, 5 expired of 7 versions)
    * are structural, not data-dependent. At 100 TB this is the
    * difference between a CDC table that accretes small files and
    * dead snapshots until scans crawl, and one whose write path pays
    * for its own upkeep in bounded per-batch slices. */
  def streamCdcMaintainQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TxnLog
    val base = graft.util.Scratch.dir("graft_cdcm")
    val srcDir = base.resolve("in")
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    val tbl = base.resolve("table").resolve("orders")
    Files.createDirectories(tbl)
    val orders = graft.operators.Relational.table(spark, dir, "orders")
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    orders.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(tbl.resolve("d0").toString)
    // The create commit carries per-file key stats, so every merge in
    // the loop below plans its affected files from manifest METADATA —
    // no tip scan per batch.
    val baseFiles = TxnLog.parquetsUnder(tbl, "d0")
    TxnLog.commitRetry(tbl, "create", _ => baseFiles,
      statsFor = _ => TxnLog.keyStats(spark, tbl, baseFiles, "o_orderkey"),
      statsKey = Some("o_orderkey"))
    val bounds = orders
      .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val hi = mn + (mx - mn) / 10
    val inRange = orders.filter(col("o_orderkey") <= hi)
    // Disjoint key sets per batch (evens / ...3 / +1e11 inserts —
    // the ReKeyOffset shift, beyond any real key at any SF / ...7),
    // so apply order cannot change the final table.
    val batches = Seq(
      inRange.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("cents") * 2).as("cents"),
          lit("upsert").as("op")),
      inRange.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), lit(null).cast("bigint").as("cents"),
          lit("delete").as("op")),
      inRange.filter(col("o_orderkey") % 5 === 0)
        // +1e11: above any real key at any SF (ReKeyOffset discipline)
        .select((col("o_orderkey") + 100000000000L).as("o_orderkey"),
          lit(777L).as("cents"), lit("upsert").as("op")),
      inRange.filter(col("o_orderkey") % 10 === 7)
        .select(col("o_orderkey"), (col("cents") * 3).as("cents"),
          lit("upsert").as("op")))
    batches.zipWithIndex.foreach { case (df, i) =>
      landSingleFile(df, base, srcDir, s"b$i.parquet")
    }
    def tipAgg(): (Long, Long) = {
      val r = TxnLog.readVersion(spark, tbl, TxnLog.latest(tbl).get)
        .agg(count(lit(1)), sum(col("cents"))).head()
      (r.getLong(0), r.getLong(1))
    }
    var applied = 0L
    var compactions = 0L
    var compactionInvariant = true
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("cents", LongType),
      StructField("op", StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          TxnLog.mergeCowByKey(b.sparkSession, tbl, b, "o_orderkey",
            s"m$applied")
          applied += 1
          if (applied % 2 == 0) {
            val before = tipAgg()
            TxnLog.compact(spark, tbl, s"c$applied",
              statsKey = Some("o_orderkey"))
            compactionInvariant &= tipAgg() == before
            compactions += 1
          }
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // ---- retention maintenance: expire + log-derived vacuum ----------
    val preVacuum = tipAgg()
    val expired = TxnLog.expire(tbl, retainLast = 2)
    // Stand in for the passage of retention time: everything the
    // retained manifests no longer reference ages past the horizon.
    val live = TxnLog.liveFiles(tbl, TxnLog.versions(tbl))
    val horizonMs = 60L * 60 * 1000
    TxnLog.dataFiles(tbl).filterNot(live).foreach { f =>
      tbl.resolve(f).toFile
        .setLastModified(System.currentTimeMillis() - 2 * horizonMs)
    }
    // An in-flight writer's fresh orphan: unreferenced but young.
    val freshOrphan = tbl.resolve("m0").resolve("inflight-orphan.parquet")
    Files.copy(tbl.resolve(TxnLog.readManifest(tbl, TxnLog.latest(tbl).get)
      .files.head), freshOrphan)
    val vac = TxnLog.vacuum(tbl, horizonMs)
    val freshKept = Files.exists(freshOrphan)
    Files.deleteIfExists(freshOrphan) // leave the table clean
    val expiredUnreadable = expired.headOption.forall(v =>
      scala.util.Try(TxnLog.readVersion(spark, tbl, v)).isFailure)
    val tipStable = tipAgg() == preVacuum
    TxnLog.readVersion(spark, tbl, TxnLog.latest(tbl).get)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(col("n_rows"), col("sum_cents"),
        lit(applied).as("batches_applied"),
        lit(compactions).as("compactions_run"),
        lit(compactionInvariant).as("compaction_invariant"),
        lit(expired.size.toLong).as("versions_expired"),
        lit(vac.deleted.nonEmpty).as("vacuum_reclaimed_expired_files"),
        lit(freshKept).as("fresh_orphan_kept"),
        lit(expiredUnreadable).as("expired_version_unreadable"),
        lit(tipStable).as("tip_stable_after_vacuum"))
  }

  /** stream_exactly_once — the reference's "exactly-once into Bronze"
    * claim (offsets commit only after a successful sink write,
    * `dag_generator.py:454`) made FALSIFIABLE by injecting the exact
    * failure the design defends against: the sink dies AFTER batch 0's
    * data is written but BEFORE its offsets commit. The stream restarts
    * from the same checkpoint and batch 0 REPLAYS under the same
    * batchId (the offset WAL planned it before the crash). Two sink
    * legs process the identical feed and diverge only on replay
    * discipline: the idempotent leg writes each batch to its own
    * `batch=<id>` directory with overwrite — the replay rewrites the
    * same directory and the final table is exactly-once; the naive leg
    * appends — the replay duplicates batch 0 and the final table is
    * at-least-once. Both outcomes are measured from the written files,
    * so the query witnesses the MECHANISM (stable batchId + idempotent
    * write ⇒ exactly-once), not just the happy path. Totals and value
    * sums come from the idempotent leg and must equal the batch
    * oracle's direct aggregate over events. */
  def streamExactlyOnceQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.util.Scratch.dir("graft_sxo")
    val srcDir = base.resolve("in")
    val outIdem = base.resolve("idem").toString
    val outApp = base.resolve("app").toString
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(srcDir)
    // Both halves staged in ONE job (r22); moves order their arrival.
    val land = stageEventHalves(spark, dir, base,
      () => System.currentTimeMillis())
    (0 until 2).foreach(i => land(i, srcDir, s"part$i.parquet"))
    val attempts = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
    val batchRows = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    val failInjected = new java.util.concurrent.atomic.AtomicBoolean(false)
    def sinkBatch(b: DataFrame, id: Long): Unit = {
      attempts.merge(id, 1, (x, y) => x + y)
      val rows = b.select(col("event_id"), col("user_id"), col("value"))
        .localCheckpoint(true)
      batchRows.putIfAbsent(id, rows.count())
      rows.write.mode("overwrite").parquet(s"$outIdem/batch=$id")
      rows.write.mode("append").parquet(outApp)
      if (id == 0L && failInjected.compareAndSet(false, true))
        sys.error("injected sink failure: data written, offsets uncommitted")
    }
    def run(): Unit = {
      val q = eventsStream(spark, srcDir.toString,
          Map("maxFilesPerTrigger" -> "1"))
        .writeStream.outputMode("append")
        .foreachBatch((b: DataFrame, id: Long) => sinkBatch(b, id))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val firstRunFailed = scala.util.Try(run()).isFailure
    run() // resume: batch 0 replays under its original id, then batch 1
    val idem = spark.read.parquet(outIdem)
    val stats = idem.agg(count(lit(1)).as("n"),
      sum(round(col("value") * 100).cast("bigint")).as("s")).collect()(0)
    val nEvents =
      graft.operators.Relational.table(spark, dir, "events").count()
    val appCount = spark.read.parquet(outApp).count()
    Seq((stats.getAs[Long]("n"), stats.getAs[Long]("s"),
      firstRunFailed && attempts.getOrDefault(0L, 0).intValue() >= 2,
      stats.getAs[Long]("n") == nEvents,
      appCount == nEvents + batchRows.getOrDefault(0L, 0L).longValue()))
      .toDF("n_events", "sum_cents", "replay_occurred",
        "idempotent_exactly_once", "append_at_least_once")
  }

  /** stream_batched_cap — the reference's max_messages ingestion cap
    * (`dag_generator.py:414-416`): a bounded amount of input per
    * micro-batch. On the file source the cap is `maxFilesPerTrigger`;
    * on Kafka it is `maxOffsetsPerTrigger` (`kafkaStream` wires it).
    * Three files + cap 1 must yield exactly three micro-batches whose
    * union is the whole feed — batch COUNT proves the cap was applied,
    * row totals prove nothing was dropped between batches. */
  def streamBatchedCapQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.util.Scratch.dir("graft_scap")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    val ev = graft.operators.Relational.table(spark, dir, "events")
    (0 until 3).foreach { i =>
      landSingleFile(
        ev.filter(col("event_id") % 3 === i)
          .select(col("event_id"), (unix_micros(col("ts")) * 1000).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props")),
        base, srcDir, s"part$i.parquet")
    }
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val q = eventsStream(spark, srcDir.toString,
        Map("maxFilesPerTrigger" -> "1"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.incrementAndGet()
        rows.addAndGet(b.count())
        ()
      }
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Seq((batches.get(), rows.get()))
      .toDF("n_batches", "n_rows")
  }

  /** stream_windowed_agg driver query — copy the events table into a
    * stream-source dir, run the watermarked windowed aggregation to
    * completion, return the (deterministic) final counts. */
  def windowedAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.dir("graft_stream")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    runAvailableNow(
      windowedCounts(eventsStream(spark, srcDir.toString)),
      base.resolve("ckpt").toString, statePartitions = Some(8))
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n_events"), col("sum_cents"))
      .orderBy("window_start", "event_type")
  }

  /** Per-user counters as a Spark-4 [[org.apache.spark.sql.streaming.StatefulProcessor]]
    * — the arbitrary-state V2 API (transformWithState): NAMED typed
    * state slots fetched from a handle (here one ValueState; ListState/
    * MapState and per-key timers are the same handle), TTL-capable, and
    * required to run on the RocksDB state store provider. The modern
    * successor to mapGroupsWithState for custom streaming state. */
  private class UserCounterProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserSession] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    @transient private var state: ValueState[UserSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserSession]("counts",
        org.apache.spark.sql.Encoders.product[UserSession], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[UserEvent],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSession] = {
      val prev =
        if (state.exists()) state.get() else UserSession(key, 0L, 0L)
      var n = prev.n_events
      var p = prev.n_purchases
      rows.foreach { e =>
        n += 1
        if (e.event_type == "purchase") p += 1
      }
      val cur = UserSession(key, n, p)
      state.update(cur)
      Iterator.single(cur)
    }
  }

  /** stream_transform_with_state driver query — the same per-user
    * counters as stream_stateful, on transformWithState instead of
    * mapGroupsWithState: two state APIs, one batch oracle. Runs on the
    * RocksDB provider (the V2 API requires it — its state layout is
    * column-family-per-slot, which the HDFS-backed provider cannot
    * host). Final per-user totals equal the batch groupBy. */
  def transformWithStateQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.TimeMode
    userCounterQuery(spark, dir, "graft_tws",
      evs => {
        import evs.sparkSession.implicits._
        evs.groupByKey(_.user_id)
          .transformWithState(new UserCounterProcessor,
            TimeMode.None(), OutputMode.Update()).toDF()
      },
      stateProvider = Some(RocksDbProvider))
  }

  final case class TimedEvent(
      user_id: Long, event_type: String, ts: java.sql.Timestamp)
  final case class SessionVerdict(
      user_id: Long, n_events: Long, expired_by_timer: Boolean)

  /** Per-user session expiry driven by REGISTERED EVENT-TIME TIMERS —
    * the V2 state API capability the counter twins don't exercise.
    * Each key counts its events and (re)arms a timer at
    * lastEventMs + gapMs; when the event-time watermark passes a
    * timer, [[handleExpiredTimer]] fires in the watermark-advance
    * micro-batch, emits the closed session with `expired_by_timer =
    * true`, and evicts the key's state — sessions idle longer than the
    * gap close THEMSELVES, without waiting for another event on the
    * key (the thing mapGroupsWithState timeouts did, now as explicit
    * per-key timers). Keys whose timer outruns the final watermark
    * stay open and emit only their running count.
    *
    * Determinism (what makes this batch-oracle-checkable): with one
    * source file there is one data batch, so every key arms exactly
    * one final timer at maxTsMs(key) + gapMs; the single
    * watermark-advance batch then fires timers with
    * expiry <= maxTsMs(all) − delayMs (Spark's fire rule is `<=`, its
    * watermark arithmetic is floor-to-ms — both replayed exactly by
    * the DuckDB oracle's epoch_ms()). */
  private class SessionExpiryProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TimedEvent, SessionVerdict] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var counts: ValueState[Long] = _
    @transient private var armed: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getValueState[Long]("counts",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[TimedEvent], tv: TimerValues)
        : Iterator[SessionVerdict] = {
      var n = if (counts.exists()) counts.get() else 0L
      var maxMs = Long.MinValue
      rows.foreach { e =>
        n += 1
        val ms = e.ts.getTime
        if (ms > maxMs) maxMs = ms
      }
      counts.update(n)
      // One armed timer per key: later events push the expiry out.
      val at = maxMs + gapMs
      val prev = if (armed.exists()) armed.get() else Long.MinValue
      if (at > prev) {
        if (prev != Long.MinValue) getHandle.deleteTimer(prev)
        getHandle.registerTimer(at)
        armed.update(at)
      }
      Iterator.single(SessionVerdict(key, n, expired_by_timer = false))
    }
    override def handleExpiredTimer(
        key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionVerdict] = {
      val n = if (counts.exists()) counts.get() else 0L
      counts.clear()
      armed.clear()
      Iterator.single(SessionVerdict(key, n, expired_by_timer = true))
    }
  }

  /** stream_state_timers driver query — event-time timers on
    * transformWithState: users idle ≥ 1 h before the stream's end
    * (watermark 30 min) are closed BY TIMER; the rest stay open. The
    * oracle replays the fire rule arithmetically per user. */
  def timerExpiryQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val base = graft.util.Scratch.dir("graft_timers")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val evs = eventsStream(spark, srcDir.toString)
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("event_type"), col("ts")).as[TimedEvent]
    runAvailableNow(
      evs.groupByKey(_.user_id)
        .transformWithState(new SessionExpiryProcessor(gapMs = 3600000L),
          TimeMode.EventTime(), OutputMode.Update()).toDF(),
      base.resolve("ckpt").toString, outputMode = "update",
      statePartitions = Some(8), stateProvider = Some(RocksDbProvider))
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max("expired_by_timer").as("expired_by_timer"))
      .orderBy("user_id")
  }

  final case class TtlProbe(
      user_id: Long, n_events: Long, n_calls: Long,
      ttl_lapses: Long, durable_lapses: Long)

  /** Per-user state-lifetime census for the TTL witness: `recent` (1 ms
    * TTL) ALWAYS lapses between micro-batches, `total` (no TTL) never
    * does — every counter is cumulative, so the query's final
    * max-collapse is batch-order-independent. */
  private class TtlLapseProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, TtlProbe] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var recent: ValueState[Long] = _
    @transient private var total: ValueState[Long] = _
    @transient private var census: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // The witness pair: identical update pattern, one slot TTL'd.
      recent = getHandle.getValueState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofMillis(1)))
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      census = getHandle.getValueState[(Long, Long, Long)]("census",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long, rows: Iterator[UserEvent], tv: TimerValues)
        : Iterator[TtlProbe] = {
      val (calls0, ttlLapses0, durLapses0) =
        if (census.exists()) census.get() else (0L, 0L, 0L)
      val ttlLapses = ttlLapses0 + (if (recent.exists()) 0L else 1L)
      val durLapses = durLapses0 + (if (total.exists()) 0L else 1L)
      val calls = calls0 + 1L
      val batchN = rows.size.toLong
      recent.update(batchN)
      val totalN = (if (total.exists()) total.get() else 0L) + batchN
      total.update(totalN)
      census.update((calls, ttlLapses, durLapses))
      Iterator.single(TtlProbe(key, totalN, calls, ttlLapses, durLapses))
    }
  }

  /** stream_state_ttl driver query — state TTL on transformWithState,
    * witnessed by CONTRAST: the events feed is split into two files /
    * two micro-batches (`event_id` parity — the deterministic split
    * streamBatchedCapQuery uses), and each per-user call censuses
    * which of its two state slots survived since the previous batch.
    * The TTL'd slot lapses on EVERY call (first call: never written;
    * later calls: the 1 ms TTL expired between batches, wall-clock
    * batch spacing being orders of magnitude larger) while the
    * durable slot lapses exactly once (its first write), so a user
    * seen in both batches reports ttl_lapses = 2 > durable_lapses = 1
    * — TTL expiry observed inside one processor, against an identical
    * un-TTL'd control. TTL requires TimeMode.ProcessingTime (Spark
    * rejects it otherwise); in that mode shouldRunAnotherBatch is
    * always true, so no-data batches are disabled for the run (or
    * AvailableNow never terminates — measured) — nothing here needs
    * them, every counter lives on data batches. */
  def ttlLapseQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val base = graft.util.Scratch.dir("graft_ttl")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    val ev = graft.operators.Relational.table(spark, dir, "events")
    (0 until 2).foreach { i =>
      landSingleFile(
        ev.filter(col("event_id") % 2 === i)
          .select(col("event_id"), (unix_micros(col("ts")) * 1000).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props")),
        base, srcDir, s"part$i.parquet")
    }
    val evs = eventsStream(spark, srcDir.toString,
        Map("maxFilesPerTrigger" -> "1"))
      .select(col("user_id"), col("event_type")).as[UserEvent]
    runAvailableNow(
      evs.groupByKey(_.user_id)
        .transformWithState(new TtlLapseProcessor,
          TimeMode.ProcessingTime(), OutputMode.Update()).toDF(),
      base.resolve("ckpt").toString, outputMode = "update",
      statePartitions = Some(8), stateProvider = Some(RocksDbProvider),
      noDataBatches = Some(false))
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_calls").as("n_calls"),
        max("ttl_lapses").as("ttl_lapses"),
        max("durable_lapses").as("durable_lapses"))
      .orderBy("user_id")
  }

  /** The scaffold BOTH per-user-counter queries share (scratch source
    * dir, events stream, update-mode run, final max-per-user collapse),
    * so the "two state APIs, one batch oracle" parity the spec asserts
    * cannot drift through an edit to one copy. */
  private def userCounterQuery(
      spark: SparkSession, dir: String, scratch: String,
      counters: Dataset[UserEvent] => DataFrame,
      stateProvider: Option[String] = None): DataFrame = {
    import spark.implicits._
    val base = graft.util.Scratch.dir(scratch)
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val evs = eventsStream(spark, srcDir.toString)
      .select(col("user_id"), col("event_type")).as[UserEvent]
    runAvailableNow(counters(evs),
      base.resolve("ckpt").toString, outputMode = "update",
      statePartitions = Some(8), stateProvider = stateProvider)
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"),
        max("n_purchases").as("n_purchases"))
      .orderBy("user_id")
  }

  /** stream_state_rocksdb driver query — the stream_windowed_agg
    * aggregation executed on RocksDB state stores instead of the
    * default HDFS-backed in-memory provider. Results must be provider-
    * independent (the oracle is the same batch windowed aggregate), so
    * the interesting part is the WITNESS: the checkpoint's state
    * directory must carry the RocksDB layout — versioned .zip/.changelog
    * artifacts, and none of the HDFS-backed provider's .delta/.snapshot
    * files — proving the run actually exercised the spill-capable
    * provider rather than silently falling back. At 100 TB-scale keyed
    * state (a streaming dedup index, wide session maps) this provider
    * is the difference between state bounded by local disk and state
    * bounded by executor heap. */
  def rocksDbStateQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.util.Scratch.dir("graft_rocks")
    val srcDir = base.resolve("in")
    Files.createDirectories(srcDir)
    Files.copy(Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val ckpt = base.resolve("ckpt")
    val counts = runAvailableNow(
      windowedCounts(eventsStream(spark, srcDir.toString)),
      ckpt.toString, statePartitions = Some(8),
      stateProvider = Some(RocksDbProvider))
    val names = graft.util.FsWalk
      .files(ckpt.resolve("state").toString).map(_.getName)
    val rocksArtifacts = names.count(n =>
      n.endsWith(".zip") || n.endsWith(".changelog"))
    val hdfsArtifacts = names.count(n =>
      n.endsWith(".delta") || n.endsWith(".snapshot"))
    val agg = counts
      .agg(count(lit(1)).as("n_windows"),
        sum(col("n_events")).cast("bigint").as("n_events"))
      .head()
    Seq((agg.getLong(0), agg.getLong(1),
      rocksArtifacts > 0 && hdfsArtifacts == 0))
      .toDF("n_windows", "n_events", "rocksdb_state_used")
  }

  /** stream_stateful driver query — run the custom-state counters over
    * the events stream to completion; final per-user totals equal the
    * batch groupBy, which is the oracle. */
  def statefulQuery(spark: SparkSession, dir: String): DataFrame =
    userCounterQuery(spark, dir, "graft_state",
      evs => userCounters(evs).toDF())
}
