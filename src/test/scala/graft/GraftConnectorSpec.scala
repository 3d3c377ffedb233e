package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal, Or, Remainder}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.TxnLog
import graft.sources.{GraftPruning, GraftTables}

/** The DataSourceV2 read path over the transaction log: version
  * pinning, manifest-stats file skipping (plan-asserted: a
  * key-filtered read opens ONLY stats-qualifying files), partition
  * pruning from manifest metadata, and SQL `VERSION AS OF` through
  * [[graft.sources.GraftCatalog]]. */
class GraftConnectorSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** A 4-file table of keys 1..100 split by exact value quartiles
    * (deterministic file ranges), committed with stats + statsKey. */
  private def quartileTable(): Path = {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(tbl)
    val rows = (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v")
    for (q <- 0 until 4)
      rows.filter($"id".between(q * 25 + 1, (q + 1) * 25))
        .coalesce(1).write.parquet(tbl.resolve(s"q$q").toString)
    val files = (0 until 4).flatMap(q => TxnLog.parquetsUnder(tbl, s"q$q"))
    TxnLog.commitRetry(tbl, "create", _ => files,
      statsFor = _ => TxnLog.keyStats(spark, tbl, files, "id"),
      statsKey = Some("id"))
    tbl
  }

  /** Files the executed plan's (pruned) scan would open. */
  private def plannedFiles(df: DataFrame): Seq[String] = {
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec => b.scan
    }.map {
      case r: graft.sources.GraftScan => r.inner
      case s => s
    }.collect { case s: FileScan => s.fileIndex.inputFiles.toSeq }.flatten
  }

  test("format(graft) reads the tip and pins versionAsOf") {
    val tbl = quartileTable()
    Seq((1000L, 1L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("d1").toString)
    TxnLog.commitRetry(tbl, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(tbl, "d1"))
    assert(GraftTables.read(spark, tbl).count() == 101L)
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(tbl.toString).agg(sum($"v")).head.getLong(0) ==
      (1L to 100L).map(_ * 10).sum)
  }

  test("a key-filtered read opens ONLY stats-qualifying files") {
    val tbl = quartileTable()
    val v = TxnLog.tip(tbl).version
    // The connector read and the log's own version read plan alike.
    Seq[(String, () => DataFrame)](
      "connector" -> (() => GraftTables.read(spark, tbl)),
      "readVersion" -> (() => TxnLog.readVersion(spark, tbl, v))
    ).foreach { case (via, read) =>
      val df = read().filter($"id" >= 30L && $"id" <= 40L)
      val opened = plannedFiles(df)
      assert(opened.size == 1 && opened.head.contains("/q1/"),
        s"$via: [30,40] lives only in quartile file q1 (26..50); " +
          s"opened $opened")
      assert(df.select(sum($"v")).head.getLong(0) ==
        (30L to 40L).map(_ * 10).sum)
      // Cross-quartile range: exactly the two covering files.
      val df2 = read().filter($"id".between(20L, 30L))
      val opened2 = plannedFiles(df2)
      assert(opened2.size == 2 && opened2.exists(_.contains("/q0/")) &&
        opened2.exists(_.contains("/q1/")),
        s"$via: [20,30] spans q0+q1; opened $opened2")
      assert(df2.count() == 11L)
    }
  }

  test("a key predicate beyond every file's range opens nothing") {
    val tbl = quartileTable()
    val df = GraftTables.read(spark, tbl).filter($"id" === 5000L)
    assert(df.count() == 0L)
    assert(plannedFiles(df).isEmpty,
      "no file's [min,max] contains 5000 — the scan must plan zero files")
  }

  test("partition values in the manifest prune partition-filtered reads") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"p${System.nanoTime()}")
    Files.createDirectories(tbl)
    for (y <- Seq(1995, 1996, 1997))
      (1L to 10L).map(i => (i, y)).toDF("id", "year")
        .coalesce(1).write.parquet(tbl.resolve(s"y$y").toString)
    val byYear = Seq(1995, 1996, 1997).map(y =>
      y -> TxnLog.parquetsUnder(tbl, s"y$y")).toMap
    val files = byYear.values.flatten.toSeq.sorted
    TxnLog.commitRetry(tbl, "create", _ => files)
    // Partition values ride the NEXT commit (manifest-only change).
    TxnLog.commitRetryWith(tbl, tip => tip.copy(action = "set-partitions",
      partitions = byYear.flatMap { case (y, fs) =>
        fs.map(_ -> Map("year" -> y.toString))
      }))
    val df = GraftTables.read(spark, tbl).filter($"year" === 1996)
    val opened = plannedFiles(df)
    assert(opened.size == 1 && opened.head.contains("/y1996/"),
      s"year=1996 must open one file; opened $opened")
    assert(df.count() == 10L)
    // A non-partition filter keeps every file.
    assert(plannedFiles(GraftTables.read(spark, tbl)
      .filter($"id" === 3L)).size == 3)
  }

  test("SQL VERSION AS OF resolves through the graft catalog") {
    val tbl = quartileTable()
    Seq((1000L, 1L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("d1").toString)
    TxnLog.commitRetry(tbl, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(tbl, "d1"))
    GraftTables.registerCatalog(spark)
    val pinned = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$tbl` VERSION AS OF 0")
      .head.getLong(0)
    val tip = spark.sql(s"SELECT count(*) AS n FROM graft.`$tbl`")
      .head.getLong(0)
    assert(pinned == 100L && tip == 101L)
    // Stats skipping composes with SQL reads too.
    val df = spark.sql(
      s"SELECT sum(v) AS s FROM graft.`$tbl` VERSION AS OF 0 " +
        "WHERE id BETWEEN 30 AND 40")
    assert(df.head.getLong(0) == (30L to 40L).map(_ * 10).sum)
  }

  test("rename + widen are manifest-only commits; pinned readers keep their own names") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"m${System.nanoTime()}")
    Files.createDirectories(tbl)
    // Physical bytes: (id bigint, cents int), two range files.
    val rows = (1L to 50L).map(i => (i, i.toInt * 100))
    rows.toDF("id", "cents").repartitionByRange(2, $"id")
      .sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val files = TxnLog.parquetsUnder(tbl, "d0")
    val v0Cols = Seq(
      TxnLog.ColumnDef(1, "id", "bigint", "id"),
      TxnLog.ColumnDef(2, "cents", "int", "cents"))
    TxnLog.commitRetryWith(tbl, _ => TxnLog.Manifest(0L, -1L, "create",
      files, TxnLog.keyStats(spark, tbl, files, "id"),
      statsKey = Some("id"), columns = Some(v0Cols)))
    // v1: rename BOTH columns and widen cents to bigint — not a byte
    // of data is rewritten; physical names and stats are unchanged.
    TxnLog.commitRetryWith(tbl, tip => tip.copy(
      action = "evolve-schema",
      columns = Some(Seq(
        TxnLog.ColumnDef(1, "doc_id", "bigint", "id"),
        TxnLog.ColumnDef(2, "cents_total", "bigint", "cents")))))
    assert(TxnLog.readManifest(tbl, 1L).files ==
      TxnLog.readManifest(tbl, 0L).files)
    // The pinned v0 reader keeps the ORIGINAL names and narrow type...
    val v0 = GraftTables.read(spark, tbl, Some(0L))
    assert(v0.columns.toSeq == Seq("id", "cents"))
    assert(v0.schema("cents").dataType == IntegerType)
    assert(v0.agg(sum($"cents")).head.getLong(0) ==
      rows.map(_._2.toLong).sum)
    // ...while the tip reads the same bytes under the new names, with
    // the int32 pages widened to bigint by the vectorized reader.
    val tip = GraftTables.read(spark, tbl)
    assert(tip.columns.toSeq == Seq("doc_id", "cents_total"))
    assert(tip.schema("cents_total").dataType == LongType)
    assert(tip.agg(sum($"cents_total")).head.getLong(0) ==
      rows.map(_._2.toLong).sum)
    assert(tip.filter($"cents_total" === 300L)
      .select($"doc_id").head.getLong(0) == 3L)
    // Stats skipping survives the rename: the filter arrives under
    // the LOGICAL name, pruning compares under the PHYSICAL one.
    val df = tip.filter($"doc_id" <= 10L)
    val opened = plannedFiles(df)
    assert(opened.size == 1, s"low-range read must open 1 of 2: $opened")
    assert(df.count() == 10L)
    // v2: DROP COLUMN = a manifest that stops declaring it — the
    // bytes stay, the pinned v1 reader still sees them, the tip scan
    // never even requests the physical column.
    TxnLog.commitRetryWith(tbl, t => t.copy(action = "drop-column",
      columns = Some(Seq(TxnLog.ColumnDef(1, "doc_id", "bigint", "id")))))
    val v2 = GraftTables.read(spark, tbl)
    assert(v2.columns.toSeq == Seq("doc_id") && v2.count() == 50L)
    assert(GraftTables.read(spark, tbl, Some(1L)).columns.toSeq ==
      Seq("doc_id", "cents_total"))
  }

  test("planning is metadata-only: a table whose files are GONE still plans and prunes") {
    // The 100 TB discipline: schema (declared columns), file list,
    // key-stats pruning, and split sizes (committed `sizes`) all come
    // from the manifest — so the whole plan can be built after the
    // data files are deleted, proving zero filesystem access on the
    // planning path. (Execution would of course fail; we never run it.)
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"g${System.nanoTime()}")
    Files.createDirectories(tbl)
    val rows = (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v")
    for (q <- 0 until 4)
      rows.filter($"id".between(q * 25 + 1, (q + 1) * 25))
        .coalesce(1).write.parquet(tbl.resolve(s"q$q").toString)
    val files = (0 until 4).flatMap(q => TxnLog.parquetsUnder(tbl, s"q$q"))
    TxnLog.commitRetryWith(tbl, _ => TxnLog.Manifest(0L, -1L, "create",
      files, TxnLog.keyStats(spark, tbl, files, "id"),
      statsKey = Some("id"),
      columns = Some(Seq(
        TxnLog.ColumnDef(1, "id", "bigint", "id"),
        TxnLog.ColumnDef(2, "v", "bigint", "v")))))
    val m = TxnLog.readManifest(tbl, 0L)
    assert(m.files.forall(m.sizes.contains),
      s"commitRetryWith must leave a fully size-bearing manifest: $m")
    // Scorch the earth: no data file (or its directory) survives.
    for (q <- 0 until 4) {
      import scala.jdk.CollectionConverters._
      val d = tbl.resolve(s"q$q")
      Files.walk(d).iterator().asScala.toSeq.reverse
        .foreach(Files.delete)
    }
    val df = GraftTables.read(spark, tbl).filter($"id" <= 10L)
    val planned = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan
    }.map {
      case r: graft.sources.GraftScan => r.inner
      case s => s
    }.collect { case s: FileScan => s.fileIndex.inputFiles.toSeq }.flatten
    assert(planned.size == 1 && planned.head.contains("/q0/"),
      s"stats must prune to q0 with no filesystem access: $planned")
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("df.write.format(graft) appends and overwrites as log commits") {
    val tbl = quartileTable()
    // append: new version, additive files, stats for the new files.
    (101L to 120L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    assert(TxnLog.versions(tbl) == Seq(0L, 1L))
    val m1 = TxnLog.readManifest(tbl, 1L)
    assert(m1.action == "append" && m1.files.size == 5 &&
      m1.files.forall(m1.stats.contains))
    assert(GraftTables.read(spark, tbl).count() == 120L)
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
    // appended data participates in stats skipping immediately.
    val df = GraftTables.read(spark, tbl).filter($"id" >= 110L)
    assert(plannedFiles(df).size == 1 && df.count() == 11L)
    // column order in the frame does not matter; names do.
    Seq((7L, 1000L)).toDF("v", "id").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    assert(GraftTables.read(spark, tbl).filter($"id" === 1000L)
      .select($"v").head.getLong(0) == 7L)
    intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "wrong")
        .write.format("graft").mode("append").save(tbl.toString)
    }
    // overwrite: the tip replaces the file set; history survives.
    (1L to 5L).map(i => (i, -i)).toDF("id", "v")
      .write.format("graft").mode("overwrite").save(tbl.toString)
    val tip = TxnLog.readManifest(tbl, TxnLog.latest(tbl).get)
    assert(tip.action == "replace")
    assert(GraftTables.read(spark, tbl).count() == 5L)
    assert(GraftTables.read(spark, tbl, Some(1L)).count() == 120L)
  }

  test("SQL INSERT INTO commits through the catalog; pinned snapshots refuse writes") {
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    spark.sql(s"INSERT INTO graft.`$tbl` VALUES (500, 5000), (501, 5010)")
    assert(TxnLog.versions(tbl) == Seq(0L, 1L))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$tbl`")
      .head.getLong(0) == 102L)
    assert(spark.sql(
      s"SELECT v FROM graft.`$tbl` WHERE id = 500").head.getLong(0) == 5000L)
    // writing to a versionAsOf-pinned snapshot is refused.
    intercept[Exception] {
      Seq((9L, 9L)).toDF("id", "v").write.format("graft")
        .option("versionAsOf", "0").mode("append").save(tbl.toString)
    }
    assert(TxnLog.versions(tbl) == Seq(0L, 1L))
  }

  test("incremental reads return exactly the appended rows; refuse across rewrites") {
    val tbl = quartileTable()
    (101L to 120L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    (121L to 130L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    def inc(from: Long, asOf: Option[Long] = None) = {
      val r = spark.read.format("graft")
        .option("fromVersion", from.toString)
      asOf.foreach(v => r.option("versionAsOf", v.toString))
      r.load(tbl.toString)
    }
    // everything appended since v0 / since v1 / in the (0,1] window.
    assert(inc(0).agg(min($"id"), max($"id"), count(lit(1))).head
      .toSeq == Seq(101L, 130L, 30L))
    assert(inc(1).select(min($"id")).head.getLong(0) == 121L)
    assert(inc(0, Some(1L)).count() == 20L)
    // the diff's manifest stats still skip: only the second append's
    // file can hold id >= 125.
    val df = inc(0).filter($"id" >= 125L)
    assert(plannedFiles(df).size == 1 && df.count() == 6L)
    // an incremental snapshot is read-only.
    intercept[Exception] {
      Seq((1L, 1L)).toDF("id", "v").write.format("graft")
        .option("fromVersion", "0").mode("append").save(tbl.toString)
    }
    // a replace in the window makes a file diff a lie — refused.
    (1L to 3L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("overwrite").save(tbl.toString)
    val e = intercept[Exception] { inc(0).count() }
    assert(e.getMessage.contains("non-append"))
    // ...but a window that ends before the replace still works.
    assert(inc(0, Some(2L)).count() == 30L)
  }

  test("readStream.format(graft) follows the log: snapshot, appends, checkpoint resume") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = quartileTable()
    val base = graft.util.Scratch.dir("graft_connector")
      .resolve(s"ck${System.nanoTime()}")
    val (ckpt, out) = (base.resolve("ckpt").toString,
      base.resolve("out").toString)
    // Parquet sink (memory sink cannot recover from a checkpoint);
    // drains ACCUMULATE in `out`, so each call returns the increment.
    def drain(opts: Map[String, String] = Map.empty,
        checkpoint: String = ckpt, outDir: String = out): Long = {
      val before =
        if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(outDir))) 0L
        else spark.read.parquet(outDir).count()
      val r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.load(tbl.toString)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(outDir).count() - before
    }
    // First drain: the full current snapshot is the first batch.
    assert(drain() == 100L)
    // Idle drain from the same checkpoint: nothing new.
    assert(drain() == 0L)
    // Two appends land; the resumed stream reads EXACTLY them.
    (101L to 120L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    (121L to 130L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    assert(drain() == 30L)
    assert(spark.read.parquet(out).filter($"id" > 100L)
      .agg(min($"id"), max($"id")).head.toSeq == Seq(101L, 130L))
    // startingVersion skips history: a FRESH stream from v2 sees only
    // the second append.
    assert(drain(Map("startingVersion" -> "2"),
      base.resolve("ckpt2").toString,
      base.resolve("out2").toString) == 10L)
  }

  test("readChangeFeed streams the CDF: snapshot as inserts, then " +
      "updates, MoR deletes and appends at their own versions " +
      "across a checkpoint resume; metadata commits batch empty") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = quartileTable()
    val base = graft.util.Scratch.dir("graft_connector")
      .resolve(s"cdf${System.nanoTime()}")
    val (ckpt, out) = (base.resolve("ckpt").toString,
      base.resolve("out").toString)
    def drain(): Long = {
      val before =
        if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(out))) 0L
        else spark.read.parquet(out).count()
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .load(tbl.toString)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).count() - before
    }
    // Batch one of a fresh checkpoint: the snapshot as inserts.
    assert(drain() == 100L)
    assert(spark.read.parquet(out)
      .filter($"_change_type" === "insert" && $"_commit_version" === 0L)
      .count() == 100L)
    // v1 append, v2 CoW UPDATE (10 rows of the q0 file; carried rows
    // must cancel), v3 merge-on-read delete (no files change — the
    // feed must still carry the 2 deletions at v3).
    (101L to 110L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    GraftTables.registerCatalog(spark)
    spark.sql(s"UPDATE graft.`$tbl` SET v = v + 1 WHERE id <= 10")
    TxnLog.deleteByKeyMor(spark, tbl, Seq(50L, 51L).toDF("id"), "id", "d3")
    assert(drain() == 10L + 20L + 2L)
    val byKind = spark.read.parquet(out)
      .filter($"_commit_version" >= 1L)
      .groupBy("_commit_version", "_change_type").count()
      .as[(Long, String, Long)].collect().toSet
    assert(byKind == Set(
      (1L, "insert", 10L),
      (2L, "update_preimage", 10L), (2L, "update_postimage", 10L),
      (3L, "delete", 2L)))
    // The delete pre-images carry the CURRENT (post-update) values.
    assert(spark.read.parquet(out)
      .filter($"_change_type" === "delete").select($"id")
      .as[Long].collect().toSet == Set(50L, 51L))
    // A metadata-only commit window drains as an EMPTY batch, not an
    // error (the batch API keeps refusing: covered in TxnLogSpec).
    TxnLog.setConstraint(tbl, "v_any", "v IS NOT NULL OR v IS NULL")
    assert(drain() == 0L)
    // Idle drain: no new versions, nothing emitted.
    assert(drain() == 0L)
    TxnLog.dropConstraint(tbl, "v_any")
    // A DELTA (SupportsDelta) UPDATE commit streams through the feed
    // as exact pre/post pairs — position deletes and appended files
    // classified by the shared key join, same as the batch CDF.
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try spark.sql(s"UPDATE graft.`$tbl` SET v = v + 7 WHERE id % 50 = 2")
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    assert(drain() == 6L) // 3 matched ids (2, 52, 102) x pre+post
    val dv = TxnLog.tip(tbl).version
    assert(spark.read.parquet(out)
      .filter($"_commit_version" === dv)
      .groupBy("_change_type").count()
      .as[(String, Long)].collect().toSet ==
      Set(("update_preimage", 3L), ("update_postimage", 3L)))
  }

  test("SQL DELETE in MoR mode with a non-key predicate commits a " +
      "position delete; scans, pushed filters and time travel stay right") {
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    val before = TxnLog.tip(tbl).files
    spark.conf.set("spark.graft.delete.mode", "mor")
    try {
      // A RANGE is not the key-equality shape, so eq deletes cannot
      // express it — this is the position-delete path. Stats scope
      // the position scan to the one file holding [10, 13].
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE id BETWEEN 10 AND 13")
    } finally spark.conf.unset("spark.graft.delete.mode")
    val m = TxnLog.tip(tbl)
    assert(m.action == "delete-mor" && m.files == before,
      s"position delete must rewrite zero data files: $m")
    assert(m.deletes.size == 1 && m.deletes.head.kind == "pos")
    assert(TxnLog.posDeleteNamedFiles(tbl, m.deletes.head) ==
      before.filter(_.startsWith("q0")).toSet,
      "positions must name only the stats-affected file")
    // Full read, filtered read (pushed into the MoR inner scan), and
    // the pre-delete snapshot.
    assert(GraftTables.read(spark, tbl).count() == 96L)
    assert(GraftTables.read(spark, tbl).filter($"id" < 20L)
      .select("id").as[Long].collect().toSet ==
      ((1L to 9L) ++ (14L to 19L)).toSet)
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
    // A second MoR predicate delete composes (different file, q3).
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM graft.`$tbl` WHERE id >= 98")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(TxnLog.tip(tbl).deletes.size == 2)
    assert(GraftTables.read(spark, tbl).count() == 93L)
    // A MoR-mode predicate matching no file's stats is a metadata
    // no-op; matching files but no rows commits nothing either.
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM graft.`$tbl` WHERE id > 100000")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(TxnLog.tip(tbl).deletes.size == 2)
    // CoW UPDATE over the pos-pending table must not resurrect: the
    // rewrite reads through the MoR scan.
    spark.sql(s"UPDATE graft.`$tbl` SET id = id WHERE id <= 25")
    assert(GraftTables.read(spark, tbl).count() == 93L)
    assert(GraftTables.read(spark, tbl)
      .filter($"id".between(10L, 13L)).count() == 0L)
  }

  test("row-provenance metadata columns _graft_file/_graft_pos are " +
      "selectable, filter-pushdown-safe, and MoR-aware") {
    val tbl = quartileTable() // ids 1..100 across 4 files, key id
    val df = GraftTables.read(spark, tbl)
      .select($"id", $"_graft_file", $"_graft_pos")
    assert(df.count() == 100L)
    // File identity is the manifest-relative name; ordinals restart
    // per file and are dense within one.
    val byFile = df.groupBy("_graft_file")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.min($"_graft_pos").as("lo"),
        org.apache.spark.sql.functions.max($"_graft_pos").as("hi"))
      .as[(String, Long, Long, Long)].collect()
    assert(byFile.length == 4)
    assert(byFile.forall { case (f, n, lo, hi) =>
      TxnLog.tip(tbl).files.contains(f) && lo == 0L && hi == n - 1 })
    // Pushed filters do not disturb ordinals (id=30 is the 5th row of
    // the q1 file: ids 26..50, ordinal 4).
    val r = df.filter($"id" === 30L).head()
    assert(r.getString(1).startsWith("q1/") && r.getLong(2) == 4L)
    // MoR-aware: a position delete hides the row from the provenance
    // read too (same ordinal never re-surfaces).
    spark.conf.set("spark.graft.delete.mode", "mor")
    try {
      GraftTables.registerCatalog(spark)
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE id BETWEEN 30 AND 31")
    } finally spark.conf.unset("spark.graft.delete.mode")
    assert(GraftTables.read(spark, tbl)
      .select($"id", $"_graft_pos").count() == 98L)
    assert(GraftTables.read(spark, tbl)
      .select($"_graft_pos", $"id").filter($"id" === 30L).count() == 0L)
  }

  test("SupportsDelta row-level ops: SQL UPDATE/DELETE/MERGE in " +
      "merge-on-read mode append rows + position deletes, never rewrite") {
    val tbl = quartileTable() // ids 1..100, v = id*10, 4 files
    GraftTables.registerCatalog(spark)
    val before = TxnLog.tip(tbl).files
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try {
      // UPDATE scattered across all four files: delta mode pays for
      // 10 rows, not 4 file rewrites.
      spark.sql(s"UPDATE graft.`$tbl` SET v = v + 1 WHERE id % 10 = 3")
      val m1 = TxnLog.tip(tbl)
      assert(m1.action == "update-mor", m1.action)
      assert(before.forall(m1.files.contains), "no data file removed")
      assert(m1.deletes.nonEmpty && m1.deletes.forall(_.kind == "pos"))
      assert(GraftTables.read(spark, tbl).count() == 100L)
      assert(GraftTables.read(spark, tbl).filter($"id" % 10 === 3)
        .select("v").as[Long].collect().sorted.toSeq ==
        (0L to 9L).map(d => (d * 10 + 3) * 10 + 1))
      // Row-level DELETE (modulo predicate never translates to a
      // metadata delete): delta mode makes it positions-only.
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE id % 10 = 7")
      val m2 = TxnLog.tip(tbl)
      assert(m2.action == "delete-mor", m2.action)
      assert(m1.files.forall(m2.files.contains))
      assert(GraftTables.read(spark, tbl).count() == 90L)
      assert(GraftTables.read(spark, tbl)
        .filter($"id" % 10 === 7).count() == 0L)
      // MERGE: matched UPDATE + not-matched INSERT in one delta
      // commit (the matched row's live version sits in the UPDATE's
      // appended file — chained provenance works).
      Seq((3L, 99999L), (1000L, 12345L)).toDF("id", "v")
        .createOrReplaceTempView("delta_merge_src")
      spark.sql(s"MERGE INTO graft.`$tbl` t USING delta_merge_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
      val m3 = TxnLog.tip(tbl)
      assert(m3.action == "update-mor")
      assert(GraftTables.read(spark, tbl).count() == 91L)
      assert(GraftTables.read(spark, tbl).filter($"id" === 3L)
        .select("v").as[Long].head() == 99999L)
      assert(GraftTables.read(spark, tbl).filter($"id" === 1000L)
        .select("v").as[Long].head() == 12345L)
      // CDF classifies the MERGE commit exactly: one update pair for
      // id=3, one insert for id=1000.
      val feed = TxnLog.changes(spark, tbl, m2.version, m3.version, "id")
      assert(feed.groupBy("_change_type").count()
        .as[(String, Long)].collect().toSet ==
        Set(("update_preimage", 1L), ("update_postimage", 1L),
          ("insert", 1L)))
      // And the DELETE commit's feed is pure deletes of the 10 rows.
      assert(TxnLog.changes(spark, tbl, m1.version, m2.version, "id")
        .groupBy("_change_type").count()
        .as[(String, Long)].collect().toSet == Set(("delete", 10L)))
      // Time travel to the original snapshot is untouched.
      assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
      // Materialize folds all of it; content stable.
      TxnLog.materializeDeletes(spark, tbl, "mzd")
      assert(TxnLog.tip(tbl).deletes.isEmpty)
      assert(GraftTables.read(spark, tbl).count() == 91L)
      assert(GraftTables.read(spark, tbl).filter($"id" === 3L)
        .select("v").as[Long].head() == 99999L)
      // A TRANSLATABLE delete under the same switch stays MoR too —
      // rowlevel.mode=mor implies MoR on the metadata-delete path, so
      // one switch gives a coherent no-rewrite cost model; and the
      // router picks the CHEAPEST form (key-equality on the stats key
      // → an equality delete, not positions).
      val preDel = TxnLog.tip(tbl).files
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE id = 43")
      val m4 = TxnLog.tip(tbl)
      assert(m4.action == "delete-mor" && m4.files == preDel &&
        m4.deletes.map(_.kind) == Seq("eq"))
      assert(GraftTables.read(spark, tbl).count() == 90L)
    } finally spark.conf.unset("spark.graft.rowlevel.mode")
  }

  test("WriteDelta plan witness: the mor UPDATE/MERGE/DELETE scan " +
      "pushes the condition into parquet and plans ONE scan per group") {
    import org.apache.spark.sql.catalyst.plans.logical.CommandResult
    val tbl = quartileTable() // ids 1..100, v = id*10, 4 files
    GraftTables.registerCatalog(spark)
    def commandPhys(sqlText: String): SparkPlan =
      spark.sql(sqlText).queryExecution.commandExecuted match {
        case cr: CommandResult => cr.commandPhysicalPlan
        case o => fail(s"expected an eagerly-executed command, got $o")
      }
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    def graftScans(p: SparkPlan): Seq[graft.sources.GraftScan] = {
      val scans = flatten(p).collect { case b: BatchScanExec => b.scan }
        .collect { case g: graft.sources.GraftScan => g }
      assert(scans.nonEmpty, s"no graft scan in:\n$p")
      scans
    }
    def graftScan(p: SparkPlan): graft.sources.GraftScan = {
      val scans = graftScans(p)
      assert(scans.size == 1,
        s"expected exactly one graft scan, got ${scans.size}:\n$p")
      scans.head
    }
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try {
      // UPDATE: planned as WriteDelta (the SupportsDelta contract),
      // its condition PUSHED into the inner parquet scan — row-group/
      // page skipping live, which the copy-on-write scan must never
      // do (it owes every row of every planned file) — manifest stats
      // prune q0, and the three kept files plan as ONE provenance
      // scan: one scan per GROUP, never one per file (the driver
      // plans O(groups) however many files a statement touches).
      val up = commandPhys(
        s"UPDATE graft.`$tbl` SET v = v + 1 WHERE id >= 30")
      assert(up.toString.contains("WriteDelta"),
        s"UPDATE in mor mode must plan WriteDelta:\n$up")
      val upScan = graftScan(up)
      val upDesc = upScan.description()
      assert(upDesc.startsWith("GraftMoR(1 groups"), upDesc)
      assert(upDesc.contains("GreaterThanOrEqual(id,30)"),
        s"condition must reach the parquet scan's PushedFilters:\n$upDesc")
      val upFiles = upScan.inner match {
        case fs: FileScan => fs.fileIndex.inputFiles.toSeq
        case o => fail(s"inner scan is not a FileScan: $o")
      }
      assert(upFiles.size == 3 && !upFiles.exists(_.contains("/q0/")),
        s"manifest stats must prune q0 (ids 1..25): $upFiles")
      // Split the table into TWO delete-applicability classes: an
      // equality delete scoping every current file, then an append
      // that escapes it by sequence.
      spark.sql(s"DELETE FROM graft.`$tbl` WHERE id = 1") // kind=eq
      assert(TxnLog.tip(tbl).deletes.exists(_.kind == "eq"))
      Seq((200L, 1L), (201L, 2L)).toDF("id", "v")
        .write.format("graft").mode("append").save(tbl.toString)
      // A FULLY-translatable DELETE routes through SupportsDelete —
      // the router picks the cheaper metadata path (deleteByPosMor:
      // one read, one small position file, no WriteDelta task
      // plumbing). Witness the routing.
      val del = commandPhys(s"DELETE FROM graft.`$tbl` WHERE id >= 200")
      assert(del.toString.contains("DeleteFromTable"),
        s"a translatable DELETE must stay on the metadata path:\n$del")
      val mDel = TxnLog.tip(tbl)
      assert(mDel.action == "delete-mor" &&
        mDel.deletes.exists(_.kind == "pos"))
      assert(GraftTables.read(spark, tbl).count() == 99L)
      // A predicate V1 filters CANNOT express must plan WriteDelta —
      // and must delete EVERY named row. (Regression: Spark's default
      // SupportsDelete bridge converts an OR to its translatable side
      // alone, so this statement used to route metadata-path with the
      // weaker filter and silently leave the modulo rows alive;
      // GraftTable's exact V2-predicate override refuses instead.)
      val del2 = commandPhys(
        s"DELETE FROM graft.`$tbl` WHERE id % 10 = 7 OR id >= 1000")
      assert(del2.toString.contains("WriteDelta"),
        s"a non-translatable DELETE must plan WriteDelta:\n$del2")
      // The two delete-applicability classes plan as exactly TWO
      // group scans even though six files participate (one scan per
      // GROUP, never one per file).
      val delDescs = graftScans(del2).map(_.description())
      assert(delDescs.forall(_.startsWith("GraftMoR(2 groups")),
        s"6 files in 2 delete classes = 2 group scans:\n" +
          delDescs.mkString("\n"))
      assert(TxnLog.tip(tbl).action == "delete-mor")
      assert(GraftTables.read(spark, tbl)
        .filter($"id" % 10 === 7).count() == 0L,
        "the OR's modulo side must actually delete")
      assert(GraftTables.read(spark, tbl).count() == 89L)
      // MERGE upsert: one WriteDelta, graft scans only per-group (the
      // source side is a local relation), update-mor commit.
      Seq((60L, 7L), (300L, 8L)).toDF("id", "v")
        .createOrReplaceTempView("wd_witness_src")
      val mrg = commandPhys(
        s"MERGE INTO graft.`$tbl` t USING wd_witness_src s " +
          "ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
      assert(mrg.toString.contains("WriteDelta"),
        s"mor MERGE must plan WriteDelta:\n$mrg")
      assert(graftScans(mrg).forall(
        _.description().startsWith("GraftMoR(")))
      assert(TxnLog.tip(tbl).action == "update-mor")
      // The statements really ran: 100 - (id=1) - the two appended
      // ≥200 rows - 10×(…7) + the upsert MERGE's one insert = 90.
      assert(GraftTables.read(spark, tbl).count() == 90L)
      assert(GraftTables.read(spark, tbl).filter($"id" === 60L)
        .select("v").as[Long].head() == 7L)
      assert(GraftTables.read(spark, tbl).filter($"id" === 300L)
        .select("v").as[Long].head() == 8L)
    } finally spark.conf.unset("spark.graft.rowlevel.mode")
  }

  test("delta MERGE handles NOT MATCHED BY SOURCE; delta UPDATE works " +
      "on a column-mapped (renamed) table") {
    GraftTables.registerCatalog(spark)
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try {
      // NMBS through the delta plan: one update pair + two deletes,
      // still zero file rewrites.
      val tbl = quartileTable()
      val before = TxnLog.tip(tbl).files
      Seq((1L, 111L)).toDF("id", "v")
        .createOrReplaceTempView("delta_nmbs_src")
      spark.sql(s"MERGE INTO graft.`$tbl` t USING delta_nmbs_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED BY SOURCE AND t.id > 98 THEN DELETE")
      val m = TxnLog.tip(tbl)
      assert(m.action == "update-mor" && before.forall(m.files.contains))
      assert(GraftTables.read(spark, tbl).count() == 98L)
      assert(GraftTables.read(spark, tbl).filter($"id" === 1L)
        .select("v").as[Long].head() == 111L)
      assert(GraftTables.read(spark, tbl).filter($"id" > 98L).count() == 0L)
      // Column mapping: rename v -> val (manifest-only), then a delta
      // UPDATE through the LOGICAL name; the position delete and the
      // appended physical bytes stay consistent with the mapping.
      val tbl2 = graft.util.Scratch.dir("graft_connector")
        .resolve(s"dm${System.nanoTime()}")
      GraftTables.createFrom(tbl2,
        (1L to 100L).map(i => (i, i * 10L)).toDF("id", "v"))
      TxnLog.renameColumn(tbl2, "v", "val")
      spark.sql(s"UPDATE graft.`$tbl2` SET val = val + 1 WHERE id = 7")
      val m2 = TxnLog.tip(tbl2)
      assert(m2.action == "update-mor" &&
        m2.deletes.map(_.kind) == Seq("pos"))
      assert(GraftTables.read(spark, tbl2).filter($"id" === 7L)
        .select("val").as[Long].head() == 71L)
      assert(GraftTables.read(spark, tbl2).count() == 100L)
      // The pre-rename snapshot still reads the OLD name and value.
      assert(GraftTables.read(spark, tbl2, Some(0L)).filter($"id" === 7L)
        .select("v").as[Long].head() == 70L)
    } finally spark.conf.unset("spark.graft.rowlevel.mode")
  }

  test("CALL graft.update_mor: matched rows re-appended + old ordinals " +
      "position-deleted in ONE commit; CDF, chaining, materialize") {
    val tbl = quartileTable() // ids 1..100, v = id*10, 4 files, key id
    GraftTables.registerCatalog(spark)
    val before = TxnLog.tip(tbl).files
    val res = spark.sql(s"CALL graft.update_mor(table => '$tbl', " +
      "where => 'id % 10 = 0 AND id <= 30', " +
      "set_column => 'v', set_expr => 'v + 1')").head
    assert(res.getLong(0) == 1L && res.getLong(1) >= 1L)
    val m = TxnLog.tip(tbl)
    assert(m.action == "update-mor")
    assert(before.forall(m.files.contains), "no data file removed")
    assert(m.deletes.size == 1 && m.deletes.head.kind == "pos")
    // Updated exactly ids 10/20/30; count stable; the appended files
    // are stats-covered so skipping keeps working.
    assert(GraftTables.read(spark, tbl).count() == 100L)
    assert(GraftTables.read(spark, tbl)
      .filter($"id" % 10 === 0 && $"id" <= 30)
      .select("v").as[Long].collect().sorted.toSeq ==
      Seq(101L, 201L, 301L))
    assert(m.files.filterNot(before.contains).forall(m.stats.contains))
    // Time travel: v0 still shows the old values.
    assert(GraftTables.read(spark, tbl, Some(0L))
      .filter($"id" === 20L).select("v").as[Long].head() == 200L)
    // CDF: one commit, paired pre/post images.
    val feed = TxnLog.changes(spark, tbl, 0L, 1L, "id")
    assert(feed.groupBy("_change_type").count()
      .as[(String, Long)].collect().toSet ==
      Set(("update_preimage", 3L), ("update_postimage", 3L)))
    assert(feed.filter($"_change_type" === "update_postimage")
      .select("v").as[Long].collect().sorted.toSeq ==
      Seq(101L, 201L, 301L))
    // Chained update of an already-updated row: its live version sits
    // in the APPENDED file; the old ordinal there gets pos-deleted.
    spark.sql(s"CALL graft.update_mor(table => '$tbl', " +
      "where => 'id = 20', set_column => 'v', set_expr => 'v + 1')")
    assert(GraftTables.read(spark, tbl)
      .filter($"id" === 20L).select("v").as[Long].head() == 202L)
    assert(GraftTables.read(spark, tbl).count() == 100L)
    // Materialize folds the position debt; content unchanged.
    spark.sql(s"CALL graft.materialize_deletes(table => '$tbl')")
    assert(TxnLog.tip(tbl).deletes.isEmpty)
    assert(GraftTables.read(spark, tbl).count() == 100L)
    assert(GraftTables.read(spark, tbl)
      .filter($"id" % 10 === 0 && $"id" <= 30)
      .select("v").as[Long].collect().sorted.toSeq ==
      Seq(101L, 202L, 301L))
    // A no-match predicate is a version-stable no-op.
    val v = TxnLog.tip(tbl).version
    spark.sql(s"CALL graft.update_mor(table => '$tbl', " +
      "where => 'id > 100000', set_column => 'v', set_expr => '0')")
    assert(TxnLog.tip(tbl).version == v)
  }

  test("CALL procedures run table maintenance from SQL: restore, " +
      "optimize, materialize_deletes, expire") {
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    // v1: a mistaken SQL DELETE empties the low quartile.
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id <= 25")
    assert(GraftTables.read(spark, tbl).count() == 75L)
    // CALL restore → v2, content-identical to v0.
    val res = spark.sql(
      s"CALL graft.restore(table => '$tbl', version => 0)").head
    assert(res.getLong(0) == 0L && res.getLong(1) == 2L)
    assert(GraftTables.read(spark, tbl).count() == 100L)
    assert(TxnLog.tip(tbl).action == "restore")
    // CALL optimize (defaults): all four quartile files are tiny →
    // packed into one; rows unchanged.
    val opt = spark.sql(s"CALL graft.optimize(table => '$tbl')").head
    assert(opt.getLong(1) == 4L && opt.getLong(2) == 1L,
      s"expected 4 -> 1 files, got $opt")
    assert(GraftTables.read(spark, tbl).count() == 100L)
    // A MoR delete, then CALL materialize_deletes clears the debt.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(1L, 2L).toDF("id"), "id", "dp")
    val mat = spark.sql(
      s"CALL graft.materialize_deletes(table => '$tbl')").head
    assert(mat.getLong(1) == 1L) // one pending delete file folded
    assert(TxnLog.tip(tbl).deletes.isEmpty)
    assert(GraftTables.read(spark, tbl).count() == 98L)
    // CALL expire: keep the last 2 versions, vacuum behind them.
    val exp = spark.sql(s"CALL graft.expire(table => '$tbl', " +
      "retain_last => 2, vacuum_horizon_ms => 1)").head
    assert(exp.getLong(0) >= 1L)
    assert(GraftTables.read(spark, tbl).count() == 98L)
    // CALL history: newest first, limit honored, metadata-only.
    val h = spark.sql(s"CALL graft.history(table => '$tbl', limit => 2)")
      .select("version", "action").as[(Long, String)].collect()
    assert(h.length == 2 && h(0)._1 > h(1)._1)
    assert(spark.sql(s"CALL graft.history(table => '$tbl')").count() ==
      TxnLog.versions(tbl).size.toLong)
    // Unknown procedures fail, naming the available ones in the chain.
    val e = intercept[Exception](spark.sql(s"CALL graft.zorder('$tbl')"))
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("zorder") &&
      (chain.contains("available") || chain.contains("FAILED_TO_LOAD")),
      chain)
  }

  test("MIN/MAX/COUNT push down to parquet footers over the pruned file set") {
    val tbl = quartileTable()
    // The delegation honors Spark's own gate: parquet footer
    // aggregation is opt-in (spark.sql.parquet.aggregatePushdown).
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = GraftTables.read(spark, tbl)
        .agg(count(lit(1)).as("n"), min($"id"), max($"id"))
      assert(df.head.toSeq == Seq(100L, 1L, 100L))
      val scanDesc = df.queryExecution.executedPlan.toString
      assert(scanDesc.contains("PushedAggregation: [COUNT(*)"),
        s"footer aggregation must be pushed:\n$scanDesc")
      // ...and a filtered aggregate falls back to a normal scan
      // (parquet cannot apply data filters to footer stats) with the
      // right answer.
      val filtered = GraftTables.read(spark, tbl)
        .filter($"id" >= 30L && $"id" <= 40L).agg(count(lit(1)))
      assert(filtered.head.getLong(0) == 11L)
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("graft relations report statistics: a small table auto-broadcasts in a join") {
    // The wrapper scan delegates SupportsReportStatistics to the
    // inner FileScan; without that, every graft relation would look
    // defaultSizeInBytes-huge and this join would sort-merge.
    val tbl = quartileTable()
    val big = spark.range(0, 10000L).toDF("id")
    val joined = big.join(GraftTables.read(spark, tbl), Seq("id"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"100-row graft table must broadcast, got:\n$plan")
  }

  test("writeStream.format(graft): table-to-table streaming, exactly-once across resume") {
    import org.apache.spark.sql.streaming.Trigger
    val a = quartileTable()
    val base = graft.util.Scratch.dir("graft_connector")
      .resolve(s"s2s${System.nanoTime()}")
    val b = base.resolve("b")
    val ckpt = base.resolve("ckpt").toString
    def pump(): Unit = {
      val q = spark.readStream.format("graft").load(a.toString)
        .writeStream.format("graft").option("path", b.toString)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // First batch CREATES table b (declared columns, txn-stamped).
    pump()
    assert(GraftTables.read(spark, b).count() == 100L)
    val m0 = TxnLog.readManifest(b, 0L)
    assert(m0.action == "create" && m0.columns.isDefined &&
      m0.txn.exists(_._2 == 0L))
    // Idle pump: no new source versions, no commits on b.
    pump()
    assert(TxnLog.versions(b) == Seq(0L))
    // The source grows; the resumed pipe moves exactly the increment.
    (101L to 120L).map(i => (i, i)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(a.toString)
    pump()
    assert(GraftTables.read(spark, b).count() == 120L)
    assert(TxnLog.versions(b) == Seq(0L, 1L))
    // Replaying an already-committed batch id is a no-op (the recovery
    // path Structured Streaming exercises after a mid-commit failure).
    val appId = m0.txn.get._1
    new graft.sources.GraftStreamingSink(b, appId)
      .addBatch(1L, (1L to 5L).map(i => (i, i)).toDF("id", "v"))
    assert(TxnLog.versions(b) == Seq(0L, 1L))
    assert(GraftTables.read(spark, b).count() == 120L)
    // ...while a genuinely new batch id lands.
    new graft.sources.GraftStreamingSink(b, appId)
      .addBatch(2L, (201L to 203L).map(i => (i, i)).toDF("id", "v"))
    assert(GraftTables.read(spark, b).count() == 123L)
  }

  test("writeStream.format(graft): batch 0 of a stream-created table honors declared CHECK constraints") {
    import org.apache.spark.sql.streaming.Trigger
    val a = quartileTable() // ids 0..99 — half violate `id < 50`
    val base = graft.util.Scratch.dir("graft_connector")
      .resolve(s"cons${System.nanoTime()}")
    def pump(out: java.nio.file.Path, ck: String, pred: String): Unit = {
      val q = spark.readStream.format("graft").load(a.toString)
        .writeStream.format("graft").option("path", out.toString)
        .option("checkpointLocation", ck)
        .option("constraint.bounded", pred)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // A violating FIRST batch fails the query — no create commit lands
    // (this used to slide through: the table didn't exist yet, so no
    // constraint set existed to validate against).
    val bad = base.resolve("bad")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      pump(bad, base.resolve("ckbad").toString, "id < 50")
    }
    assert(e.getMessage.contains("bounded") ||
      Option(e.getCause).exists(_.getMessage.contains("bounded")))
    assert(TxnLog.latest(bad).isEmpty, "violating batch 0 must not commit")
    // A passing first batch creates the table BORN with the constraint;
    // later direct writes validate against it with no sink option.
    val good = base.resolve("good")
    pump(good, base.resolve("ckgood").toString, "id >= 0")
    assert(TxnLog.readManifest(good, 0L).constraints ==
      Map("bounded" -> "id >= 0"))
    intercept[Exception] {
      Seq((-5L, 1L)).toDF("id", "v")
        .write.format("graft").mode("append").save(good.toString)
    }
    // A sink option that disagrees with the live table's set refuses.
    intercept[Exception] {
      new graft.sources.GraftStreamingSink(good, "other-app",
        Map("bounded" -> "id >= 10"))
        .addBatch(0L, Seq((11L, 1L)).toDF("id", "v"))
    }
  }

  test("SQL DELETE FROM rewrites only stats-affected files as a log commit") {
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    val before = TxnLog.readManifest(tbl, 0L)
    // [30, 40] lives in file q1 only — the other three files must
    // survive BY NAME (no rewrite), and the commit is a new version.
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id BETWEEN 30 AND 40")
    val after = TxnLog.readManifest(tbl, 1L)
    assert(after.action == "delete")
    val untouched = before.files.filterNot(_.startsWith("q1/"))
    assert(untouched.forall(after.files.contains),
      s"files outside the affected range must survive: $after")
    assert(!after.files.exists(before.files.filter(_.startsWith("q1/")).contains))
    assert(GraftTables.read(spark, tbl).count() == 89L)
    assert(GraftTables.read(spark, tbl)
      .filter($"id".between(30L, 40L)).count() == 0L)
    // Time travel still sees the deleted rows.
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
    // A predicate beyond every file's range is a metadata-only no-op.
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id = 99999")
    assert(TxnLog.versions(tbl) == Seq(0L, 1L))
    // Delete-everything-in-a-file drops the empty rewrite.
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id <= 25")
    val m2 = TxnLog.readManifest(tbl, 2L)
    assert(m2.files.forall(m2.stats.contains) &&
      GraftTables.read(spark, tbl).count() == 64L)
    // NULL-predicate rows are kept (DELETE only removes pred IS TRUE).
    val tbl2 = graft.util.Scratch.dir("graft_connector")
      .resolve(s"d${System.nanoTime()}")
    Files.createDirectories(tbl2)
    Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "v").coalesce(1)
      .write.parquet(tbl2.resolve("d0").toString)
    TxnLog.commitRetry(tbl2, "create",
      _ => TxnLog.parquetsUnder(tbl2, "d0"))
    spark.sql(s"DELETE FROM graft.`$tbl2` WHERE v > 15")
    assert(GraftTables.read(spark, tbl2).select($"id")
      .as[Long].collect().toSet == Set(1L, 2L),
      "the NULL-v row must survive a v > 15 delete")
  }

  test("SQL UPDATE, MERGE INTO, and complex DELETE run as row-level operations") {
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    // UPDATE with an assignment expression.
    spark.sql(s"UPDATE graft.`$tbl` SET v = v + 1 WHERE id <= 10")
    val v0 = TxnLog.readManifest(tbl, 0L)
    val v1 = TxnLog.readManifest(tbl, 1L)
    assert(v1.action == "replace")
    // The copy-on-write contract: the condition's stats pruning keeps
    // 3 of 4 quartile files byte-untouched (with their stats); only
    // the file that can hold id <= 10 was rewritten.
    assert(v1.files.count(v0.files.toSet) == 3,
      s"3 quartiles must survive: v0=${v0.files} v1=${v1.files}")
    assert(v1.files.forall(v1.stats.contains),
      "the rewritten tip stays fully stats-covered")
    assert(GraftTables.read(spark, tbl).filter($"id" <= 10L)
      .agg(sum($"v")).head.getLong(0) == (1L to 10L).map(_ * 10 + 1).sum)
    assert(GraftTables.read(spark, tbl).count() == 100L)
    assert(GraftTables.read(spark, tbl).agg(sum($"v")).head.getLong(0) ==
      (1L to 100L).map(_ * 10).sum + 10L,
      "unmatched rows of the rewritten file carried forward unchanged")
    // Time travel still reads the pre-UPDATE values.
    assert(GraftTables.read(spark, tbl, Some(0L)).filter($"id" === 1L)
      .select($"v").head.getLong(0) == 10L)
    // MERGE INTO: matched update + not-matched insert, one statement.
    Seq((1L, 999L), (500L, 5000L)).toDF("id", "v")
      .createOrReplaceTempView("changes")
    spark.sql(
      s"""MERGE INTO graft.`$tbl` t USING changes c ON t.id = c.id
         WHEN MATCHED THEN UPDATE SET t.v = c.v
         WHEN NOT MATCHED THEN INSERT (id, v) VALUES (c.id, c.v)""")
    val after = GraftTables.read(spark, tbl)
    assert(after.count() == 101L)
    assert(after.filter($"id" === 1L).select($"v").head.getLong(0) == 999L)
    assert(after.filter($"id" === 500L).select($"v").head.getLong(0) == 5000L)
    // A DELETE whose predicate has no Filter translation (modulo)
    // routes through the same row-level rewrite instead of failing.
    // 101 rows minus the 51 even ids (50 in 1..100, plus 500).
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id % 2 = 0")
    assert(GraftTables.read(spark, tbl).count() == 50L)
    assert(GraftTables.read(spark, tbl)
      .filter($"id" % 2 === 0).count() == 0L)
    // The log chain stayed serial and time-travelable throughout.
    assert(TxnLog.versions(tbl) == (0L to 3L))
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
  }

  test("pruning is conservative: opaque predicate shapes keep every file") {
    val id = AttributeReference("id", LongType)()
    val m = TxnLog.Manifest(0L, -1L, "create", Seq("a", "b"),
      Map("a" -> (1L, 50L), "b" -> (51L, 100L)), Some("id"))
    // id % 2 = 0 says nothing about ranges — keep both files.
    assert(GraftPruning.prune(m,
      Seq(EqualTo(Remainder(id, Literal(2L)), Literal(0L)))) ==
      Seq("a", "b"))
    // OR widens to the union of both branches' ranges.
    assert(GraftPruning.prune(m,
      Seq(Or(EqualTo(id, Literal(5L)), EqualTo(id, Literal(60L))))) ==
      Seq("a", "b"))
    assert(GraftPruning.prune(m,
      Seq(Or(EqualTo(id, Literal(5L)), EqualTo(id, Literal(7L))))) ==
      Seq("a"))
    // Conjuncts intersect: 40 <= id AND id <= 45 prunes file b.
    assert(GraftPruning.prune(m,
      Seq(GreaterThanOrEqual(id, Literal(40L)),
        LessThanOrEqual(id, Literal(45L)))) == Seq("a"))
    // A stats-less file under a declared statsKey is UNKNOWN (a
    // generic commit may not have computed stats): every predicate
    // keeps it. A file KNOWN to hold no non-NULL keys carries the
    // explicit EmptyRange entry and prunes under any key predicate.
    val m2 = m.copy(stats = Map("a" -> (1L, 50L)))
    assert(GraftPruning.prune(m2, Seq(EqualTo(id, Literal(60L)))) ==
      Seq("b"))
    assert(GraftPruning.prune(m2, Seq.empty) == Seq("a", "b"))
    val m3 = m.copy(stats = Map("a" -> (1L, 50L), "b" -> TxnLog.EmptyRange))
    assert(GraftPruning.prune(m3, Seq(EqualTo(id, Literal(60L)))) ==
      Seq.empty)
    assert(GraftPruning.prune(m3, Seq(EqualTo(id, Literal(5L)))) ==
      Seq("a"))
    assert(GraftPruning.prune(m3, Seq.empty) == Seq("a", "b"))
    // Partition-value pruning compares RENDERED strings, which is only
    // canonical for integral/string/boolean literals — a fractional
    // literal ("3.0" vs stored "3") must never prune, because pruning
    // is not protected by residual filters.
    import org.apache.spark.sql.types.DoubleType
    val mp = TxnLog.Manifest(0L, -1L, "create", Seq("a", "b"),
      partitions = Map("a" -> Map("year" -> "3"),
        "b" -> Map("year" -> "4")))
    assert(GraftPruning.prune(mp, Seq(EqualTo(
      AttributeReference("year", DoubleType)(), Literal(3.0)))) ==
      Seq("a", "b"))
    assert(GraftPruning.prune(mp, Seq(EqualTo(
      AttributeReference("year", LongType)(), Literal(3L)))) == Seq("a"))
  }

  test("multi-column colStats prune independently of the statsKey") {
    val id = AttributeReference("id", LongType)()
    val ts = AttributeReference("ts", LongType)()
    val m = TxnLog.Manifest(0L, -1L, "create", Seq("a", "b", "c"),
      Map("a" -> (1L, 50L), "b" -> (51L, 100L), "c" -> (1L, 100L)),
      Some("id"),
      colStats = Map("ts" -> Map("a" -> (1000L, 1999L),
        "b" -> (1000L, 1999L), "c" -> (2000L, 2999L))))
    // A ts-only filter prunes on colStats even though ts is not the
    // statsKey.
    assert(GraftPruning.prune(m,
      Seq(GreaterThanOrEqual(ts, Literal(2500L)))) == Seq("c"))
    // Conjunction across columns intersects both prunings.
    assert(GraftPruning.prune(m, Seq(EqualTo(id, Literal(60L)),
      LessThanOrEqual(ts, Literal(1500L)))) == Seq("b"))
    // File c spans both columns' ranges, so it survives a conjunction
    // the narrower files fail…
    assert(GraftPruning.prune(m, Seq(EqualTo(id, Literal(60L)),
      GreaterThanOrEqual(ts, Literal(2500L)))) == Seq("c"))
    // …and a ts below every file's range opens nothing.
    assert(GraftPruning.prune(m,
      Seq(LessThanOrEqual(ts, Literal(500L)))) == Seq.empty)
    // A file with no entry for a constrained column is kept; an
    // EmptyRange entry prunes.
    val m2 = m.copy(colStats = Map("ts" -> Map("a" -> (1000L, 1999L),
      "c" -> TxnLog.EmptyRange)))
    assert(GraftPruning.prune(m2,
      Seq(GreaterThanOrEqual(ts, Literal(2500L)))) == Seq("b"))
  }

  test("a stats-less append never poisons key-filtered reads (r13 advice)") {
    val tbl = quartileTable()
    Seq((1000L, 1L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("d1").toString)
    // Generic append WITHOUT statsFor — the exact sequence that used
    // to leave a statsKey-declared tip with empty stats, silently
    // pruning every file from filtered reads.
    TxnLog.commitRetry(tbl, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(tbl, "d1"))
    val tip = TxnLog.readManifest(tbl, 1L)
    assert(tip.statsKey.contains("id"))
    // Survivors kept their stats; the new file has none (= unknown).
    assert(tip.stats.size == 4)
    // The new file's rows are visible to a key-filtered read (it is
    // kept conservatively), and stats pruning still works for the
    // covered quartiles: [30,40] opens q1 plus only the unknown file.
    val hit = GraftTables.read(spark, tbl).filter($"id" === 1000L)
    assert(hit.count() == 1L)
    val df = GraftTables.read(spark, tbl)
      .filter($"id" >= 30L && $"id" <= 40L)
    val opened = plannedFiles(df)
    assert(opened.size == 2 && opened.exists(_.contains("/q1/")) &&
      opened.exists(_.contains("/d1/")),
      s"covered files still prune, the unknown one is kept: $opened")
    assert(df.select(sum($"v")).head.getLong(0) ==
      (30L to 40L).map(_ * 10).sum)
  }

  test("an all-NULL-key file carries EmptyRange: pruned by key filters, kept as data") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"n${System.nanoTime()}")
    Files.createDirectories(tbl)
    (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("a").toString)
    Seq.fill(3)((null.asInstanceOf[java.lang.Long], 7L))
      .toDF("id", "v").coalesce(1).write.parquet(tbl.resolve("b").toString)
    val files = TxnLog.parquetsUnder(tbl, "a") ++ TxnLog.parquetsUnder(tbl, "b")
    TxnLog.commitRetry(tbl, "create", _ => files,
      statsFor = _ => TxnLog.keyStats(spark, tbl, files, "id"),
      statsKey = Some("id"))
    val m = TxnLog.readManifest(tbl, 0L)
    assert(m.stats(files.find(_.startsWith("b/")).get) == TxnLog.EmptyRange)
    val filtered = GraftTables.read(spark, tbl).filter($"id" <= 5L)
    val opened = plannedFiles(filtered)
    assert(opened.size == 1 && opened.head.contains("/a/"),
      s"NULL keys never match a key predicate — prune file b: $opened")
    assert(filtered.count() == 5L)
    assert(GraftTables.read(spark, tbl).count() == 13L,
      "the NULL-key rows are data — an unfiltered read sees them")
  }

  test("a legacy tip with incomplete stats coverage forces merge back to a scan") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"m${System.nanoTime()}")
    Files.createDirectories(tbl)
    (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("f0").toString)
    (11L to 20L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("f1").toString)
    val f0 = TxnLog.parquetsUnder(tbl, "f0")
    val f1 = TxnLog.parquetsUnder(tbl, "f1")
    // Simulate the poisoned shape directly: statsKey declared, but f1
    // has NO entry. Under the old convention the merge would treat f1
    // as unaffected and INSERT a duplicate id=15 instead of updating.
    TxnLog.tryCommitManifest(tbl, TxnLog.Manifest(0L, -1L, "create",
      f0 ++ f1, TxnLog.keyStats(spark, tbl, f0, "id"), Some("id")))
    TxnLog.mergeCowByKey(spark,  tbl,
      Seq((15L, 999L, "upsert")).toDF("id", "v", "op"), "id", "mrg")
    val after = GraftTables.read(spark, tbl)
    assert(after.count() == 20L, "update, not duplicate")
    assert(after.filter($"id" === 15L).select($"v").as[Long]
      .collect().toSeq == Seq(999L))
  }

  test("compact computes fresh stats for the tip's declared key") {
    val tbl = quartileTable()
    TxnLog.compact(spark, tbl, "c1", nFiles = 2)
    val m = TxnLog.readManifest(tbl, 1L)
    assert(m.statsKey.contains("id"))
    assert(m.files.nonEmpty && m.files.forall(m.stats.contains),
      "a compacted tip must stay fully stats-covered, or every later " +
        "merge pays the bootstrap scan")
    assert(GraftTables.read(spark, tbl).filter($"id" === 60L)
      .select($"v").head.getLong(0) == 600L)
  }

  test("connector options are case-insensitive (DSv2 contract)") {
    val tbl = quartileTable()
    Seq((1000L, 1L)).toDF("id", "v").coalesce(1)
      .write.format("graft").mode("append").save(tbl.toString)
    assert(spark.read.format("graft").option("versionasof", "0")
      .load(tbl.toString).count() == 100L)
    assert(spark.read.format("graft").option("VERSIONASOF", "0")
      .load(tbl.toString).count() == 100L)
    assert(spark.read.format("graft").option("FROMVERSION", "0")
      .load(tbl.toString).count() == 1L)
  }

  test("timestampAsOf pins the version committed at or before the instant") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"ts${System.nanoTime()}")
    Files.createDirectories(tbl)
    (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("a").toString)
    (11L to 15L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("b").toString)
    val fa = TxnLog.parquetsUnder(tbl, "a")
    val fb = TxnLog.parquetsUnder(tbl, "b")
    // Deterministic clocks: explicit stamps are respected verbatim.
    TxnLog.tryCommitManifest(tbl, TxnLog.Manifest(0L, -1L, "create",
      fa, ts = 1000000L))
    TxnLog.tryCommitManifest(tbl, TxnLog.Manifest(1L, 0L, "append",
      fa ++ fb, ts = 2000000L))
    def countAt(ts: String): Long = spark.read.format("graft")
      .option("timestampAsOf", ts).load(tbl.toString).count()
    assert(countAt("1000000") == 10L)
    assert(countAt("1500000") == 10L, "between commits → the earlier one")
    assert(countAt("2000000") == 15L)
    assert(countAt("99999999999") == 15L)
    // A SQL-timestamp string parses in SPARK'S SESSION ZONE (UTC
    // here), matching TIMESTAMP AS OF literal semantics.
    assert(countAt("1970-01-01 00:25:00") == 10L)
    // Proof it is the session zone, not the JVM default: under a
    // +05:30 session zone the SAME instant renders as 05:55 local —
    // and a naive-UTC (or JVM-zone) parse of that string would pin
    // the LATER version instead.
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try assert(countAt("1970-01-01 05:55:00") == 10L)
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Before the first commit: loud error, not an empty table.
    val early = intercept[Exception](countAt("999999"))
    assert(early.getMessage.contains("committed at or before"))
    // SQL TIMESTAMP AS OF resolves through the catalog (micros).
    GraftTables.registerCatalog(spark)
    val lit = new java.sql.Timestamp(1500000L).toString
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$tbl` TIMESTAMP AS OF TIMESTAMP'$lit'")
      .head.getLong(0) == 10L)
    // A timestamp-pinned snapshot is read-only, like any pinned past.
    val e = intercept[Exception] {
      Seq((99L, 99L)).toDF("id", "v").write.format("graft")
        .mode("append").option("timestampAsOf", "1000000")
        .save(tbl.toString)
    }
    assert(e.getMessage.contains("immutable"))
  }

  test("SQL TRUNCATE TABLE empties the table as a log commit; " +
      "time travel keeps the pre-truncate rows") {
    // TRUNCATE rides the TruncatableTable default — deleteWhere over
    // AlwaysTrue — which now routes through the EXACT V2-predicate
    // converter (AlwaysTrue is trivially exact), so this also pins
    // that the lossy-bridge fix kept the trivial filter working.
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    spark.sql(s"TRUNCATE TABLE graft.`$tbl`")
    assert(GraftTables.read(spark, tbl).count() == 0L)
    // The truncate is a COMMIT, not an rm: v0 still time-travels.
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
    // The emptied table stays writable and readable.
    Seq((500L, 1L)).toDF("id", "v")
      .write.format("graft").mode("append").save(tbl.toString)
    assert(GraftTables.read(spark, tbl)
      .as[(Long, Long)].collect().toSeq == Seq((500L, 1L)))
  }

  test("SQL DELETE rewrites through the column mapping after a RENAME") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"dm${System.nanoTime()}")
    Files.createDirectories(tbl)
    // Physical bytes (id, cents), two range files, stats on id.
    (1L to 50L).map(i => (i, i * 100L)).toDF("id", "cents")
      .repartitionByRange(2, $"id").sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val files = TxnLog.parquetsUnder(tbl, "d0")
    TxnLog.commitRetryWith(tbl, _ => TxnLog.Manifest(0L, -1L, "create",
      files, TxnLog.keyStats(spark, tbl, files, "id"),
      statsKey = Some("id"), columns = Some(Seq(
        TxnLog.ColumnDef(1, "id", "bigint", "id"),
        TxnLog.ColumnDef(2, "cents", "bigint", "cents")))))
    // v1: RENAME both columns — manifest-only, bytes keep old names.
    TxnLog.commitRetryWith(tbl, tip => tip.copy(action = "evolve-schema",
      columns = Some(Seq(
        TxnLog.ColumnDef(1, "doc_id", "bigint", "id"),
        TxnLog.ColumnDef(2, "cents_total", "bigint", "cents")))))
    GraftTables.registerCatalog(spark)
    // The DELETE predicate arrives under the LOGICAL name; pruning
    // and the rewrite must speak the PHYSICAL one.
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE doc_id <= 10")
    val v1 = TxnLog.readManifest(tbl, 1L)
    val v2 = TxnLog.readManifest(tbl, 2L)
    // action "delete" = the metadata-planned deleteWhere path ran
    // (not the full row-level "replace" fallback), and only the
    // low-range file was rewritten.
    assert(v2.action == "delete")
    assert(v2.files.count(v1.files.toSet) == 1,
      s"the high-range file must survive by name: $v2")
    val tip = GraftTables.read(spark, tbl)
    assert(tip.count() == 40L)
    assert(tip.agg(min($"doc_id")).head.getLong(0) == 11L)
    assert(tip.agg(sum($"cents_total")).head.getLong(0) ==
      (11L to 50L).map(_ * 100L).sum)
    // The pinned past still reads everything under its own names.
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 50L)
  }

  test("a delete that empties an undeclared-columns table leaves it readable") {
    val tbl = quartileTable() // created raw: no declared columns
    GraftTables.registerCatalog(spark)
    // The first connector write declares columns from the resolved
    // schema, so even a later total wipe keeps the table resolvable.
    Seq((1000L, 1L)).toDF("id", "v")
      .write.format("graft").mode("append").save(tbl.toString)
    assert(TxnLog.readManifest(tbl, 1L).columns.isDefined)
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id >= 0")
    val emptied = GraftTables.read(spark, tbl)
    assert(emptied.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(emptied.count() == 0L)
    // And history is intact.
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
  }

  test("a replayed (appId, batchId) commit aborts as a no-op, even past the pre-check") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"z${System.nanoTime()}")
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    GraftTables.createFrom(tbl, df, txn = Some("app" -> 0L))
    // A zombie instance replaying the CREATE batch: no-op.
    GraftTables.createFrom(tbl, df, txn = Some("app" -> 0L))
    assert(TxnLog.latest(tbl).contains(0L))
    assert(GraftTables.read(spark, tbl).count() == 2L)
    // The same for an append batch, calling insert DIRECTLY (the
    // addBatch pre-check bypassed — this is the in-commit guard).
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    GraftTables.insert(snap, Seq((3L, 30L)).toDF("id", "v"),
      overwrite = false, txn = Some("app" -> 1L))
    GraftTables.insert(GraftTables.resolve(Map("path" -> tbl.toString)),
      Seq((3L, 30L)).toDF("id", "v"),
      overwrite = false, txn = Some("app" -> 1L))
    assert(TxnLog.latest(tbl).contains(1L))
    assert(GraftTables.read(spark, tbl).count() == 3L)
    assert(TxnLog.lastTxn(tbl, "app").contains(1L))
  }

  // --- merge-on-read equality deletes through the connector (r15) ---

  test("scan applies pending equality deletes: DataFrame, SQL, " +
      "pruned-column, count(*), filter, time travel, re-insert") {
    val tbl = quartileTable()
    // Delete ids 10..20 and 60 — spans files q0 and q2.
    TxnLog.deleteByKeyMor(spark, tbl,
      ((10L to 20L) :+ 60L).toDF("id"), "id", "d1")
    val df = GraftTables.read(spark, tbl)
    val expect =
      (1L to 100L).filterNot(i => (i >= 10L && i <= 20L) || i == 60L)
    assert(df.select("id").as[Long].collect().sorted.toSeq == expect)
    // Key column pruned away: the scan force-includes it for the
    // filter and projects it back out.
    assert(df.select("v").as[Long].collect().sorted.toSeq ==
      expect.map(_ * 10L))
    // count(*): footer-stats aggregate pushdown is disabled under MoR.
    assert(df.count() == expect.size.toLong)
    // Pushed filters compose with the delete filter (ids 1..25 minus
    // 10..20 = 14 rows), and file pruning still applies.
    assert(df.filter($"id" <= 25L).count() == 14L)
    // SQL through the catalog sees the same table.
    GraftTables.registerCatalog(spark)
    assert(spark.sql(s"SELECT sum(v) AS s FROM graft.`$tbl`")
      .as[Long].head() == expect.map(_ * 10L).sum)
    // Time travel to the pre-delete snapshot is unaffected.
    assert(GraftTables.read(spark, tbl, Some(0L)).count() == 100L)
    // Re-insert through the connector write path: the appended file's
    // seq is above the delete's, so the new row survives.
    Seq((60L, 999L)).toDF("id", "v").write.format("graft")
      .mode("append").save(tbl.toString)
    assert(GraftTables.read(spark, tbl).filter($"id" === 60L)
      .as[(Long, Long)].collect().toSeq == Seq((60L, 999L)))
  }

  test("SQL UPDATE and DELETE run over pending MoR deletes: the CoW " +
      "rewrite applies them to the files it replaces, never resurrects") {
    val tbl = quartileTable()
    // Pending MoR delete of ids 1..5 — targets every file by seq, but
    // only q0 holds the keys.
    TxnLog.deleteByKeyMor(spark, tbl, (1L to 5L).toDF("id"), "id", "d1")
    GraftTables.registerCatalog(spark)
    // UPDATE id=10 (file q0): the rewrite of q0 must carry rows
    // 6..25 only — ids 1..5 applied during the CoW scan, not revived
    // by the fresh-seq output file.
    spark.sql(s"UPDATE graft.`$tbl` SET v = 0 WHERE id = 10")
    val m = TxnLog.tip(tbl)
    assert(m.deletes.nonEmpty) // still carried for untouched files
    val rows = GraftTables.read(spark, tbl)
      .as[(Long, Long)].collect().toMap
    assert(rows.size == 95)
    assert((1L to 5L).forall(!rows.contains(_)))
    assert(rows(10L) == 0L)
    // DELETE id=30 (file q1) composes the same way.
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id = 30")
    assert(GraftTables.read(spark, tbl).count() == 94L)
    // materializeDeletes clears the rest; results are unchanged.
    TxnLog.materializeDeletes(spark, tbl, "mz")
    assert(TxnLog.tip(tbl).deletes.isEmpty)
    assert(GraftTables.read(spark, tbl).count() == 94L)
  }

  test("MoR deletes compose with column mapping: delete by the " +
      "renamed name, scan and CoW UPDATE apply by physical key") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"m${System.nanoTime()}")
    GraftTables.createFrom(tbl,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    TxnLog.renameColumn(tbl, "id", "key")
    // Delete by the NEW logical name; the delete file records the
    // immutable PHYSICAL column, so any later mapping still binds.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(2L).toDF("key"), "key", "d1")
    assert(TxnLog.tip(tbl).deletes.head.key == "id")
    assert(GraftTables.read(spark, tbl)
      .select("key").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // Row-level UPDATE over the pending delete on the MAPPED table:
    // the CoW scan applies it, nothing resurrects.
    GraftTables.registerCatalog(spark)
    spark.sql(s"UPDATE graft.`$tbl` SET v = 0 WHERE key = 3")
    assert(GraftTables.read(spark, tbl)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (3L, 0L)))
  }

  test("ADD/DROP COLUMN are manifest-only: pre-ADD files read NULL, " +
      "pinned pre-DROP reads the bytes, re-ADD never resurrects") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"s${System.nanoTime()}")
    GraftTables.createFrom(tbl, Seq((1L, 10L)).toDF("id", "v"))
    TxnLog.addColumn(tbl, "w", "bigint")
    Seq((2L, 20L, 200L)).toDF("id", "v", "w")
      .write.format("graft").mode("append").save(tbl.toString)
    assert(GraftTables.read(spark, tbl)
      .as[(Long, Long, Option[Long])].collect().toSet ==
      Set((1L, 10L, None), (2L, 20L, Some(200L))))
    TxnLog.dropColumn(tbl, "v")
    assert(GraftTables.read(spark, tbl).columns.toSeq == Seq("id", "w"))
    // The pre-drop snapshot still reads the dropped bytes.
    assert(GraftTables.read(spark, tbl, Some(2L))
      .select("id", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    // Re-ADD mints a fresh physical: the old bytes stay buried.
    TxnLog.addColumn(tbl, "v", "bigint")
    assert(GraftTables.read(spark, tbl)
      .filter($"v".isNotNull).count() == 0L)
    // A CHECK constraint blocks dropping the column it references.
    TxnLog.setConstraint(tbl, "w_pos", "w > 0")
    val e = intercept[IllegalArgumentException](
      TxnLog.dropColumn(tbl, "w"))
    assert(e.getMessage.contains("w_pos"))
    // A pending equality delete blocks dropping its key column.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(99L).toDF("id"), "id", "d1")
    val e2 = intercept[IllegalArgumentException](
      TxnLog.dropColumn(tbl, "id"))
    assert(e2.getMessage.contains("equality delete"))
  }

  test("CHECK constraints guard row-level SQL writes: a violating " +
      "UPDATE or MERGE refuses to commit, valid ones land") {
    val tbl = quartileTable()
    GraftTables.registerCatalog(spark)
    TxnLog.setConstraint(tbl, "v_pos", "v > 0")
    val sumBefore = GraftTables.read(spark, tbl)
      .agg(sum($"v")).head.getLong(0)
    val tipBefore = TxnLog.tip(tbl).version
    def messageChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // UPDATE landing a negative v: refused, nothing published.
    val e = intercept[Throwable](
      spark.sql(s"UPDATE graft.`$tbl` SET v = -5 WHERE id <= 10"))
    assert(messageChain(e).contains("v_pos"), messageChain(e))
    assert(TxnLog.tip(tbl).version == tipBefore,
      "a refused row-level write must publish no commit")
    assert(GraftTables.read(spark, tbl)
      .agg(sum($"v")).head.getLong(0) == sumBefore)
    // MERGE inserting a violating row through the same write path.
    Seq((500L, -1L)).toDF("id", "v").createOrReplaceTempView("badrows")
    val e2 = intercept[Throwable](spark.sql(
      s"""MERGE INTO graft.`$tbl` t USING badrows c ON t.id = c.id
         WHEN NOT MATCHED THEN INSERT (id, v) VALUES (c.id, c.v)"""))
    assert(messageChain(e2).contains("v_pos"), messageChain(e2))
    assert(TxnLog.tip(tbl).version == tipBefore)
    // The same statements with valid values still land.
    spark.sql(s"UPDATE graft.`$tbl` SET v = v + 1 WHERE id <= 10")
    assert(GraftTables.read(spark, tbl)
      .agg(sum($"v")).head.getLong(0) == sumBefore + 10L)
  }

  // --- optimizer statistics from the manifest (r18) ---

  test("the scan reports exact rowCount and min/max/NDV column stats " +
      "from manifest metadata") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val tbl = quartileTable()
    def relStats(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.stats
    }.head
    // Unfiltered: the exact table row count plus id's fold of the
    // committed per-file bounds; NDV = min(rows, span) = 100.
    val s0 = relStats(GraftTables.read(spark, tbl))
    assert(s0.rowCount.contains(BigInt(100)), s0)
    val id0 = s0.attributeStats.collectFirst {
      case (a, cs) if a.name == "id" => cs
    }
    assert(id0.isDefined, s"no id column stats: ${s0.attributeStats}")
    assert(id0.get.min.contains(1L) && id0.get.max.contains(100L), id0)
    assert(id0.get.distinctCount.contains(BigInt(100)), id0)
    // Filtered to one quartile file: counts and bounds follow the
    // PRUNED set — this is what makes a filtered graft table estimate
    // small enough to broadcast.
    val s1 = relStats(GraftTables.read(spark, tbl)
      .filter($"id" >= 30L && $"id" <= 40L))
    assert(s1.rowCount.contains(BigInt(25)), s1)
    val id1 = s1.attributeStats.collectFirst {
      case (a, cs) if a.name == "id" => cs
    }.get
    assert(id1.min.contains(26L) && id1.max.contains(50L), id1)
    // Fully pruned: the exact count 0, not unknown.
    val s2 = relStats(GraftTables.read(spark, tbl)
      .filter($"id" === 5000L))
    assert(s2.rowCount.contains(BigInt(0)), s2)
    // Pending MoR deletes hide rows the footer counts still include:
    // rowCount must go UNKNOWN (never wrong), size stays present.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(7L).toDF("id"), "id", "dstat")
    val s3 = relStats(GraftTables.read(spark, tbl))
    assert(s3.rowCount.isEmpty, s3)
    assert(s3.sizeInBytes > 0, s3)
  }

  test("the broadcast decision flips with graft table size, and a " +
      "pushed filter flips it back") {
    val small = quartileTable()
    // A ~40x bigger table, same shape (4 contiguous-range files).
    val big = graft.util.Scratch.dir("graft_connector")
      .resolve(s"big${System.nanoTime()}")
    Files.createDirectories(big)
    val n = 400000L
    val rows = spark.range(1L, n + 1L).select($"id", ($"id" * 10L).as("v"))
    for (q <- 0 until 4)
      rows.filter($"id".between(q * (n / 4) + 1, (q + 1) * (n / 4)))
        .coalesce(1).write.parquet(big.resolve(s"q$q").toString)
    val files = (0 until 4).flatMap(q => TxnLog.parquetsUnder(big, s"q$q"))
    TxnLog.commitRetry(big, "create", _ => files,
      statsFor = _ => TxnLog.keyStats(spark, big, files, "id"),
      statsKey = Some("id"))
    val probe = spark.range(1L, 1000000L).toDF("id")
    def hasBroadcast(df: DataFrame): Boolean =
      df.queryExecution.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins
          .BroadcastHashJoinExec])
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thresholdKey)
    try {
      // Threshold between ONE of big's files and big's total (and
      // far above small's ~6 KB, far below the 8 MB probe): the
      // whole big table must not broadcast, its one-file pruned
      // read must.
      val sizes = TxnLog.tip(big).sizes.values
      spark.conf.set(thresholdKey, (sizes.max * 3 / 2).toString)
      assert(hasBroadcast(
        probe.join(GraftTables.read(spark, small), "id")),
        "the small graft table must broadcast")
      assert(!hasBroadcast(
        probe.join(GraftTables.read(spark, big), "id")),
        "the big graft table must NOT broadcast")
      // The SAME big table with a pushed key filter prunes to one
      // file, whose manifest-reported size is back under the
      // threshold — the decision flips on the PRUNED estimate.
      assert(hasBroadcast(probe.join(
        GraftTables.read(spark, big).filter($"id" <= 1000L), "id")),
        "the pruned big table must broadcast again")
    } finally spark.conf.set(thresholdKey, old)
  }

  test("KMV sketches carry string-key NDV to the optimizer: the " +
      "broadcast decision flips on a grouped string key (r19)") {
    // Integral manifest bounds give min/max and a span NDV, but a
    // STRING key gets nothing — so the CBO cannot size a groupBy on
    // it and the post-aggregate join falls back to sort-merge. Write
    // paths now sketch string/integral columns BY DEFAULT
    // (spark.graft.ndv.auto, r19 verdict task 2), so the witness
    // table below never sees a declare call — a 100 TB user who has
    // never heard of `CALL graft.declare_ndv` still gets the
    // broadcast. The opt-out conf restores the old declaration-only
    // behavior, which is how the negative control is built.
    val mk: () => Path = () => {
      val tbl = graft.util.Scratch.dir("graft_connector")
        .resolve(s"ndv${System.nanoTime()}")
      GraftTables.createFrom(tbl,
        (1L to 40000L).map(i => (s"name${i % 20}", i)).toDF("name", "v"))
      // A second connector append proves new files get entries from
      // the write path, not just a backfill scan.
      tbl
    }
    val tbl = mk() // auto-sketched: NO declare call anywhere
    (40001L to 80000L).map(i => (s"name${i % 20}", i)).toDF("name", "v")
      .write.format("graft").mode("append").save(tbl.toString)
    val bare = // same data, auto opted out -> declaration-only world
      try {
        spark.conf.set(TxnLog.NdvAutoConfKey, "false")
        val t = mk()
        (40001L to 80000L).map(i => (s"name${i % 20}", i))
          .toDF("name", "v")
          .write.format("graft").mode("append").save(t.toString)
        t
      } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
    // Manifest invariant: auto sketches BOTH eligible columns and
    // every file of the tip is covered; the opted-out tip carries
    // none.
    val tip = TxnLog.tip(tbl)
    assert(tip.ndv.keySet == Set("name", "v"))
    assert(tip.files.forall(tip.ndv("name").contains),
      s"uncovered: ${tip.files.filterNot(tip.ndv("name").contains)}")
    assert(TxnLog.tip(bare).ndv.isEmpty,
      "ndv.auto=false table must carry no sketches")
    // 20 distinct < k=32: the merged sketch is EXACT.
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def nameNdv(df: DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats
      }.head.attributeStats.collectFirst {
        case (a, cs) if a.name == "name" => cs.distinctCount
      }.flatten
    assert(nameNdv(GraftTables.read(spark, tbl)).contains(BigInt(20)))
    assert(nameNdv(GraftTables.read(spark, bare)).isEmpty,
      "undeclared table must report no string NDV")
    // Plan witness: probe JOIN (table GROUP BY name) — the aggregate
    // output is 20 rows iff the NDV is known; size the broadcast
    // threshold so 20 rows broadcast and a no-stats fallback (input
    // cardinality) cannot.
    def hasBroadcast(df: DataFrame): Boolean =
      df.queryExecution.sparkPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins
          .BroadcastHashJoinExec])
    val probe = (1L to 200000L).map(i => s"name${i % 4000}")
      .toDF("name")
    def agg(t: Path): DataFrame =
      GraftTables.read(spark, t).groupBy("name").agg(sum($"v").as("sv"))
    val cboKey = "spark.sql.cbo.enabled"
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val (cbo0, thr0) = (spark.conf.get(cboKey), spark.conf.get(thresholdKey))
    try {
      spark.conf.set(cboKey, "true")
      spark.conf.set(thresholdKey, (64L << 10).toString)
      assert(hasBroadcast(probe.join(agg(tbl), "name")),
        "sketch NDV must shrink the aggregate estimate to broadcast")
      assert(!hasBroadcast(probe.join(agg(bare), "name")),
        "without NDV the aggregate estimate must stay too big to broadcast")
    } finally {
      spark.conf.set(cboKey, cbo0); spark.conf.set(thresholdKey, thr0)
    }
    // The explicit CALL surface remains the override for an opted-out
    // (or legacy) table — and it resolves LOGICAL names: after a
    // rename, declaring by the NEW name must sketch the same physical
    // column (ADVICE r19: the raw name used to fail the physical
    // require, and in a rename-swap case would sketch the wrong
    // column), with the scan mapping it back to the logical
    // attribute.
    GraftTables.registerCatalog(spark)
    TxnLog.renameColumn(bare, "name", "label")
    val call = spark.sql(
      s"CALL graft.declare_ndv(table => '$bare', columns => 'label')").head
    assert(call.getString(1) == "label" && call.getLong(2) > 0L, call)
    val bt = TxnLog.tip(bare)
    assert(bt.ndv.keySet == Set("name"),
      s"declaration must key by PHYSICAL name: ${bt.ndv.keySet}")
    val labelNdv = GraftTables.read(spark, bare).queryExecution
      .optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats
      }.head.attributeStats.collectFirst {
        case (a, cs) if a.name == "label" => cs.distinctCount
      }.flatten
    assert(labelNdv.contains(BigInt(20)),
      s"renamed logical column must carry the sketch NDV: $labelNdv")
  }

  test("engine writes carry task-reported row counts: ZERO driver " +
      "footer opens across create/append/overwrite/merge/optimize/" +
      "materialize, statistics identical (r19)") {
    // The r18 design carried exact per-file row counts by opening one
    // parquet footer per NEW file serially on the driver at commit —
    // O(staged files) sequential driver I/O a 100 TB commit cannot
    // afford. Every engine write now reports counts from the write
    // tasks themselves (StagedWrite / the SupportsDelta commit
    // messages, the Delta AddFile.numRecords discipline); the footer
    // read survives only as a fallback for files the engine did not
    // write. This pins the whole protocol chain at zero fallback hits
    // with the reported statistics unchanged.
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"wc${System.nanoTime()}")
    val before = TxnLog.footerReads.get()
    GraftTables.createFrom(tbl,
      (1L to 80L).map(i => (i, i * 2L)).toDF("id", "v"))
    (81L to 100L).map(i => (i, i * 2L)).toDF("id", "v")
      .write.format("graft").mode("append").save(tbl.toString)
    // Key-scoped CoW merge: update 5, delete 3, insert 2.
    TxnLog.mergeCowByKey(spark, tbl,
      ((1L to 5L).map(i => (i, -i, "upsert")) ++
        (6L to 8L).map(i => (i, 0L, "delete")) ++
        Seq((101L, 1L, "upsert"), (102L, 2L, "upsert")))
        .toDF("id", "v", "op"), "id", s"m${System.nanoTime()}")
    // MoR delete (a delete FILE — no data-file counts involved), then
    // materialize folds it back into rewritten data files.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(10L).toDF("id"), "id",
      s"d${System.nanoTime()}")
    TxnLog.materializeDeletes(spark, tbl, s"mz${System.nanoTime()}")
    TxnLog.compactSmall(spark, tbl, s"cs${System.nanoTime()}",
      minFileBytes = 1L << 20)
    // SQL UPDATE/DELETE land through GraftRowLevelOperation →
    // GraftReplaceDataWrite (default copy-on-write): its commit must
    // carry the per-task counts too (ADVICE r19 — it used to discard
    // them, going dark on rowsKnown until the next compaction), and
    // maintain NDV sketches for declared columns across the rewrite.
    TxnLog.declareNdv(spark, tbl, Seq("v"))
    spark.sql(s"UPDATE graft.`$tbl` SET v = v + 1 WHERE id <= 4")
    spark.sql(s"DELETE FROM graft.`$tbl` WHERE id = 99")
    assert(TxnLog.footerReads.get() == before,
      "an engine write path paid a driver footer read for counts")
    // The carried counts are complete and IDENTICAL to a ground-truth
    // recount of the tip's bytes.
    val tip = TxnLog.tip(tbl)
    assert(tip.files.nonEmpty && tip.files.forall(tip.rows.contains),
      s"tip not fully count-covered: ${tip.files.filterNot(tip.rows.contains)}")
    assert(TxnLog.rowCounts(spark, tbl, tip.files) == tip.rows)
    // NDV coverage survived the row-level rewrite: every kept file
    // has a sketch entry, so the merged estimate stays defined.
    assert(TxnLog.ndvMerged(tip.ndv("v"), tip.files).isDefined,
      s"ndv coverage broken by the row-level path: " +
        tip.files.filterNot(tip.ndv("v").contains).mkString(", "))
    // 100 - 3 deleted - 1 materialized + 2 inserted - 1 SQL-deleted
    // = 97, reported as the exact optimizer rowCount with zero
    // filesystem reads.
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val st = GraftTables.read(spark, tbl).queryExecution.optimizedPlan
      .collect { case r: DataSourceV2ScanRelation => r.stats }.head
    assert(st.rowCount.contains(BigInt(97)), st)
    // The fallback still works for files the engine didn't write: a
    // raw-staged commit heals its counts from footers, counted once.
    val raw = graft.util.Scratch.dir("graft_connector")
      .resolve(s"raw${System.nanoTime()}")
    Files.createDirectories(raw)
    Seq((1L, 1L)).toDF("id", "v").coalesce(1)
      .write.parquet(raw.resolve("ext").toString)
    val extFiles = TxnLog.parquetsUnder(raw, "ext")
    TxnLog.commitRetry(raw, "create", _ => extFiles)
    assert(TxnLog.footerReads.get() == before + extFiles.size)
    assert(TxnLog.tip(raw).rows.values.sum == 1L)
  }

  test("createFrom on an existing table appends under THAT table's " +
      "stats declarations: colStats and key stats cover every file") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"cf${System.nanoTime()}")
    Files.createDirectories(tbl)
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("b0").toString)
    val base = TxnLog.parquetsUnder(tbl, "b0")
    TxnLog.commitRetryWith(tbl, _ => TxnLog.Manifest(0L, -1L, "create",
      base, TxnLog.keyStats(spark, tbl, base, "id"),
      statsKey = Some("id"),
      colStats = TxnLog.colStatsFor(spark, tbl, base, Seq("v"))))
    // Another writer created the table first: the create degrades to
    // an append.
    GraftTables.createFrom(tbl,
      Seq((3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(1))
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 1L && tip.action == "append", tip)
    val appended = tip.files.filterNot(base.contains)
    assert(appended.size == 1 && base.forall(tip.files.contains))
    assert(tip.statsKey.contains("id") && tip.colStats.keySet == Set("v"),
      s"declarations after the append: $tip")
    assert(tip.files.forall(tip.colStats("v").contains),
      s"colStats miss ${tip.files.filterNot(tip.colStats("v").contains)}")
    assert(tip.files.forall(tip.stats.contains),
      s"key stats miss ${tip.files.filterNot(tip.stats.contains)}")
    assert(tip.colStats("v")(appended.head) == (30L, 40L))
    assert(tip.stats(appended.head) == (3L, 4L))
    assert(GraftTables.read(spark, tbl).filter($"v" >= 30L)
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("an insert through a stale snapshot records its files' stats " +
      "under the declarations of the tip it commits on") {
    val tbl = graft.util.Scratch.dir("graft_connector")
      .resolve(s"rb${System.nanoTime()}")
    Files.createDirectories(tbl)
    // Auto-NDV off: the write tasks sketch nothing under the
    // snapshot's (empty) declarations, so a `v` sketch on the new file
    // can only come from the re-derivation under the tip's sets.
    try {
      spark.conf.set(TxnLog.NdvAutoConfKey, "false")
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
        .coalesce(1).write.parquet(tbl.resolve("b0").toString)
      TxnLog.commitRetry(tbl, "create",
        _ => TxnLog.parquetsUnder(tbl, "b0"))
      val snap = GraftTables.resolve(Map("path" -> tbl.toString))
      assert(snap.manifest.ndv.isEmpty)
      TxnLog.declareNdv(spark, tbl, Seq("v"))
      GraftTables.insert(snap,
        Seq((3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(1),
        overwrite = false)
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 2L && tip.action == "append", tip)
    assert(tip.files.size == 2 && tip.ndv.keySet == Set("v"), tip)
    assert(tip.files.forall(tip.ndv("v").contains),
      s"v sketch misses ${tip.files.filterNot(tip.ndv("v").contains)}")
    assert(GraftTables.read(spark, tbl).count() == 4L)
  }
}
