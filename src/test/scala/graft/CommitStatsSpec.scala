package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxnLog

/** Pins per-file commit stats — the write tasks' fold
  * ([[graft.sources.WriterStats]]) and the read-back
  * ([[TxnLog.commitStatsFor]]), which run the same Collector — to an
  * independent reference local to this spec: a plain Spark SQL
  * aggregate grouped by `input_file_name()`. Covered: the EmptyRange
  * convention for all-NULL columns, the no-entry convention for
  * zero-row files, integral widening (byte/short/int keys and bounds),
  * string sketches past k distinct values, the auto-NDV column
  * expansion, files read as several splits, and the integral-type
  * refusal. */
class CommitStatsSpec extends AnyFunSuite with SparkTestBase {

  private def freshTable(): Path = {
    val p = graft.util.Scratch.dir("graft_cstats")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(p)
    p
  }

  /** The reference: each file's stats by a Spark SQL aggregate grouped
    * by `input_file_name()` — `min`/`max` of the column cast to BIGINT
    * (NULL bounds: the EmptyRange entry), an exact NULL count, and the
    * non-NULL values' `xxhash64 ^ Long.MinValue` collected, sorted and
    * cut to k. `ndvCols` is the expanded NDV set the result keys. A
    * zero-row file forms no group, so it gets no entry. */
  private def reference(t: Path, files: Seq[String], key: Option[String],
      colCols: Seq[String], ndvCols: Seq[String]): TxnLog.CommitStats = {
    val bounded = key.toSeq ++ colCols
    val aggs = bounded.flatMap(c => Seq(
      min(col(c).cast("bigint")), max(col(c).cast("bigint")))) ++
      ndvCols.flatMap(c => Seq(
        count(lit(1)) - count(col(c)),
        collect_set(when(col(c).isNotNull,
          xxhash64(col(c)).bitwiseXOR(lit(Long.MinValue))))))
    val root = t.toAbsolutePath.normalize
    val byFile = spark.read.parquet(files.map(f => t.resolve(f).toString): _*)
      .groupBy(input_file_name())
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => root.relativize(Paths.get(new java.net.URI(r.getString(0))))
        .toString -> r)
    def bounds(i: Int): Map[String, (Long, Long)] = byFile.map {
      case (f, r) =>
        f -> (if (r.isNullAt(1 + 2 * i)) TxnLog.EmptyRange
          else (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
    }.toMap
    TxnLog.CommitStats(
      key.fold(Map.empty[String, (Long, Long)])(_ => bounds(0)),
      colCols.indices.map(i => colCols(i) -> bounds(key.size + i)).toMap,
      ndvCols.zipWithIndex.map { case (c, i) =>
        val at = 1 + 2 * bounded.size + 2 * i
        c -> byFile.map { case (f, r) =>
          f -> (r.getLong(at) +:
            r.getSeq[Long](at + 1).sorted.take(TxnLog.NdvSketchK))
        }.toMap
      }.toMap)
  }

  /** Two data files with nulls in the value columns + one file whose
    * string column is entirely NULL (EmptyRange arm). */
  private def fixture(): (Path, Seq[String]) = {
    val t = freshTable()
    import spark.implicits._
    val a = Seq((1L, 10, "x"), (2L, 20, "y"), (3L, 30, null: String))
      .toDF("k", "v", "s")
    val b = Seq((40L, 5, "x"), (50L, 7, "z")).toDF("k", "v", "s")
    val c = Seq((60L, 9, null: String), (61L, 11, null: String))
      .toDF("k", "v", "s")
    a.coalesce(1).write.parquet(t.resolve("fa").toString)
    b.coalesce(1).write.parquet(t.resolve("fb").toString)
    c.coalesce(1).write.parquet(t.resolve("fc").toString)
    val files = Seq("fa", "fb", "fc").flatMap(d =>
      TxnLog.parquetsUnder(t, d))
    (t, files)
  }

  test("read-back equals the SQL reference, auto-NDV on") {
    val (t, files) = fixture()
    val got = TxnLog.commitStatsFor(spark, t, files, Some("k"), Seq("v"),
      Seq("s"))
    // Auto mode expanded beyond the declared column (k, v eligible).
    assert(got == reference(t, files, Some("k"), Seq("v"),
      Seq("k", "s", "v")))
    assert(got.ndv.keySet == Set("k", "v", "s"))
    assert(TxnLog.keyStats(spark, t, files, "k") == got.key)
  }

  test("read-back equals the SQL reference with auto-NDV off") {
    val (t, files) = fixture()
    spark.conf.set(TxnLog.NdvAutoConfKey, "false")
    try {
      val got = TxnLog.commitStatsFor(spark, t, files,
        Some("k"), Seq("v"), Seq("s"))
      assert(got == reference(t, files, Some("k"), Seq("v"), Seq("s")))
      assert(got.ndv.keySet == Set("s"))
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
  }

  test("all-NULL string file carries EmptyRange-convention ndv and bounds") {
    val (t, files) = fixture()
    val got = TxnLog.commitStatsFor(spark, t, files,
      Some("k"), Seq("v"), Seq("s"))
    val fc = files.find(_.startsWith("fc")).get
    // fc's s column is entirely NULL: nullCount 2, empty sketch tail.
    assert(got.ndv("s")(fc) == Seq(2L))
    // Key/col bounds for fc exist (k, v are non-null there).
    assert(got.key(fc) == (60L, 61L))
    assert(got.colStats("v")(fc) == (9L, 11L))
  }

  test("empty file list and empty declaration sets return empties, no scan") {
    val (t, files) = fixture()
    val noFiles = TxnLog.commitStatsFor(spark, t, Seq.empty,
      Some("k"), Seq("v"), Seq("s"))
    assert(noFiles.key.isEmpty)
    assert(noFiles.colStats == Map("v" -> Map.empty))
    assert(noFiles.ndv == Map("s" -> Map.empty))
    spark.conf.set(TxnLog.NdvAutoConfKey, "false")
    try {
      val nothing = TxnLog.commitStatsFor(spark, t, files,
        None, Seq.empty, Seq.empty)
      assert(nothing == TxnLog.CommitStats.empty)
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
  }

  test("non-integral colStats declaration refuses loudly") {
    val (t, files) = fixture()
    val e = intercept[RuntimeException] {
      TxnLog.commitStatsFor(spark, t, files, None, Seq("s"), Seq.empty)
    }
    assert(e.getMessage.contains("non-integral"))
    val missing = intercept[RuntimeException] {
      TxnLog.commitStatsFor(spark, t, files, None, Seq("nope"), Seq.empty)
    }
    assert(missing.getMessage.contains("does not exist"))
  }

  test("BYTE, SHORT and INT stats keys read back their widened bounds") {
    val t = freshTable()
    spark.range(0, 60).repartitionByRange(3, col("id"))
      .selectExpr("CAST(id - 20 AS byte) AS b",
        "CAST(id * 300 AS short) AS h", "CAST(id * 70000 AS int) AS i",
        "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS int) END AS n")
      .write.parquet(t.resolve("d").toString)
    val files = TxnLog.parquetsUnder(t, "d")
    assert(files.size == 3)
    spark.conf.set(TxnLog.NdvAutoConfKey, "false")
    try Seq("b", "h", "i", "n").foreach { k =>
      val want = reference(t, files, Some(k), Nil, Nil).key
      assert(TxnLog.commitStatsFor(spark, t, files, Some(k), Nil, Nil).key ==
        want, k)
      assert(TxnLog.keyStats(spark, t, files, k) == want, k)
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
  }

  test("a file read as several splits gets one entry, equal to the " +
      "reference") {
    val t = freshTable()
    // Small row groups, so a small split size gives several splits
    // that each hold rows.
    spark.range(0, 20000)
      .selectExpr("id AS k", "CAST(id % 997 AS int) AS v",
        "concat('s', id % 89) AS s")
      .coalesce(1).write.option("parquet.block.size", 16384)
      .parquet(t.resolve("d").toString)
    val files = TxnLog.parquetsUnder(t, "d")
    assert(files.size == 1)
    val want = reference(t, files, Some("k"), Seq("v"), Seq("k", "s", "v"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val splitsWithRows = spark.read.parquet(t.resolve(files.head).toString)
        .rdd.mapPartitions(rows => Iterator(rows.size)).collect()
        .count(_ > 0)
      assert(splitsWithRows > 1, "the file must be read as several splits")
      val got = TxnLog.commitStatsFor(spark, t, files, Some("k"), Seq("v"),
        Seq("s"))
      assert(got.key.keySet == files.toSet)
      assert(got == want)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  /** The write tasks fold the same three stats families while writing
    * ([[graft.sources.WriterStats]]); the assembled result and the
    * read-back must both equal the reference over the exact files the
    * write produced — including
    * EmptyRange for all-NULL columns, integral widening (byte/short/
    * int), string KMV sketches past k distinct values, and the auto-NDV
    * expansion. */
  test("writer-side stats equal the read-back scan, auto-NDV on") {
    val t = freshTable()
    // 4 range files; ids >= 75 have NULL v and NULL s, so the last
    // file exercises the all-NULL EmptyRange arm for both families;
    // s has >k distinct values overall so sketches truncate at k.
    val df = spark.range(0, 100)
      .selectExpr(
        "id AS k",
        "CAST(CASE WHEN id >= 75 THEN NULL ELSE id * 3 END AS int) AS v",
        "CASE WHEN id >= 75 THEN NULL ELSE concat('s', id % 41) END AS s",
        "CAST(id % 120 AS byte) AS b",
        "CAST(id * 7 AS short) AS h")
      .repartitionByRange(4, col("k"))
    val spec = graft.sources.WriterStats.spec(spark, df.schema,
      Some("k"), Seq("v", "b", "h"), Seq("s"))
    val staged = graft.sources.StagedWrite.parquetWithStats(
      df, t, "d0", Some(spec))
    val files = staged.map(_._1)
    assert(files.size == 4)
    val writerSide = graft.sources.WriterStats.assemble(spec,
      staged.flatMap { case (rel, _, fs) => fs.map(rel -> _) })
    val want = reference(t, files, Some("k"), Seq("v", "b", "h"),
      Seq("b", "h", "k", "s", "v"))
    assert(writerSide == want)
    assert(TxnLog.commitStatsFor(spark, t, files,
      Some("k"), Seq("v", "b", "h"), Seq("s")) == want)
    // Auto expansion reached every string/integral column.
    assert(writerSide.ndv.keySet == Set("k", "v", "s", "b", "h"))
    // The all-NULL arms actually fired.
    assert(writerSide.colStats("v").values.toSet.contains(TxnLog.EmptyRange))
    assert(writerSide.ndv("s").values.exists(_.tail.isEmpty))
  }

  test("writer-side stats: nullable key and auto-NDV off") {
    val t = freshTable()
    spark.conf.set(TxnLog.NdvAutoConfKey, "false")
    try {
      val df = spark.range(0, 40)
        .selectExpr(
          "CAST(CASE WHEN id >= 30 THEN NULL ELSE id END AS bigint) AS k",
          "CAST(id AS int) AS v",
          "concat('x', id % 3) AS s")
        .repartitionByRange(4, expr("id"))
      val spec = graft.sources.WriterStats.spec(spark, df.schema,
        Some("k"), Seq("v"), Seq("s"))
      val staged = graft.sources.StagedWrite.parquetWithStats(
        df, t, "d0", Some(spec))
      val files = staged.map(_._1)
      val writerSide = graft.sources.WriterStats.assemble(spec,
        staged.flatMap { case (rel, _, fs) => fs.map(rel -> _) })
      val want = reference(t, files, Some("k"), Seq("v"), Seq("s"))
      assert(writerSide == want)
      assert(TxnLog.commitStatsFor(spark, t, files,
        Some("k"), Seq("v"), Seq("s")) == want)
      // The all-NULL-key file carries the explicit EmptyRange entry.
      assert(writerSide.key.values.toSet.contains(TxnLog.EmptyRange))
      assert(writerSide.ndv.keySet == Set("s"))
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
  }

  test("writer-side spec enforces the integral contract like the scan") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "s")
    val e = intercept[RuntimeException] {
      graft.sources.WriterStats.spec(spark, df.schema, None, Seq("s"), Seq.empty)
    }
    assert(e.getMessage.contains("non-integral"))
    val missing = intercept[RuntimeException] {
      graft.sources.WriterStats.spec(spark, df.schema, None, Seq("nope"), Seq.empty)
    }
    assert(missing.getMessage.contains("does not exist"))
  }

  test("staging with a non-integral stats key refuses on the driver " +
      "and writes no file") {
    import spark.implicits._
    val t = freshTable()
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s").repartition(2)
    val e = intercept[RuntimeException] {
      graft.sources.StagedWrite.stage(df, t, "d0",
        TxnLog.PreCreate.copy(statsKey = Some("s")))
    }
    assert(e.getMessage.contains("stats key `s` has non-integral type"),
      e.getMessage)
    assert(TxnLog.dataFiles(t).isEmpty,
      s"a refused spec must refuse before any task creates a file: " +
        TxnLog.dataFiles(t))
  }

  test("a compact commit runs ZERO post-write stats jobs (r22)") {
    val t = freshTable()
    import spark.implicits._
    (1L to 50L).map(i => (i, i * 2)).toDF("k", "v").repartition(3)
      .write.parquet(t.resolve("f0").toString)
    val f0 = TxnLog.parquetsUnder(t, "f0")
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(0L, -1L, "create", f0,
      TxnLog.keyStats(spark, t, f0, "k"), Some("k")))
    // Drain any in-flight listener events from the setup jobs before
    // registering the counting listener (the async bus would deliver
    // them into the counted window otherwise).
    Thread.sleep(500)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.map(si =>
          si.name + "@" + si.details.linesIterator.take(3).mkString("|"))
          .mkString(" / "))
    }
    spark.sparkContext.addSparkListener(listener)
    val c = try {
      val c0 = TxnLog.compact(spark, t, "c0", nFiles = 1)
      Thread.sleep(500) // let listener events drain
      c0
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(jobs.size == 1,
      s"compact must run exactly the ONE staged-write job (stats ride " +
        s"the write tasks), got ${jobs.size}: ${jobs.asScala.mkString("; ")}")
    // And the commit is still fully stats-covered, with auto-NDV.
    val m = TxnLog.readManifest(t, c.version)
    assert(m.files.nonEmpty && m.files.forall(m.stats.contains))
    assert(m.ndv.keySet == Set("k", "v"))
    assert(m.files.forall(f => m.ndv("k").contains(f)))
  }

  test("the read-back runs ONE job, and none when it collects nothing") {
    val (t, files) = fixture()
    val (_, jobs) = jobsRun(TxnLog.commitStatsFor(spark, t, files,
      Some("k"), Seq("v"), Seq("s")))
    assert(jobs.size == 1 && jobs.head.shuffleBytes == 0L, jobs)
    spark.conf.set(TxnLog.NdvAutoConfKey, "false")
    try {
      val (_, none) = jobsRun(TxnLog.commitStatsFor(spark, t, files,
        None, Nil, Nil))
      assert(none.isEmpty, none)
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
  }
}
