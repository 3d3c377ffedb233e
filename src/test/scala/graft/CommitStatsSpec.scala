package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxnLog

/** Pins the r21 fused commit-stats pass ([[TxnLog.commitStatsFor]]) to
  * the three primitives it replaced: for any file set / declaration
  * set, the fused single-scan result must equal keyStats +
  * colStatsFor + ndvSketchFor computed separately — including the
  * EmptyRange convention for all-NULL columns, the no-entry
  * convention for zero-row files, the auto-NDV column expansion, and
  * the integral-type refusal. The manifests commits write from the
  * fused pass are therefore byte-identical to the three-scan form. */
class CommitStatsSpec extends AnyFunSuite with SparkTestBase {

  private def freshTable(): Path = {
    val p = graft.util.Scratch.dir("graft_cstats")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(p)
    p
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

  test("fused pass equals the three primitives, auto-NDV on") {
    val (t, files) = fixture()
    val key = Some("k")
    val colCols = Seq("v")
    val ndvCols = Seq("s")
    val fused = TxnLog.commitStatsFor(spark, t, files, key, colCols, ndvCols)
    val sep = (
      TxnLog.keyStats(spark, t, files, "k"),
      TxnLog.colStatsFor(spark, t, files, colCols),
      TxnLog.ndvSketchFor(spark, t, files, ndvCols, auto = true))
    assert(fused.key == sep._1)
    assert(fused.colStats == sep._2)
    assert(fused.ndv == sep._3)
    // Auto mode expanded beyond the declared column (k, v eligible).
    assert(fused.ndv.keySet == Set("k", "v", "s"))
  }

  test("fused pass equals the primitives with auto-NDV off") {
    val (t, files) = fixture()
    spark.conf.set(TxnLog.NdvAutoConfKey, "false")
    try {
      val fused = TxnLog.commitStatsFor(spark, t, files,
        Some("k"), Seq("v"), Seq("s"))
      assert(fused.key == TxnLog.keyStats(spark, t, files, "k"))
      assert(fused.colStats == TxnLog.colStatsFor(spark, t, files, Seq("v")))
      assert(fused.ndv ==
        TxnLog.ndvSketchFor(spark, t, files, Seq("s"), auto = true))
      assert(fused.ndv.keySet == Set("s"))
    } finally spark.conf.unset(TxnLog.NdvAutoConfKey)
  }

  test("all-NULL string file carries EmptyRange-convention ndv and bounds") {
    val (t, files) = fixture()
    val fused = TxnLog.commitStatsFor(spark, t, files,
      Some("k"), Seq("v"), Seq("s"))
    val fc = files.find(_.startsWith("fc")).get
    // fc's s column is entirely NULL: nullCount 2, empty sketch tail.
    assert(fused.ndv("s")(fc) == Seq(2L))
    // Key/col bounds for fc exist (k, v are non-null there).
    assert(fused.key(fc) == (60L, 61L))
    assert(fused.colStats("v")(fc) == (9L, 11L))
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

  /** r22 writer-side stats: the write tasks fold the same three stats
    * families while writing ([[graft.sources.WriterStats]]); the
    * assembled result must equal the fused read-back scan over the
    * exact files the write produced — including EmptyRange for
    * all-NULL columns, nullable keys, integral widening (byte/short/
    * int), string KMV sketches past k distinct values, and the
    * auto-NDV expansion. */
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
    val readBack = TxnLog.commitStatsFor(spark, t, files,
      Some("k"), Seq("v", "b", "h"), Seq("s"))
    assert(writerSide.key == readBack.key)
    assert(writerSide.colStats == readBack.colStats)
    assert(writerSide.ndv == readBack.ndv)
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
      val readBack = TxnLog.commitStatsFor(spark, t, files,
        Some("k"), Seq("v"), Seq("s"))
      assert(writerSide == readBack)
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

  test("fused pass runs ONE job where the primitives ran three") {
    val (t, files) = fixture()
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      TxnLog.commitStatsFor(spark, t, files, Some("k"), Seq("v"), Seq("s"))
      Thread.sleep(300) // let listener events drain
      val fusedJobs = counter.get()
      counter.set(0)
      TxnLog.keyStats(spark, t, files, "k")
      TxnLog.colStatsFor(spark, t, files, Seq("v"))
      TxnLog.ndvSketchFor(spark, t, files, Seq("s"), auto = true)
      Thread.sleep(300) // let listener events drain
      val separateJobs = counter.get()
      assert(fusedJobs * 3 <= separateJobs,
        s"fused=$fusedJobs separate=$separateJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
