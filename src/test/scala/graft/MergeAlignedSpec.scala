package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxnLog
import graft.sources.{GraftTables, StagedWrite}

/** The file-aligned copy-on-write merge: a batch under Spark's
  * broadcast threshold is read once, and each affected file becomes
  * one output file with no shuffle. Its result must equal the shuffle
  * plan's, which `spark.sql.autoBroadcastJoinThreshold = -1` forces. */
class MergeAlignedSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def dir(tag: String): Path = {
    val d = graft.util.Scratch.dir("graft_mergealigned")
      .resolve(s"$tag${System.nanoTime()}")
    Files.createDirectories(d)
    d
  }

  /** A table with one file per key range (v = key * 10) and key
    * stats; `int` makes the key an INT column. */
  private def rangeTable(ranges: Seq[Seq[Long]], int: Boolean = false): Path = {
    val tbl = dir("t")
    ranges.zipWithIndex.foreach { case (ks, i) =>
      val df = ks.map(k => (k, k * 10L)).toDF("id", "v")
      (if (int) df.withColumn("id", $"id".cast("int")) else df)
        .coalesce(1).write.parquet(tbl.resolve(s"d$i").toString)
    }
    val files = ranges.indices.flatMap(i => TxnLog.parquetsUnder(tbl, s"d$i"))
    TxnLog.commitRetry(tbl, "create", _ => files,
      statsFor = _ => TxnLog.keyStats(spark, tbl, files, "id"),
      statsKey = Some("id"))
    tbl
  }

  private def rows(tbl: Path): Seq[(Option[Long], Option[Long])] =
    GraftTables.read(spark, tbl).select($"id".cast("long"), $"v")
      .as[(Option[Long], Option[Long])].collect().toSeq.sortBy(_.toString)

  /** The tip's file ranges, ordered. */
  private def ranges(tbl: Path): Seq[(Long, Long)] = {
    val tip = TxnLog.tip(tbl)
    tip.files.map(tip.stats).sortBy(_._1)
  }

  test("a broadcastable merge over N affected files runs no shuffle and " +
      "at most 3 jobs, and writes N files with disjoint key ranges") {
    val tbl = rangeTable((0 until 4).map(i => (i * 100L + 1) to (i * 100L + 100)))
    // A parquet-backed batch, as a streaming source hands one over:
    // collecting it is a job.
    val src = dir("b").resolve("batch")
    Seq((5L, 1L, "upsert"), (150L, 2L, "upsert"), (250L, 0L, "delete"),
      (399L, 4L, "upsert"), (450L, 5L, "upsert"))
      .toDF("id", "v", "op").coalesce(1).write.parquet(src.toString)
    val (c, jobs) = jobsRun(TxnLog.mergeCowByKey(spark, tbl,
      spark.read.parquet(src.toString), "id", "m0"))
    assert(c == TxnLog.Committed(1L, 0))
    assert(jobs.size <= 3, jobs)
    assert(jobs.forall(_.shuffleBytes == 0L), jobs)
    val tip = TxnLog.tip(tbl)
    assert(tip.files.size == 4 && tip.files.forall(_.startsWith("m0/")),
      tip.files)
    // The top file absorbs the insert beyond it.
    assert(ranges(tbl) == Seq((1L, 100L), (101L, 200L), (201L, 300L),
      (301L, 450L)))
    val changed = Map(5L -> Some(1L), 150L -> Some(2L), 250L -> None,
      399L -> Some(4L), 450L -> Some(5L))
    assert(rows(tbl) == ((1L to 400L).map(k => k -> Some(k * 10L)).toMap ++
      changed).toSeq.collect { case (k, Some(v)) => (Some(k), Some(v)) }
      .sortBy(_.toString))
  }

  test("an insert beyond every range joins the top file while it is under " +
      "targetFileBytes, and goes to a new file otherwise") {
    val batch = Seq((7L, 71L, "upsert"), (150L, 1500L, "upsert"),
      (151L, 1510L, "upsert")).toDF("id", "v", "op")
    val small = rangeTable(Seq(1L to 50L, 51L to 100L))
    TxnLog.mergeCowByKey(spark, small, batch, "id", "m0")
    assert(ranges(small) == Seq((1L, 50L), (51L, 151L)))
    val full = rangeTable(Seq(1L to 50L, 51L to 100L))
    val t0 = TxnLog.tip(full)
    val top = t0.files.find(_.startsWith("d1/")).get
    TxnLog.mergeCowByKey(spark, full, batch, "id", "m0",
      targetFileBytes = t0.sizes(top))
    assert(ranges(full) == Seq((1L, 50L), (51L, 100L), (150L, 151L)))
    assert(rows(full) == rows(small))
    assert(rows(full).size == 102)
  }

  test("a key inside overlapping ranges goes to a file that covers it, " +
      "not to a new file") {
    // [1, 100] holds 1–10 and 90–100, and overlaps [20, 30].
    val tbl = rangeTable(Seq((1L to 10L) ++ (90L to 100L), 20L to 30L))
    TxnLog.mergeCowByKey(spark, tbl,
      Seq((25L, 3L, "upsert"), (95L, 1L, "upsert"), (200L, 2L, "upsert"))
        .toDF("id", "v", "op"),
      "id", "m0", targetFileBytes = 1L)
    // Every file is full: only the key no file covers starts a file.
    assert(ranges(tbl) == Seq((1L, 100L), (20L, 30L), (200L, 200L)))
    assert(rows(tbl) == (((1L to 10L) ++ (20L to 30L) ++ (90L to 100L))
      .map(k => (k, if (k == 95L) 1L else if (k == 25L) 3L else k * 10L)) :+
      ((200L, 2L)))
      .map { case (k, v) => (Some(k), Some(v)) }.sortBy(_.toString))
  }

  test("a merge bootstraps key stats only for the files its tip holds " +
      "none for") {
    val tbl = rangeTable(Seq(1L to 50L, 51L to 100L))
    Seq.tabulate(11)(i => (200L + i, 7L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("app0").toString)
    val appended = TxnLog.parquetsUnder(tbl, "app0")
    // The merge rebases over a stats-less append.
    var fired = false
    TxnLog.mergeCowByKey(spark, tbl,
      Seq((7L, 71L, "upsert")).toDF("id", "v", "op"), "id", "m0",
      onPlanned = _ => if (!fired) {
        fired = true
        TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
      })
    val tip = TxnLog.tip(tbl)
    assert(tip.files.size == 3 && !tip.stats.contains(appended.head), tip)
    val (_, jobs) = jobsRun(TxnLog.mergeCowByKey(spark, tbl,
      Seq((205L, 1L, "upsert")).toDF("id", "v", "op"), "id", "m1"))
    val boot = jobs.filter(_.callStack.contains("keyStats"))
    assert(boot.nonEmpty && boot.map(_.recordsRead).sum == 11L, jobs)
    val after = TxnLog.tip(tbl)
    assert(after.files.forall(after.stats.contains), after)
    assert(GraftTables.read(spark, tbl).filter($"id" === 205L)
      .as[(Long, Long)].collect().toSeq == Seq((205L, 1L)))
  }

  test("a staged commit delta-encodes against the stored parent, not the " +
      "manifest its caller planned under") {
    val tbl = dir("p")
    (1L to 400L).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val base = TxnLog.parquetsUnder(tbl, "d0")
    TxnLog.commitRetry(tbl, "create", _ => base)
    val t0 = TxnLog.tip(tbl)
    // The caller declares key bounds the stored version lacks.
    val planned = t0.copy(statsKey = Some("id"),
      stats = TxnLog.keyStats(spark, tbl, t0.files, "id"))
    val f = base.head
    val staged = StagedWrite.stage(
      GraftTables.scanFiles(spark, tbl, t0, Seq(f)).filter($"id" =!= 7L),
      tbl, "r0", planned)
    StagedWrite.commit(spark, tbl, planned, staged,
      StagedWrite.Targets(Set(f)), "rewrite", addsRows = false) { (t, under) =>
      TxnLog.replaceFiles(tbl, t, "rewrite", Set(f), under(t))
    }
    val stored = new String(Files.readAllBytes(
      TxnLog.logDir(tbl).resolve(f"${1}%08d.json")))
    assert(stored.contains("\"base\""), stored)
    val tip = TxnLog.tip(tbl)
    assert(tip.files.size == 4 && tip.statsKey.contains("id"))
    assert(tip.stats == TxnLog.keyStats(spark, tbl, tip.files, "id"), tip)
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(1100L + i)))

  test("the file-aligned merge equals the shuffle merge on random batches") {
    // The keys 10–40, 60–90 and 110–140 in disjoint files, or with a
    // first file whose range overlaps the others.
    val layouts = Seq(Seq(10L to 40L, 60L to 90L, 110L to 140L),
      Seq((10L to 40L) ++ (110L to 120L), 60L to 90L, 121L to 140L))
    val key: Gen[Option[Long]] = Gen.frequency(
      4 -> Gen.oneOf(layouts.head.flatten).map(Some(_)),
      2 -> Gen.oneOf((41L to 59L) ++ (91L to 109L)).map(Some(_)),
      2 -> Gen.oneOf((0L to 9L) ++ (141L to 170L)).map(Some(_)),
      1 -> Gen.const(None))
    val change = for {
      k <- key
      v <- Gen.option(Gen.chooseNum(0L, 999L))
      op <- Gen.frequency(3 -> "upsert", 1 -> "delete")
    } yield (k, v, op)
    val sample = for {
      n <- Gen.choose(1, 30)
      changes <- Gen.listOfN(n, change)
      // Duplicate keys: some changes repeated with another value.
      dups <- Gen.someOf(changes)
      int <- Gen.oneOf(false, true)
      mor <- Gen.oneOf(false, true)
      // 1 byte: every file is full, so uncovered keys go to new files.
      target <- Gen.oneOf(TxnLog.TargetFileBytes, 1L)
      layout <- Gen.oneOf(layouts)
    } yield (changes ++ dups.map { case (k, v, op) => (k, v.map(_ + 1L), op) },
      int, mor, target, layout)
    samples(sample, 16).foreach { case s @ (changes, int, mor, target, layout) =>
      def keyed(df: DataFrame) =
        if (int) df.withColumn("id", $"id".cast("int")) else df
      def table(): Path = {
        val tbl = rangeTable(layout, int)
        // A pending merge-on-read delete, applied by the merge's read.
        if (mor) TxnLog.deleteByKeyMor(spark, tbl,
          keyed(Seq(12L, 65L, 130L).toDF("id")), "id", "x0")
        tbl
      }
      def merge(tbl: Path) = TxnLog.mergeCowByKey(spark, tbl,
        keyed(changes.toDF("id", "v", "op")), "id", "m0",
        targetFileBytes = target)
      val aligned = table()
      val (_, jobs) = jobsRun(merge(aligned))
      val shuffled = table()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try merge(shuffled)
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(rows(aligned) == rows(shuffled), s)
      // (A scan loads a pending delete's keys with a distinct: a
      // shuffle job of its own.)
      if (!mor) assert(jobs.forall(_.shuffleBytes == 0L), (s, jobs))
    }
  }
}
