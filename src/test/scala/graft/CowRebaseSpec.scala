package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources.{EqualTo, LessThanOrEqual}

import graft.operators.TxnLog
import graft.sources.GraftTables

/** The copy-on-write rewrites that read their rows from the tip —
  * `TxnLog.mergeCowByKey` and `GraftTables.deleteWhere` — commit
  * through `StagedWrite.commit`: a lost race against a commit that left
  * their affected files alive REBASES (no re-read, no re-write), and
  * only a non-commuting one replans. Races are staged deterministically
  * through `onPlanned` or a snapshot resolved before the competing
  * commit. */
class CowRebaseSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** A two-file table (keys 1–50 / 51–100, v = id*10) with key stats. */
  private def twoFileTable(): (Path, Seq[String], Seq[String]) = {
    val tbl = graft.util.Scratch.dir("graft_cowrebase")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(tbl)
    (1L to 50L).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("lo").toString)
    (51L to 100L).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("hi").toString)
    val lo = TxnLog.parquetsUnder(tbl, "lo")
    val hi = TxnLog.parquetsUnder(tbl, "hi")
    TxnLog.commitRetry(tbl, "create", _ => lo ++ hi,
      statsFor = _ => TxnLog.keyStats(spark, tbl, lo ++ hi, "id"),
      statsKey = Some("id"))
    (tbl, lo, hi)
  }

  /** Write `rows` as one file under `sub` — not yet committed. */
  private def file(tbl: Path, sub: String, rows: Seq[(Long, Long)]): Seq[String] = {
    rows.toDF("id", "v").coalesce(1).write.parquet(tbl.resolve(sub).toString)
    TxnLog.parquetsUnder(tbl, sub)
  }

  private def rows(tbl: Path): Set[(Long, Long)] =
    GraftTables.read(spark, tbl).as[(Long, Long)].collect().toSet

  test("mergeCowByKey rebases over a disjoint append: one conflict, the " +
      "attempt-0 files commit, nothing is re-staged") {
    val (tbl, lo, hi) = twoFileTable()
    val appended = file(tbl, "app0", (200L to 210L).map(i => (i, 7L)))
    var fired = false
    val c = TxnLog.mergeCowByKey(spark, tbl,
      Seq((7L, 71L, "upsert")).toDF("id", "v", "op"), "id", "m0",
      onPlanned = _ => if (!fired) {
        fired = true
        TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
      })
    assert(c == TxnLog.Committed(2L, 1), c)
    val tip = TxnLog.tip(tbl)
    assert(tip.action == "merge" && tip.parent == 1L, tip)
    assert(appended.forall(tip.files.contains) && hi.forall(tip.files.contains))
    assert(!lo.exists(tip.files.contains))
    val rewritten = tip.files.filterNot((appended ++ hi).contains)
    assert(rewritten.nonEmpty && rewritten.forall(_.startsWith("m0/")),
      s"the attempt-0 staging must be what commits: $rewritten")
    assert(!Files.exists(tbl.resolve("m0-r1")), "a rebase re-staged")
    // Survivors keep their key bounds; the rewrite declares its own.
    assert(hi.forall(f => tip.stats.get(f).contains((51L, 100L))))
    assert(rewritten.forall(f => tip.stats.get(f).contains((1L, 50L))))
    assert(rows(tbl) == ((1L to 100L).map(i => (i, if (i == 7L) 71L else i * 10L)) ++
      (200L to 210L).map(i => (i, 7L))).toSet)
  }

  test("a key both the merge and a concurrent blind append insert is " +
      "ordered merge, then append (WriteSerializable)") {
    val (tbl, _, _) = twoFileTable()
    val appended = file(tbl, "app0", Seq((150L, 7L)))
    var fired = false
    val c = TxnLog.mergeCowByKey(spark, tbl,
      Seq((150L, 1500L, "upsert")).toDF("id", "v", "op"), "id", "m0",
      onPlanned = _ => if (!fired) {
        fired = true
        TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
      })
    assert(c == TxnLog.Committed(2L, 1), c)
    assert(TxnLog.readManifest(tbl, 1L).action == "append")
    // Had the merge run after the append, its upsert would have
    // updated the appended row. Rebased, it inserted without seeing
    // it, and the append then landed its own copy of the key.
    assert(GraftTables.read(spark, tbl).filter($"id" === 150L)
      .as[(Long, Long)].collect().toSet == Set((150L, 1500L), (150L, 7L)))
    assert(GraftTables.read(spark, tbl).count() == 102L)
  }

  test("two merges that insert one key serialize: the loser replans and " +
      "updates the winner's row") {
    val (tbl, _, _) = twoFileTable()
    var fired = false
    val c = TxnLog.mergeCowByKey(spark, tbl,
      Seq((150L, 1500L, "upsert")).toDF("id", "v", "op"), "id", "m0",
      onPlanned = _ => if (!fired) {
        fired = true
        TxnLog.mergeCowByKey(spark, tbl,
          Seq((150L, 7L, "upsert")).toDF("id", "v", "op"), "id", "m1")
      })
    assert(c == TxnLog.Committed(2L, 1), c)
    assert(Files.exists(tbl.resolve("m0-r1")), "the loser must replan")
    // Serially last, the outer merge updates the row the inner one
    // inserted rather than inserting the key a second time.
    assert(GraftTables.read(spark, tbl).filter($"id" === 150L)
      .as[(Long, Long)].collect().toSeq == Seq((150L, 1500L)))
    assert(GraftTables.read(spark, tbl).count() == 101L)
  }

  test("a merge rebases over a concurrent merge whose files lie outside " +
      "its key range") {
    val (tbl, _, _) = twoFileTable()
    var fired = false
    val c = TxnLog.mergeCowByKey(spark, tbl,
      Seq((150L, 1500L, "upsert")).toDF("id", "v", "op"), "id", "m0",
      onPlanned = _ => if (!fired) {
        fired = true
        TxnLog.mergeCowByKey(spark, tbl,
          Seq((300L, 3L, "upsert")).toDF("id", "v", "op"), "id", "m1")
      })
    assert(c == TxnLog.Committed(2L, 1), c)
    assert(!Files.exists(tbl.resolve("m0-r1")), "a rebase re-staged")
    assert(GraftTables.read(spark, tbl).filter($"id" >= 150L)
      .as[(Long, Long)].collect().toSet == Set((150L, 1500L), (300L, 3L)))
  }

  test("GraftTables.deleteWhere rebases over an append that lands " +
      "between its plan and its commit") {
    val (tbl, lo, hi) = twoFileTable()
    // The statement's snapshot: the DELETE plans from v0.
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    val appended = file(tbl, "app0", Seq((5L, 1L), (300L, 3L)))
    TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
    GraftTables.deleteWhere(snap, Array(LessThanOrEqual("id", 10L)))
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 2L && tip.parent == 1L && tip.action == "delete",
      tip)
    assert(appended.forall(tip.files.contains) && hi.forall(tip.files.contains))
    assert(!lo.exists(tip.files.contains))
    // The appended rows were never seen by the delete: ordered after
    // it, the matching id 5 survives.
    assert(rows(tbl) == ((11L to 100L).map(i => (i, i * 10L)) ++
      Seq((5L, 1L), (300L, 3L))).toSet)
  }

  test("GraftTables.deleteWhere replans over a concurrent rewrite of a " +
      "file it targets") {
    val (tbl, lo, hi) = twoFileTable()
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    // A merge rewrites the low file between the DELETE's snapshot and
    // its commit: rebasing would clobber that rewrite.
    TxnLog.mergeCowByKey(spark, tbl,
      Seq((3L, 33L, "upsert"), (20L, 222L, "upsert")).toDF("id", "v", "op"),
      "id", "m1")
    GraftTables.deleteWhere(snap, Array(EqualTo("id", 3L)))
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 2L && tip.parent == 1L && tip.action == "delete")
    assert(hi.forall(tip.files.contains) && !lo.exists(tip.files.contains))
    assert(!tip.files.exists(_.startsWith("m1/")),
      "the replanned delete rewrites the merge's file")
    assert(rows(tbl) == (1L to 100L).filter(_ != 3L)
      .map(i => (i, if (i == 20L) 222L else i * 10L)).toSet)
  }

  test("a merge that bootstraps key stats records them in its delta " +
      "manifest") {
    val tbl = graft.util.Scratch.dir("graft_cowrebase")
      .resolve(s"b${System.nanoTime()}")
    Files.createDirectories(tbl)
    (1L to 400L).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val base = TxnLog.parquetsUnder(tbl, "d0")
    // No stats at create: the merge plans from a bootstrap key scan.
    TxnLog.commitRetry(tbl, "create", _ => base)
    TxnLog.mergeCowByKey(spark, tbl,
      Seq((7L, 71L, "upsert")).toDF("id", "v", "op"), "id", "m0")
    // One file of four rewritten: v1 is stored as a delta against v0,
    // whose stored stats are empty, so the survivors' bootstrapped
    // bounds must be in the delta itself.
    val stored = new String(Files.readAllBytes(
      TxnLog.logDir(tbl).resolve(f"${1}%08d.json")))
    assert(stored.contains("\"base\""), stored)
    val tip = TxnLog.tip(tbl)
    assert(tip.statsKey.contains("id") && tip.files.size == 4)
    assert(tip.stats == TxnLog.keyStats(spark, tbl, tip.files, "id"), tip)
  }

  test("mergeCowByKey merges on an INT key, and refuses a non-integral " +
      "key before any job runs") {
    val tbl = graft.util.Scratch.dir("graft_cowrebase")
      .resolve(s"i${System.nanoTime()}")
    Files.createDirectories(tbl)
    Seq((1, 10L), (2, 20L), (50, 500L)).toDF("id", "v")
      .repartitionByRange(2, $"id").sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    // No stats at create: the merge bootstraps them with a key scan.
    TxnLog.commitRetry(tbl, "create", _ => TxnLog.parquetsUnder(tbl, "d0"))
    val c = TxnLog.mergeCowByKey(spark, tbl,
      Seq((1, 11L, "upsert"), (3, 33L, "upsert"), (50, 0L, "delete"))
        .toDF("id", "v", "op"), "id", "m0")
    assert(c == TxnLog.Committed(1L, 0))
    val tip = TxnLog.tip(tbl)
    assert(tip.statsKey.contains("id") && tip.files.forall(tip.stats.contains),
      tip)
    assert(GraftTables.read(spark, tbl).as[(Int, Long)].collect().toSet ==
      Set((1, 11L), (2, 20L), (3, 33L)))
    val (e, jobs) = jobsRun(intercept[RuntimeException](
      TxnLog.mergeCowByKey(spark, tbl,
        Seq(("a", 1L, "upsert")).toDF("name", "v", "op"), "name", "m1")))
    assert(e.getMessage.contains(
      "mergeCowByKey key `name` has non-integral type string"), e.getMessage)
    assert(jobs.isEmpty, jobs)
    assert(TxnLog.tip(tbl).version == 1L)
  }

  test("an INT-key merge that loses a race to declareNdv rebases, and " +
      "its file carries the key's bounds") {
    val tbl = graft.util.Scratch.dir("graft_cowrebase")
      .resolve(s"n${System.nanoTime()}")
    Files.createDirectories(tbl)
    (1 to 50).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("lo").toString)
    (51 to 100).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("hi").toString)
    val lo = TxnLog.parquetsUnder(tbl, "lo")
    val hi = TxnLog.parquetsUnder(tbl, "hi")
    TxnLog.commitRetry(tbl, "create", _ => lo ++ hi,
      statsFor = _ => TxnLog.keyStats(spark, tbl, lo ++ hi, "id"),
      statsKey = Some("id"))
    // The declaration changes the tip's declared sets, so the rebased
    // commit reads the staged file's stats back under them, INT key
    // included.
    var fired = false
    val c = TxnLog.mergeCowByKey(spark, tbl,
      Seq((7, 71L, "upsert")).toDF("id", "v", "op"), "id", "m0",
      onPlanned = _ => if (!fired) {
        fired = true
        TxnLog.declareNdv(spark, tbl, Seq("v"))
      })
    assert(c == TxnLog.Committed(2L, 1), c)
    val tip = TxnLog.tip(tbl)
    assert(tip.action == "merge" && tip.parent == 1L, tip)
    assert(!lo.exists(tip.files.contains) && hi.forall(tip.files.contains))
    val rewritten = tip.files.filterNot(hi.contains)
    assert(rewritten.size == 1 && rewritten.head.startsWith("m0/"), rewritten)
    assert(tip.statsKey.contains("id") &&
      tip.stats.get(rewritten.head).contains((1L, 50L)), tip)
    assert(tip.files.forall(tip.ndv("v").contains), tip.ndv)
    assert(GraftTables.read(spark, tbl).as[(Int, Long)].collect().toSet ==
      (1 to 100).map(i => (i, if (i == 7) 71L else i * 10L)).toSet)
  }
}
