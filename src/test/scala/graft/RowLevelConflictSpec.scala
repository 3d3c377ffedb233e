// In package graft.sources (file lives with the other specs) so the
// tests can drive the write's package-private configured-scan state.
package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.connector.write.{RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.TxnLog

/** The row-level (UPDATE/MERGE/complex-DELETE) conflict discipline:
  * a lost commit race REBASES automatically when every intervening
  * commit is disjoint from the rewrite's planned groups, and refuses
  * loudly only when a concurrent commit rewrote a scanned file —
  * Delta's WriteSerializable conflict check, staged here as a
  * deterministic two-writer interleaving. */
class RowLevelConflictSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** A two-file table (keys 1–50 / 51–100) with key stats. */
  private def twoFileTable(): (Path, Seq[String], Seq[String]) = {
    val tbl = graft.util.Scratch.dir("graft_rlconflict")
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

  /** Stage a replacement file (v = id*10 + 1) and its commit message. */
  private def stage(tbl: Path, sub: String, lo: Long, hi: Long): GraftWrittenFile = {
    (lo to hi).map(i => (i, i * 10L + 1L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve(sub).toString)
    GraftWrittenFile(TxnLog.parquetsUnder(tbl, sub).head, hi - lo + 1L)
  }

  test("a row-level commit REBASES over a concurrent disjoint append") {
    val (tbl, loFiles, hiFiles) = twoFileTable()
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    val op = new GraftRowLevelOperation(snap, RowLevelOperation.Command.UPDATE)
    op.scannedFiles = loFiles // the statement's scan planned the low group
    val write = new GraftReplaceDataWrite(snap, op)
    val msg = stage(tbl, "rw0", 1L, 50L)
    // A concurrent writer APPENDS a disjoint file between this
    // statement's snapshot read and its commit.
    (200L to 210L).map(i => (i, 7L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("app0").toString)
    val appended = TxnLog.parquetsUnder(tbl, "app0")
    TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
    // The rewrite still lands — rebased onto the appended tip.
    write.commit(Array[WriterCommitMessage](msg))
    assert(TxnLog.latest(tbl).contains(2L))
    val tip = TxnLog.readManifest(tbl, 2L)
    assert(tip.action == "replace")
    assert(!tip.files.exists(loFiles.contains), "scanned group replaced")
    assert(hiFiles.forall(tip.files.contains), "unscanned file survives")
    assert(appended.forall(tip.files.contains),
      "the concurrent append must NOT be clobbered by the rebase")
    val rows = GraftTables.read(spark, tbl)
    assert(rows.count() == 111L)
    assert(rows.filter($"id" <= 50L).agg(sum($"v")).head.getLong(0) ==
      (1L to 50L).map(_ * 10L + 1L).sum, "the rewrite's rows landed")
    assert(rows.filter($"id" >= 200L).count() == 11L)
  }

  test("a row-level commit REFUSES when a concurrent commit rewrote a scanned file") {
    val (tbl, _, hiFiles) = twoFileTable()
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    val op = new GraftRowLevelOperation(snap, RowLevelOperation.Command.UPDATE)
    op.scannedFiles = hiFiles
    val write = new GraftReplaceDataWrite(snap, op)
    val msg = stage(tbl, "rw1", 51L, 100L)
    // A concurrent writer REWRITES the same high file (a compaction,
    // a delete — anything removing a scanned group).
    (51L to 100L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("cc").toString)
    TxnLog.commitRetry(tbl, "cow",
      t => t.files.filterNot(hiFiles.contains) ++
        TxnLog.parquetsUnder(tbl, "cc"))
    val e = intercept[RuntimeException](
      write.commit(Array[WriterCommitMessage](msg)))
    assert(e.getMessage.contains("does not commute"))
    // The refused statement committed nothing; the concurrent
    // rewrite's data is intact.
    assert(TxnLog.latest(tbl).contains(1L))
    assert(GraftTables.read(spark, tbl)
      .filter($"id" === 60L).select($"v").head.getLong(0) == 60L)
  }

  test("a row-level commit REFUSES when a merge-on-read delete raced in") {
    val (tbl, loFiles, _) = twoFileTable()
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    val op = new GraftRowLevelOperation(snap, RowLevelOperation.Command.UPDATE)
    op.scannedFiles = loFiles
    val write = new GraftReplaceDataWrite(snap, op)
    val msg = stage(tbl, "rw2", 1L, 50L)
    // A concurrent equality delete: the rewrite's fresh-seq output
    // would escape it and resurrect the rows it removes.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(5L).toDF("id"), "id", "ed")
    val e = intercept[RuntimeException](
      write.commit(Array[WriterCommitMessage](msg)))
    assert(e.getMessage.contains("merge-on-read delete"))
    assert(TxnLog.latest(tbl).contains(1L))
    assert(GraftTables.read(spark, tbl).count() == 99L)
  }

  test("a row-level commit that rebases onto CHANGED stats declarations " +
      "records the staged files' stats under the tip's sets") {
    val (tbl, loFiles, hiFiles) = twoFileTable()
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    val op = new GraftRowLevelOperation(snap, RowLevelOperation.Command.UPDATE)
    op.scannedFiles = loFiles
    val write = new GraftReplaceDataWrite(snap, op)
    // The staged message carries no writer-side stats, so every stat
    // of the new file must come from the re-derivation under the tip.
    val msg = stage(tbl, "rw3", 1L, 50L)
    TxnLog.declareNdv(spark, tbl, Seq("v"))
    write.commit(Array[WriterCommitMessage](msg))
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 2L && tip.action == "replace", tip)
    assert(!tip.files.exists(loFiles.contains) &&
      hiFiles.forall(tip.files.contains))
    val sketched = tip.ndv.getOrElse("v", Map.empty)
    assert(tip.files.forall(sketched.contains),
      s"v sketch misses ${tip.files.filterNot(sketched.contains)}")
    assert(tip.files.forall(tip.stats.contains),
      s"key stats miss ${tip.files.filterNot(tip.stats.contains)}")
    assert(tip.stats(tip.files.filterNot(hiFiles.contains).head) == (1L, 50L))
  }

  /** Stage a delta task output: a data file of rewritten rows plus a
    * position-delete file naming `target` ordinals 0..n-1. */
  private def stageDelta(tbl: Path, sub: String, target: String,
      lo: Long, hi: Long): GraftDeltaFiles = {
    (lo to hi).map(i => (i, i * 10L + 1L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve(s"$sub-d").toString)
    (0L to (hi - lo)).map(p => (target, p)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(tbl.resolve(s"$sub-p").toString)
    GraftDeltaFiles(
      Some(TxnLog.parquetsUnder(tbl, s"$sub-d").head), hi - lo + 1L,
      Some(TxnLog.parquetsUnder(tbl, s"$sub-p").head), hi - lo + 1L)
  }

  test("a DELTA commit rebases over a disjoint append; refuses when a " +
      "position-targeted file was rewritten or a MoR delete raced in") {
    val (tbl, loFiles, hiFiles) = twoFileTable()
    val snap = GraftTables.resolve(Map("path" -> tbl.toString))
    val write = new GraftDeltaBatchWrite(snap,
      RowLevelOperation.Command.UPDATE)
    val msg = stageDelta(tbl, "dl0", loFiles.head, 1L, 50L)
    // Concurrent DISJOINT append: commutes, commit rebases onto it.
    (200L to 210L).map(i => (i, 7L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("app0").toString)
    val appended = TxnLog.parquetsUnder(tbl, "app0")
    TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
    write.commit(Array[WriterCommitMessage](msg))
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 2L && tip.action == "update-mor")
    assert((loFiles ++ hiFiles ++ appended).forall(tip.files.contains),
      "delta appends; nothing removed, the append not clobbered")
    assert(tip.deletes.map(_.kind) == Seq("pos"))
    val rows = GraftTables.read(spark, tbl)
    assert(rows.count() == 111L)
    assert(rows.filter($"id" <= 50L).agg(sum($"v")).head.getLong(0) ==
      (1L to 50L).map(_ * 10L + 1L).sum)
    // Refusal 1: a concurrent commit REWRITES a position-targeted
    // file — the recorded ordinals would delete the wrong rows.
    val snap2 = GraftTables.resolve(Map("path" -> tbl.toString))
    val write2 = new GraftDeltaBatchWrite(snap2,
      RowLevelOperation.Command.UPDATE)
    val msg2 = stageDelta(tbl, "dl1", hiFiles.head, 51L, 100L)
    (51L to 100L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("cc").toString)
    TxnLog.commitRetry(tbl, "cow",
      t => t.files.filterNot(hiFiles.contains) ++
        TxnLog.parquetsUnder(tbl, "cc"))
    val e1 = intercept[RuntimeException](
      write2.commit(Array[WriterCommitMessage](msg2)))
    assert(e1.getMessage.contains("does not commute"))
    // Refusal 2: a concurrent NEW equality delete — this statement's
    // fresh-seq output would escape it, resurrecting deleted rows.
    val snap3 = GraftTables.resolve(Map("path" -> tbl.toString))
    val write3 = new GraftDeltaBatchWrite(snap3,
      RowLevelOperation.Command.UPDATE)
    val msg3 = stageDelta(tbl, "dl2", loFiles.head, 1L, 10L)
    TxnLog.deleteByKeyMor(spark, tbl, Seq(5L).toDF("id"), "id", "ed")
    val e2 = intercept[RuntimeException](
      write3.commit(Array[WriterCommitMessage](msg3)))
    assert(e2.getMessage.contains("merge-on-read delete"))
  }

  /** Commit `staged` as a compaction of `planned` through the shared
    * loop: replace the `targets`, clear only the planned deletes. */
  private def compactLike(tbl: Path, planned: TxnLog.Manifest,
      staged: StagedWrite.Staged, targets: Set[String]): TxnLog.Committed =
    StagedWrite.commit(spark, tbl, planned, staged, targets, "compaction",
      addsRows = false) { (t, under) =>
      TxnLog.replaceFiles(tbl, t, "compact", targets, under(t))
        .copy(deletes = t.deletes.filterNot(planned.deletes.toSet))
    }

  /** `files` of `planned` rewritten (pending deletes applied) and
    * staged under `sub`, the way the compactions stage. */
  private def stageRewrite(tbl: Path, planned: TxnLog.Manifest,
      files: Seq[String], sub: String): StagedWrite.Staged =
    StagedWrite.stage(GraftTables.scanFiles(spark, tbl, planned, files)
      .coalesce(1), tbl, sub, planned)

  test("a compaction-shaped commit REBASES over a disjoint append: the " +
      "appended file survives") {
    val (tbl, loFiles, hiFiles) = twoFileTable()
    val planned = TxnLog.tip(tbl)
    val staged = stageRewrite(tbl, planned, loFiles, "cmp0")
    (200L to 210L).map(i => (i, 7L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.resolve("app0").toString)
    val appended = TxnLog.parquetsUnder(tbl, "app0")
    TxnLog.commitRetry(tbl, "append", t => t.files ++ appended)
    val c = compactLike(tbl, planned, staged, loFiles.toSet)
    assert(c == TxnLog.Committed(2L, 1))
    val tip = TxnLog.tip(tbl)
    assert(tip.action == "compact")
    assert(tip.files.toSet == (hiFiles ++ appended ++ staged.paths).toSet)
    assert(tip.stats(staged.paths.head) == (1L, 50L))
    assert(GraftTables.read(spark, tbl).count() == 100L + 11L)
  }

  test("a compaction-shaped commit REFUSES when a merge-on-read delete " +
      "raced in") {
    val (tbl, loFiles, _) = twoFileTable()
    val planned = TxnLog.tip(tbl)
    val staged = stageRewrite(tbl, planned, loFiles, "cmp1")
    // The staged rewrite still holds id 5: committing it would
    // resurrect the row the raced-in delete removes.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(5L).toDF("id"), "id", "ed")
    val e = intercept[RuntimeException](
      compactLike(tbl, planned, staged, loFiles.toSet))
    assert(e.getMessage.contains("merge-on-read delete"), e.getMessage)
    assert(TxnLog.latest(tbl).contains(1L))
    assert(GraftTables.read(spark, tbl).count() == 99L)
  }

  test("a clear-in-place materialize commit never drops a delete that " +
      "raced in") {
    val (tbl, loFiles, hiFiles) = twoFileTable()
    // v1: delete id 5; v2: every file rewritten past it (id 5 gone),
    // so the pending delete is pure metadata debt.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(5L).toDF("id"), "id", "ed0")
    GraftTables.read(spark, tbl).coalesce(1)
      .write.parquet(tbl.resolve("cc").toString)
    TxnLog.commitRetry(tbl, "cow", t =>
      t.files.filterNot((loFiles ++ hiFiles).contains) ++
        TxnLog.parquetsUnder(tbl, "cc"))
    val planned = TxnLog.tip(tbl)
    assert(planned.version == 2L && planned.deletes.size == 1)
    // v3: a delete of id 60 races in before the clear commits.
    TxnLog.deleteByKeyMor(spark, tbl, Seq(60L).toDF("id"), "id", "ed1")
    val raced = TxnLog.tip(tbl).deletes.filterNot(planned.deletes.toSet)
    val e = intercept[RuntimeException](compactLike(tbl, planned,
      StagedWrite.Staged(Seq.empty, TxnLog.CommitStats.empty), Set.empty))
    assert(e.getMessage.contains("merge-on-read delete"), e.getMessage)
    val tip = TxnLog.tip(tbl)
    assert(tip.version == 3L && raced.nonEmpty &&
      raced.forall(tip.deletes.contains))
    val rows = GraftTables.read(spark, tbl)
    assert(rows.count() == 98L && rows.filter($"id" === 60L).isEmpty)
  }
}
