package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxnLog
import graft.sources.{GraftTables, StagedWrite}

/** The log's one commit loop, `StagedWrite.commit`, under staged,
  * deterministic races: a blind commit rebases over whatever won, and a
  * position delete refuses only a commit that removed a file it names.
  * Races the other rules judge are in `CowRebaseSpec` and
  * `RowLevelConflictSpec`. */
class CommitLoopSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** A two-file table (keys 1–50 / 51–100, v = id*10) with key stats. */
  private def twoFileTable(): (Path, Seq[String], Seq[String]) = {
    val tbl = graft.util.Scratch.dir("graft_commitloop")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(tbl)
    val lo = file(tbl, "lo", (1L to 50L).map(i => (i, i * 10L)))
    val hi = file(tbl, "hi", (51L to 100L).map(i => (i, i * 10L)))
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

  private val base: Set[(Long, Long)] = (1L to 100L).map(i => (i, i * 10L)).toSet

  test("a blind commit rebases over a copy-on-write rewrite and an " +
      "equality delete that won its race: one conflict, no Conflict, " +
      "the raced files and delete kept") {
    val (tbl, lo, _) = twoFileTable()
    val appended = file(tbl, "app", (200L to 210L).map(i => (i, 7L)))
    var raced = false
    val c = TxnLog.commitRetryWith(tbl, t => {
      if (!raced) {
        raced = true
        TxnLog.mergeCowByKey(spark, tbl,
          Seq((7L, 71L, "upsert")).toDF("id", "v", "op"), "id", "m0")
        TxnLog.deleteByKeyMor(spark, tbl, Seq(60L).toDF("id"), "id", "d0")
      }
      t.copy(action = "append", files = t.files ++ appended, txn = None,
        ts = 0L)
    })
    assert(c == TxnLog.Committed(3L, 1), c)
    val tip = TxnLog.tip(tbl)
    assert(tip.action == "append" && tip.parent == 2L, tip)
    val raced2 = TxnLog.readManifest(tbl, 2L)
    assert(tip.files == raced2.files ++ appended, tip.files)
    assert(!tip.files.exists(lo.toSet), "the rewritten file came back")
    assert(tip.deletes == raced2.deletes && tip.deletes.size == 1)
    assert(rows(tbl) == base - ((7L, 70L)) + ((7L, 71L)) - ((60L, 600L)) ++
      (200L to 210L).map(i => (i, 7L)))
  }

  /** Positions of `tbl` whose write runs `CommitLoopSpec.race` once,
    * inside the position-delete file's own write: the competing commit
    * lands after `deleteByPosMor` read its tip and before it commits. */
  private def racedPositions(named: String, positions: Seq[Long],
      race: () => Unit) = {
    CommitLoopSpec.fired.set(false)
    CommitLoopSpec.race = race
    val once = udf { (p: String) =>
      if (CommitLoopSpec.fired.compareAndSet(false, true))
        CommitLoopSpec.race()
      p
    }.asNondeterministic()
    positions.map(p => (named, p)).toDF("file_path", "pos")
      .select(once($"file_path").as("file_path"), $"pos")
  }

  test("a position delete rebases over an equality delete that won its " +
      "race, and refuses one that removed a file it names with Conflict") {
    val (tbl, lo, hi) = twoFileTable()
    // Key 60 as an equality-delete file, committed by the race.
    Seq(60L).toDF("id").coalesce(1).write.parquet(tbl.resolve("eq").toString)
    val eq = TxnLog.parquetsUnder(tbl, "eq").head
    val c = TxnLog.deleteByPosMor(spark, tbl,
      racedPositions(lo.head, Seq(0L, 1L), () => TxnLog.commitRetryWith(tbl,
        t => t.copy(action = "delete-mor", deletes = t.deletes :+
          TxnLog.DeleteFile(eq, "id", t.version + 1,
            Files.size(tbl.resolve(eq))), txn = None, ts = 0L))),
      "p0")
    assert(CommitLoopSpec.fired.get)
    assert(c == TxnLog.Committed(2L, 1), c)
    val tip = TxnLog.tip(tbl)
    assert(tip.deletes.map(_.kind) == Seq("eq", "pos"), tip.deletes)
    // Ordinals 0 and 1 of the low file are keys 1 and 2.
    assert(rows(tbl) == base -- Seq((1L, 10L), (2L, 20L), (60L, 600L)))

    // A commit that removed the named file: the ordinals would name
    // rows of a file that is gone.
    val e = intercept[StagedWrite.Conflict](TxnLog.deleteByPosMor(spark,
      tbl, racedPositions(hi.head, Seq(3L), () => TxnLog.commitRetry(tbl,
        "delete", t => t.files.filterNot(hi.toSet))), "p1"))
    assert(e.getMessage.contains("does not commute"), e.getMessage)
    assert(TxnLog.tip(tbl).version == 3L && TxnLog.tip(tbl).action == "delete")
  }

  test("the commits since a base resolve as readManifest does, within " +
      "their bounds") {
    val (tbl, _, _) = twoFileTable()
    (1 to 4).foreach { i =>
      val f = file(tbl, s"a$i", Seq((1000L + i, 1L)))
      TxnLog.commitRetry(tbl, "append", t => t.files ++ f)
    }
    TxnLog.deleteByKeyMor(spark, tbl, Seq(5L).toDF("id"), "id", "d")
    val walked = TxnLog.since(tbl, 1L, Long.MaxValue)
    assert(walked.map(_.version) == (2L to 5L))
    assert(walked == (2L to 5L).map(TxnLog.readManifest(tbl, _)))
    assert(TxnLog.since(tbl, 1L, 3L) == walked.take(2))
    assert(TxnLog.since(tbl, 5L, Long.MaxValue).isEmpty)
  }
}

object CommitLoopSpec {
  /** The competing commit [[CommitLoopSpec]] runs from inside a write
    * task (local mode: the same JVM), once per `fired` reset. */
  @volatile var race: () => Unit = () => ()
  val fired = new AtomicBoolean(false)
}
