package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TxnLog
import graft.sources.GraftTables

/** The commit protocol in isolation: put-if-absent atomicity, rebase-
  * and-retry under a real two-thread race, version pinning, and
  * log-derived liveness. Pure filesystem — no SparkSession needed. */
class TxnLogSpec extends AnyFunSuite with SparkTestBase {

  private def freshTable(): Path = {
    val p = graft.util.Scratch.dir("graft_txnlog")
      .resolve(s"t${System.nanoTime()}")
    Files.createDirectories(p)
    p
  }

  test("render/parse round-trips, including empty file lists") {
    val m = TxnLog.Manifest(3L, 2L, "compact", Seq("a.parquet", "d/b.parquet"))
    assert(TxnLog.parse(TxnLog.render(m)) == m)
    val empty = TxnLog.Manifest(0L, -1L, "create", Seq.empty)
    assert(TxnLog.parse(TxnLog.render(empty)) == empty)
  }

  test("per-file key stats round-trip in the manifest; absent stats parse empty") {
    val m = TxnLog.Manifest(1L, 0L, "merge",
      Seq("a.parquet", "d/b.parquet"),
      Map("a.parquet" -> (-5L, 100L), "d/b.parquet" -> (101L, 900L)))
    assert(TxnLog.parse(TxnLog.render(m)) == m)
    // A pre-stats manifest (round-12 v1 format) still parses.
    val legacy = """{"version":0,"parent":-1,"action":"create","files":["f0"]}"""
    assert(TxnLog.parse(legacy) ==
      TxnLog.Manifest(0L, -1L, "create", Seq("f0")))
  }

  test("stats survive a commit chain through tryCommit") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0"),
      Map("f0" -> (1L, 10L)))
    val m = TxnLog.readManifest(t, 0L)
    assert(m.stats == Map("f0" -> (1L, 10L)))
  }

  test("commit chain is contiguous and the loser of a stale commit is refused") {
    val t = freshTable()
    assert(TxnLog.latest(t).isEmpty)
    assert(TxnLog.tryCommit(t, -1L, "create", Seq("f0")) == Some(0L))
    assert(TxnLog.tryCommit(t, 0L, "append", Seq("f0", "f1")) == Some(1L))
    // A writer that read version 0 and missed the append must NOT be
    // able to publish version 1 again — put-if-absent refuses.
    assert(TxnLog.tryCommit(t, 0L, "append", Seq("f0", "f2")).isEmpty)
    assert(TxnLog.versions(t) == Seq(0L, 1L))
    assert(TxnLog.readManifest(t, 1L).files == Seq("f0", "f1"))
    assert(TxnLog.readManifest(t, 1L).parent == 0L)
  }

  test("staged two-committer race: exactly one conflict, both land, contiguous log") {
    // DETERMINISTIC interleaving (the r12 two-thread version could be
    // serialized by the scheduler and detect 0 conflicts): committer
    // B's filesFor — which commitRetry calls after reading the tip
    // and before its own tryCommit — injects committer A's winning
    // commit against the SAME tip. B's first attempt then necessarily
    // loses put-if-absent, and the retry rebases on A's tip.
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("base"))
    var injected = false
    val cb = TxnLog.commitRetry(t, "append", tip => {
      if (!injected) {
        injected = true
        assert(TxnLog.tryCommit(t, tip.version, "append",
          tip.files :+ "fa") == Some(1L))
      }
      tip.files :+ "fb"
    })
    assert(cb == TxnLog.Committed(2L, 1),
      s"B must lose exactly its first race and land as v2, got $cb")
    assert(TxnLog.versions(t) == Seq(0L, 1L, 2L))
    // The rebase means the final tip carries BOTH writers' files.
    val tip = TxnLog.readManifest(t, 2L)
    assert(tip.files.toSet == Set("base", "fa", "fb"))
    assert(tip.parent == 1L)
  }

  test("manifests with hostile file names round-trip (real JSON, not regex)") {
    val hostile = Seq("""a,"b".parquet""", "d]/weïrd,2.parquet")
    val m = TxnLog.Manifest(0L, -1L, "create", hostile,
      Map(hostile.head -> (1L, 2L)), Some("k"),
      Map(hostile.head -> Map("year" -> "19,95")),
      Some(Seq(TxnLog.ColumnDef(1, "a\"b", "bigint", "a,b"))),
      txns = Map("app\"x" -> 3L),
      colStats = Map("c,1" -> Map(hostile.head -> (5L, 9L),
        hostile.last -> TxnLog.EmptyRange)))
    assert(TxnLog.parse(TxnLog.render(m)) == m)
  }

  test("hive-style partition values derive from paths at commit time") {
    assert(TxnLog.partitionValuesFromPaths(Seq(
      "year=1995/p0.parquet",
      "year=1996/month=2/p1.parquet",
      "plain/p2.parquet")) == Map(
      "year=1995/p0.parquet" -> Map("year" -> "1995"),
      "year=1996/month=2/p1.parquet" ->
        Map("year" -> "1996", "month" -> "2")))
  }

  test("generic commitRetry carries the tip's stats forward for survivors") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0", "f1"),
      Map("f0" -> (1L, 10L), "f1" -> (11L, 20L)), Some("id"))
    // A stats-less append (the poisoned-tip shape the r13 advice
    // flagged): survivors keep their entries, the new file has none —
    // which now means UNKNOWN, never silently pruned.
    TxnLog.commitRetry(t, "append", tip => tip.files :+ "f2")
    val tip = TxnLog.readManifest(t, 1L)
    assert(tip.statsKey.contains("id"))
    assert(tip.stats == Map("f0" -> (1L, 10L), "f1" -> (11L, 20L)))
    // A commit that DROPS a file drops its stats entry with it.
    TxnLog.commitRetry(t, "cow", tip => tip.files.filterNot(_ == "f0"))
    assert(TxnLog.readManifest(t, 2L).stats == Map("f1" -> (11L, 20L)))
  }

  test("EmptyRange entries round-trip and intersect nothing") {
    val m = TxnLog.Manifest(0L, -1L, "create", Seq("a", "b"),
      Map("a" -> (1L, 5L), "b" -> TxnLog.EmptyRange), Some("id"))
    assert(TxnLog.parse(TxnLog.render(m)) == m)
    // The prune intersection test (kmin <= hi && kmax >= lo) fails
    // for the empty range against every CONSTRAINED query interval.
    val (kmin, kmax) = TxnLog.EmptyRange
    for ((lo, hi) <- Seq((Long.MinValue, 10L), (10L, Long.MaxValue),
        (5L, 5L)))
      assert(!(kmin <= hi && kmax >= lo), s"[$lo,$hi] must not match")
  }

  test("expire retains each app's high-water txn stamp") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0"))
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(1L, 0L, "append",
      Seq("f0", "f1"), txn = Some("appA" -> 7L)))
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(2L, 1L, "append",
      Seq("f0", "f1", "f2"), txn = Some("appB" -> 3L)))
    TxnLog.tryCommit(t, 2L, "append", Seq("f0", "f1", "f2", "f3"))
    TxnLog.tryCommit(t, 3L, "append", Seq("f0", "f1", "f2", "f3", "f4"))
    // Plain retention would drop v0..v3 — but v1 is appA's high-water
    // stamp and v2 is appB's: deleting them would void exactly-once on
    // a checkpoint-recovered replay. Only v0 and v3 expire.
    val dropped = TxnLog.expire(t, retainLast = 1)
    assert(dropped == Seq(0L, 3L))
    assert(TxnLog.versions(t) == Seq(1L, 2L, 4L))
    assert(TxnLog.lastTxn(t, "appA").contains(7L))
    assert(TxnLog.lastTxn(t, "appB").contains(3L))
    // A newer stamp supersedes the old high-water manifest: it expires.
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(5L, 4L, "append",
      Seq("f0", "f5"), txn = Some("appA" -> 8L)))
    assert(TxnLog.expire(t, retainLast = 1) == Seq(1L, 4L))
    assert(TxnLog.lastTxn(t, "appA").contains(8L))
    assert(TxnLog.lastTxn(t, "appB").contains(3L))
  }

  test("partition values unescape hive segments; ambiguous renderings never prune") {
    // Spark writes 'a:b' as k=a%3Ab (ExternalCatalogUtils escaping) —
    // the stored value must be the UNESCAPED string the filter
    // literal renders to.
    assert(TxnLog.partitionValuesFromPaths(Seq("k=a%3Ab/p.parquet")) ==
      Map("k=a%3Ab/p.parquet" -> Map("k" -> "a:b")))
    // Non-canonical rendering (lowercase hex) does not round-trip:
    // no entry, so the file is never pruned.
    assert(TxnLog.partitionValuesFromPaths(Seq("k=a%3ab/p.parquet")).isEmpty)
    // The hive null marker must never equal a string literal.
    assert(TxnLog.partitionValuesFromPaths(
      Seq("k=__HIVE_DEFAULT_PARTITION__/p.parquet")).isEmpty)
  }

  test("commits fold per-app watermarks: lastTxn answers from the tip alone") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0"))
    // checkpointEvery = 1 pins FULL storage: this test deletes older
    // manifests out-of-band (harsher than expire, which materializes
    // broken chain edges first), so every tip must be self-contained.
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(1L, 0L, "append",
      Seq("f0", "f1"), txn = Some("appA" -> 7L)), checkpointEvery = 1)
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(2L, 1L, "append",
      Seq("f0", "f1", "f2"), txn = Some("appB" -> 3L)), checkpointEvery = 1)
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(3L, 2L, "append",
      Seq("f0", "f1", "f2", "f3")), checkpointEvery = 1)
    // The fold is transitive: the UNSTAMPED tip still carries both
    // apps' high-water marks.
    assert(TxnLog.readManifest(t, 3L).txns ==
      Map("appA" -> 7L, "appB" -> 3L))
    // O(tip) for real: delete every older manifest (harsher than any
    // expire) — the watermarks still answer from the tip.
    Seq(0L, 1L, 2L).foreach(v => Files.delete(
      TxnLog.logDir(t).resolve(f"$v%08d.json")))
    assert(TxnLog.lastTxn(t, "appA").contains(7L))
    assert(TxnLog.lastTxn(t, "appB").contains(3L))
    assert(TxnLog.lastTxn(t, "appC").isEmpty)
    // A replayed stamp never lowers the fold (merge is by MAX).
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(4L, 3L, "append",
      Seq("f0"), txn = Some("appA" -> 5L)))
    assert(TxnLog.lastTxn(t, "appA").contains(7L))
  }

  test("liveness derives from retained manifests only") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0", "f1"))
    TxnLog.tryCommit(t, 0L, "cow", Seq("f0", "f2")) // f1 rewritten as f2
    assert(TxnLog.liveFiles(t, Seq(0L, 1L)) == Set("f0", "f1", "f2"))
    // Expiring version 0 frees exactly the file only it referenced.
    assert(TxnLog.liveFiles(t, Seq(1L)) == Set("f0", "f2"))
  }

  test("lastTxnAt scans the stamp chain when the fold is PARTIAL (upgraded table)") {
    val t = freshTable()
    // v0 and v1: PRE-FOLD manifests (txn stamp, no txns map) written
    // straight to the log, the shape an older engine left behind.
    Files.createDirectories(TxnLog.logDir(t))
    def writeRaw(m: TxnLog.Manifest): Unit = Files.write(
      TxnLog.logDir(t).resolve(f"${m.version}%08d.json"),
      TxnLog.render(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeRaw(TxnLog.Manifest(0L, -1L, "create", Seq("f0"),
      txn = Some("appA" -> 5L), ts = 1L))
    writeRaw(TxnLog.Manifest(1L, 0L, "append", Seq("f0", "f1"),
      txn = Some("appB" -> 2L), ts = 2L))
    // v2: the first post-fold commit — it folds only its immediate
    // parent, so its txns carries appB but NOT appA.
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(2L, 1L, "append",
      Seq("f0", "f1", "f2"), txn = Some("appC" -> 9L), ts = 3L))
    val tip = TxnLog.readManifest(t, 2L)
    assert(tip.txns == Map("appB" -> 2L, "appC" -> 9L))
    // appA is MISSING from the non-empty fold; a fold-only lookup
    // would answer None and re-commit appA's batch 5 on replay. The
    // stamp-scan fallback finds it.
    assert(TxnLog.lastTxn(t, "appA").contains(5L))
    assert(TxnLog.lastTxn(t, "appB").contains(2L))
    assert(TxnLog.lastTxn(t, "never-committed").isEmpty)
  }

  test("keyStats/commitStatsFor attribute ranges by FULL PATH") {
    val s = spark; import s.implicits._
    val t = freshTable()
    // Two files with IDENTICAL basenames in different subdirectories
    // — any partitioned layout does this — holding disjoint ranges.
    Files.createDirectories(t.resolve("a"))
    Files.createDirectories(t.resolve("b"))
    def oneFile(sub: String, lo: Long, hi: Long): Unit = {
      val tmp = t.resolve(s"stage_$sub")
      (lo to hi).toDF("id").coalesce(1).write.parquet(tmp.toString)
      val part = TxnLog.parquetsUnder(t, s"stage_$sub").head
      Files.move(t.resolve(part), t.resolve(s"$sub/part-0.parquet"))
    }
    oneFile("a", 1L, 10L)
    oneFile("b", 1000L, 2000L)
    val files = Seq("a/part-0.parquet", "b/part-0.parquet")
    val ks = TxnLog.keyStats(spark, t, files, "id")
    assert(ks == Map("a/part-0.parquet" -> (1L, 10L),
      "b/part-0.parquet" -> (1000L, 2000L)))
    val cs = TxnLog.commitStatsFor(spark, t, files, None, Seq("id"), Nil)
    assert(cs.colStats("id") == ks)
    assert(cs.ndv("id").keySet == files.toSet)
    val counts = TxnLog.rowCounts(spark, t, files)
    assert(counts == Map("a/part-0.parquet" -> 10L,
      "b/part-0.parquet" -> 1001L))
  }

  test("rowCounts: zero-row files get NO entry (the emptiness probe)") {
    val s = spark; import s.implicits._
    val t = freshTable()
    Seq(1L, 2L, 3L).toDF("id").coalesce(1)
      .write.parquet(t.resolve("d").toString)
    spark.range(0).select($"id").coalesce(1)
      .write.parquet(t.resolve("e").toString)
    val files = TxnLog.parquetsUnder(t, "d") ++ TxnLog.parquetsUnder(t, "e")
    val counts = TxnLog.rowCounts(spark, t, files)
    assert(files.size == 2 && counts.size == 1)
    assert(counts.values.toSeq == Seq(3L))
  }

  test("commitStatsFor REFUSES non-integral and missing declared columns") {
    val s = spark; import s.implicits._
    val t = freshTable()
    Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "name", "score")
      .coalesce(1).write.parquet(t.resolve("d").toString)
    val files = TxnLog.parquetsUnder(t, "d")
    // Integral column: fine.
    def colStats(c: String) =
      TxnLog.commitStatsFor(spark, t, files, None, Seq(c), Nil).colStats(c)
    assert(colStats("id").values.toSeq == Seq((1L, 2L)))
    // A string column would cast to all-NULL = EmptyRange = every
    // file wrongly pruned; a double silently truncates. Both refuse.
    val e1 = intercept[RuntimeException](
      colStats("name"))
    assert(e1.getMessage.contains("non-integral"))
    val e2 = intercept[RuntimeException](
      colStats("score"))
    assert(e2.getMessage.contains("non-integral"))
    val e3 = intercept[RuntimeException](
      colStats("no_such_col"))
    assert(e3.getMessage.contains("does not exist"))
  }

  // --- delta manifests (round 15): O(changed files) commit metadata ---

  private def rawJson(t: Path, v: Long): String =
    new String(Files.readAllBytes(
      TxnLog.logDir(t).resolve(f"$v%08d.json")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("append commits land as deltas, full checkpoints every Nth, " +
      "and resolve to the exact full snapshot") {
    val t = freshTable()
    // v0: create (no parent → full). Then 14 single-file appends.
    TxnLog.commitRetry(t, "create", _ => Seq("f0"),
      statsFor = _ => Map("f0" -> (0L, 9L)), statsKey = Some("k"))
    (1 to 14).foreach { i =>
      TxnLog.commitRetry(t, "append", tip => tip.files :+ s"f$i",
        statsFor = _ => Map(s"f$i" -> (i * 10L, i * 10L + 9L)))
    }
    // Storage form: full at v0 and v10 (depth resets), delta between.
    (0L to 14L).foreach { v =>
      val isFull = !rawJson(t, v).contains("\"base\"")
      assert(isFull == (v == 0L || v == 10L),
        s"v$v storage form: expected ${if (v % 10 == 0) "full" else "delta"}")
    }
    // A mid-chain delta's bytes are O(1 file), not O(all files).
    assert(!rawJson(t, 9L).contains("\"f3\""))
    // Resolution: every version's files and carried stats are exact.
    (0L to 14L).foreach { v =>
      val m = TxnLog.readManifest(t, v)
      assert(m.files == (0L to v).map(i => s"f$i"))
      assert(m.statsKey.contains("k"))
      assert(m.stats("f0") == (0L, 9L))
      assert(m.stats(s"f$v") == (v * 10L, v * 10L + 9L))
      assert(m.version == v && m.parent == v - 1)
    }
    // O(changed files) metadata: a delta's size does not grow with the
    // table's file count — v9's (9 files in) is no bigger than v1's —
    // while the full form grows linearly.
    assert(rawJson(t, 9L).length <= rawJson(t, 1L).length,
      s"delta growth: v9 ${rawJson(t, 9L).length} vs v1 ${rawJson(t, 1L).length}")
    assert(rawJson(t, 9L).length < rawJson(t, 10L).length,
      s"delta v9 not smaller than full v10")
  }

  test("a manifest no exact delta reproduces is stored FULL") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0", "f1"),
      stats = Map("f0" -> (0L, 1L), "f1" -> (2L, 3L)),
      statsKey = Some("k"))
    // v1 keeps both files but DROPS f1's stats entry — surviving-file
    // entry removal has no delta encoding, so the form must be full.
    TxnLog.tryCommitManifest(t, TxnLog.Manifest(1L, 0L, "weird",
      Seq("f0", "f1"), Map("f0" -> (0L, 1L)), Some("k")))
    assert(!rawJson(t, 1L).contains("\"base\""))
    val m = TxnLog.readManifest(t, 1L)
    assert(m.stats == Map("f0" -> (0L, 1L)))
  }

  test("metadata-only txn-stamp commits are empty-change deltas and " +
      "replay watermarks survive resolution") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0"))
    TxnLog.commitRetryWith(t, tip => TxnLog.Manifest(0L, 0L, "txn",
      tip.files, txn = Some(("appA", 7L))))
    assert(rawJson(t, 1L).contains("\"base\""))
    assert(rawJson(t, 1L).contains("\"adds\":[]"))
    assert(TxnLog.lastTxn(t, "appA").contains(7L))
    assert(TxnLog.readManifest(t, 1L).files == Seq("f0"))
  }

  // --- restore + change data feed (round 15) ---

  test("restore re-points the tip to an old snapshot with fresh ts " +
      "and carried stats; history stays intact") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0"),
      Map("f0" -> (0L, 9L)), Some("k"))
    TxnLog.tryCommit(t, 0L, "append", Seq("f0", "f1"),
      Map("f0" -> (0L, 9L), "f1" -> (10L, 19L)), Some("k"))
    TxnLog.commitRetry(t, "delete", _ => Seq("f1"))
    val c = TxnLog.restore(t, 1L)
    assert(c.version == 3L)
    val m = TxnLog.readManifest(t, 3L)
    assert(m.action == "restore")
    // Survivors keep tip order, re-added files append — the ordering
    // delta resolution produces, so the commit stores as a delta.
    assert(m.files == Seq("f1", "f0"))
    assert(rawJson(t, 3L).contains("\"base\""))
    assert(m.stats == Map("f0" -> (0L, 9L), "f1" -> (10L, 19L)))
    assert(m.statsKey.contains("k"))
    // Fresh timestamp, never the restored snapshot's old one —
    // versionAtTimestamp stays monotone across a restore.
    assert(m.ts != 0L && m.ts >= TxnLog.readManifest(t, 2L).ts)
    assert(m.ts >= TxnLog.readManifest(t, 1L).ts)
    // The rolled-back state still time-travels.
    assert(TxnLog.readManifest(t, 2L).files == Seq("f1"))
  }

  test("changes: CDF from file diffs classifies insert/update/delete " +
      "and drops rows the rewrite carried verbatim") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    Seq((3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b1").toString)
    TxnLog.commitRetry(t, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(t, "b1"))
    // v2: CoW rewrite of b0 — k=1 updated, k=2 deleted, b1 untouched.
    Seq((1L, "A")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b2").toString)
    val b0 = TxnLog.parquetsUnder(t, "b0").toSet
    TxnLog.commitRetry(t, "merge", tip =>
      tip.files.filterNot(b0) ++ TxnLog.parquetsUnder(t, "b2"))
    val feed = TxnLog.changes(spark, t, 0L, 2L, "k")
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed == Set(
      (3L, "c", "insert", 1L),
      (1L, "a", "update_preimage", 2L),
      (1L, "A", "update_postimage", 2L),
      (2L, "b", "delete", 2L)))
  }

  test("changes: metadata-only commits contribute nothing; a restore " +
      "surfaces the rollback as row-level changes") {
    val t = freshTable()
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    // v1: txn stamp only — no file change, so no feed rows.
    TxnLog.commitRetryWith(t, tip => TxnLog.Manifest(0L, 0L, "txn",
      tip.files, txn = Some(("app", 1L))))
    TxnLog.commitRetry(t, "delete", _ => Seq.empty)
    TxnLog.restore(t, 0L)
    val feed = TxnLog.changes(spark, t, 0L, 3L, "k")
    assert(feed.filter(col("_commit_version") === 1L).count() == 0)
    val byType = feed.groupBy("_commit_version", "_change_type").count()
      .as[(Long, String, Long)].collect().toSet
    assert(byType == Set((2L, "delete", 2L), (3L, "insert", 2L)))
    // A window holding only the metadata commit is refused loudly.
    val e = intercept[IllegalArgumentException](
      TxnLog.changes(spark, t, 0L, 1L, "k"))
    assert(e.getMessage.contains("no data-changing commits"))
  }

  test("changes is merge-on-read aware: a delete-mor commit surfaces " +
      "its deletions at its own version, already-deleted rows are " +
      "not re-emitted, and a materialize nets zero feed rows") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    // v1 delete-mor of k=2: no file changes, but the feed must carry
    // the deletion AT v1 (a file-diff-only CDF would lose it).
    TxnLog.deleteByKeyMor(spark, t, Seq(2L).toDF("k"), "k", "d1")
    assert(TxnLog.tip(t).files == TxnLog.readManifest(t, 0L).files)
    val feed1 = TxnLog.changes(spark, t, 0L, 1L, "k")
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed1 == Set((2L, "b", "delete", 1L)))
    // v2 deletes k=2 (again — already gone) and k=3: only k=3 is a
    // visible row change, because the pre-image side reads
    // merge-on-read under v1's manifest.
    TxnLog.deleteByKeyMor(spark, t, Seq(2L, 3L).toDF("k"), "k", "d2")
    val feed2 = TxnLog.changes(spark, t, 1L, 2L, "k")
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed2 == Set((3L, "c", "delete", 2L)))
    // v3 materialize rewrites the affected file without changing a
    // visible row — it must contribute NOTHING (re-deleting here
    // would replay k=2/k=3 at the wrong version).
    TxnLog.materializeDeletes(spark, t, "m3")
    assert(TxnLog.readManifest(t, 3L).action == "materialize")
    assert(TxnLog.changes(spark, t, 2L, 3L, "k").count() == 0L)
    val whole = TxnLog.changes(spark, t, 0L, 3L, "k")
      .select("k", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(whole == Set((2L, "delete", 1L), (3L, "delete", 2L)))
  }

  test("changes refuses a CDF window whose parent manifest was " +
      "expired, and still serves windows inside retention") {
    val t = freshTable()
    import spark.implicits._
    for (i <- 0 to 3) {
      Seq((i.toLong, s"r$i")).toDF("k", "v")
        .coalesce(1).write.parquet(t.resolve(s"b$i").toString)
      TxnLog.commitRetry(t, if (i == 0) "create" else "append",
        tip => (if (i == 0) Seq.empty else tip.files) ++
          TxnLog.parquetsUnder(t, s"b$i"))
    }
    TxnLog.expire(t, retainLast = 2) // keeps v2, v3
    val e = intercept[IllegalArgumentException](
      TxnLog.changes(spark, t, 0L, 3L, "k"))
    assert(e.getMessage.contains("exceeds retention"))
    assert(TxnLog.changes(spark, t, 2L, 3L, "k").count() == 1L)
  }

  // --- merge-on-read equality deletes (round 15) ---

  test("deleteByKeyMor rewrites zero data files; reads apply it; " +
      "later appends re-insert by sequence scoping") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    val before = TxnLog.tip(t).files
    TxnLog.deleteByKeyMor(spark, t, Seq(2L, 99L).toDF("k"), "k", "d1")
    val m1 = TxnLog.tip(t)
    assert(m1.action == "delete-mor")
    assert(m1.files == before) // no data file touched
    assert(m1.deletes.size == 1 && m1.deletes.head.seq == 1L)
    assert(TxnLog.readVersion(spark, t, 1L)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // The pre-delete snapshot still reads complete.
    assert(TxnLog.readVersion(spark, t, 0L).count() == 3)
    // Re-insert: the new file's seq (2) is above the delete's (1).
    Seq((2L, "B")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b1").toString)
    TxnLog.commitRetry(t, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(t, "b1"))
    assert(TxnLog.readVersion(spark, t, 2L)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "c"), (2L, "B")))
    // RESTORE past the delete intentionally resurrects: the v0 state
    // comes back whole (the resurrect guard exempts restore).
    TxnLog.restore(t, 0L)
    val r = TxnLog.tip(t)
    assert(r.deletes.isEmpty)
    assert(TxnLog.readVersion(spark, t, r.version)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a commit dropping pending deletes that still target surviving " +
      "files is refused; commitRetry carries them") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, 1L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    TxnLog.deleteByKeyMor(spark, t, Seq(1L).toDF("k"), "k", "d1")
    val e = intercept[IllegalArgumentException] {
      TxnLog.tryCommitManifest(t,
        TxnLog.Manifest(2L, 1L, "oops", TxnLog.tip(t).files))
    }
    assert(e.getMessage.contains("still applying to"))
    TxnLog.commitRetry(t, "touch", tip => tip.files)
    assert(TxnLog.tip(t).deletes.nonEmpty)
  }

  test("merge over pending deletes applies them to affected files " +
      "only; materializeDeletes rewrites the targeted rest and clears") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    val b0 = TxnLog.parquetsUnder(t, "b0")
    TxnLog.commitRetry(t, "create", _ => b0,
      statsFor = _ => TxnLog.keyStats(spark, t, b0, "k"),
      statsKey = Some("k"))
    Seq((10L, 100L), (11L, 110L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b1").toString)
    val b1 = TxnLog.parquetsUnder(t, "b1")
    TxnLog.commitRetry(t, "append", tip => tip.files ++ b1,
      statsFor = _ => TxnLog.keyStats(spark, t, b1, "k"))
    TxnLog.deleteByKeyMor(spark, t, Seq(1L).toDF("k"), "k", "d1")
    // Merge upserting k=10: stats scope the rewrite to b1; the delete
    // still pends against b0, and the commit carries it.
    TxnLog.mergeCowByKey(spark, t,
      Seq((10L, 101L, "upsert")).toDF("k", "c", "op"), "k", "m1")
    val m = TxnLog.tip(t)
    assert(m.deletes.nonEmpty)
    assert(TxnLog.readVersion(spark, t, m.version)
      .as[(Long, Long)].collect().toSet ==
      Set((2L, 20L), (10L, 101L), (11L, 110L)))
    TxnLog.materializeDeletes(spark, t, "mz")
    val mm = TxnLog.tip(t)
    assert(mm.deletes.isEmpty)
    // Only still-targeted files were rewritten: the merge output (seq
    // above the delete's) survives by name, b0 is gone.
    assert(mm.files.exists(_.startsWith("m1")))
    assert(!mm.files.exists(b0.toSet))
    assert(TxnLog.readVersion(spark, t, mm.version)
      .as[(Long, Long)].collect().toSet ==
      Set((2L, 20L), (10L, 101L), (11L, 110L)))
    // The delete file stays vacuum-protected while a retained version
    // references it, and is reclaimable once none does.
    val dfile = m.deletes.head.path
    assert(TxnLog.liveFiles(t, TxnLog.versions(t)).contains(dfile))
    assert(!TxnLog.liveFiles(t, Seq(mm.version)).contains(dfile))
  }

  /** A table declaring a stats key (`id`), colStats (`v`) and NDV
    * (`s`) over three small files and one big one, with a pending
    * equality delete and one file appended after it (out of the
    * delete's scope). 3,085 rows, 3,083 visible. */
  private def declaredTable(): Path = {
    val t = freshTable()
    import spark.implicits._
    def rows(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, i * 7L, s"s${i % 13}")).toDF("id", "v", "s")
    Seq((1L, 25L), (26L, 50L), (51L, 75L), (76L, 3075L)).zipWithIndex
      .foreach { case ((lo, hi), q) =>
        rows(lo, hi).coalesce(1).write.parquet(t.resolve(s"q$q").toString)
      }
    val files = (0 until 4).flatMap(q => TxnLog.parquetsUnder(t, s"q$q"))
    val cs = TxnLog.commitStatsFor(spark, t, files, Some("id"), Seq("v"),
      Seq("s"))
    TxnLog.commitRetryWith(t, _ => TxnLog.Manifest(0L, 0L, "create",
      files, cs.key, Some("id"), colStats = cs.colStats, ndv = cs.ndv))
    TxnLog.deleteByKeyMor(spark, t, Seq(10L, 30L).toDF("id"), "id", "d0")
    rows(5000L, 5009L).coalesce(1)
      .write.format("graft").mode("append").save(t.toString)
    t
  }

  test("every file-replacing commit keeps each per-file map exactly " +
      "over the live files and carries or clears pending deletes") {
    import spark.implicits._
    val bigFile = (t: Path) =>
      Files.size(t.resolve(TxnLog.parquetsUnder(t, "q3").head))
    // (commit, action, deletes carried?, visible rows after)
    val cases: Seq[(String, Path => Unit, Boolean, Long)] = Seq(
      ("merge", t => TxnLog.mergeCowByKey(spark, t,
        Seq((20L, 1L, "x", "upsert")).toDF("id", "v", "s", "op"), "id",
        "m1"), true, 3083L),
      ("compact", t => TxnLog.compact(spark, t, "c1", nFiles = 2),
        false, 3083L),
      ("optimize", t => TxnLog.compactSmall(spark, t, "o1",
        minFileBytes = bigFile(t), targetFileBytes = Long.MaxValue / 4),
        true, 3083L),
      ("materialize", t => TxnLog.materializeDeletes(spark, t, "mz"),
        false, 3083L),
      ("delete", t => graft.sources.GraftTables.deleteWhere(
        graft.sources.GraftTables.resolve(Map("path" -> t.toString)),
        Array(org.apache.spark.sql.sources.EqualTo("id", 40L))),
        true, 3082L))
    cases.foreach { case (action, commit, carries, visible) =>
      val t = declaredTable()
      val t0 = TxnLog.tip(t)
      assert(t0.deletes.nonEmpty && t0.colStats.keySet == Set("v") &&
        t0.ndv.contains("s"), s"fixture: $t0")
      commit(t)
      val t1 = TxnLog.tip(t)
      assert(t1.version == t0.version + 1 && t1.action == action, t1)
      val replaced = t0.files.toSet -- t1.files
      assert(replaced.nonEmpty, s"$action replaced nothing")
      if (action != "compact")
        assert(t1.files.exists(t0.files.contains),
          s"$action left no survivor: the fixture must keep one")
      assert(t1.colStats.keySet == t0.colStats.keySet &&
        t0.ndv.keySet.subsetOf(t1.ndv.keySet), s"$action: declarations")
      val maps: Seq[(String, Map[String, Any])] = Seq(
        "stats" -> t1.stats, "rows" -> t1.rows, "sizes" -> t1.sizes,
        "seqs" -> t1.seqs) ++
        t1.colStats.toSeq.map { case (c, m) => s"colStats.$c" -> m } ++
        t1.ndv.toSeq.map { case (c, m) => s"ndv.$c" -> m }
      maps.foreach { case (name, m) =>
        assert(t1.files.forall(m.contains),
          s"$action: $name misses live files " +
            t1.files.filterNot(m.contains))
        assert(!m.keys.exists(replaced),
          s"$action: $name keeps replaced files ${m.keySet & replaced}")
      }
      if (carries) assert(t1.deletes == t0.deletes, s"$action: deletes")
      else assert(t1.deletes.isEmpty, s"$action must clear deletes")
      assert(TxnLog.readVersion(spark, t, t1.version).count() == visible,
        s"$action: visible rows")
    }
  }

  test("maintenance rewrites read the declared schema: compact, " +
      "compactSmall and materializeDeletes commit after ADD COLUMN") {
    import spark.implicits._
    // The pre-ADD file lacks the added column's bytes: a rewrite whose
    // input schema came from that file's footer would lose the added
    // values and refuse the column's declared NDV sketch.
    val cases: Seq[(String, Path => TxnLog.Committed)] = Seq(
      "compact" -> (t => TxnLog.compact(spark, t, "c1")),
      "optimize" -> (t => TxnLog.compactSmall(spark, t, "o1",
        minFileBytes = Long.MaxValue / 4)),
      "materialize" -> (t => TxnLog.materializeDeletes(spark, t, "mz")))
    cases.foreach { case (action, rewrite) =>
      val t = freshTable()
      graft.sources.GraftTables.createFrom(t,
        Seq((1L, 10L)).toDF("id", "v"))
      TxnLog.addColumn(t, "w", "bigint")
      Seq((2L, 20L, 200L)).toDF("id", "v", "w")
        .write.format("graft").mode("append").save(t.toString)
      // A pending delete naming no row: materialize has files to fold.
      TxnLog.deleteByKeyMor(spark, t, Seq(99L).toDF("id"), "id", "d1")
      val t0 = TxnLog.tip(t)
      val w = t0.columns.get.find(_.name == "w").get.physical
      val expected = Set((1L, 10L, None), (2L, 20L, Some(200L)))
      def versionRows(v: Long) = {
        val df = TxnLog.readVersion(spark, t, v)
        assert(df.columns.toSeq == Seq("id", "v", w),
          s"$action: readVersion($v) columns ${df.columns.toSeq}")
        df.as[(Long, Long, Option[Long])].collect().toSet
      }
      assert(versionRows(t0.version) == expected, s"$action: before")
      val c = rewrite(t)
      val t1 = TxnLog.tip(t)
      assert(c.version == t0.version + 1 && t1.action == action, t1)
      assert(graft.sources.GraftTables.read(spark, t)
        .as[(Long, Long, Option[Long])].collect().toSet == expected,
        s"$action: connector read after the rewrite")
      assert(versionRows(t1.version) == expected, s"$action: after")
      // A dropped column leaves the version read; its bytes stay.
      TxnLog.dropColumn(t, "v")
      val dropped = TxnLog.readVersion(spark, t, t1.version + 1)
      assert(dropped.columns.toSeq == Seq("id", w), s"$action: drop")
      assert(dropped.as[(Long, Option[Long])].collect().toSet ==
        Set((1L, None), (2L, Some(200L))), s"$action: rows after drop")
    }
  }

  test("DROP COLUMN takes the column's stats declarations with it: " +
      "appends, merges and rewrites after it commit") {
    import spark.implicits._
    val t = freshTable()
    graft.sources.GraftTables.createFrom(t,
      Seq((1L, 10L, 100L)).toDF("id", "v", "x"))
    TxnLog.mergeCowByKey(spark, t,
      Seq((3L, 30L, 300L, "upsert")).toDF("id", "v", "x", "op"), "id", "m0")
    TxnLog.commitRetryWith(t, m => m.copy(action = "stats",
      colStats = Map("x" -> m.files.map(_ -> (100L, 300L)).toMap)))
    val before = TxnLog.tip(t)
    assert(before.ndv.contains("x") && before.colStats.contains("x") &&
      before.statsKey.contains("id"), s"fixture: $before")
    TxnLog.dropColumn(t, "x")
    val dropped = TxnLog.tip(t)
    assert(!dropped.ndv.contains("x") && dropped.colStats.isEmpty &&
      dropped.statsKey.contains("id") && dropped.stats == before.stats,
      s"declarations after the drop: $dropped")
    Seq((2L, 20L)).toDF("id", "v")
      .write.format("graft").mode("append").save(t.toString)
    TxnLog.mergeCowByKey(spark, t,
      Seq((1L, 11L, "upsert")).toDF("id", "v", "op"), "id", "m1")
    TxnLog.compact(spark, t, "c1")
    assert(TxnLog.tip(t).action == "compact")
    val rows = TxnLog.readVersion(spark, t, TxnLog.tip(t).version)
    assert(rows.columns.toSeq == Seq("id", "v"))
    assert(rows.as[(Long, Long)].collect().toSet ==
      Set((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("deleteByPosMor rewrites zero data files; reads drop the exact " +
      "ordinals; materialize folds; the resurrect guard holds") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    Seq((4L, "d"), (5L, "e")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b1").toString)
    TxnLog.commitRetry(t, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(t, "b1"))
    val before = TxnLog.tip(t).files
    val f0 = TxnLog.parquetsUnder(t, "b0").head
    val f1 = TxnLog.parquetsUnder(t, "b1").head
    // Drop (2,"b") = ordinal 1 of b0 and (4,"d") = ordinal 0 of b1.
    TxnLog.deleteByPosMor(spark, t,
      Seq((f0, 1L), (f1, 0L)).toDF("file_path", "pos"), "p1")
    val m = TxnLog.tip(t)
    assert(m.action == "delete-mor" && m.files == before)
    assert(m.deletes.size == 1 && m.deletes.head.kind == "pos" &&
      m.deletes.head.key.isEmpty)
    // Manifest round-trips the kind (deltaDepth is a resolution
    // artifact, not stored); the v3 reader stamp is present.
    assert(TxnLog.parse(TxnLog.render(m)) == m.copy(deltaDepth = 0))
    assert(TxnLog.render(m).contains("\"minReader\":3"))
    assert(TxnLog.posDeleteNamedFiles(t, m.deletes.head) == Set(f0, f1))
    // Engine read and connector read both drop exactly those rows.
    val want = Set((1L, "a"), (3L, "c"), (5L, "e"))
    assert(TxnLog.readVersion(spark, t, m.version)
      .as[(Long, String)].collect().toSet == want)
    assert(graft.sources.GraftTables.read(spark, t)
      .as[(Long, String)].collect().toSet == want)
    // Time travel to the pre-delete snapshot stays whole.
    assert(TxnLog.readVersion(spark, t, 1L).count() == 5)
    // CDF: the pos-delete commit emits exactly the two dropped rows.
    val feed = TxnLog.changes(spark, t, 1L, 2L, "k")
    assert(feed.filter($"_change_type" === "delete")
      .select("k", "v").as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (4L, "d")))
    // A commit dropping the pos delete while its named files survive
    // is refused at the primitive.
    val e = intercept[IllegalArgumentException] {
      TxnLog.tryCommitManifest(t,
        TxnLog.Manifest(3L, 2L, "oops", TxnLog.tip(t).files))
    }
    assert(e.getMessage.contains("still applying to"))
    // An eq delete composes on top (k=5 lives in b1, seq-scoped).
    TxnLog.deleteByKeyMor(spark, t, Seq(5L).toDF("k"), "k", "d1")
    val want2 = Set((1L, "a"), (3L, "c"))
    assert(TxnLog.readVersion(spark, t, 3L)
      .as[(Long, String)].collect().toSet == want2)
    assert(graft.sources.GraftTables.read(spark, t)
      .as[(Long, String)].collect().toSet == want2)
    // Materialize rewrites ONLY targeted files and clears both forms.
    TxnLog.materializeDeletes(spark, t, "mz")
    val mm = TxnLog.tip(t)
    assert(mm.deletes.isEmpty)
    assert(TxnLog.readVersion(spark, t, mm.version)
      .as[(Long, String)].collect().toSet == want2)
  }

  test("deleteByPosMor refuses positions naming files no longer live; " +
      "cloneShallow rewrites pos delete contents to absolute names") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    val e = intercept[IllegalArgumentException] {
      TxnLog.deleteByPosMor(spark, t,
        Seq(("nope/gone.parquet", 0L)).toDF("file_path", "pos"), "px")
    }
    assert(e.getMessage.contains("no longer at the tip"))
    val f0 = TxnLog.parquetsUnder(t, "b0").head
    TxnLog.deleteByPosMor(spark, t,
      Seq((f0, 2L)).toDF("file_path", "pos"), "p1") // drops (3,30)
    // Shallow clone: carried pos delete applies identically even
    // though the clone references the source file by ABSOLUTE path.
    val dst = freshTable()
    Files.delete(dst)
    TxnLog.cloneShallow(t, dst)
    val cm = TxnLog.tip(dst)
    assert(cm.deletes.size == 1 && cm.deletes.head.kind == "pos")
    // The rewritten delete file lives in the CLONE and names the
    // absolute source file the clone's manifest carries.
    assert(!cm.deletes.head.path.startsWith("/"))
    assert(TxnLog.posDeleteNamedFiles(dst, cm.deletes.head) ==
      Set(t.toAbsolutePath.normalize.resolve(f0).toString))
    assert(TxnLog.readVersion(spark, dst, 0L)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    assert(graft.sources.GraftTables.read(spark, dst)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
  }

  test("cloneShallow of a connector-written table carries row counts " +
      "and NDV sketches: the commit opens no footer") {
    import spark.implicits._
    val src = freshTable()
    GraftTables.createFrom(src,
      (1L to 60L).map(i => (i, s"s${i % 7}")).toDF("id", "s"))
    (61L to 90L).map(i => (i, s"s${i % 11}")).toDF("id", "s")
      .write.format("graft").mode("append").save(src.toString)
    val m = TxnLog.tip(src)
    assert(m.ndv.keySet == Set("id", "s") && m.rows.size == m.files.size, m)
    val dst = freshTable()
    Files.delete(dst)
    val before = TxnLog.footerReads.get()
    TxnLog.cloneShallow(src, dst)
    assert(TxnLog.footerReads.get() == before,
      "the clone re-read footers its source already counted")
    val c = TxnLog.tip(dst)
    def abs(f: String) = src.toAbsolutePath.normalize.resolve(f).toString
    assert(c.rows == m.rows.map { case (f, n) => abs(f) -> n })
    assert(c.ndv == m.ndv.map { case (col, pf) =>
      col -> pf.map { case (f, k) => abs(f) -> k }
    })
    assert(TxnLog.ndvMerged(c.ndv("s"), c.files) ==
      TxnLog.ndvMerged(m.ndv("s"), m.files))
  }

  test("planning and reading a version with a pending equality or " +
      "position delete runs no shuffle") {
    import spark.implicits._
    val t = freshTable()
    Files.delete(t)
    GraftTables.createFrom(t, (1L to 200L).map(i => (i, i * 3L)).toDF("k", "v"))
    TxnLog.deleteByKeyMor(spark, t, Seq(5L, 5L, 17L).toDF("k"), "k", "d0")
    val (got, jobs) = jobsRun(GraftTables.read(spark, t)
      .as[(Long, Long)].collect().toSet)
    assert(got == (1L to 200L).filterNot(Set(5L, 17L)).map(i => (i, i * 3L)).toSet)
    assert(jobs.nonEmpty && jobs.forall(_.shuffleBytes == 0L), jobs)
    val f = TxnLog.tip(t).files.head
    TxnLog.deleteByPosMor(spark, t,
      Seq((f, 0L), (f, 0L)).toDF("file_path", "pos"), "p0")
    val (got2, jobs2) = jobsRun(GraftTables.read(spark, t)
      .as[(Long, Long)].collect().toSet)
    assert(got2.size == got.size - 1 && got2.subsetOf(got))
    assert(jobs2.nonEmpty && jobs2.forall(_.shuffleBytes == 0L), jobs2)
  }

  test("cloneShallow is a zero-copy metadata commit; the clone " +
      "evolves without touching the source") {
    val src = freshTable()
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "c")
      .coalesce(1).write.parquet(src.resolve("b0").toString)
    val b0 = TxnLog.parquetsUnder(src, "b0")
    TxnLog.commitRetry(src, "create", _ => b0,
      statsFor = _ => TxnLog.keyStats(spark, src, b0, "k"),
      statsKey = Some("k"))
    val dst = freshTable()
    TxnLog.cloneShallow(src, dst)
    // Zero bytes copied: no parquet lives under the clone.
    assert(TxnLog.dataFiles(dst).isEmpty)
    val m0 = TxnLog.readManifest(dst, 0L)
    assert(m0.action == "clone")
    assert(m0.files.forall(java.nio.file.Paths.get(_).isAbsolute))
    assert(m0.statsKey.contains("k") &&
      m0.files.forall(m0.stats.contains) &&
      m0.files.forall(m0.sizes.contains))
    assert(TxnLog.readVersion(spark, dst, 0L)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    // A merge on the clone rewrites the referenced file into a LOCAL
    // one; the source stays bit-stable.
    TxnLog.mergeCowByKey(spark, dst,
      Seq((2L, 21L, "upsert")).toDF("k", "c", "op"), "k", "m1")
    assert(TxnLog.readVersion(spark, dst, 1L)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 21L)))
    assert(TxnLog.tip(dst).files.forall(f =>
      !java.nio.file.Paths.get(f).isAbsolute))
    assert(TxnLog.latest(src).contains(0L))
    assert(TxnLog.readVersion(spark, src, 0L)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    // Cloning a source with pending MoR deletes carries them
    // (seq-translated — the dedicated spec below); the clone reads
    // what the source reads, zero copies either way.
    TxnLog.deleteByKeyMor(spark, src, Seq(1L).toDF("k"), "k", "d1")
    val dst2 = freshTable()
    TxnLog.cloneShallow(src, dst2)
    assert(TxnLog.readVersion(spark, dst2, 0L)
      .as[(Long, Long)].collect().toSet == Set((2L, 20L)))
  }

  test("cloneShallow carries pending MoR deletes: order-preserving " +
      "negative seq translation keeps scoping exact, and the clone's " +
      "own commits sort above all carried history") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    TxnLog.deleteByKeyMor(spark, t, Seq(2L).toDF("k"), "k", "d1") // seq 1
    Seq((2L, "B")).toDF("k", "v") // re-insert escapes d1 (seq 2 > 1)
      .coalesce(1).write.parquet(t.resolve("b2").toString)
    TxnLog.commitRetry(t, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(t, "b2"))
    TxnLog.deleteByKeyMor(spark, t, Seq(3L).toDF("k"), "k", "d3") // seq 3
    def rows(p: Path): Set[(Long, String)] =
      TxnLog.readVersion(spark, p, TxnLog.latest(p).get)
        .as[(Long, String)].collect().toSet
    assert(rows(t) == Set((1L, "a"), (2L, "B")))
    val dst = freshTable().resolve("clone")
    TxnLog.cloneShallow(t, dst)
    val cm = TxnLog.tip(dst)
    // Verbatim delete application: the clone reads what the source reads.
    assert(rows(dst) == Set((1L, "a"), (2L, "B")))
    // Source seqs {0(b0), 1(d1), 2(b2), 3(d3)} -> {-4,-3,-2,-1}.
    assert(cm.deletes.map(_.seq).sorted == Seq(-3L, -1L))
    assert(cm.files.flatMap(cm.seqs.get).sorted == Seq(-4L, -2L))
    // A NEW delete on the clone (seq 1) targets ALL carried files —
    // k=1 dies in b0; the source never notices.
    TxnLog.deleteByKeyMor(spark, dst, Seq(1L).toDF("k"), "k", "cd")
    assert(rows(dst) == Set((2L, "B")))
    assert(rows(t) == Set((1L, "a"), (2L, "B")))
    // A NEW append on the clone (seq 2) escapes every carried delete,
    // even re-inserting the source-deleted k=3.
    Seq((3L, "z")).toDF("k", "v")
      .coalesce(1).write.parquet(dst.resolve("cb").toString)
    TxnLog.commitRetry(dst, "append",
      tip => tip.files ++ TxnLog.parquetsUnder(dst, "cb"))
    assert(rows(dst) == Set((2L, "B"), (3L, "z")))
    // materialize on the clone repays the whole carried debt locally.
    TxnLog.materializeDeletes(spark, dst, "cm")
    assert(TxnLog.tip(dst).deletes.isEmpty)
    assert(rows(dst) == Set((2L, "B"), (3L, "z")))
    assert(rows(t) == Set((1L, "a"), (2L, "B")))
  }

  test("a manifest stamped with a future reader version is refused " +
      "loudly, never silently misread") {
    val t = freshTable()
    TxnLog.tryCommit(t, -1L, "create", Seq("f0"))
    Files.write(TxnLog.logDir(t).resolve(f"${1L}%08d.json"),
      """{"version":1,"parent":0,"action":"future","minReader":99,
        |"files":["f0"]}""".stripMargin.replace("\n", "")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException](TxnLog.readManifest(t, 1L))
    assert(e.getMessage.contains("reader version 99"))
    // Delta-form manifests carry minReader=2 — within support.
    TxnLog.tryCommit(t, -1L, "noop", Seq.empty) // no-op: v0 exists
    assert(TxnLog.readManifest(t, 0L).files == Seq("f0"))
  }

  test("CHECK constraints: set/enforce/carry/drop; NULL passes; " +
      "restore reinstates the constraint state of its target") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, Some(10L)), (2L, None)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    TxnLog.setConstraint(t, "c_pos", "c > 0")
    // NULL predicate results pass (SQL CHECK), FALSE violates.
    TxnLog.checkConstraints(
      Seq((3L, Some(5L)), (4L, None)).toDF("k", "c"),
      TxnLog.tip(t).constraints)
    val e = intercept[IllegalArgumentException](TxnLog.checkConstraints(
      Seq((5L, Some(-1L))).toDF("k", "c"), TxnLog.tip(t).constraints))
    assert(e.getMessage.contains("c_pos"))
    // Merge validates upserts against the tip's constraints.
    val e2 = intercept[IllegalArgumentException](TxnLog.mergeCowByKey(
      spark, t, Seq((1L, -7L, "upsert")).toDF("k", "c", "op"), "k", "m1"))
    assert(e2.getMessage.contains("c_pos"))
    // Generic commits carry the map implicitly (the metadata fold).
    TxnLog.commitRetry(t, "touch", tip => tip.files)
    assert(TxnLog.tip(t).constraints == Map("c_pos" -> "c > 0"))
    // Restore to the pre-constraint snapshot drops it; restore back
    // past the drop… and dropConstraint removes it explicitly.
    TxnLog.restore(t, 0L)
    assert(TxnLog.tip(t).constraints.isEmpty)
    TxnLog.setConstraint(t, "c_pos", "c > 0")
    TxnLog.dropConstraint(t, "c_pos")
    assert(TxnLog.tip(t).constraints.isEmpty)
    TxnLog.commitRetry(t, "touch", tip => tip.files)
    assert(TxnLog.tip(t).constraints.isEmpty)
  }

  test("renameColumn keeps id+physical; widenColumn walks the chain " +
      "only rightward; constraint references block a rename") {
    val t = freshTable()
    TxnLog.commitRetryWith(t, _ => TxnLog.Manifest(0L, -1L, "create",
      Seq.empty, columns = Some(Seq(
        TxnLog.ColumnDef(1, "k", "bigint", "k"),
        TxnLog.ColumnDef(2, "v", "int", "v")))))
    TxnLog.widenColumn(t, "v", "bigint")
    assert(TxnLog.tip(t).columns.get.find(_.name == "v").get.typ ==
      "bigint")
    val e = intercept[IllegalArgumentException](
      TxnLog.widenColumn(t, "v", "int"))
    assert(e.getMessage.contains("widening"))
    TxnLog.setConstraint(t, "vpos", "v > 0")
    val e2 = intercept[IllegalArgumentException](
      TxnLog.renameColumn(t, "v", "w"))
    assert(e2.getMessage.contains("vpos"))
    TxnLog.dropConstraint(t, "vpos")
    TxnLog.renameColumn(t, "v", "w")
    val w = TxnLog.tip(t).columns.get.find(_.name == "w").get
    assert(w.physical == "v" && w.id == 2)
  }

  test("changes reads each diff side under its own manifest's " +
      "mapping: the feed spans a RENAME") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetryWith(t, _ => TxnLog.Manifest(0L, -1L, "create",
      TxnLog.parquetsUnder(t, "b0"),
      columns = Some(Seq(
        TxnLog.ColumnDef(1, "k", "bigint", "k"),
        TxnLog.ColumnDef(2, "c", "bigint", "c")))))
    TxnLog.renameColumn(t, "c", "cents") // v1: manifest-only
    // v2: CoW update of k=1 — physical bytes still carry column "c".
    TxnLog.mergeCowByKey(spark, t,
      Seq((1L, 11L, "upsert")).toDF("k", "c", "op"), "k", "m2")
    val feed = TxnLog.changes(spark, t, 1L, 2L, "k")
    assert(feed.columns.contains("cents")) // logical, not physical
    assert(feed.select("k", "cents", "_change_type")
      .as[(Long, Long, String)].collect().toSet ==
      Set((1L, 10L, "update_preimage"), (1L, 11L, "update_postimage")))
  }

  test("compactSmall packs only sub-threshold files and applies " +
      "pending deletes to what it packs") {
    val t = freshTable()
    import spark.implicits._
    (1L to 50L).map(i => (i, i * 10L)).toDF("k", "c")
      .coalesce(1).write.parquet(t.resolve("big").toString)
    val big = TxnLog.parquetsUnder(t, "big")
    TxnLog.commitRetry(t, "create", _ => big,
      statsFor = _ => TxnLog.keyStats(spark, t, big, "k"),
      statsKey = Some("k"))
    for ((k, s) <- Seq((100L, "s0"), (101L, "s1"))) {
      Seq((k, k * 10L)).toDF("k", "c")
        .coalesce(1).write.parquet(t.resolve(s).toString)
      TxnLog.commitRetry(t, "append",
        tip => tip.files ++ TxnLog.parquetsUnder(t, s),
        statsFor = _ => TxnLog.keyStats(spark, t,
          TxnLog.parquetsUnder(t, s), "k"))
    }
    // Pending MoR delete: k=100 sits in a small file (applied during
    // the pack), k=2 in the big one (stays pending by seq scoping).
    TxnLog.deleteByKeyMor(spark, t, Seq(100L, 2L).toDF("k"), "k", "d")
    TxnLog.compactSmall(spark, t, "opt",
      minFileBytes = Files.size(t.resolve(big.head)),
      targetFileBytes = Long.MaxValue / 4)
    val m = TxnLog.tip(t)
    assert(m.action == "optimize")
    assert(big.forall(m.files.contains)) // big file survives by name
    assert(m.files.size == 2)            // two smalls packed into one
    assert(m.deletes.nonEmpty)           // still pends against big
    val expect = (1L to 50L).filterNot(_ == 2L).map(i => (i, i * 10L))
      .toSet + ((101L, 1010L))
    assert(TxnLog.readVersion(spark, t, m.version)
      .as[(Long, Long)].collect().toSet == expect)
  }

  test("expire materializes a retained delta whose base drops; " +
      "chains stay resolvable") {
    val t = freshTable()
    TxnLog.commitRetry(t, "create", _ => Seq("f0"),
      statsFor = _ => Map("f0" -> (0L, 9L)), statsKey = Some("k"))
    (1 to 5).foreach { i =>
      TxnLog.commitRetry(t, "append", tip => tip.files :+ s"f$i",
        statsFor = _ => Map(s"f$i" -> (i * 10L, i * 10L + 9L)))
    }
    assert(rawJson(t, 4L).contains("\"base\""))
    val dropped = TxnLog.expire(t, 2)
    assert(dropped == Seq(0L, 1L, 2L, 3L))
    // v4 (the oldest retained, formerly a delta on dropped v3) was
    // rewritten full; v5 stays a delta on the retained v4.
    assert(!rawJson(t, 4L).contains("\"base\""))
    assert(rawJson(t, 5L).contains("\"base\""))
    (4L to 5L).foreach { v =>
      val m = TxnLog.readManifest(t, v)
      assert(m.files == (0L to v).map(i => s"f$i"))
      assert(m.stats("f0") == (0L, 9L), s"v$v lost carried stats")
    }
  }

  test("changes: one delete-only commit with multiple pos files naming " +
      "the SAME data file emits each deleted row exactly once") {
    // A >maxSplitBytes data file splits across tasks, and each
    // GraftDeltaWriter task writes its own position-delete file — so
    // one commit can carry several pos files naming the same data
    // file. The CDF must diff the UNION of their named sets once, not
    // once per pos file (which would re-emit every deleted row of the
    // shared file per overlapping delete).
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    val f0 = TxnLog.parquetsUnder(t, "b0").head
    Seq((f0, 0L), (f0, 1L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(t.resolve("p1").toString)
    Seq((f0, 2L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(t.resolve("p2").toString)
    val ps = TxnLog.parquetsUnder(t, "p1") ++ TxnLog.parquetsUnder(t, "p2")
    assert(ps.size == 2)
    TxnLog.commitRetryWith(t, tip => tip.copy(action = "delete-mor",
      deletes = tip.deletes ++ ps.map(p => TxnLog.DeleteFile(
        p, "", tip.version + 1, Files.size(t.resolve(p)), kind = "pos")),
      txn = None, ts = 0L))
    // Table state: ordinals 0..2 gone from the one data file.
    assert(TxnLog.readVersion(spark, t, 1L)
      .as[(Long, String)].collect().toSet ==
      Set((4L, "d"), (5L, "e")))
    // The feed carries each deletion ONCE — length, not just set.
    val feed = TxnLog.changes(spark, t, 0L, 1L, "k")
      .select("k", "v", "_change_type")
      .as[(Long, String, String)].collect()
    assert(feed.length == 3, s"duplicated CDF rows: ${feed.mkString(",")}")
    assert(feed.toSet == Set((1L, "a", "delete"), (2L, "b", "delete"),
      (3L, "c", "delete")))
  }

  test("commit-shape invariant: the primitive refuses a commit that " +
      "adds delete files while changing data files") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    val f0 = TxnLog.parquetsUnder(t, "b0").head
    Seq((f0, 0L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(t.resolve("p1").toString)
    val pos = TxnLog.parquetsUnder(t, "p1").head
    val tip0 = TxnLog.tip(t)
    def del(kind: String) = TxnLog.DeleteFile(
      pos, if (kind == "eq") "k" else "", 1L,
      Files.size(t.resolve(pos)), kind = kind)
    // Adding a delete file AND a data file under a generic action has
    // no CDF classification — refused at the primitive, whatever path
    // built the manifest.
    val e1 = intercept[IllegalArgumentException] {
      TxnLog.tryCommitManifest(t, tip0.copy(version = 1L, parent = 0L,
        action = "append", files = tip0.files :+ "extra.parquet",
        deletes = Seq(del("pos"))))
    }
    assert(e1.getMessage.contains("no change-feed classification"))
    // An update-mor commit may append files + POSITION deletes only:
    // removed files and equality deletes are malformed.
    val e2 = intercept[IllegalArgumentException] {
      TxnLog.tryCommitManifest(t, tip0.copy(version = 1L, parent = 0L,
        action = "update-mor", files = Seq("swapped.parquet"),
        deletes = Seq(del("pos"))))
    }
    assert(e2.getMessage.contains("malformed update-mor"))
    val e3 = intercept[IllegalArgumentException] {
      TxnLog.tryCommitManifest(t, tip0.copy(version = 1L, parent = 0L,
        action = "update-mor", files = tip0.files :+ "extra.parquet",
        deletes = Seq(del("eq"))))
    }
    assert(e3.getMessage.contains("malformed update-mor"))
    // Equality-delete files on DIFFERENT key columns in ONE commit
    // are LEGAL since r19 (the CDF marks matches per key column and
    // ORs the markers — multiplicity pinned in the dedicated
    // changes() test). The legal pure-delete shape still lands
    // (multiple POSITION files per commit stay legal — the CDF diffs
    // their named-file UNION once).
    assert(TxnLog.tryCommitManifest(t, tip0.copy(version = 1L,
      parent = 0L, action = "delete-mor",
      deletes = Seq(del("pos")))).contains(1L))
  }

  test("changes: one commit carrying MANY equality-delete files with " +
      "overlapping keys emits each deleted row exactly once") {
    val t = freshTable()
    import spark.implicits._
    (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    // Two eq files, keys {1,2,3} and {3,4} — overlapping on 3: the
    // shape a parallel SupportsDelta delete produces (one file per
    // writer task). r17 refused this at commit; the key-union band
    // join now classifies it exactly.
    Seq(1L, 2L, 3L).toDF("k").coalesce(1)
      .write.parquet(t.resolve("d1").toString)
    Seq(3L, 4L).toDF("k").coalesce(1)
      .write.parquet(t.resolve("d2").toString)
    val eqs = TxnLog.parquetsUnder(t, "d1") ++
      TxnLog.parquetsUnder(t, "d2")
    assert(eqs.size == 2)
    TxnLog.commitRetryWith(t, tip => tip.copy(action = "delete-mor",
      seqs = tip.seqs ++ tip.files.filterNot(tip.seqs.contains)
        .map(_ -> tip.version).toMap,
      deletes = tip.deletes ++ eqs.map(p => TxnLog.DeleteFile(
        p, "k", tip.version + 1, Files.size(t.resolve(p)))),
      txn = None, ts = 0L))
    assert(TxnLog.readVersion(spark, t, 1L).as[(Long, String)]
      .collect().toSet == Set((5L, "v5"), (6L, "v6")))
    val feed = TxnLog.changes(spark, t, 0L, 1L, "k")
      .select("k", "_change_type").as[(Long, String)].collect()
    assert(feed.length == 4,
      s"CDF multiplicity wrong: ${feed.mkString(",")}")
    assert(feed.toSet == (1L to 4L).map((_, "delete")).toSet)
  }

  test("ndv sketches: above-k estimation stays within KMV error, " +
      "entries survive the delta encoding and maintenance (r19)") {
    val t = freshTable()
    import spark.implicits._
    // 5000 distinct >> k=32: the estimator (k-1)/frac(h_k) applies.
    // Relative error ~1/sqrt(k-2) ~ 18%; assert a generous 2-sigma.
    (1L to 20000L).map(i => (i, s"u${i % 5000}")).toDF("k", "u")
      .coalesce(4).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create",
      _ => TxnLog.parquetsUnder(t, "b0"))
    TxnLog.declareNdv(spark, t, Seq("u"))
    val tip0 = TxnLog.tip(t)
    val Some((nulls, est)) = TxnLog.ndvMerged(tip0.ndv("u"), tip0.files)
    assert(nulls == 0L)
    assert(est > 3200 && est < 6800, s"KMV estimate $est for true 5000")
    // Entries ride the DELTA encoding: several small commits land as
    // deltas (depth grows), and the resolved tip still carries full
    // coverage with the SAME merged estimate.
    for (i <- 0 until 3) {
      Seq((100000L + i, s"u${i % 5000}")).toDF("k", "u")
        .coalesce(1).write.parquet(t.resolve(s"a$i").toString)
      val fs = TxnLog.parquetsUnder(t, s"a$i")
      TxnLog.commitRetryWith(t, tp => tp.copy(action = "append",
        files = tp.files ++ fs,
        ndv = TxnLog.commitStatsFor(spark, t, fs, None, Nil, Seq("u"),
          ndvAutoMode = false).ndv,
        txn = None, ts = 0L))
    }
    val tip = TxnLog.tip(t)
    assert(tip.deltaDepth > 0, "appends should store as deltas")
    assert(tip.files.forall(tip.ndv("u").contains))
    assert(TxnLog.ndvMerged(tip.ndv("u"), tip.files).get._2 == est,
      "tiny appends of existing values must not move the estimate")
    // Maintenance recomputes entries for its rewritten files.
    TxnLog.compactSmall(spark, t, "cs", minFileBytes = 1L << 20)
    val tipC = TxnLog.tip(t)
    assert(tipC.files.forall(tipC.ndv("u").contains),
      "compaction must leave the tip fully sketch-covered")
    // NULLs: counted exactly, excluded from the sketch.
    val t2 = freshTable()
    Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "a"))
      .toDF("k", "u").coalesce(1).write.parquet(t2.resolve("b0").toString)
    TxnLog.commitRetry(t2, "create",
      _ => TxnLog.parquetsUnder(t2, "b0"))
    TxnLog.declareNdv(spark, t2, Seq("u"))
    val m2 = TxnLog.tip(t2)
    assert(TxnLog.ndvMerged(m2.ndv("u"), m2.files).contains((1L, 1L)))
  }

  test("changes: one commit carrying equality deletes on TWO " +
      "different key columns emits each deleted row exactly once (r19)") {
    val t = freshTable()
    import spark.implicits._
    // Rows (k, w) with w = k*10; deletes on k IN {1,2} and w IN
    // {20,30}: k=2 is named by BOTH columns (w=20) and must emit
    // ONCE; k=3 only via w=30. r18 refused this shape at commit —
    // the CDF's per-band OR-of-marker joins now classifies it.
    (1L to 5L).map(k => (k, k * 10L)).toDF("k", "w")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.parquet(t.resolve("dk").toString)
    Seq(20L, 30L).toDF("w").coalesce(1)
      .write.parquet(t.resolve("dw").toString)
    val dk = TxnLog.parquetsUnder(t, "dk").head
    val dw = TxnLog.parquetsUnder(t, "dw").head
    TxnLog.commitRetryWith(t, tip => tip.copy(action = "delete-mor",
      seqs = tip.seqs ++ tip.files.filterNot(tip.seqs.contains)
        .map(_ -> tip.version).toMap,
      deletes = tip.deletes ++ Seq(
        TxnLog.DeleteFile(dk, "k", tip.version + 1,
          Files.size(t.resolve(dk))),
        TxnLog.DeleteFile(dw, "w", tip.version + 1,
          Files.size(t.resolve(dw)))),
      txn = None, ts = 0L))
    // The scan applies both pending deletes: only k=4,5 survive.
    assert(TxnLog.readVersion(spark, t, 1L).select("k", "w")
      .as[(Long, Long)].collect().toSet == Set((4L, 40L), (5L, 50L)))
    val feed = TxnLog.changes(spark, t, 0L, 1L, "k")
      .select("k", "_change_type").as[(Long, String)].collect()
    assert(feed.length == 3,
      s"CDF multiplicity wrong: ${feed.mkString(",")}")
    assert(feed.toSet == (1L to 3L).map((_, "delete")).toSet)
  }

  test("changes: a delete-only commit mixing position and equality " +
      "delete files emits each removed row exactly once") {
    val t = freshTable()
    import spark.implicits._
    (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    val f0 = TxnLog.parquetsUnder(t, "b0").head
    // Ordinal 0 = k=1 (single-partition write preserves order). The
    // pos delete drops k=1; the eq delete drops {1,2} — k=1 removed
    // by BOTH kinds in one commit must emit ONCE (pos diff), k=2
    // once (eq join over the pos-applied base).
    Seq((f0, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.parquet(t.resolve("p1").toString)
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.parquet(t.resolve("d1").toString)
    val pos = TxnLog.parquetsUnder(t, "p1").head
    val eq = TxnLog.parquetsUnder(t, "d1").head
    TxnLog.commitRetryWith(t, tip => tip.copy(action = "delete-mor",
      seqs = tip.seqs ++ tip.files.filterNot(tip.seqs.contains)
        .map(_ -> tip.version).toMap,
      deletes = tip.deletes ++ Seq(
        TxnLog.DeleteFile(pos, "", tip.version + 1,
          Files.size(t.resolve(pos)), kind = "pos"),
        TxnLog.DeleteFile(eq, "k", tip.version + 1,
          Files.size(t.resolve(eq)))),
      txn = None, ts = 0L))
    assert(TxnLog.readVersion(spark, t, 1L).as[(Long, String)]
      .collect().toSet ==
      Set((3L, "v3"), (4L, "v4"), (5L, "v5")))
    val feed = TxnLog.changes(spark, t, 0L, 1L, "k")
      .select("k", "_change_type").as[(Long, String)].collect()
    assert(feed.length == 2,
      s"CDF multiplicity wrong: ${feed.mkString(",")}")
    assert(feed.toSet == Set((1L, "delete"), (2L, "delete")))
  }

  test("changes across a restore that changes the pending-delete set " +
      "classifies with the exact visible-row diff") {
    val t = freshTable()
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.parquet(t.resolve("b0").toString)
    TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
    // v1: MoR-delete k=2. v2: restore to v0 — the delete entry is
    // DROPPED while the file set is unchanged, so a file-diff CDF
    // would read it as metadata-only and lose the resurrected row.
    TxnLog.deleteByKeyMor(spark, t, Seq(2L).toDF("k"), "k", "d1")
    TxnLog.restore(t, 0L)
    val feed2 = TxnLog.changes(spark, t, 1L, 2L, "k")
      .select("k", "v", "_change_type")
      .as[(Long, String, String)].collect().toSeq
    assert(feed2 == Seq((2L, "b", "insert")))
    // v3: MoR-delete k=3. v4: materialize (delete folded, file
    // rewritten). v5: restore to v3 — REINSTATES a delete entry while
    // changing files (the shape only restore may commit); the visible
    // rows are identical on both sides, so the diff is EMPTY.
    TxnLog.deleteByKeyMor(spark, t, Seq(3L).toDF("k"), "k", "d2")
    TxnLog.materializeDeletes(spark, t, "mz")
    assert(TxnLog.tip(t).deletes.isEmpty)
    TxnLog.restore(t, 3L)
    assert(TxnLog.tip(t).deletes.nonEmpty)
    assert(TxnLog.changes(spark, t, 4L, 5L, "k").count() == 0L)
    // The restored tip still reads correctly (k=3 gone, k=2 back).
    assert(TxnLog.readVersion(spark, t, 5L)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("commit torture, mixed row-level shapes: eq-deletes on TWO key " +
      "columns + a pos delete + a MoR UPDATE race one window; final " +
      "state and CDF equal the sequential replay (r19 task 6)") {
    // The r16/r17 torture recipe (racing writers, staged to plan
    // against the same tip) found the CDF duplication and lost-race
    // bugs — but it had never raced the shapes the ANY-marker band
    // join (r19) now admits. Targets are row-DISJOINT, so every
    // serialization must produce the same table; what the race tests
    // is the CONFLICT DISCIPLINE (rebase exactly-once, no lost
    // commit, no double apply), pinned against a sequentially-built
    // replay table.
    import spark.implicits._
    def build(): (Path, String) = {
      val t = freshTable()
      (0L until 1000L).map(i => (i, i / 10L, i * 100L))
        .toDF("id", "grp", "cents")
        .coalesce(1).sortWithinPartitions("id")
        .write.parquet(t.resolve("b0").toString)
      TxnLog.commitRetry(t, "create", _ => TxnLog.parquetsUnder(t, "b0"))
      (t, TxnLog.parquetsUnder(t, "b0").head)
    }
    // The MoR UPDATE goes through SQL (GraftDeltaOperation); a lost
    // plan-to-commit race REFUSES loudly by contract — the writer
    // retries the statement, bounded.
    def morUpdate(t: Path): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try {
          spark.sql(s"UPDATE graft.`$t` SET cents = cents + 7 " +
            "WHERE id BETWEEN 200 AND 209")
          done = true
        } catch {
          case e: Exception if attempts < 5 &&
              Option(e.getMessage).exists(m =>
                m.contains("retry") || m.contains("concurrent")) =>
            attempts += 1
        }
      }
    }
    def ops(t: Path, f0: String): Seq[() => Unit] = Seq(
      () => { TxnLog.deleteByKeyMor(spark, t,
        (0L until 10L).toDF("id"), "id", "dA"); () },
      () => { TxnLog.deleteByKeyMor(spark, t,
        Seq(50L).toDF("grp"), "grp", "dB"); () }, // rows 500..509
      () => { TxnLog.deleteByPosMor(spark, t,
        (100L until 110L).map(p => (f0, p)).toDF("file_path", "pos"),
        "pC"); () },
      () => morUpdate(t))
    graft.sources.GraftTables.registerCatalog(spark)
    spark.conf.set("spark.graft.rowlevel.mode", "mor")
    try {
      // Raced: all four writers released together by a start barrier.
      val (t, f0) = build()
      val gate = new java.util.concurrent.CyclicBarrier(4)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = ops(t, f0).map(op => new Thread(() => {
        gate.await()
        try op() catch { case e: Throwable => errs.add(e) }
      }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"raced writer failed: ${errs.peek()}")
      // Replay: same four ops, sequential, fixed order.
      val (r, rf0) = build()
      ops(r, rf0).foreach(_())
      def state(p: Path) = graft.sources.GraftTables.read(spark, p)
        .as[(Long, Long, Long)].collect().toSet
      val got = state(t)
      assert(got == state(r), "raced state diverges from replay")
      // Spot semantics: 30 rows gone, the updated band bumped.
      assert(got.size == 970)
      assert((200L until 210L).forall(i => got((i, i / 10, i * 100 + 7))))
      // CDF over the whole window: same (id, change) multiset as the
      // replay's — the exactly-once guarantee under contention.
      def feed(p: Path) = TxnLog.changes(
          spark, p, 0L, TxnLog.tip(p).version, "id")
        .select("id", "_change_type").as[(Long, String)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(feed(t) == feed(r), "raced CDF diverges from replay")
    } finally spark.conf.unset("spark.graft.rowlevel.mode")
  }

  test("NDV sketch error envelope: estimate-vs-truth measured across " +
      "10^2..10^6 distinct, k=32 documented, larger k helps (r19 task 5)") {
    // The estimator's PRODUCTION hash (xxhash64 of a long, seed 42,
    // sign-flipped) fed through TxnLog.ndvEstimate, so the measured
    // envelope is the real one — not a synthetic-hash proxy. Theory:
    // KMV relative std ≈ 1/√(k−2) ≈ 18% at k=32; across 5 trials ×
    // 5 cardinalities the worst draw can reach ~2.5σ. The envelope
    // the CBO rides is therefore: EXACT below k (the dimension-key
    // case), ~±18% typical and ≤45% worst-case above it — tight
    // enough for join-order/broadcast decisions away from threshold
    // boundaries, and capped by the integral span bound when one
    // exists (GraftScan). Raising k shrinks error as 1/√k at O(k)
    // manifest bytes per (column, file) entry — with auto-NDV now
    // sketching every string/integral column, k=32 ≈ 260 B/entry is
    // the recorded tradeoff (k=128 would 4× the manifest's dominant
    // section for half the error).
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def estimate(n: Long, base: Long, k: Int): Long = {
      // Max-heap of the k smallest flipped hashes — the same bottom-k
      // the stats Collector maintains per file.
      val pq = new java.util.PriorityQueue[java.lang.Long](
        k + 1, java.util.Comparator.reverseOrder[java.lang.Long]())
      var v = 0L
      while (v < n) {
        val h = XXH64.hashLong(base + v, 42L) ^ Long.MinValue
        if (pq.size < k) pq.add(h)
        else if (h < pq.peek) { pq.poll(); pq.add(h) }
        v += 1
      }
      TxnLog.ndvEstimate(
        pq.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
          .toSeq.distinct.sorted, k)
    }
    // Exact below k — zero error where join reorder needs it most.
    assert(estimate(20L, 0L, 32) == 20L)
    assert(estimate(31L, 7L, 32) == 31L)
    val cards = Seq(100L, 1000L, 10000L, 100000L, 1000000L)
    val bases = Seq(0L, 1L << 40, 3L << 33, 7L << 20, 11L << 50)
    def errs(k: Int): Seq[Double] = for {
      n <- cards; b <- bases
    } yield math.abs(estimate(n, b, k).toDouble - n) / n
    val e32 = errs(32)
    val worst32 = e32.max
    val sorted32 = e32.sorted
    val median32 = sorted32(sorted32.size / 2)
    info(f"k=32 over ${e32.size} trials: median error " +
      f"$median32%.3f, worst $worst32%.3f")
    assert(median32 <= 0.20, f"median $median32%.3f beyond envelope")
    assert(worst32 <= 0.45, f"worst $worst32%.3f beyond envelope")
    // More sketch buys less error (the recorded k tradeoff): mean
    // error at k=128 strictly under k=32's.
    val e128 = errs(128)
    assert(e128.sum / e128.size < e32.sum / e32.size,
      f"k=128 mean ${e128.sum / e128.size}%.3f vs " +
        f"k=32 ${e32.sum / e32.size}%.3f")
  }
}
