package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SourceSinkQueries

/** Copy-on-write MERGE core: row semantics (update / insert / delete /
  * keep / tombstone-miss) and the partition-scoped rewrite witnesses,
  * on a table small enough to enumerate exactly. */
class MergeCowSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshTable(): String = {
    val tbl = graft.util.Scratch.dir("graft_mergespec")
      .resolve(s"t${System.nanoTime()}").toString
    Seq((1L, 10.0, 1), (2L, 20.0, 1), (5L, 50.0, 2), (6L, 60.0, 2),
      (9L, 90.0, 3))
      .toDF("id", "v", "p").write.partitionBy("p").parquet(tbl)
    tbl
  }

  test("update, insert, delete, keep, and tombstone-miss all land") {
    val tbl = freshTable()
    val source = Seq(
      (1L, 111.0, 1, "upsert"),  // matched -> update
      (7L, 77.0, 2, "upsert"),   // unmatched -> insert
      (5L, 0.0, 2, "delete"),    // matched tombstone -> delete
      (8L, 0.0, 2, "delete"))    // unmatched tombstone -> no-op
      .toDF("id", "v", "p", "op")
    val (intact, rewritten) =
      SourceSinkQueries.mergeCow(spark, tbl, source, "id", "p")
    assert(intact, "partition p=3 had no changes and must keep its files")
    assert(rewritten, "partitions p=1 and p=2 must be rewritten")
    val got = spark.read.parquet(tbl).select("id", "v", "p")
      .as[(Long, Double, Int)].collect().toSet
    assert(got == Set(
      (1L, 111.0, 1),  // updated
      (2L, 20.0, 1),   // kept (same partition as an update)
      (6L, 60.0, 2),   // kept
      (7L, 77.0, 2),   // inserted
      (9L, 90.0, 3)))  // untouched partition
  }

  test("an upsert can restate a value column to NULL") {
    // The contract-mismatch trap from round 11's ADVICE: coalesce-based
    // merging silently kept the target's old value whenever an upsert
    // carried a legitimate NULL. Provenance-based selection (s.op
    // non-null = the source side matched) must let NULL overwrite.
    val tbl = freshTable()
    val source = Seq((1L, Option.empty[Double], 1, "upsert"))
      .toDF("id", "v", "p", "op")
    SourceSinkQueries.mergeCow(spark, tbl, source, "id", "p")
    val got = spark.read.parquet(tbl).filter($"id" === 1L)
      .select("v").collect()
    assert(got.length == 1 && got.head.isNullAt(0),
      "upsert carrying NULL must overwrite, not resurrect the old value")
  }

  test("log merge: update/insert/delete/NULL-restate land; stats heal and carry") {
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"t${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    Seq((1L, Some(10L)), (2L, Some(20L)), (50L, Some(500L)),
      (60L, Some(600L)))
      .toDF("id", "v").repartitionByRange(2, $"id")
      .sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    // Create WITHOUT stats: the first merge must bootstrap via scan...
    graft.operators.TxnLog.commitRetry(tbl, "create",
      _ => graft.operators.TxnLog.parquetsUnder(tbl, "d0"))
    val batch = Seq(
      (1L, Some(111L), "upsert"),                // update
      (2L, Option.empty[Long], "upsert"),        // restate to NULL
      (3L, Some(33L), "upsert"),                 // insert (low range)
      (50L, Option.empty[Long], "delete"))       // delete
      .toDF("id", "v", "op")
    graft.operators.TxnLog.mergeCowByKey(spark, tbl, batch, "id", "m0")
    val tip = graft.operators.TxnLog.readManifest(tbl,
      graft.operators.TxnLog.latest(tbl).get)
    // ...and every surviving + new file carries stats afterwards.
    assert(tip.files.forall(tip.stats.contains),
      s"merge commit must leave a fully stats-bearing tip: $tip")
    val got = graft.operators.TxnLog
      .readVersion(spark, tbl, tip.version)
      .as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, Some(111L)), (2L, None), (3L, Some(33L)),
      (60L, Some(600L))))
  }

  test("log merge plans its affected set from manifest stats, not the data") {
    // The sharp witness: a manifest whose stats DISAGREE with the file
    // contents. File f0 actually holds keys 1-2, but its committed
    // stats claim [1000, 2000]. A batch at key 1 must then MISS f0 —
    // wrong result by construction — proving the planner read the
    // metadata. (A scan-based planner would find and rewrite f0.)
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"s${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("d0").toString)
    val f0 = graft.operators.TxnLog.parquetsUnder(tbl, "d0")
    graft.operators.TxnLog.commitRetry(tbl, "create", _ => f0,
      statsFor = _ => Map(f0.head -> (1000L, 2000L)),
      statsKey = Some("id"))
    val batch = Seq((1L, 111L, "upsert")).toDF("id", "v", "op")
    graft.operators.TxnLog.mergeCowByKey(spark, tbl, batch, "id", "m0")
    val tip = graft.operators.TxnLog.readManifest(tbl,
      graft.operators.TxnLog.latest(tbl).get)
    assert(tip.files.contains(f0.head),
      "f0 must survive untouched: its (false) stats exclude the batch range")
    // Key 1 now exists twice (the stale f0 copy and the insert-path
    // m0 copy) — exactly the corruption wrong stats produce, which is
    // the proof the stats were trusted. Counted without a pushed
    // filter: the version read prunes by the same false stats.
    val n = graft.operators.TxnLog
      .readVersion(spark, tbl, tip.version)
      .collect().count(_.getLong(0) == 1L)
    assert(n == 2L)
  }

  test("concurrent overlapping merges serialize: replan on conflict, no duplicate keys") {
    // The COW-vs-append distinction: appends commute under rebase, but
    // two writers rewriting the SAME file must not both land their
    // rewrites — a naive file-set union would leave the contested key
    // twice (once in each rewrite). The loser must abandon its files
    // and REPLAN against the new tip, so the two merges serialize.
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"c${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    Seq((1L, 0L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("d0").toString)
    val f0 = graft.operators.TxnLog.parquetsUnder(tbl, "d0")
    graft.operators.TxnLog.commitRetry(tbl, "create", _ => f0,
      statsFor = _ => Map(f0.head -> (1L, 3L)),
      statsKey = Some("id"))
    val batchA = Seq((1L, 100L, "upsert")).toDF("id", "v", "op")
    val batchB = Seq((1L, 200L, "upsert")).toDF("id", "v", "op")
    // Staged, DETERMINISTIC interleaving (the r12 two-thread version
    // could be serialized by the scheduler and detect 0 conflicts):
    // writer A reads the tip, and — via the onPlanned hook, i.e.
    // before A commits — writer B runs its WHOLE merge against that
    // same tip. A's first commit then necessarily loses put-if-absent
    // and must replan against B's tip.
    var injected = false
    val cb = new java.util.concurrent.atomic.AtomicReference[
      graft.operators.TxnLog.Committed]()
    val ca = graft.operators.TxnLog.mergeCowByKey(
      spark, tbl, batchA, "id", "wa",
      onPlanned = _ => if (!injected) {
        injected = true
        cb.set(graft.operators.TxnLog.mergeCowByKey(
          spark, tbl, batchB, "id", "wb"))
      })
    assert(cb.get == graft.operators.TxnLog.Committed(1L, 0))
    assert(ca == graft.operators.TxnLog.Committed(2L, 1),
      s"A must lose exactly its first race and land as v2, got $ca")
    val tipV = graft.operators.TxnLog.latest(tbl).get
    val rows = graft.operators.TxnLog.readVersion(spark, tbl, tipV)
      .as[(Long, Long)].collect().toMap
    // No duplicate key 1 (the naive-union corruption), untouched keys
    // survive, and the surviving value is the serially-LAST merge's
    // (A, which replanned on top of B) — deterministic by staging.
    assert(graft.operators.TxnLog.readVersion(spark, tbl, tipV)
      .filter($"id" === 1L).count() == 1L)
    assert(rows(2L) == 20L && rows(3L) == 30L)
    assert(rows(1L) == 100L,
      "tip must reflect the serially-last merge (A's replan)")
  }

  test("log merge: empty and all-NULL-key batches are no-op commits") {
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"e${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    Seq((1L, 10L)).toDF("id", "v").coalesce(1)
      .write.parquet(tbl.resolve("d0").toString)
    graft.operators.TxnLog.commitRetry(tbl, "create",
      _ => graft.operators.TxnLog.parquetsUnder(tbl, "d0"))
    val empty = Seq.empty[(Long, Long, String)].toDF("id", "v", "op")
    assert(graft.operators.TxnLog
      .mergeCowByKey(spark, tbl, empty, "id", "m0") ==
      graft.operators.TxnLog.Committed(0L, 0))
    val allNull = Seq((Option.empty[Long], 5L, "upsert"))
      .toDF("id", "v", "op")
    assert(graft.operators.TxnLog
      .mergeCowByKey(spark, tbl, allNull, "id", "m1") ==
      graft.operators.TxnLog.Committed(0L, 0))
    assert(graft.operators.TxnLog.versions(tbl) == Seq(0L))
  }

  test("log merge: a delete-everything batch drops the zero-row rewrite and later merges still plan") {
    // The r12 advice bug: a delete-only rewrite committed a zero-row
    // parquet file, which (having no stats row) poisoned every later
    // merge's metadata planning with a NoSuchElementException.
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"z${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    Seq((1L, 10L), (2L, 20L), (50L, 500L)).toDF("id", "v")
      .repartitionByRange(2, $"id").sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val base = graft.operators.TxnLog.parquetsUnder(tbl, "d0")
    graft.operators.TxnLog.commitRetry(tbl, "create", _ => base,
      statsFor = m => graft.operators.TxnLog
        .keyStats(spark, tbl, base, "id"),
      statsKey = Some("id"))
    // Delete BOTH rows of the low-range file: its rewrite is empty.
    val wipe = Seq((1L, 0L, "delete"), (2L, 0L, "delete"))
      .toDF("id", "v", "op")
    graft.operators.TxnLog.mergeCowByKey(spark, tbl, wipe, "id", "m0")
    val tip1 = graft.operators.TxnLog.readManifest(tbl,
      graft.operators.TxnLog.latest(tbl).get)
    assert(tip1.files.forall(tip1.stats.contains),
      s"zero-row rewrite must not enter the file set: $tip1")
    assert(graft.operators.TxnLog
      .readVersion(spark, tbl, tip1.version)
      .as[(Long, Long)].collect().toSet == Set((50L, 500L)))
    // The formerly-poisoned path: a later merge plans from metadata.
    val batch = Seq((1L, 111L, "upsert")).toDF("id", "v", "op")
    graft.operators.TxnLog.mergeCowByKey(spark, tbl, batch, "id", "m1")
    val tip2 = graft.operators.TxnLog.readManifest(tbl,
      graft.operators.TxnLog.latest(tbl).get)
    assert(graft.operators.TxnLog
      .readVersion(spark, tbl, tip2.version)
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 111L), (50L, 500L)))
  }

  test("log merge: rewrite fans out over multiple files when affected bytes demand it") {
    // r12 wrote every COW rewrite through coalesce(1); at scale an
    // affected set spanning many files must not funnel through one
    // task. targetFileBytes below the affected size forces a
    // range-partitioned multi-file rewrite with an identical result.
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"f${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    val rows = (1L to 400L).map(i => (i, i * 10L))
    rows.toDF("id", "v").repartitionByRange(4, $"id")
      .sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val base = graft.operators.TxnLog.parquetsUnder(tbl, "d0")
    graft.operators.TxnLog.commitRetry(tbl, "create", _ => base,
      statsFor = m => graft.operators.TxnLog
        .keyStats(spark, tbl, base, "id"),
      statsKey = Some("id"))
    val batch = (1L to 400L by 2).map(i => (i, i, "upsert"))
      .toDF("id", "v", "op")
    graft.operators.TxnLog.mergeCowByKey(spark, tbl, batch, "id", "m0",
      targetFileBytes = 1024L)
    val tip = graft.operators.TxnLog.readManifest(tbl,
      graft.operators.TxnLog.latest(tbl).get)
    val rewritten = tip.files.filter(_.startsWith("m0/"))
    assert(rewritten.size > 1,
      s"expected a multi-file rewrite, got ${rewritten.size} file(s)")
    assert(tip.files.forall(tip.stats.contains))
    // Bit-identical contents vs the obvious sequential replay.
    val expected = rows.map { case (i, v) =>
      (i, if (i % 2 == 1) i else v)
    }.toSet
    assert(graft.operators.TxnLog
      .readVersion(spark, tbl, tip.version)
      .as[(Long, Long)].collect().toSet == expected)
  }

  test("N-writer torture: staged rounds give exact conflicts and an order-independent table") {
    // Three writers with disjoint key sets race mergeCowByKey through
    // a Phaser barrier in onPlanned: every round, all live writers
    // read the same tip, then race one put-if-absent — one wins, the
    // rest replan. Rounds shrink 3 → 2 → 1, so total conflicts is
    // EXACTLY 3 and the final table equals the sequential replay in
    // any order.
    val tbl = graft.util.Scratch.dir("graft_logmerge")
      .resolve(s"n${System.nanoTime()}")
    java.nio.file.Files.createDirectories(tbl)
    val rows = (1L to 20L).map(i => (i, i * 10L))
    rows.toDF("id", "v").repartitionByRange(2, $"id")
      .sortWithinPartitions("id")
      .write.parquet(tbl.resolve("d0").toString)
    val base = graft.operators.TxnLog.parquetsUnder(tbl, "d0")
    graft.operators.TxnLog.commitRetry(tbl, "create", _ => base,
      statsFor = _ => graft.operators.TxnLog
        .keyStats(spark, tbl, base, "id"),
      statsKey = Some("id"))
    val batches = Seq(
      rows.filter(_._1 % 4 == 1).map { case (k, v) => (k, v + 1L, "upsert") },
      rows.filter(_._1 % 4 == 2).map { case (k, v) => (k, v + 2L, "upsert") },
      rows.filter(_._1 % 4 == 3).map { case (k, _) => (k, 0L, "delete") })
      .map(_.toDF("id", "v", "op"))
    val phaser = new java.util.concurrent.Phaser(batches.size)
    val results = new java.util.concurrent.ConcurrentHashMap[
      Int, graft.operators.TxnLog.Committed]()
    val threads = batches.zipWithIndex.map { case (b, i) =>
      new Thread(() => {
        try results.put(i, graft.operators.TxnLog.mergeCowByKey(
          spark, tbl, b, "id", s"w$i",
          onPlanned = _ => phaser.arriveAndAwaitAdvance()))
        finally phaser.arriveAndDeregister()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val cs = batches.indices.map(results.get)
    assert(cs.map(_.conflicts).sum == 3,
      s"rounds of 3,2,1 writers must lose exactly 2+1+0... => 3: $cs")
    assert(cs.map(_.version).sorted == Seq(1L, 2L, 3L))
    assert(graft.operators.TxnLog.versions(tbl) == (0L to 3L))
    val expected = rows.flatMap { case (k, v) =>
      k % 4 match {
        case 1 => Some((k, v + 1L))
        case 2 => Some((k, v + 2L))
        case 3 => None
        case _ => Some((k, v))
      }
    }.toSet
    val tipV = graft.operators.TxnLog.latest(tbl).get
    assert(graft.operators.TxnLog.readVersion(spark, tbl, tipV)
      .as[(Long, Long)].collect().toSet == expected)
  }

  test("a one-partition change batch leaves every other partition's files alone") {
    val tbl = freshTable()
    def sig(p: Int): Seq[String] =
      new java.io.File(s"$tbl/p=$p").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq.sorted
    val before2 = sig(2); val before3 = sig(3)
    val source = Seq((2L, 222.0, 1, "upsert")).toDF("id", "v", "p", "op")
    val (intact, rewritten) =
      SourceSinkQueries.mergeCow(spark, tbl, source, "id", "p")
    assert(intact && rewritten)
    assert(sig(2) == before2 && sig(3) == before3,
      "only p=1 may be rewritten by a p=1 change batch")
  }
}
