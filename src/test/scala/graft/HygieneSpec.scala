package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session hygiene: a long-lived session running many queries must not
  * accumulate catalog entries. (Cached blocks from localCheckpoint are
  * released on DataFrame GC and are asserted per-operator in the specs
  * that persist; the catalog is the resource that leaked historically —
  * memory-sink tables, `__input__` rebind views, sql-function fixture
  * views.) */
class HygieneSpec extends AnyFunSuite with SparkTestBase {

  test("leak-prone queries leave no temp views or tables behind") {
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    Seq(
      "scan_kafka_batch",      // memory-sink table per micro-batch run
      "stream_dedup",          // memory sink, append mode
      "stream_curation",       // memory sink + dedup state
      "sql_functions",         // fixture temp views
      "transform_chain",       // SQL-step rebind views
      "pipeline_medallion",    // full chain of SQL steps
      "code_validate"
    ).foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).count()
    }
    val after = spark.catalog.listTables().collect().map(_.name).toSet
    assert(after == before,
      s"catalog entries leaked: ${(after -- before).toSeq.sorted}")
  }

  test("every session-conf literal baked into main source is enumerated " +
      "with a scale justification") {
    // The 100 TB design review in test form: a conf literal a query
    // bakes in (state-store count, shuffle width, broadcast threshold)
    // is either (a) scoped + documented as fixture-scale with the
    // cluster derivation stated, or (b) scale-independent. Adding a
    // NEW literal without a justification entry fails this test;
    // removing one leaves a stale entry that also fails. Parallelism
    // confs in the entry mains (Verify/Smoke) are derived from
    // host cores (`cpus`), never literals — also asserted.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"no source at $root")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val statePat = """statePartitions\s*=\s*Some\((\d+)\)""".r
    val shufPat = """"spark\.sql\.shuffle\.partitions",\s*"(\d+)"""".r
    val bcastPat =
      """autoBroadcastJoinThreshold"\s*(?:->|,)\s*"(-?\d+)"""".r
    val confSetPat = """(?s)\.conf\.set\(\s*"([^"]+)"""".r
    val found: Set[(String, String)] = files.flatMap { f =>
      val rel = root.relativize(f).toString
      val text = new String(java.nio.file.Files.readAllBytes(f))
      statePat.findAllMatchIn(text)
        .map(m => rel -> s"statePartitions=Some(${m.group(1)})") ++
        shufPat.findAllMatchIn(text)
          .map(m => rel -> s"shuffle.partitions=${m.group(1)}") ++
        bcastPat.findAllMatchIn(text)
          .map(m => rel -> s"autoBroadcastJoinThreshold=${m.group(1)}") ++
        confSetPat.findAllMatchIn(text)
          .map(m => rel -> s"conf.set(${m.group(1)})")
    }.toSet
    val justified: Map[(String, String), String] = Map(
      ("streaming/Streaming.scala", "statePartitions=Some(8)") ->
        ("SCOPED per-run (saved/restored around runAvailableNow) " +
          "state-store count for the bounded oracle fixtures — every " +
          "store pays a per-commit cost per micro-batch, so the count " +
          "tracks stream volume, not session shuffle width (measured " +
          "2-3x faster than 32 at bench volume); a cluster deployment " +
          "passes a cores-proportional value through the same " +
          "parameter (runAvailableNow scaladoc states the derivation)"),
      ("operators/Skew.scala", "autoBroadcastJoinThreshold=-1") ->
        ("deliberately disables broadcast inside a scoped " +
          "save/restore block so the salted sort-merge join is the " +
          "witnessed path — the broadcast shortcut would hide the " +
          "skew mechanics the query exists to prove"),
      ("operators/Relational.scala",
        "conf.set(spark.sql.legacy.parquet.nanosAsLong)") ->
        ("correctness conf for the legacy TIMESTAMP(NANOS) physical " +
          "form in testdata generations <= r7; scale-independent"),
      ("operators/SourceSinkQueries.scala",
        "conf.set(spark.graft.delete.mode)") ->
        ("MoR-routing pin for the delete fixtures, set/unset scoped " +
          "per query; semantics-preserving either way by design"),
      ("operators/SourceSinkQueries.scala",
        "conf.set(spark.graft.rowlevel.mode)") ->
        ("delta-vs-CoW routing pin for the UPDATE/MERGE fixtures, " +
          "set/unset scoped per query; a cost-model choice, " +
          "semantics-preserving either way by design"),
      ("streaming/Streaming.scala",
        "conf.set(spark.graft.rowlevel.mode)") ->
        ("same delta-vs-CoW routing pin inside stream_cdc_apply_mor's " +
          "foreachBatch, set/unset scoped per batch"),
      ("sources/GraftMor.scala",
        "conf.set(spark.sql.files.openCostInBytes)") ->
        ("set on a CLONED session only (the user's session is never " +
          "mutated): a 1-PiB open cost pins provenance scans to " +
          "single-file partitions, the invariant the per-partition " +
          "file tag needs; scale-INdependent — it shapes packing, " +
          "not parallelism (large files still split)"),
      ("sources/GraftDataSource.scala",
        "conf.set(spark.sql.catalog.graft)") ->
        "catalog class-name registration; scale-independent")
    assert(found.forall(justified.contains),
      "conf literals with NO justification entry (add one, or derive " +
        s"from env/cores): ${(found -- justified.keySet).toSeq.sorted}")
    assert(justified.keySet.forall(found.contains),
      "stale justification entries (literal no longer in source): " +
        s"${(justified.keySet -- found).toSeq.sorted}")
    // The driver mains size shuffle width from host cores, never a
    // literal: the literal pattern must not match them.
    Seq("Verify.scala", "Smoke.scala").foreach { m =>
      assert(!found.exists(_._1 == m),
        s"$m must derive parallelism from cores, found literal")
    }
  }

  /** Main-source calls matching `callPat` (group 1 names the callee)
    * as (file, enclosing def, callee), sorted: comment lines skipped,
    * each call attributed to the last `def` above it. */
  private def callers(
      callPat: scala.util.matching.Regex): Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no source at $root")
    val defPat = """\bdef\s+(\w+)""".r
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val rel = root.relativize(f).toString
        new String(java.nio.file.Files.readAllBytes(f)).linesIterator
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
            l.startsWith("//"))
          .scanLeft(("", Seq.empty[String])) { case ((enclosing, _), l) =>
            (defPat.findFirstMatchIn(l).fold(enclosing)(_.group(1)),
              callPat.findAllMatchIn(l).map(_.group(1)).toSeq)
          }
          .flatMap { case (enclosing, callees) =>
            callees.map((rel, enclosing, _))
          }
      }.sorted
  }

  test("writer-side stats are staged and assembled in ONE place") {
    // Per-file stats have one implementation: WriterStats.Collector
    // folds rows, WriterStats.assemble builds the commit stats. The
    // staged writes (StagedWrite.stage's task-side write, and the two
    // DSv2 writers' tasks, whose reports Staged.of folds) and the one
    // read-back (TxnLog.commitStatsFor) are their only users. Copies
    // of the stats rules once lived in five places and disagreed on
    // INT keys, so any other production use of the Collector, the
    // assembler or the task-side write fails this audit, as does a
    // groupBy(input_file_name()) stats aggregate in TxnLog.scala.
    val calls = callers(("""(?<!def )\b(parquetWithStats|""" +
      """WriterStats\.assemble|WriterStats\.Collector)\s*\(""").r)
    assert(calls == Seq(
        ("graft/operators/TxnLog.scala", "commitStatsFor", "WriterStats.Collector"),
        ("graft/operators/TxnLog.scala", "commitStatsFor", "WriterStats.assemble"),
        ("graft/sources/GraftDelta.scala", "createWriter", "WriterStats.Collector"),
        ("graft/sources/GraftRowLevel.scala", "createWriter",
          "WriterStats.Collector"),
        ("graft/sources/StagedWrite.scala", "of", "WriterStats.assemble"),
        ("graft/sources/StagedWrite.scala", "parquetWithStats",
          "WriterStats.Collector"),
        ("graft/sources/StagedWrite.scala", "stage", "parquetWithStats")),
      "stage through StagedWrite.stage (or fold DSv2 task reports with " +
        "StagedWrite.Staged.of), and read stats back through " +
        s"TxnLog.commitStatsFor: $calls")
    val code = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("src/main/scala/graft/operators/TxnLog.scala")))
      .linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
        l.startsWith("//"))
      .mkString("\n")
    val statsAggs = java.util.regex.Pattern.quote("groupBy(input_file_name()")
      .r.findAllMatchIn(code)
      .map(m => code.substring(m.start, code.indexOf(".collect()", m.start)))
      .filter(q => Seq("min(", "max(", "xxhash64", "BottomK").exists(q.contains))
      .toSeq
    assert(statsAggs.isEmpty, s"per-file stats aggregates in TxnLog: $statsAggs")
  }

  test("staged stats follow a rebase in ONE place") {
    // A commit that rebases onto a tip whose declared stats column
    // sets changed must re-derive the staged files' stats under the
    // new sets. StagedWrite.statsUnder owns that decision (seeded
    // with the writer-side stats, memoized per set); three hand-kept
    // copies of it once drifted apart. The read-back's other callers
    // read files no write is staging: keyStats (the merge's bootstrap
    // of files without bounds), declareNdv (a declaration over the
    // live files) and one fixture's create. Any other production call
    // of the read-back fails this audit.
    val calls = callers("""(?<!def )\b(commitStatsFor)\s*\(""".r)
      .map { case (rel, enclosing, _) => rel -> enclosing }
    assert(calls == Seq(
        "graft/operators/SourceSinkQueries.scala" -> "tableMulticolSkippingQuery",
        "graft/operators/TxnLog.scala" -> "declareNdv",
        "graft/operators/TxnLog.scala" -> "keyStats",
        "graft/sources/StagedWrite.scala" -> "statsUnder"),
      "take rebased stats from StagedWrite.statsUnder instead of " +
        s"calling TxnLog.commitStatsFor directly: $calls")
  }

  test("tryCommitManifest is called only by the two commit loops") {
    // Every commit goes through the log's one loop, StagedWrite.commit
    // (commitRetryWith is its nothing-staged blind form), or through
    // tryCommit, the one-attempt file-list form that retries nothing.
    // The loop rebases each write over the commits its rule lets
    // commute and throws its Conflict otherwise. Copies of that
    // decision once drifted from it — hand-written loops that refused
    // any concurrent commit, merge/DELETE loops that replanned after
    // any lost race, and a second blind loop — so a production call of
    // the raw commit primitive from any other function fails this
    // audit, as does a refusal of the old "planned against v<N>" form.
    // (The test keeps its name; the two are the loop and tryCommit.)
    val calls = callers("""(?<!def )\b(tryCommitManifest)\s*\(""".r)
      .map { case (rel, enclosing, _) => rel -> enclosing }
    assert(calls == Seq(
        "graft/operators/TxnLog.scala" -> "tryCommit",
        "graft/sources/StagedWrite.scala" -> "commit"),
      "commit through StagedWrite.commit (or TxnLog.commitRetryWith) " +
        s"instead of calling TxnLog.tryCommitManifest directly: $calls")
    import scala.jdk.CollectionConverters._
    val stale = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        new String(java.nio.file.Files.readAllBytes(f)).linesIterator
          .filter(_.contains("planned against v")).map(f.toString -> _.trim)
      }
    assert(stale.isEmpty, s"refuse-any commit copies: $stale")
  }

  test("pending deletes are applied in ONE place: the connector scan") {
    // Every read of a table version — the log's rewrites, its change
    // feed, the connector's DELETE and UPDATE — goes through the
    // connector scan, whose GraftMor planner applies pending equality
    // and position deletes. A second implementation (DataFrame
    // anti-joins against the delete files) once disagreed with it on
    // the schema it read, so the position-delete map may be loaded
    // only by GraftMor, and the log and the connector build no
    // anti-joins of their own.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root), s"no source at $root")
    def code(f: java.nio.file.Path): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(f)).linesIterator
        .map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
          l.startsWith("//"))
        .toSeq
    val callers = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .filter(f => code(f).exists(l =>
        """(?<!def )\bposDeletePositions\s*\(""".r.findFirstIn(l).isDefined))
      .map(root.relativize(_).toString).sorted
    assert(callers == Seq("sources/GraftMor.scala"),
      s"position deletes loaded outside the connector scan: $callers")
    Seq("operators/TxnLog.scala", "sources/GraftDataSource.scala")
      .foreach { rel =>
        val hits = code(root.resolve(rel)).filter(_.contains("\"left_anti\""))
        assert(hits.isEmpty, s"$rel applies deletes itself: $hits")
      }
  }

  test("persist-heavy queries do not accumulate persisted RDD blocks") {
    // Queries that persist intermediates (shared shingle relations,
    // candidate sets, prefix relations, signatures) must unpersist them
    // before returning — a long-lived session sweeping queries must not
    // pin executor storage without bound. Measured behavior (and what
    // this asserts): all explicit persists drain to zero after GC via
    // the ContextCleaner; a FEW of the most recent eager-localCheckpoint
    // blocks linger until later scheduler activity replaces them (a
    // bounded, last-run-only residue — verified non-accumulating by
    // running the sweep twice and asserting the steady state does not
    // grow).
    def persisted: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    def sweep(): Unit = Seq(
      "dedup_minhash_lsh",
      "dedup_simhash",
      "dedup_ngram_jaccard",
      "dedup_cluster_collapse",
      "dedup_minhash_incremental",
      "text_decontaminate"
    ).foreach { q => SparkEntry.queries(q)(spark, sfDir).count() }
    def drainTo(before: Set[Int], tolerance: Int): Set[Int] = {
      val deadline = System.currentTimeMillis + 30000
      var leftover = persisted -- before
      while (leftover.size > tolerance &&
          System.currentTimeMillis < deadline) {
        System.gc()
        Thread.sleep(500)
        leftover = persisted -- before
      }
      leftover
    }
    val residueBudget = 6
    val base = persisted
    sweep()
    val afterOne = drainTo(base, residueBudget)
    sweep()
    val afterTwo = drainTo(base, residueBudget)
    assert(afterOne.size <= residueBudget,
      s"first sweep left ${afterOne.size} persisted blocks: $afterOne")
    assert(afterTwo.size <= residueBudget,
      s"second sweep grew the residue to ${afterTwo.size}: $afterTwo " +
        "— persisted blocks are accumulating across runs")
  }
}
