package graft.operators

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftTables, StagedWrite}

/** A versioned transaction log for a parquet table directory — the
  * commit protocol the lakehouse ops ([[SourceSinkQueries.mergeCow]]
  * COW, snapshot reads, vacuum) previously improvised from directory
  * listings, made explicit the way every table format builds it
  * (Delta's `_delta_log`, Iceberg's metadata chain — the PUBLIC
  * design; this is an original implementation of the protocol shape,
  * cf. /root/reference/ `schemas.py:342-343`'s versioned bronze paths
  * which imply exactly this read-side contract):
  *
  * ```
  * table/
  *   <data files, never mutated after publish>
  *   _log/00000000.json   {"version":0,"parent":-1,"action":"create",
  *   _log/00000001.json    "files":["part-...parquet", ...]}
  * ```
  *
  * - **Manifests are the table.** A version's manifest names the exact
  *   data files (paths relative to the table root) that make up that
  *   snapshot. Data files are immutable and additive; versions share
  *   unchanged files. Manifests are rendered and parsed with a real
  *   JSON codec (Jackson, the one Spark itself ships), so file names
  *   containing commas/quotes/brackets round-trip instead of silently
  *   corrupting the file list.
  * - **Commit = put-if-absent of `_log/<version>.json`.** The manifest
  *   body is written to a temp file first, then PUBLISHED with an
  *   atomic hard link (`Files.createLink`), which fails with
  *   `FileAlreadyExistsException` iff that version already exists —
  *   never replaces, unlike POSIX rename. Content is complete before
  *   the link, so a manifest is visible iff it is whole; the link is
  *   the single atomic commit point. This is the same
  *   rename-if-absent contract Delta requires of its log store.
  *   REQUIREMENT: the log directory must live on a filesystem that
  *   supports hard links (any local POSIX fs). On mounts that do not
  *   (some overlay/network filesystems), the commit degrades to an
  *   `O_CREAT|O_EXCL` write + fsync: creation is still first-writer-
  *   wins, but a concurrent reader may observe the manifest mid-write
  *   — the object-store caveat every log-store implementation
  *   documents.
  * - **Optimistic concurrency.** A writer reads the latest version V,
  *   computes its new file set against V's manifest, and tries to
  *   commit V+1. A concurrent committer winning V+1 surfaces as the
  *   put-if-absent failure. Every commit then goes through one loop,
  *   [[graft.sources.StagedWrite.commit]]: the loser reads each commit
  *   that won since its base once, judges it by the write's rule, and
  *   REBASES onto the new tip unless one breaks it. Appends, creates,
  *   equality deletes and metadata commits are blind: no rule, no
  *   walk ([[commitRetryWith]] is their nothing-staged form). Commits
  *   that target files of a planned version ([[mergeCowByKey]], the
  *   connector's copy-on-write DELETE and row-level writes, the
  *   compactions, delete materialization, `GraftTables.updateMor`)
  *   refuse a commit that removed a target or added a merge-on-read
  *   delete; the merge also refuses one other than a blind append that
  *   added files in its key range, and [[deleteByPosMor]] only one
  *   that removed a file its positions name. A refusal throws
  *   [[graft.sources.StagedWrite.Conflict]]: the merge and the DELETE
  *   replan from data against the new tip, every other write refuses
  *   loudly.
  * - **Readers pin a version.** [[readVersion]] resolves one manifest
  *   and reads exactly its files — later commits are invisible
  *   (snapshot isolation), and a pinned read never sees a torn table
  *   because manifests only ever reference fully-written files.
  * - **Staged commits are one builder.** Every commit of freshly
  *   staged files — the ones that swap a file set (MERGE, compaction,
  *   delete materialization, overwrite, the connector's copy-on-write
  *   rewrites) and the ones that append (insert, create, the
  *   merge-on-read row-level writes) — builds its manifest with
  *   [[replaceFiles]] from files staged by
  *   [[graft.sources.StagedWrite.stage]], so per-file metadata stays
  *   exactly over the live files whichever path committed.
  * - **Vacuum liveness derives from the log.** A file is live iff some
  *   RETAINED manifest references it ([[liveFiles]]); everything else
  *   older than the retention horizon is garbage. Expiring old
  *   versions = deleting their manifests, after which vacuum reclaims
  *   the files only they referenced.
  *
  * At 100 TB the log is O(versions) driver-side metadata; manifests
  * are O(nFiles) lines each and could themselves page to parquet at
  * extreme file counts (the [[SourceSinkQueries.sourceFileBloomIndex]]
  * discipline) — the protocol is unchanged by where manifests live.
  */
object TxnLog {

  /** One column of the table's declared schema, with a STABLE id —
    * the column-mapping idea (Iceberg field ids / Delta column
    * mapping, both public designs): `physical` is the name the bytes
    * were written under and never changes; `name` is the logical name
    * a reader of THIS version sees; `typ` is the (possibly widened)
    * logical type. RENAME = commit a manifest whose column keeps its
    * id + physical but changes `name`; WIDEN = same with `typ`.
    * Pinned readers resolve through their own manifest's mapping, so
    * both sides of a rename read the same bytes under their own
    * names, without rewriting a file. */
  final case class ColumnDef(
      id: Int, name: String, typ: String, physical: String)

  /** One committed snapshot: the exact file list, plus (when the
    * writer supplied them) per-file [min, max] stats of `statsKey` —
    * the footer-stats idea lifted into the manifest, so a key-scoped
    * MERGE or a key-filtered scan plans its file set from METADATA
    * instead of opening files (what Delta's add-file stats and
    * Iceberg's manifest column bounds do). Stats are carried forward
    * for surviving files on every commit, so one stats-bearing commit
    * heals the whole chain.
    *
    * STATS CONVENTION (sound by construction): a file with NO stats
    * entry is UNKNOWN — pruning keeps it and key-scoped merges fall
    * back to a scan; a file whose key column is known to hold no
    * non-NULL values carries the EXPLICIT empty range
    * [[EmptyRange]] `(Long.MaxValue, Long.MinValue)`, which
    * intersects nothing and therefore prunes naturally. This is what
    * keeps a commit that did not compute stats (generic
    * [[commitRetry]], a legacy manifest) from silently poisoning
    * key-filtered reads: absence degrades to a scan, never to a
    * wrong answer.
    *
    * `partitions` carries per-file partition values (the Iceberg
    * manifest-entry idea) so partition-filtered reads prune from
    * metadata too; `columns` is the optional declared schema with
    * mapping ids ([[ColumnDef]]). */
  final case class Manifest(
      version: Long, parent: Long, action: String, files: Seq[String],
      stats: Map[String, (Long, Long)] = Map.empty,
      statsKey: Option[String] = None,
      partitions: Map[String, Map[String, String]] = Map.empty,
      columns: Option[Seq[ColumnDef]] = None,
      sizes: Map[String, Long] = Map.empty,
      txn: Option[(String, Long)] = None,
      txns: Map[String, Long] = Map.empty,
      colStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      ts: Long = 0L,
      deltaDepth: Int = 0,
      seqs: Map[String, Long] = Map.empty,
      deletes: Seq[DeleteFile] = Seq.empty,
      constraints: Map[String, String] = Map.empty,
      // Per-file ROW COUNTS (the numRows leg of `sizes`): earned at
      // the commit primitive from parquet footers, inherited by
      // survivors, so scans can report an exact rowCount to the
      // cost-based optimizer with zero plan-time filesystem calls.
      // Absent entry = unknown (placeholder files, legacy manifests).
      rows: Map[String, Long] = Map.empty,
      // Per-(column, file) KMV distinct-count sketches: the
      // [[NdvSketchK]] smallest distinct sign-flipped xxhash64 values
      // of the column in that file, sorted ascending. The outer key
      // set IS the declaration ([[declareNdv]]) — carried forward by
      // every commit like `colStats` keys; survivors inherit their
      // entries at the primitive, write paths compute entries for new
      // files in one scan, and scans MERGE the per-file sketches
      // (union, take k) into the distinct count the CBO needs for
      // columns whose type carries no min/max bounds (strings).
      // Partial coverage = no NDV reported (never a wrong one).
      ndv: Map[String, Map[String, Seq[Long]]] = Map.empty) {
    /** The declared stats column sets new files are covered under:
      * the stats key, the `colStats` columns and the `ndv` columns
      * (sorted) — what writer-side stats specs and commit-stats
      * caches are keyed by. */
    def declaredSets: (Option[String], Seq[String], Seq[String]) =
      (statsKey, colStats.keys.toSeq.sorted, ndv.keys.toSeq.sorted)
  }

  final case class Committed(version: Long, conflicts: Int)

  /** One pending merge-on-read DELETE file, in one of two forms (the
    * two Iceberg v2 delete shapes).
    *
    * EQUALITY (`kind = "eq"`, the default): `path` is a small parquet
    * of deleted key values under column `key` (the PHYSICAL column
    * name — immutable across renames). The delete applies to rows of
    * data files whose per-file sequence ([[Manifest.seqs]]) is
    * STRICTLY BELOW `seq` — files appended later escape, which is
    * what lets a deleted key be legitimately re-inserted.
    *
    * POSITION (`kind = "pos"`, Iceberg "Position delete files" /
    * Delta deletion vectors): `path` is a small parquet of
    * (`file_path`, `pos`) rows — the TABLE-RELATIVE data file and the
    * 0-based parquet row ordinal within it (`key` is empty, unused).
    * The delete applies to exactly the rows it names; scoping is by
    * FILE MEMBERSHIP, not sequence (a named file is immutable, so the
    * reference can never drift). This is the shape a predicate DELETE
    * produces on a table with no key column.
    *
    * `seq` is the commit version that added the delete, `bytes` its
    * size (so scan planning stays filesystem-free). Readers apply
    * pending deletes at scan time; [[compact]] /
    * [[materializeDeletes]] fold them back into data files. */
  final case class DeleteFile(
      path: String, key: String, seq: Long, bytes: Long,
      kind: String = "eq")

  /** The explicit "no non-NULL keys in this file" stats entry: an
    * empty interval that intersects no query range, so such a file
    * prunes under any key predicate — while a MISSING entry means
    * unknown and never prunes (see [[Manifest]]'s stats convention). */
  val EmptyRange: (Long, Long) = (Long.MaxValue, Long.MinValue)

  def logDir(table: Path): Path = table.resolve("_log")

  private def manifestPath(table: Path, version: Long): Path =
    logDir(table).resolve(f"$version%08d.json")

  /** All committed versions, ascending. */
  def versions(table: Path): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val d = logDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.startsWith("."))
        .map(_.stripSuffix(".json").toLong).toSeq.sorted
      finally s.close()
    }
  }

  def latest(table: Path): Option[Long] = versions(table).lastOption

  /** The version a timestamp pins: the HIGHEST retained version whose
    * commit stamp is at or before `tsMillis` — Delta/Iceberg
    * `TIMESTAMP AS OF` semantics ("the table as of that moment").
    * Stamps are wall-clock advisory (a replica with a skewed clock
    * can commit out of order); resolution is by version number among
    * qualifying stamps, so a skewed stamp can widen but never
    * un-order the answer. O(retained versions) manifest reads at
    * resolution time only — monotonic chains could binary-search, but
    * retention keeps the log short-lived. */
  def versionAtTimestamp(table: Path, tsMillis: Long): Long = {
    val at = versions(table).filter { v =>
      // ts/txn are whole-table fields carried verbatim by BOTH storage
      // forms — read them raw, skipping delta-chain resolution.
      val ts = Option(rawNode(table, v).get("ts"))
        .map(_.asLong).getOrElse(0L)
      ts != 0L && ts <= tsMillis
    }
    require(at.nonEmpty,
      s"no version of $table was committed at or before epoch-ms $tsMillis")
    at.max
  }

  /** The RESOLVED manifest of `version`. Since round 15 a manifest may
    * be stored as a DELTA against its parent (`base`/`adds`/`removes`
    * plus per-file map entries for the adds only — the Delta-log
    * actions / Iceberg manifest-list idea): commit metadata is then
    * O(changed files) instead of O(table files), which is what keeps
    * cumulative log size from going quadratic on a million-file table
    * committing small batches. Resolution walks the base chain (bounded
    * by [[DeltaCheckpointInterval]] — every Nth commit is a full
    * snapshot) and applies each delta; callers always see the full
    * snapshot form, so every consumer of this API is unchanged. */
  def readManifest(table: Path, version: Long): Manifest =
    parseAny(stored(table, version)) match {
      case Right(full) => full
      case Left(d) => applyDelta(readManifest(table, d.base), d)
    }

  /** The stored JSON of one manifest. */
  private def stored(table: Path, version: Long): String =
    new String(Files.readAllBytes(manifestPath(table, version)),
      java.nio.charset.StandardCharsets.UTF_8)

  /** The commits in (`base`, `upTo`], oldest first, resolved: each
    * stored manifest is read once, a delta resolving against the one
    * before it (the first against its stored chain). What
    * [[graft.sources.StagedWrite.commit]] walks after a lost race (up
    * to the tip), and what [[appendedSince]] checks. */
  def since(table: Path, base: Long, upTo: Long): Seq[Manifest] =
    versions(table).filter(v => v > base && v <= upTo)
      .foldLeft(Vector.empty[Manifest]) { (walked, v) =>
        walked :+ (parseAny(stored(table, v)) match {
          case Right(full) => full
          case Left(d) => applyDelta(walked.lastOption
            .filter(_.version == d.base)
            .getOrElse(readManifest(table, d.base)), d)
        })
      }

  /** The slice of `end` holding exactly the rows committed in
    * (`start`, `end.version`]: the files `end` has and `start` had not,
    * with their per-file entries — a file diff, so every commit in the
    * window must be an `append`; `window` names the read in the
    * refusal. The incremental read (`fromVersion`) and the streaming
    * source's micro-batches both plan from it. */
  def appendedSince(table: Path, start: Long, end: Manifest,
      window: String): Manifest = {
    val nonAppend =
      since(table, start, end.version).filter(_.action != "append")
    require(nonAppend.isEmpty,
      s"$window crosses non-append commit(s) " +
        nonAppend.map(x => s"v${x.version}:${x.action}").mkString(", ") +
        " — a file diff would misstate changes; read a fresh snapshot")
    val fresh = end.files.toSet -- readManifest(table, start).files
    end.copy(files = end.files.filter(fresh),
      stats = end.stats.view.filterKeys(fresh).toMap,
      partitions = end.partitions.view.filterKeys(fresh).toMap,
      sizes = end.sizes.view.filterKeys(fresh).toMap,
      colStats = end.colStats.view.mapValues(
        _.view.filterKeys(fresh).toMap).toMap)
  }

  // Jackson's ObjectMapper is thread-safe after configuration; Spark
  // ships it, so the log's durable format costs no new dependency.
  private val mapper = new ObjectMapper()

  /** The stored JSON of one manifest, unresolved — for whole-table
    * fields (`ts`, `txn`, `base`) both storage forms carry verbatim. */
  private def rawNode(
      table: Path, version: Long): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(stored(table, version))

  private def rawTxn(table: Path, version: Long): Option[(String, Long)] =
    Option(rawNode(table, version).get("txn")).map(t =>
      (t.get("app").asText, t.get("batch").asLong))

  /** A delta-form manifest as stored on disk: the file-list CHANGES
    * against the resolved parent (`base` — always the parent version),
    * per-file map entries only for files whose entry is new or changed,
    * and the whole-table fields (`statsKey`/`columns`/`txn`/`txns`/`ts`)
    * verbatim. Private: resolution is [[readManifest]]'s job. */
  private final case class Delta(
      version: Long, parent: Long, action: String, base: Long,
      adds: Seq[String], removes: Seq[String],
      stats: Map[String, (Long, Long)],
      statsKey: Option[String],
      partitions: Map[String, Map[String, String]],
      columns: Option[Seq[ColumnDef]],
      sizes: Map[String, Long],
      txn: Option[(String, Long)],
      txns: Map[String, Long],
      colStats: Map[String, Map[String, (Long, Long)]],
      ts: Long,
      seqs: Map[String, Long],
      deletes: Seq[DeleteFile],
      constraints: Map[String, String],
      rows: Map[String, Long],
      ndv: Map[String, Map[String, Seq[Long]]])

  private def putRanges(root: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, m: Map[String, (Long, Long)]): Unit =
    if (m.nonEmpty) {
      val st = root.putObject(name)
      m.toSeq.sortBy(_._1).foreach { case (f, (lo, hi)) =>
        val a = st.putArray(f); a.add(lo); a.add(hi)
      }
    }

  private def putCommon(root: com.fasterxml.jackson.databind.node.ObjectNode,
      stats: Map[String, (Long, Long)], statsKey: Option[String],
      partitions: Map[String, Map[String, String]],
      columns: Option[Seq[ColumnDef]], sizes: Map[String, Long],
      txn: Option[(String, Long)], txns: Map[String, Long],
      colStats: Map[String, Map[String, (Long, Long)]], ts: Long,
      seqs: Map[String, Long], deletes: Seq[DeleteFile],
      constraints: Map[String, String],
      rows: Map[String, Long],
      ndv: Map[String, Map[String, Seq[Long]]]): Unit = {
    putRanges(root, "stats", stats)
    statsKey.foreach(root.put("statsKey", _))
    if (partitions.nonEmpty) {
      val pn = root.putObject("partitions")
      partitions.toSeq.sortBy(_._1).foreach { case (f, kv) =>
        val o = pn.putObject(f)
        kv.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      }
    }
    columns.foreach { cols =>
      val cn = root.putArray("columns")
      cols.foreach { c =>
        val o = cn.addObject()
        o.put("id", c.id); o.put("name", c.name)
        o.put("type", c.typ); o.put("physical", c.physical)
      }
    }
    if (sizes.nonEmpty) {
      val sn = root.putObject("sizes")
      sizes.toSeq.sortBy(_._1).foreach { case (f, n) => sn.put(f, n) }
    }
    txn.foreach { case (app, batch) =>
      val t = root.putObject("txn")
      t.put("app", app); t.put("batch", batch)
    }
    if (txns.nonEmpty) {
      val tn = root.putObject("txns")
      txns.toSeq.sortBy(_._1).foreach { case (a, b) => tn.put(a, b) }
    }
    if (colStats.nonEmpty) {
      val cs = root.putObject("colStats")
      colStats.toSeq.sortBy(_._1).foreach { case (c, perFile) =>
        val o = cs.putObject(c)
        perFile.toSeq.sortBy(_._1).foreach { case (f, (lo, hi)) =>
          val a = o.putArray(f); a.add(lo); a.add(hi)
        }
      }
    }
    if (ts != 0L) root.put("ts", ts)
    if (seqs.nonEmpty) {
      val qn = root.putObject("seqs")
      seqs.toSeq.sortBy(_._1).foreach { case (f, q) => qn.put(f, q) }
    }
    if (deletes.nonEmpty) {
      val dn = root.putArray("deletes")
      deletes.foreach { d =>
        val o = dn.addObject()
        o.put("path", d.path); o.put("key", d.key)
        o.put("seq", d.seq); o.put("bytes", d.bytes)
        // "eq" stays implicit so pre-position-delete manifests parse
        // identically and eq-only tables stay readable by old readers.
        if (d.kind != "eq") o.put("kind", d.kind)
      }
    }
    if (constraints.nonEmpty) {
      val cn = root.putObject("constraints")
      constraints.toSeq.sortBy(_._1).foreach { case (n, p) => cn.put(n, p) }
    }
    if (rows.nonEmpty) {
      val rn = root.putObject("rows")
      rows.toSeq.sortBy(_._1).foreach { case (f, n) => rn.put(f, n) }
    }
    // A DECLARED ndv column renders even with no per-file entries
    // (an empty object), so resolution keeps the declaration — the
    // colStats convention.
    if (ndv.nonEmpty) {
      val nn = root.putObject("ndv")
      ndv.toSeq.sortBy(_._1).foreach { case (c, perFile) =>
        val o = nn.putObject(c)
        perFile.toSeq.sortBy(_._1).foreach { case (f, hs) =>
          val a = o.putArray(f); hs.foreach(a.add)
        }
      }
    }
  }

  def render(m: Manifest): String = {
    val root = mapper.createObjectNode()
    root.put("version", m.version)
    root.put("parent", m.parent)
    root.put("action", m.action)
    // Position deletes are a reader-v3 feature: a reader that only
    // knows equality deletes would silently treat the (file_path, pos)
    // file as a key list — stamp so it refuses loudly instead.
    if (m.deletes.exists(_.kind == "pos")) root.put("minReader", 3)
    val fs = root.putArray("files")
    m.files.foreach(fs.add)
    putCommon(root, m.stats, m.statsKey, m.partitions, m.columns,
      m.sizes, m.txn, m.txns, m.colStats, m.ts, m.seqs, m.deletes,
      m.constraints, m.rows, m.ndv)
    mapper.writeValueAsString(root)
  }

  private def renderDelta(d: Delta): String = {
    val root = mapper.createObjectNode()
    root.put("version", d.version)
    root.put("parent", d.parent)
    root.put("action", d.action)
    // The delta form is a reader-v2 feature: stamp it so an older
    // reader refuses loudly instead of misreading (see
    // [[SupportedReaderVersion]]). Full-form manifests stay
    // unstamped — readable by any reader.
    root.put("minReader",
      if (d.deletes.exists(_.kind == "pos")) 3 else 2)
    root.put("base", d.base)
    val as = root.putArray("adds"); d.adds.foreach(as.add)
    val rs = root.putArray("removes"); d.removes.foreach(rs.add)
    // Note putCommon writes a DECLARED colStats column even when every
    // entry is inherited (an empty per-column object), so resolution
    // keeps the column set.
    putCommon(root, d.stats, d.statsKey, d.partitions, d.columns,
      d.sizes, d.txn, d.txns, d.colStats, d.ts, d.seqs, d.deletes,
      d.constraints, d.rows, d.ndv)
    mapper.writeValueAsString(root)
  }

  private def parseCommon(n: com.fasterxml.jackson.databind.JsonNode): (
      Map[String, (Long, Long)], Option[String],
      Map[String, Map[String, String]], Option[Seq[ColumnDef]],
      Map[String, Long], Option[(String, Long)], Map[String, Long],
      Map[String, Map[String, (Long, Long)]], Long,
      Map[String, Long], Seq[DeleteFile], Map[String, String],
      Map[String, Long], Map[String, Map[String, Seq[Long]]]) = {
    import scala.jdk.CollectionConverters._
    val stats = Option(n.get("stats")).map { st =>
      st.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)
      }.toMap
    }.getOrElse(Map.empty[String, (Long, Long)])
    val partitions = Option(n.get("partitions")).map { pn =>
      pn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala
          .map(kv => kv.getKey -> kv.getValue.asText).toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, String]])
    val columns = Option(n.get("columns")).map { cn =>
      cn.elements().asScala.map { c =>
        ColumnDef(c.get("id").asInt, c.get("name").asText,
          c.get("type").asText, c.get("physical").asText)
      }.toSeq
    }
    val sizes = Option(n.get("sizes")).map { sn =>
      sn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty[String, Long])
    val txn = Option(n.get("txn")).map(t =>
      (t.get("app").asText, t.get("batch").asLong))
    val txns = Option(n.get("txns")).map { tn =>
      tn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty[String, Long])
    val colStats = Option(n.get("colStats")).map { cs =>
      cs.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map { fe =>
          fe.getKey ->
            (fe.getValue.get(0).asLong, fe.getValue.get(1).asLong)
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, (Long, Long)]])
    val seqs = Option(n.get("seqs")).map { qn =>
      qn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty[String, Long])
    val deletes = Option(n.get("deletes")).map { dn =>
      dn.elements().asScala.map { d =>
        DeleteFile(d.get("path").asText, d.get("key").asText,
          d.get("seq").asLong, d.get("bytes").asLong,
          Option(d.get("kind")).map(_.asText).getOrElse("eq"))
      }.toSeq
    }.getOrElse(Seq.empty[DeleteFile])
    val constraints = Option(n.get("constraints")).map { cn =>
      cn.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    val rows = Option(n.get("rows")).map { rn =>
      rn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty[String, Long])
    val ndv = Option(n.get("ndv")).map { nn =>
      nn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map { fe =>
          fe.getKey -> fe.getValue.elements().asScala
            .map(_.asLong).toSeq
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, Seq[Long]]])
    (stats, Option(n.get("statsKey")).map(_.asText), partitions, columns,
      sizes, txn, txns, colStats,
      Option(n.get("ts")).map(_.asLong).getOrElse(0L), seqs, deletes,
      constraints, rows, ndv)
  }

  /** The highest stored-manifest format this reader understands — the
    * Delta/Iceberg protocol-version idea: a manifest written by a
    * newer writer carries `minReader` above this and is REFUSED loudly
    * instead of silently misread (a pre-delta reader would otherwise
    * NPE on a delta manifest's missing `files`, or worse, a future
    * field could change semantics it would silently ignore). Writers
    * stamp `minReader` only when a manifest actually uses a feature
    * (delta form = 2), so old tables stay readable by old readers. */
  val SupportedReaderVersion: Int = 3

  /** Parse a stored manifest: `Right(full snapshot)` or `Left(delta)`
    * — the `base` field is what marks the delta form. */
  private def parseAny(txt: String): Either[Delta, Manifest] = {
    import scala.jdk.CollectionConverters._
    val n = mapper.readTree(txt)
    Option(n.get("minReader")).map(_.asInt).foreach { mr =>
      require(mr <= SupportedReaderVersion,
        s"manifest requires reader version $mr; this engine supports " +
          s"up to $SupportedReaderVersion — upgrade before reading")
    }
    val (stats, statsKey, partitions, columns, sizes, txn, txns,
      colStats, ts, seqs, deletes, constraints, rows, ndv) = parseCommon(n)
    Option(n.get("base")) match {
      case Some(b) =>
        Left(Delta(
          n.get("version").asLong, n.get("parent").asLong,
          n.get("action").asText, b.asLong,
          n.get("adds").elements().asScala.map(_.asText).toSeq,
          n.get("removes").elements().asScala.map(_.asText).toSeq,
          stats, statsKey, partitions, columns, sizes, txn, txns,
          colStats, ts, seqs, deletes, constraints, rows, ndv))
      case None =>
        Right(Manifest(
          n.get("version").asLong, n.get("parent").asLong,
          n.get("action").asText,
          n.get("files").elements().asScala.map(_.asText).toSeq,
          stats, statsKey, partitions, columns, sizes, txn, txns,
          colStats, ts, seqs = seqs, deletes = deletes,
          constraints = constraints, rows = rows, ndv = ndv))
    }
  }

  /** Parse a FULL-form manifest (the public round-trip of [[render]]);
    * a delta form needs chain access — use [[readManifest]]. */
  def parse(txt: String): Manifest = parseAny(txt) match {
    case Right(full) => full
    case Left(d) => sys.error(
      s"version ${d.version} is a delta manifest (base ${d.base}); " +
        "resolve it through readManifest")
  }

  /** Resolve `d` against its resolved base: surviving files keep the
    * base's per-file entries, adds bring their own, whole-table fields
    * come from the delta. Inverse of [[deltaOf]] by construction. */
  private def applyDelta(base: Manifest, d: Delta): Manifest = {
    val removed = d.removes.toSet
    val files = base.files.filterNot(removed) ++ d.adds
    val surviving = files.toSet
    Manifest(d.version, d.parent, d.action, files,
      stats = base.stats.view.filterKeys(surviving).toMap ++ d.stats,
      statsKey = d.statsKey,
      partitions =
        base.partitions.view.filterKeys(surviving).toMap ++ d.partitions,
      columns = d.columns,
      sizes = base.sizes.view.filterKeys(surviving).toMap ++ d.sizes,
      txn = d.txn, txns = d.txns,
      colStats = d.colStats.map { case (c, perFile) =>
        c -> (base.colStats.getOrElse(c, Map.empty)
          .view.filterKeys(surviving).toMap ++ perFile)
      },
      ts = d.ts, deltaDepth = base.deltaDepth + 1,
      seqs = base.seqs.view.filterKeys(surviving).toMap ++ d.seqs,
      deletes = d.deletes, constraints = d.constraints,
      rows = base.rows.view.filterKeys(surviving).toMap ++ d.rows,
      ndv = d.ndv.map { case (c, perFile) =>
        c -> (base.ndv.getOrElse(c, Map.empty)
          .view.filterKeys(surviving).toMap ++ perFile)
      })
  }

  /** The delta encoding of `m` against its resolved parent `p`, iff it
    * reproduces `m` EXACTLY on resolution — a manifest that (say)
    * dropped a surviving file's stats entry has no exact delta and is
    * stored full. Returns None when not exactly representable. */
  private def deltaOf(m: Manifest, p: Manifest): Option[Delta] = {
    val pSet = p.files.toSet
    val mSet = m.files.toSet
    val d = Delta(m.version, m.parent, m.action, p.version,
      adds = m.files.filterNot(pSet),
      removes = p.files.filterNot(mSet),
      stats = m.stats.filter { case (k, v) => !p.stats.get(k).contains(v) },
      statsKey = m.statsKey,
      partitions = m.partitions.filter { case (k, v) =>
        !p.partitions.get(k).contains(v) },
      columns = m.columns,
      sizes = m.sizes.filter { case (k, v) => !p.sizes.get(k).contains(v) },
      txn = m.txn, txns = m.txns,
      colStats = m.colStats.map { case (c, perFile) =>
        c -> perFile.filter { case (k, v) =>
          !p.colStats.getOrElse(c, Map.empty).get(k).contains(v) }
      },
      ts = m.ts,
      seqs = m.seqs.filter { case (k, v) => !p.seqs.get(k).contains(v) },
      deletes = m.deletes, constraints = m.constraints,
      rows = m.rows.filter { case (k, v) => !p.rows.get(k).contains(v) },
      ndv = m.ndv.map { case (c, perFile) =>
        c -> perFile.filter { case (k, v) =>
          !p.ndv.getOrElse(c, Map.empty).get(k).contains(v) }
      })
    if (applyDelta(p, d).copy(deltaDepth = 0) == m.copy(deltaDepth = 0))
      Some(d)
    else None
  }

  /** Per-app watermark maps merged by MAX — the fold every commit
    * applies to carry `txns` forward. */
  def mergeTxns(maps: Map[String, Long]*): Map[String, Long] =
    maps.flatten.groupMapReduce(_._1)(_._2)(math.max)

  /** The highest batch id writer `app` has committed — the Delta
    * `txn` idea: a streaming sink stamps (appId, batchId) on each
    * commit and skips any batch at or below this watermark on replay,
    * which is what makes its writes exactly-once across
    * checkpoint-recovered restarts. Every commit FOLDS the
    * accumulated per-app watermarks into its manifest (`txns`), so on
    * a folded chain this is ONE manifest read ([[lastTxnAt]] against
    * a tip already in hand is zero reads) — the fast path that
    * matters because the replay check runs inside every commit
    * attempt. A chain whose tip carries no fold (manifests written
    * directly against the primitive, or pre-fold) falls back to the
    * O(retained versions) scan of `txn` stamps; [[expire]] retains
    * each app's high-water stamped manifest, so that fallback stays
    * correct under retention. */
  def lastTxn(table: Path, app: String): Option[Long] =
    latest(table) match {
      case None => None
      case Some(v) =>
        // The fold (`txns` + own `txn` stamp) is a whole-table field
        // both storage forms carry VERBATIM — answer from the raw tip
        // file in one read, no delta-chain resolution.
        import scala.jdk.CollectionConverters._
        val n = rawNode(table, v)
        val txns = Option(n.get("txns")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap)
          .getOrElse(Map.empty[String, Long])
        val own = Option(n.get("txn")).map(t =>
          (t.get("app").asText, t.get("batch").asLong))
        val folded = mergeTxns(txns, own.toList.toMap)
        folded.get(app).orElse(txnStampScan(table, app))
    }

  /** The O(retained versions) scan of raw `txn` stamps — the fallback
    * when a fold has no entry for `app` (see [[lastTxnAt]]). */
  private def txnStampScan(table: Path, app: String): Option[Long] = {
    val ids = versions(table).flatMap(v =>
      rawTxn(table, v).collect { case (a, b) if a == app => b })
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** [[lastTxn]] evaluated against a tip manifest already in hand. */
  def lastTxnAt(table: Path, t: Manifest, app: String): Option[Long] = {
    val folded = mergeTxns(t.txns, t.txn.toList.toMap)
    folded.get(app).orElse {
      // The fold may be PARTIAL on an upgraded table: older manifests
      // stamped `txn` before the fold existed, then one new commit
      // folded only its immediate parent — so an app MISSING from a
      // non-empty fold is not proof it never committed. Fall back to
      // the O(retained versions) stamp scan whenever the fold has no
      // entry for `app`; [[expire]] keeps each app's high-water
      // stamped manifest, so the scan stays correct under retention,
      // and the app's next commit stamps it into the fold, so the
      // scan runs once per (app, table) lifetime — not per batch.
      txnStampScan(table, app)
    }
  }

  /** Byte sizes for `files`, inheriting `prior` (a parent manifest's
    * sizes) and stat-ing only the rest — one local metadata call per
    * NEW file, at commit time, which is what lets readers plan splits
    * with ZERO filesystem calls ([[graft.sources.ManifestFileIndex]]).
    * Files not on disk (unit-test placeholders) simply get no entry. */
  def fileSizes(table: Path, files: Seq[String],
      prior: Map[String, Long] = Map.empty): Map[String, Long] =
    files.flatMap { f =>
      prior.get(f).map(f -> _).orElse {
        val p = table.resolve(f)
        if (Files.isRegularFile(p)) Some(f -> Files.size(p)) else None
      }
    }.toMap

  /** Diagnostic counter of driver-side parquet FOOTER opens paid by
    * [[fileRows]] — the fallback cost the writer-commit-message path
    * ([[graft.sources.StagedWrite]]) exists to avoid. Spec-asserted
    * ZERO on the connector write paths; non-zero only for files the
    * engine didn't write (raw-commit unit fixtures). */
  val footerReads = new java.util.concurrent.atomic.AtomicLong()

  /** Per-file ROW COUNTS for `files`, inheriting `prior` and reading
    * only the rest's parquet FOOTERS — the numRows leg of the
    * [[fileSizes]] discipline (Delta's add-file numRecords / Iceberg's
    * manifest record_count), as a FALLBACK: every engine write path
    * captures counts from its own write tasks ([[graft.sources
    * .StagedWrite]] / the SupportsDelta commit messages) and commits
    * them in `Manifest.rows`, so this footer read only ever fires for
    * files the engine didn't write (externally staged fixtures) —
    * never O(new files) serial driver I/O on the hot commit path.
    * Files not on disk or without a readable footer (unit-test
    * placeholders) get no entry (= unknown — a scan over them reports
    * no rowCount). */
  def fileRows(table: Path, files: Seq[String],
      prior: Map[String, Long] = Map.empty): Map[String, Long] =
    files.flatMap { f =>
      prior.get(f).map(f -> _).orElse {
        val p = table.resolve(f)
        if (!Files.isRegularFile(p)) None
        else
          try {
            footerReads.incrementAndGet()
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(p.toUri),
                new org.apache.hadoop.conf.Configuration())
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try Some(f -> r.getRecordCount) finally r.close()
          } catch { case scala.util.control.NonFatal(_) => None }
      }
    }.toMap

  /** Every Nth manifest in a delta chain is a FULL snapshot (the
    * Delta-log checkpoint cadence): resolution depth — and therefore
    * the manifest reads a cold [[tip]] pays — is bounded by this, while
    * commits in between stay O(changed files). */
  val DeltaCheckpointInterval: Int = 10

  /** One optimistic commit attempt of `m.version = parent + 1`.
    * Returns the new version, or None iff another committer won that
    * version (the put-if-absent failure) — any other I/O failure
    * propagates. What carries over from the parent (`txns`, `seqs`,
    * `rows`, `ndv`, `constraints`) and the delta encoding come from
    * the parent AS STORED, re-read here: a caller's in-memory parent
    * may differ from it (re-keyed stats, say), and a delta diffed
    * against that would resolve to another manifest than `m0`.
    *
    * STORAGE FORM is chosen here, invisibly to callers: when the
    * parent resolves, its chain depth is under `checkpointEvery`, and
    * the change set is strictly smaller than the full file list, the
    * manifest lands as a DELTA (O(changed files) bytes); otherwise —
    * first commit, deep chain, wholesale rewrite, or a manifest no
    * exact delta reproduces — it lands full. */
  def tryCommitManifest(table: Path, m0: Manifest,
      checkpointEvery: Int = DeltaCheckpointInterval): Option[Long] = {
    // Fold the parent's accumulated per-app watermarks (plus its own
    // stamp) into this manifest's `txns` — maintained at the
    // PRIMITIVE so every committed chain carries the fold and
    // [[lastTxn]] stays O(tip) no matter which commit path built it.
    val parentM =
      if (m0.parent >= 0L &&
          Files.isRegularFile(manifestPath(table, m0.parent)))
        Some(readManifest(table, m0.parent))
      else None
    val mTxns = parentM match {
      case Some(p) =>
        m0.copy(txns = mergeTxns(p.txns, p.txn.toList.toMap,
          m0.txns, m0.txn.toList.toMap))
      case None if m0.txn.isDefined || m0.txns.nonEmpty =>
        m0.copy(txns = mergeTxns(m0.txns, m0.txn.toList.toMap))
      case None => m0
    }
    // Fold per-file sequence numbers, also at the primitive: survivors
    // inherit the parent's (caller-provided entries win — restore
    // reinstates old ones), files never seen before are stamped with
    // THIS commit's version. Sequences are what scope merge-on-read
    // equality deletes ([[DeleteFile]]): a delete applies only to
    // files whose seq is strictly below its own.
    val mSeqs0 = {
      val inherited = parentM.map(_.seqs).getOrElse(Map.empty[String, Long])
        .view.filterKeys(mTxns.files.toSet).toMap
      val known = inherited ++ mTxns.seqs
      mTxns.copy(seqs = known ++ mTxns.files.filterNot(known.contains)
        .map(_ -> mTxns.version))
    }
    // Per-file ROW COUNTS fold, same discipline as seqs: surviving
    // files inherit the parent's entries, caller-provided entries win
    // (they come from the write tasks themselves — [[graft.sources
    // .StagedWrite]]). File names are unique per staged attempt and
    // bytes immutable, so an inherited count can never go stale; a
    // file nobody counted stays absent (= unknown — the connector
    // then reports no rowCount rather than a wrong one).
    val mSeqs1 = mSeqs0.copy(rows =
      (parentM.map(_.rows).getOrElse(Map.empty[String, Long]) ++
        mSeqs0.rows).view.filterKeys(mSeqs0.files.toSet).toMap)
    // NDV-sketch fold, same discipline: the declared column set is
    // the UNION of parent's and caller's (a declaration persists
    // until its column is dropped: a manifest declaring columns keeps
    // sketches of those alone); survivors inherit entries, caller
    // entries win; a new file nobody sketched stays absent (= the
    // column's NDV goes unknown until re-covered — never wrong).
    val mSeqs = {
      val pNdv = parentM.map(_.ndv)
        .getOrElse(Map.empty[String, Map[String, Seq[Long]]])
      if (pNdv.isEmpty && mSeqs1.ndv.isEmpty) mSeqs1
      else {
        val fSet = mSeqs1.files.toSet
        val live = mSeqs1.columns.map(_.map(_.physical).toSet)
        mSeqs1.copy(ndv = (pNdv.keySet ++ mSeqs1.ndv.keySet)
          .filter(c => live.forall(_(c))).toSeq.sorted
          .map { c =>
            c -> (pNdv.getOrElse(c, Map.empty) ++
              mSeqs1.ndv.getOrElse(c, Map.empty))
              .view.filterKeys(fSet).toMap
          }.toMap)
      }
    }
    // CHECK constraints are table metadata every commit carries
    // implicitly (the Delta metaData-replay discipline): a commit with
    // none declared inherits the parent's. Only the actions that MEAN
    // to change the set — constraint/drop-constraint/restore — take
    // their (possibly empty) map verbatim.
    val m =
      if (Set("constraint", "drop-constraint", "restore")(mSeqs.action) ||
          mSeqs.constraints.nonEmpty) mSeqs
      else parentM.map(p => mSeqs.copy(constraints = p.constraints))
        .getOrElse(mSeqs)
    // SAFETY: dropping a pending equality delete is only legal when no
    // surviving file is still targeted by it (file rewritten/removed —
    // compact and materializeDeletes; or every file replaced —
    // overwrite). A commit path that forgot to carry `deletes` forward
    // while keeping old files would silently RESURRECT deleted rows —
    // refuse it loudly here, at the primitive, whatever path built it.
    // EXEMPT: `restore`, whose entire point is to reinstate an old
    // snapshot wholesale — rolling back past a delete intentionally
    // brings its rows back.
    if (m.action != "restore") parentM.foreach { p =>
      val dropped = p.deletes.filterNot(m.deletes.toSet)
      if (dropped.nonEmpty) {
        // Equality deletes target by sequence; position deletes target
        // exactly the files they name (read here without Spark — the
        // guard runs inside the commit primitive, and the delete file
        // is O(pending deletes) small by construction).
        val (droppedPos, droppedEq) = dropped.partition(_.kind == "pos")
        val posTargets: Set[String] =
          droppedPos.flatMap(d => posDeleteNamedFiles(table, d)).toSet
        val resurrected = m.files.filter { f =>
          p.seqs.get(f).exists(s => droppedEq.exists(_.seq > s)) ||
            posTargets(f)
        }
        require(resurrected.isEmpty,
          s"commit drops pending delete file(s) still applying to " +
            s"${resurrected.take(3).mkString(", ")} — carry the parent's " +
            "deletes forward or rewrite those files first")
      }
    }
    // COMMIT-SHAPE INVARIANT for the change feed: a commit that ADDS
    // delete files while also changing data files has no
    // O(changed-files) row-diff classification, so [[changes]] could
    // never feed it to a CDF consumer. Enforce the legal shapes HERE,
    // at the primitive — whatever path built the manifest — so the
    // feed can never strand mid-stream on a malformed commit:
    //  - "update-mor" (SupportsDelta UPDATE/MERGE, [[GraftTables]]
    //    updateMor): may ADD data files and POSITION deletes in one
    //    commit; never removes files, never adds equality deletes.
    //  - "restore": reinstates an old snapshot wholesale — may bring
    //    back both files and delete entries; [[changes]] classifies
    //    it with an exact visible-row diff.
    //  - anything else adding delete files must be a pure delete
    //    commit: data file set untouched.
    // A table's FIRST commit (parent sentinel < 0: create, shallow
    // clone) is exempt — there is no pre-image to diff, and the CDF's
    // first batch is snapshot-as-inserts by construction.
    if (m.action != "restore")
      parentM.filter(_.version >= 0L).foreach { p =>
      val newDel = m.deletes.filterNot(p.deletes.toSet)
      if (newDel.nonEmpty) {
        val pSet = p.files.toSet
        val added = m.files.filterNot(pSet)
        val removed = p.files.filterNot(m.files.toSet)
        if (m.action == "update-mor")
          require(removed.isEmpty && newDel.forall(_.kind == "pos"),
            s"malformed update-mor commit on $table: it must only " +
              "append data files and position deletes (found " +
              s"${removed.size} removed file(s), " +
              s"${newDel.count(_.kind != "pos")} non-position delete(s))")
        else {
          require(added.isEmpty && removed.isEmpty,
            s"commit on $table adds delete file(s) AND changes data " +
              s"files under action '${m.action}' — no change-feed " +
              "classification exists for that shape; split it into a " +
              "data commit and a delete commit (or use action " +
              "'update-mor' for the delta row-level shape)")
          // ANY number of new equality-delete files per commit is
          // legal (the parallel SupportsDelta writer shape: one eq
          // file per task), on ANY mix of key columns (r19 — the
          // former single-key refusal is lifted): [[changes]] bands
          // data files by applicable-delete set and, within a band,
          // marks matches per key column with distinct-keyed outer
          // joins OR'd in one filter — a row named by deletes on two
          // different columns emits exactly once.
        }
      }
    }
    // Stamp the commit wall-clock for timestamp time travel — unless
    // the writer supplied its own stamp (tests pin deterministic
    // clocks this way).
    val stamped =
      if (m.ts != 0L) m
      else m.copy(ts = System.currentTimeMillis())
    val dir = logDir(table)
    Files.createDirectories(dir)
    val body = parentM
      .filter(p => p.deltaDepth + 1 < checkpointEvery)
      .flatMap(p => deltaOf(stamped, p)
        .filter(d => d.adds.size + d.removes.size < stamped.files.size)
        .map(renderDelta))
      .getOrElse(render(stamped))
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val target = manifestPath(table, m.version)
    val tmp = Files.createTempFile(dir, ".tmp-", ".json")
    try {
      Files.write(tmp, bytes)
      try {
        Files.createLink(target, tmp)
        Some(m.version)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => None
        case _: UnsupportedOperationException =>
          // Filesystems without hard links (overlay/network mounts):
          // O_CREAT|O_EXCL keeps first-writer-wins; fsync before
          // returning so the commit is durable. Weaker than the link
          // path only in that a concurrent reader may see the file
          // before its content lands — documented in the object doc.
          try {
            val ch = FileChannel.open(target,
              StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
            try { ch.write(ByteBuffer.wrap(bytes)); ch.force(true) }
            finally ch.close()
            Some(m.version)
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => None
          }
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** One optimistic commit attempt of `parent + 1` (file-list/stats
    * convenience over [[tryCommitManifest]]). */
  def tryCommit(
      table: Path, parent: Long, action: String,
      files: Seq[String],
      stats: Map[String, (Long, Long)] = Map.empty,
      statsKey: Option[String] = None,
      partitions: Map[String, Map[String, String]] = Map.empty,
      columns: Option[Seq[ColumnDef]] = None): Option[Long] =
    tryCommitManifest(table, Manifest(parent + 1, parent, action, files,
      stats, statsKey, partitions, columns))

  /** The bound on attempts of the log's commit loop, and on the
    * plans of a rewrite that replans after a non-commuting race. */
  val MaxCommitAttempts: Int = 10

  /** The output file size a copy-on-write rewrite fans out to
    * ([[rewriteFanOut]]) unless its caller names another. */
  val TargetFileBytes: Long = 128L << 20

  /** The tip of a table not yet created: no files, nothing declared. */
  val PreCreate: Manifest = Manifest(-1L, -2L, "none", Seq.empty)

  /** The tip manifest, or the empty pre-create sentinel. */
  def tip(table: Path): Manifest = latest(table)
    .map(readManifest(table, _))
    .getOrElse(PreCreate)

  /** Thrown by a commit's build function (via
    * [[abortCommit]]) to abandon the commit as a NO-OP — the
    * idempotent-replay path: a streaming sink that discovers, on the
    * tip it is about to commit against, that its (appId, batchId) has
    * already landed must abort INSIDE the attempt, because a check
    * done before entering the retry loop races a concurrent instance
    * of the same query (the zombie-driver scenario). */
  final class CommitAborted extends RuntimeException(
    "commit aborted as a no-op") with scala.util.control.NoStackTrace

  /** See [[CommitAborted]]. */
  def abortCommit(): Nothing = throw new CommitAborted

  /** Commit with rebase-and-retry, full-manifest form: `build`
    * receives the CURRENT tip's manifest (file list empty at version
    * -1) and returns the next manifest's CONTENT (its version/parent
    * are overwritten to tip+1/tip) — called again after every lost
    * race so the writer rebases on what actually committed. `build`
    * may call [[abortCommit]] to finish as a no-op: the returned
    * `Committed` then names the tip it aborted against. The
    * nothing-staged [[graft.sources.StagedWrite.Blind]] case of the
    * log's one loop ([[graft.sources.StagedWrite.commit]]); it needs
    * no SparkSession. */
  def commitRetryWith(
      table: Path, build: Manifest => Manifest): Committed = {
    // Footer row counts survive commit retries: a rebase re-reads the
    // tip, not the new files' footers (files are immutable once
    // staged, so a cached count can never go stale).
    val rowsCache = scala.collection.mutable.Map.empty[String, Long]
    StagedWrite.commit(SparkSession.active, table, tip(table),
      StagedWrite.Staged.empty, StagedWrite.Blind, "blind",
      addsRows = false) { (t, _) =>
      val next = build(t)
      // Every commit leaves a fully size-bearing manifest: surviving
      // files inherit the tip's entry, new ones cost one local stat
      // (byte size) plus one footer read (row count) — so READERS
      // never touch the filesystem to plan, and scans report exact
      // rowCount/column bounds to the optimizer from metadata alone.
      val rows = fileRows(table, next.files,
        next.rows ++ t.rows ++ rowsCache)
      rowsCache ++= rows
      next.copy(
        sizes = fileSizes(table, next.files, next.sizes ++ t.sizes),
        rows = rows)
    }
  }

  /** Commit with rebase-and-retry: `filesFor` receives the CURRENT
    * tip's manifest and returns the full file set of the new version.
    * Returns the committed version and how many conflicts were
    * detected. `statsKey` declares the column `statsFor`'s stats
    * cover; left None, the tip's declaration carries forward — and so
    * do the TIP'S STATS for every surviving file, so a generic commit
    * never strips the chain of the metadata it already earned. New
    * files `statsFor` does not cover simply get no entry (= unknown,
    * never pruned — the [[Manifest]] stats convention). */
  def commitRetry(
      table: Path, action: String,
      filesFor: Manifest => Seq[String],
      statsFor: Manifest => Map[String, (Long, Long)] =
        _ => Map.empty,
      statsKey: Option[String] = None): Committed =
    commitRetryWith(table, t => {
      val fs = filesFor(t)
      val surviving = fs.toSet
      Manifest(0L, 0L, action, fs,
        t.stats.view.filterKeys(surviving).toMap ++ statsFor(t),
        statsKey.orElse(t.statsKey), columns = t.columns,
        colStats = t.colStats.view.mapValues(
          _.view.filterKeys(surviving).toMap).toMap,
        // Pending merge-on-read deletes ride along like stats — a
        // generic commit must never be the thing that drops them (the
        // tryCommitManifest guard would refuse it anyway).
        deletes = t.deletes)
    })

  /** Map an `input_file_name()` URI back to its table-relative
    * manifest path by RELATIVIZING the decoded path against the table
    * root — full-path attribution, so two files sharing a basename in
    * different subdirectories (`a/part-0.parquet`, `b/part-0.parquet`
    * — any partitioned layout) each land on their own manifest entry.
    * Falls back to a basename match only when the URI does not decode
    * or does not live under the root (never expected for files a
    * commit just staged). */
  private[graft] def attributeFile(
      table: Path, uri: String, files: Seq[String]): String = {
    val decoded =
      try {
        val u = new java.net.URI(uri)
        Option(u.getPath).filter(_.nonEmpty).getOrElse(uri)
      } catch { case _: java.net.URISyntaxException => uri }
    val root =
      table.toAbsolutePath.normalize.toString.stripSuffix("/") + "/"
    val exact =
      if (decoded.startsWith(root)) {
        val rel = decoded.stripPrefix(root)
        files.find(_ == rel)
      } else None
    exact
      .orElse(files.find(_.split('/').last == uri.split('/').last))
      .getOrElse(uri.split('/').last)
  }

  /** Per-file [min, max] of `key` for the given (relative) files — the
    * stats a commit carries so later MERGEs plan from metadata. One
    * key-column scan of exactly those files. A file whose key column
    * is entirely NULL yields the EXPLICIT [[EmptyRange]] entry — its
    * emptiness is a known fact (NULL keys never equi-join, so pruning
    * it is correct), and under the [[Manifest]] stats convention only
    * an explicit entry may prune. A zero-row file produces no group
    * at all and therefore no entry (= unknown, never pruned). */
  def keyStats(
      spark: SparkSession, table: Path, files: Seq[String],
      key: String): Map[String, (Long, Long)] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) Map.empty
    else graft.util.ParquetSchema.read(spark,
        files.map(f => table.resolve(f).toString))
      .groupBy(input_file_name().as("f"))
      .agg(min(col(key)).as("kmin"), max(col(key)).as("kmax"))
      .collect()
      .map { r =>
        val rel = attributeFile(table, r.getString(0), files)
        if (r.isNullAt(1) || r.isNullAt(2)) rel -> EmptyRange
        else rel -> (r.getAs[Number](1).longValue,
          r.getAs[Number](2).longValue)
      }.toMap
  }

  /** Per-file ROW COUNTS for the given (relative) files, in ONE scan
    * — the batched replacement for per-file `isEmpty` probes on
    * commit paths that must drop empty outputs. A zero-row file
    * produces no group and therefore no entry: `counts.getOrElse(f,
    * 0L) > 0` is the emptiness test. */
  def rowCounts(spark: SparkSession, table: Path,
      files: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) Map.empty
    else graft.util.ParquetSchema.read(spark,
        files.map(f => table.resolve(f).toString))
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => attributeFile(table, r.getString(0), files) -> r.getLong(1))
      .toMap
  }

  /** Per-file [min, max] for EVERY column in `cols` — the manifest's
    * multi-column bounds (`Manifest.colStats`: the Iceberg per-column
    * manifest bounds / Delta add-file stats idea, generalized beyond
    * the single merge `statsKey`), computed in ONE scan of exactly
    * those files regardless of how many columns ride along. Same
    * entry conventions as [[keyStats]]: an all-NULL column in a file
    * gets the explicit [[EmptyRange]]; a zero-row file gets no entry
    * (unknown, never pruned).
    *
    * INTEGRAL CONTRACT, enforced loudly: declared columns must exist
    * in the files' schema and be integral (byte/short/int/long). A
    * blind BIGINT cast of anything else is a CORRECTNESS hazard, not
    * a degradation — a TIMESTAMP casts to epoch SECONDS while pushed
    * Catalyst literals compare in micros, and a cast that nulls out
    * non-NULL data would write the [[EmptyRange]] entry, pruning
    * every file; the row-level CoW scan plans its rewrite set from
    * these bounds, so a wrong prune silently loses rows. Refusing at
    * stats-computation time keeps a bad declaration from ever
    * reaching a manifest. */
  def colStatsFor(
      spark: SparkSession, table: Path, files: Seq[String],
      cols: Seq[String]): Map[String, Map[String, (Long, Long)]] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty || cols.isEmpty) return cols.map(_ -> Map.empty[String, (Long, Long)]).toMap
    val df = graft.util.ParquetSchema.read(spark,
      files.map(f => table.resolve(f).toString))
    cols.foreach(graft.sources.WriterStats.requireIntegral(df.schema,
      "colStats column", _))
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("bigint")).as(s"mn_$c"),
      max(col(c).cast("bigint")).as(s"mx_$c")))
    val rows = df
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    cols.zipWithIndex.map { case (c, i) =>
      c -> rows.map { r =>
        val rel = attributeFile(table, r.getString(0), files)
        val (mnI, mxI) = (1 + 2 * i, 2 + 2 * i)
        if (r.isNullAt(mnI) || r.isNullAt(mxI)) rel -> EmptyRange
        else rel -> (r.getLong(mnI), r.getLong(mxI))
      }.toMap
    }.toMap
  }

  /** KMV sketch size per (column, file): 32 sign-flipped hash values
    * ≈ 260 manifest bytes per entry, relative NDV error ~1/√(k-2) ≈
    * 18% — cardinality-estimation grade, and EXACT below k distinct
    * values (the dimension-key case join reorder actually needs). */
  val NdvSketchK: Int = 32

  /** `spark.graft.ndv.auto` — default ON: engine write paths sketch
    * every string/integral column of the files they stage, so new
    * tables reach the cost-based optimizer with string-key NDV
    * without anyone knowing to run `CALL graft.declare_ndv`. Set to
    * `false` to restrict sketching to explicitly declared columns. */
  val NdvAutoConfKey = "spark.graft.ndv.auto"

  private[graft] def ndvAuto(spark: SparkSession): Boolean =
    spark.conf.getOption(NdvAutoConfKey).forall { v =>
      // Parse explicitly (ADVICE r20): this is evaluated inside every
      // engine write path, so a config typo in an optional tuning
      // knob must not crash commits at write time.
      v.trim.toLowerCase(java.util.Locale.ROOT) match {
        case "true" => true
        case "false" => false
        case other => sys.error(
          s"$NdvAutoConfKey must be true or false, got `$other`")
      }
    }

  /** Auto-sketch eligibility: the types a join or group key
    * plausibly has AND whose xxhash64 is cheap per row — strings
    * (the case bounds cannot serve at all) and fixed-width
    * integrals. Floats/decimals/temporals/complex types stay
    * declaration-only. */
  private[graft] def ndvAutoEligible(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => true
    case _ => false
  }

  /** Per-file KMV distinct sketches for `cols` over `files`, in ONE
    * scan however many columns ride along (the [[colStatsFor]]
    * discipline). Each entry is `nullCount +: sketch`: element 0 is
    * the file's exact NULL count for the column (the CBO's
    * count-stats contract — Spark's aggregate/join estimation only
    * trusts a distinct count accompanied by a null count), and the
    * tail is the k smallest distinct SIGN-FLIPPED xxhash64 values of
    * the column, sorted ascending — flipping makes signed order equal
    * unsigned hash order, so sketches merge by union-take-k and
    * [[ndvEstimate]] reads the kth value as a fraction of the hash
    * space. Works for ANY atomic column type (this is what carries
    * STRING key cardinality, which min/max bounds cannot). NULLs are
    * excluded from the sketch (SQL distinct-count semantics). */
  def ndvSketchFor(
      spark: SparkSession, table: Path, files: Seq[String],
      cols0: Seq[String], auto: Boolean = false)
      : Map[String, Map[String, Seq[Long]]] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty || (cols0.isEmpty && !(auto && ndvAuto(spark))))
      return cols0.map(_ -> Map.empty[String, Seq[Long]]).toMap
    val df = graft.util.ParquetSchema.read(spark,
      files.map(f => table.resolve(f).toString))
    cols0.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"ndv column `$c` does not exist in the table schema " +
          df.schema.fieldNames.mkString("[", ", ", "]"))
    }
    // Auto mode (write paths): sketch every join/grouping-plausible
    // column — strings (which min/max bounds can never size for the
    // CBO) and integrals — in ADDITION to the declared set, so a
    // table nobody ran `declare_ndv` on still reaches the optimizer
    // with string-key cardinality (r19 verdict task 2: opt-in
    // declaration left every undeclared table CBO-blind). The sketch
    // rides this same one-scan pass; marginal cost is O(k) per
    // column per file. `spark.graft.ndv.auto=false` opts out;
    // `declare_ndv` remains the explicit override either way.
    val cols =
      if (!auto || !ndvAuto(spark)) cols0
      else (cols0 ++ df.schema.fields.collect {
        case f if ndvAutoEligible(f.dataType) => f.name
      }).distinct.sorted
    if (cols.isEmpty)
      return Map.empty[String, Map[String, Seq[Long]]]
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
      graft.functions.BottomKLongs.asColumn(
        when(col(c).isNotNull,
          xxhash64(col(c)).bitwiseXOR(lit(Long.MinValue))),
        NdvSketchK).as(s"kmv_$c")))
    val rows = df
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    cols.zipWithIndex.map { case (c, i) =>
      c -> rows.map { r =>
        attributeFile(table, r.getString(0), files) ->
          (r.getLong(1 + 2 * i) +: r.getSeq[Long](2 + 2 * i).toSeq)
      }.toMap
    }.toMap
  }

  /** The three per-file stats families a commit carries for the files
    * it writes — key [min,max] bounds, declared multi-column bounds,
    * and NDV sketches — as one value, so commit paths can compute all
    * of them in ONE scan ([[commitStatsFor]]) instead of three. */
  case class CommitStats(
      key: Map[String, (Long, Long)],
      colStats: Map[String, Map[String, (Long, Long)]],
      ndv: Map[String, Map[String, Seq[Long]]])

  object CommitStats {
    val empty: CommitStats = CommitStats(Map.empty, Map.empty, Map.empty)
  }

  /** [[keyStats]] + [[colStatsFor]] + [[ndvSketchFor]] fused into ONE
    * `groupBy(input_file_name())` pass over exactly `files` (r21
    * optimization, guide §1.2: every commit used to launch three
    * back-to-back jobs that each re-read the files it had just
    * written — the scans differ only in their aggregate list, which
    * composes). Aggregate expressions, type checks, entry conventions
    * (EmptyRange for all-NULL, no entry for zero-row files), and the
    * auto-NDV column expansion are the three primitives' own, applied
    * verbatim, so every manifest this writes is byte-identical to the
    * three-scan form (CommitStatsSpec pins that equivalence). The
    * primitives stay public for single-family callers (declareNdv,
    * statsFor bootstraps). */
  def commitStatsFor(
      spark: SparkSession, table: Path, files: Seq[String],
      statsKey: Option[String],
      colStatCols: Seq[String],
      ndvCols0: Seq[String], ndvAutoMode: Boolean = true): CommitStats = {
    import org.apache.spark.sql.functions._
    val wantNdv =
      ndvCols0.nonEmpty || (ndvAutoMode && ndvAuto(spark))
    if (files.isEmpty)
      return CommitStats(Map.empty,
        colStatCols.map(_ -> Map.empty[String, (Long, Long)]).toMap,
        ndvCols0.map(_ -> Map.empty[String, Seq[Long]]).toMap)
    if (statsKey.isEmpty && colStatCols.isEmpty && !wantNdv)
      return CommitStats.empty
    val df = graft.util.ParquetSchema.read(spark,
      files.map(f => table.resolve(f).toString))
    // colStatsFor's integral contract: a non-integral declaration
    // refuses here, before it can reach a manifest.
    colStatCols.foreach(graft.sources.WriterStats.requireIntegral(
      df.schema, "colStats column", _))
    ndvCols0.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"ndv column `$c` does not exist in the table schema " +
          df.schema.fieldNames.mkString("[", ", ", "]"))
    }
    // ndvSketchFor's auto expansion, verbatim: declared ++ every
    // join/grouping-plausible (string/integral) schema column.
    val ndvCols =
      if (!ndvAutoMode || !ndvAuto(spark)) ndvCols0
      else (ndvCols0 ++ df.schema.fields.collect {
        case f if ndvAutoEligible(f.dataType) => f.name
      }).distinct.sorted
    // One aggregate list, positionally decoded: key bounds first,
    // then per-column bounds, then per-column (nullCount, sketch).
    val keyAggs = statsKey.toSeq.flatMap(k => Seq(
      min(col(k)).as("k_mn"), max(col(k)).as("k_mx")))
    val colAggs = colStatCols.flatMap(c => Seq(
      min(col(c).cast("bigint")).as(s"mn_$c"),
      max(col(c).cast("bigint")).as(s"mx_$c")))
    val ndvAggs = ndvCols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
      graft.functions.BottomKLongs.asColumn(
        when(col(c).isNotNull,
          xxhash64(col(c)).bitwiseXOR(lit(Long.MinValue))),
        NdvSketchK).as(s"kmv_$c")))
    val aggs = keyAggs ++ colAggs ++ ndvAggs
    if (aggs.isEmpty)
      return CommitStats(Map.empty,
        colStatCols.map(_ -> Map.empty[String, (Long, Long)]).toMap,
        Map.empty)
    val rows = df
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val withRel = rows.map(r => attributeFile(table, r.getString(0), files) -> r)
    val keyOff = 1
    val colOff = keyOff + keyAggs.size
    val ndvOff = colOff + colAggs.size
    val key = statsKey.fold(Map.empty[String, (Long, Long)]) { _ =>
      withRel.map { case (rel, r) =>
        if (r.isNullAt(keyOff) || r.isNullAt(keyOff + 1)) rel -> EmptyRange
        else rel -> (r.getLong(keyOff), r.getLong(keyOff + 1))
      }.toMap
    }
    val colStats = colStatCols.zipWithIndex.map { case (c, i) =>
      c -> withRel.map { case (rel, r) =>
        val (mnI, mxI) = (colOff + 2 * i, colOff + 2 * i + 1)
        if (r.isNullAt(mnI) || r.isNullAt(mxI)) rel -> EmptyRange
        else rel -> (r.getLong(mnI), r.getLong(mxI))
      }.toMap
    }.toMap
    val ndv = ndvCols.zipWithIndex.map { case (c, i) =>
      c -> withRel.map { case (rel, r) =>
        rel -> (r.getLong(ndvOff + 2 * i) +:
          r.getSeq[Long](ndvOff + 2 * i + 1).toSeq)
      }.toMap
    }.toMap
    CommitStats(key, colStats, ndv)
  }

  /** Distinct-count estimate from a MERGED sketch (union of per-file
    * sketch tails, distinct, k smallest kept): exact below k; else
    * the standard KMV estimator (k−1)/frac(h_k) with the kth flipped
    * value read as a fraction of the 2^64 hash space. */
  def ndvEstimate(merged: Seq[Long], k: Int = NdvSketchK): Long =
    if (merged.size < k) merged.size.toLong
    else {
      val frac =
        (merged.last.toDouble - Long.MinValue.toDouble) / math.pow(2, 64)
      math.max(merged.size.toLong,
        math.round((k - 1) / math.max(frac, 1e-18)))
    }

  /** Merge per-file entries for the given files into (nullCount,
    * distinctCount) — nulls sum exactly, sketches union-take-k.
    * Defined only when EVERY file carries an entry (partial coverage
    * must not understate either count). */
  def ndvMerged(perFile: Map[String, Seq[Long]],
      files: Seq[String], k: Int = NdvSketchK): Option[(Long, Long)] =
    if (files.isEmpty) Some((0L, 0L))
    else if (!files.forall(f =>
      perFile.get(f).exists(_.nonEmpty))) None
    else Some((
      files.map(perFile(_).head).sum,
      ndvEstimate(
        files.flatMap(perFile(_).tail).distinct.sorted.take(k), k)))

  /** DECLARE KMV distinct sketches for `cols` (commit action "ndv"):
    * sketches are computed for every current file in one scan, and
    * every later commit maintains entries for the files it writes —
    * the declaration rides the manifest like the colStats column
    * set. This is how a STRING join key gets a distinctCount to the
    * cost-based optimizer (join reorder / broadcast estimation),
    * which per-file min/max bounds can never carry. */
  def declareNdv(spark: SparkSession, table: Path,
      cols: Seq[String]): Committed =
    commitRetryWith(table, t => t.copy(
      action = "ndv",
      ndv = t.ndv ++ ndvSketchFor(spark, table, t.files, cols),
      txn = None, ts = 0L))

  /** Hive-style partition values parsed from files' RELATIVE paths
    * (`year=1995/part-0.parquet` → `Map("year" -> "1995")`) — the
    * commit-time, metadata-only derivation that lets layouts written
    * with `partitionBy` carry manifest partition values for
    * Iceberg-style manifest-entry pruning
    * ([[graft.sources.GraftPruning]]). Path segments are UNESCAPED
    * (Spark writes `a:b` as `k=a%3Ab` — comparing the raw segment
    * against a filter literal would silently prune qualifying files),
    * and only values whose canonical re-escape ROUND-TRIPS to the
    * exact segment are stored: a non-canonical rendering (lowercase
    * hex, the `__HIVE_DEFAULT_PARTITION__` null marker) gets no entry
    * and is therefore never pruned — partition pruning is not
    * residual-protected, so ambiguity must degrade to keeping the
    * file. Files with no `k=v` path segments get no entry (never
    * pruned). NOTE: `partitionBy` drops the partition column from the
    * data files; a table meant to be read through the connector
    * should keep the column in the data (write per-partition
    * subdirectories explicitly) so filters on it bind. */
  def partitionValuesFromPaths(
      files: Seq[String]): Map[String, Map[String, String]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def canonical(s: String): Option[String] = {
      val u = ExternalCatalogUtils.unescapePathName(s)
      if (u != ExternalCatalogUtils.DEFAULT_PARTITION_NAME &&
          ExternalCatalogUtils.escapePathName(u) == s) Some(u) else None
    }
    files.map { f =>
      f -> f.split('/').dropRight(1).flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if k.nonEmpty =>
            for { ku <- canonical(k); vu <- canonical(v) } yield ku -> vu
          case _ => None
        }
      }.toMap
    }.filter(_._2.nonEmpty).toMap
  }

  /** Files referenced by ANY of the retained versions — the liveness
    * set vacuum must never touch. */
  def liveFiles(table: Path, retained: Seq[Long]): Set[String] =
    retained.flatMap { v =>
      val m = readManifest(table, v)
      // Equality-delete files are manifest-referenced data too —
      // vacuum must not reclaim them while a retained version needs
      // them to produce correct reads.
      m.files ++ m.deletes.map(_.path)
    }.toSet

  /** Pin one version and read exactly its files through the
    * connector's scan ([[graft.sources.GraftTables.scanFiles]]): its
    * pending merge-on-read deletes applied, its declared columns under
    * their PHYSICAL names, and files skipped by the manifest's stats
    * when a filter on the result pushes down. */
  def readVersion(
      spark: SparkSession, table: Path, version: Long): DataFrame = {
    val m = readManifest(table, version)
    require(m.files.nonEmpty, s"version $version is an empty table")
    GraftTables.scanFiles(spark, table, m, m.files)
  }

  /** MERGE-ON-READ delete — the Iceberg v2 equality-delete-file idea
    * (spec §"Equality delete files"): the deleted key values are
    * written as their own SMALL parquet file and the commit merely
    * references it, so the commit costs O(deleted keys) bytes and
    * rewrites ZERO data files — against copy-on-write's amplification
    * of a whole file per touched row, the difference between a delete
    * and a compaction at 100 TB. Readers apply pending deletes at scan
    * time — every read of a version, the log's own rewrites included,
    * goes through the connector's DSv2 scan
    * ([[graft.sources.GraftTables.scanFiles]]) — sequence-scoped: the
    * delete applies only to files whose [[Manifest.seqs]] entry is
    * strictly below the delete's commit version, so later appends may
    * legitimately re-insert a deleted key. NULL keys never match an
    * equality delete and are ignored. [[materializeDeletes]] /
    * [[compact]] repay the read-time debt. */
  def deleteByKeyMor(spark: SparkSession, table: Path,
      keys: DataFrame, key: String, subdir: String): Committed = {
    import org.apache.spark.sql.functions.col
    graft.sources.WriterStats.requireIntegral(keys.schema,
      "deleteByKeyMor key", key)
    val t0 = tip(table)
    require(t0.version >= 0L,
      s"deleteByKeyMor needs an existing table at $table")
    // The physical column name is immutable across renames — the
    // delete file carries it so scans of any later mapping still hit
    // the raw bytes' column.
    val physKey = t0.columns
      .flatMap(_.find(_.name == key).map(_.physical)).getOrElse(key)
    keys.select(col(key).as(physKey)).where(col(physKey).isNotNull)
      .distinct().coalesce(1)
      .write.parquet(table.resolve(subdir).toString)
    val written = parquetsUnder(table, subdir)
    commitRetryWith(table, t => {
      // Data files not yet sequence-stamped predate this delete —
      // stamp them with the PARENT version so the delete (seq =
      // parent + 1) applies to them.
      val legacy = t.files.filterNot(t.seqs.contains)
        .map(_ -> t.version).toMap
      t.copy(action = "delete-mor",
        seqs = t.seqs ++ legacy,
        deletes = t.deletes ++ written.map(p => DeleteFile(
          p, physKey, t.version + 1, Files.size(table.resolve(p)))),
        txn = None, ts = 0L)
    })
  }

  /** The distinct data files a POSITION delete file names — read
    * WITHOUT Spark (parquet-hadoop row reader, `file_path` column
    * projected), so the commit-time resurrect guard can run inside
    * [[tryCommitManifest]] with no session in scope. O(delete bytes),
    * which is small by the position-delete design point. */
  def posDeleteNamedFiles(table: Path, d: DeleteFile): Set[String] = {
    require(d.kind == "pos", s"not a position delete: $d")
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      "message s { optional binary file_path (UTF8); }")
    val hp = new org.apache.hadoop.fs.Path(table.resolve(d.path).toUri)
    val out = scala.collection.mutable.Set.empty[String]
    val r = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), hp)
      .withConf(conf).build()
    try {
      var g = r.read()
      while (g != null) {
        if (g.getFieldRepetitionCount("file_path") > 0)
          out += g.getString("file_path", 0)
        g = r.read()
      }
    } finally r.close()
    out.toSet
  }

  /** The merged (data file → sorted row ordinals) map of a set of
    * position delete files — the driver-side structure every reader
    * of a pos-pending snapshot plans from. O(pending deleted rows),
    * the same bound the equality path carries for its key arrays. */
  def posDeletePositions(spark: SparkSession, table: Path,
      ds: Seq[DeleteFile]): Map[String, Array[Long]] = {
    import org.apache.spark.sql.functions.col
    if (ds.isEmpty) return Map.empty
    graft.util.ParquetSchema.read(spark,
        ds.map(d => table.resolve(d.path).toString))
      .select(col("file_path"), col("pos").cast("long"))
      .na.drop()
      .collect()
      .groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).distinct.sorted }
  }

  /** Write (`file_path`, `pos`) rows as position-delete parquet under
    * `subdir` and return the table-relative paths. Both fields are
    * written OPTIONAL whatever the input's nullability — the one shape
    * the delta row-level writer also produces, and the one
    * [[posDeleteNamedFiles]]' projection (`optional binary file_path`)
    * reads: a `required` field fails it. */
  private[graft] def writePosDeletes(positions: DataFrame, table: Path,
      subdir: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.KnownNullable
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def optional(c: org.apache.spark.sql.Column) =
      ColumnBridge.column(KnownNullable(ColumnBridge.expression(c)))
    positions
      .select(optional(col("file_path")).as("file_path"),
        optional(col("pos").cast("long")).as("pos"))
      .na.drop().distinct()
      .sortWithinPartitions("file_path", "pos").coalesce(1)
      .write.parquet(table.resolve(subdir).toString)
    parquetsUnder(table, subdir)
  }

  /** MERGE-ON-READ delete by POSITION — the Iceberg v2 position-delete
    * / Delta deletion-vector idea: `positions` carries (`file_path`,
    * `pos`) rows naming exact parquet row ordinals inside existing
    * data files. The commit writes them as a small delete file and
    * merely references it: O(deleted rows) bytes, zero data files
    * rewritten — the shape a predicate DELETE produces on a table
    * with NO key column (where equality deletes cannot express the
    * result). Readers drop the named ordinals at scan time; scoping
    * is by file membership, so positions naming a file the tip does not
    * hold are refused up front (`IllegalArgumentException`), and a
    * concurrent commit that removed a named file throws
    * [[graft.sources.StagedWrite.Conflict]] (the positions would name
    * rows of a file that no longer exists). A concurrent merge-on-read
    * delete commutes: the commit rebases over it. */
  def deleteByPosMor(spark: SparkSession, table: Path,
      positions: DataFrame, subdir: String): Committed = {
    require(positions.columns.toSet == Set("file_path", "pos"),
      s"deleteByPosMor expects (file_path, pos), " +
        s"got ${positions.columns.mkString(",")}")
    val t0 = tip(table)
    require(t0.version >= 0L,
      s"deleteByPosMor needs an existing table at $table")
    val written = writePosDeletes(positions, table, subdir)
    val named = written
      .flatMap(p => posDeleteNamedFiles(table,
        DeleteFile(p, "", 0L, 0L, kind = "pos"))).toSet
    val gone = named.diff(t0.files.toSet)
    require(gone.isEmpty,
      s"deleteByPosMor positions name file(s) no longer at the tip " +
        s"(${gone.take(3).mkString(", ")}) — replan against v${t0.version}")
    // Rebase safety: every named file must stay live — a concurrent
    // CoW rewrite/compact relocated its rows, so the stored ordinals
    // would delete the WRONG rows if carried (the PosDelete rule).
    StagedWrite.commit(spark, table, t0, StagedWrite.Staged.empty,
      StagedWrite.PosDelete(named), "deleteByPosMor",
      addsRows = false) { (t, _) =>
      t.copy(action = "delete-mor",
        deletes = t.deletes ++ written.map(p => DeleteFile(
          p, "", t.version + 1, Files.size(table.resolve(p)),
          kind = "pos")),
        txn = None, ts = 0L)
    }
  }

  /** The manifest of a commit that REPLACES files `replaced` of tip
    * `t` with the staged files `s` — the one builder behind every
    * staged commit: the file-replacing ones ([[mergeCowByKey]],
    * [[compact]], [[compactSmall]], [[materializeDeletes]], the
    * connector's copy-on-write DELETE and row-level rewrite, and
    * `GraftTables.insert`'s overwrite, which replaces `t.files`) and
    * the appending ones, which replace nothing (`insert`'s append,
    * both arms of `GraftTables.createFrom` — the create from
    * [[PreCreate]] — `GraftTables.updateMor` and the delta row-level
    * write). Each commits through the log's one loop,
    * [[graft.sources.StagedWrite.commit]], which hands it the staged
    * files' stats under `t`'s declarations. The file list is
    * `t.files − replaced ++ s.paths`; every per-file map (`stats`,
    * `colStats`, `ndv`, `rows`, `sizes`, `partitions`, `seqs`) is
    * `t`'s entries minus the replaced files' plus the staged files',
    * so survivors keep what they earned and the new tip stays fully
    * covered. Rewrites size their fan-out from `t.sizes`
    * ([[rewriteFanOut]]). Whole-table
    * fields (`statsKey`, `columns`, `constraints`, pending `deletes`)
    * come from `t` — a caller that means otherwise passes a
    * `t.copy(...)` or copies the result. The commit gets a fresh
    * timestamp and no streaming stamp. */
  def replaceFiles(table: Path, t: Manifest, action: String,
      replaced: Set[String], s: StagedWrite.Staged)
      : Manifest = {
    val files = t.files.filterNot(replaced) ++ s.paths
    def swap[V](old: Map[String, V], added: Map[String, V]) =
      (old -- replaced) ++ added
    t.copy(action = action, files = files,
      stats = swap(t.stats, s.stats.key),
      partitions = t.partitions -- replaced,
      sizes = fileSizes(table, files, t.sizes),
      colStats = t.colStats.map { case (c, pf) =>
        c -> swap(pf, s.stats.colStats.getOrElse(c, Map.empty))
      },
      seqs = t.seqs -- replaced,
      rows = swap(t.rows, s.rows),
      ndv = (t.ndv.keySet ++ s.stats.ndv.keySet).map { c =>
        c -> swap(t.ndv.getOrElse(c, Map.empty),
          s.stats.ndv.getOrElse(c, Map.empty))
      }.toMap,
      txn = None, ts = 0L)
  }

  /** A file's byte size from `t`'s manifest, stat-ing it only when the
    * manifest never sized it (legacy or raw-commit manifests). */
  private def sizeOf(table: Path, t: Manifest, f: String): Long =
    t.sizes.getOrElse(f, Files.size(table.resolve(f)))

  /** Output file count for rewriting `files` of `t`:
    * `ceil(their bytes / targetFileBytes)`, at least one. */
  private[graft] def rewriteFanOut(table: Path, t: Manifest,
      files: Iterable[String], targetFileBytes: Long): Int =
    math.max(1L, (files.toSeq.map(sizeOf(table, t, _)).sum +
      targetFileBytes - 1) / targetFileBytes).toInt

  /** Fold every pending equality delete back into the data files:
    * rewrite ONLY the files at least one delete applies to (with the
    * deletes applied during the read), carry the untouched files, and
    * clear the delete list — legal because untouched means no delete
    * targeted them (the [[tryCommitManifest]] guard re-proves it). The
    * merge-on-read debt is repaid at O(affected bytes), not a full
    * compaction. */
  def materializeDeletes(spark: SparkSession, table: Path,
      subdir: String): Committed = {
    val t0 = tip(table)
    if (t0.deletes.isEmpty) return Committed(t0.version, 0)
    // Equality deletes target by sequence; position deletes exactly
    // the files they name.
    val posNamed = t0.deletes.filter(_.kind == "pos")
      .flatMap(d => posDeleteNamedFiles(table, d)).toSet
    val affected = t0.files.filter(f =>
      t0.deletes.exists(d =>
        d.kind != "pos" && t0.seqs.getOrElse(f, -1L) < d.seq) ||
        posNamed(f))
    // Every targeted file already rewritten (e.g. by CoW merges):
    // the list is pure metadata debt, cleared in place by a commit
    // that stages nothing. A rewrite that deleted everything writes
    // nothing, so the tip stays fully stats-covered with no zero-row
    // files to drop.
    val staged =
      if (affected.isEmpty) StagedWrite.Staged.empty
      else StagedWrite.stage(
        GraftTables.scanFiles(spark, table, t0, affected).coalesce(
          rewriteFanOut(table, t0, affected, TargetFileBytes)),
        table, subdir, t0)
    // Rebases over commits that left the affected files alive and
    // added no merge-on-read delete, and drops only the deletes of the
    // version it read: each now applies to no live file.
    StagedWrite.commit(spark, table, t0, staged,
      StagedWrite.Targets(affected.toSet), "materializeDeletes",
      addsRows = false) {
      (t, under) =>
        replaceFiles(table, t, "materialize", affected.toSet, under(t))
          .copy(deletes = t.deletes.filterNot(t0.deletes.toSet))
    }
  }

  /** Key-scoped copy-on-write MERGE as a log commit: `batch` carries
    * the table's columns plus an `op` column (`upsert` / `delete`).
    * Per-file [min, max] stats of `key` pick the affected files, those
    * whose range meets the batch's [min, max]. The stats come from the
    * manifest where the tip declares them (a metadata-only read), and
    * from one bootstrap key-column scan of only the files it holds no
    * entry for. Matched upserts take the source row (provenance, not
    * coalesce: NULL restatement works, the [[SourceSinkQueries.mergeCow]]
    * lesson), tombstones drop, inserts land, and the commit is
    * (tip − affected) ∪ rewritten. A batch whose keys sit beyond every
    * file's range (pure insert) appends one file without reading
    * anything; an EMPTY batch (or one with only NULL keys, which no
    * equi-merge can match) is a no-op returning the current tip. Old
    * files survive for time travel until expiry. `key` must be
    * integral (byte/short/int/long): manifest bounds are BIGINT.
    *
    * A batch whose plan-size estimate is at most Spark's own
    * `spark.sql.autoBroadcastJoinThreshold` is READ ONCE: collected to
    * the driver, it gives the bounds, the CHECK-constraint check and the
    * rewrite, and the rewrite is FILE-ALIGNED ([[fileAligned]], Hudi's
    * copy-on-write upsert): each affected file becomes one output
    * file, staged in one write job with no shuffle, so the output
    * inherits the input files' sizes. A batch key goes to the affected
    * file whose range covers it. A key no file covers goes to the
    * neighbouring affected file (the highest whose min ≤ key, else the
    * lowest) while that file is under `targetFileBytes`, and to one new
    * file next to it otherwise: disjoint ranges stay disjoint, and the
    * tail file that absorbs ever-higher inserts stays bounded. One scan
    * is planned for all affected files; the rest of the driver's work
    * is O(affected files + batch rows). A larger batch keeps the
    * shuffle plan: a min/max aggregate, then a full-outer join of the
    * affected files with the batch, range-partitioned into
    * `ceil(affectedBytes / targetFileBytes)` output files.
    *
    * The merge plans and stages once, then commits through the log's
    * one loop, [[graft.sources.StagedWrite.commit]], under the
    * [[graft.sources.StagedWrite.Merge]] rule with the affected files
    * as its targets: a lost race against a commit that left them alive
    * rebases (a key a concurrent blind append also inserted is then
    * ordered "merge, then append", Delta's WriteSerializable outcome),
    * and only a non-commuting one REPLANS against the new tip — one
    * that rewrote an affected file, added a merge-on-read delete, or
    * (not being a blind `append`) added a file whose key range may
    * reach the batch's, as a concurrent merge inserting the same key
    * does.
    * `onPlanned(attempt)` fires once per commit attempt, after staging
    * and before that attempt commits — the hook deterministic race
    * tests use to interleave a competing committer. */
  def mergeCowByKey(
      spark: SparkSession, table: Path, batch: DataFrame,
      key: String, subdir: String,
      targetFileBytes: Long = TargetFileBytes,
      onPlanned: Int => Unit = _ => ()): Committed = {
    import org.apache.spark.sql.functions._
    graft.sources.WriterStats.requireIntegral(batch.schema,
      "mergeCowByKey key", key)
    val (keyAt, opAt) =
      (batch.schema.fieldIndex(key), batch.schema.fieldIndex("op"))
    // The batch as Spark would broadcast it, read once; None over the
    // threshold.
    val local: Option[Seq[Row]] =
      if (batch.queryExecution.optimizedPlan.stats.sizeInBytes <=
          spark.sessionState.conf.autoBroadcastJoinThreshold)
        Some(batch.collect().toSeq)
      else None
    // The batch's non-NULL keys; over the threshold, only its bounds.
    val keys: Seq[Long] = local match {
      case Some(rows) => rows.filterNot(_.isNullAt(keyAt))
        .map(_.getAs[Number](keyAt).longValue)
      case None =>
        val b = batch.agg(min(col(key)), max(col(key))).head()
        if (b.isNullAt(0) || b.isNullAt(1)) Nil
        else Seq(b.getAs[Number](0).longValue, b.getAs[Number](1).longValue)
    }
    if (keys.isEmpty)
      return Committed(latest(table).getOrElse(
        sys.error(s"mergeCowByKey needs an existing table at $table")), 0)
    val (bmn, bmx) = (keys.min, keys.max)
    // Upserted rows must satisfy the table's CHECK constraints (one
    // pass, before any file is written; tombstones are exempt — they
    // remove rows), re-checked when an attempt lands on a tip with a
    // different constraint set. Carried rows are never re-validated.
    val ups: Option[Seq[Row]] = local.map(_.collect {
      case r if !r.isNullAt(opAt) && r.getString(opAt) != "delete" =>
        Row.fromSeq(r.toSeq.patch(opAt, Nil, 1))
    })
    val upserts = ups.fold(batch.filter(col("op") =!= "delete").drop("op"))(
      rows => spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(batch.schema.filterNot(_.name == "op"))))
    var checkedUnder: Option[Map[String, String]] = None
    def check(t: Manifest): Unit =
      if (!checkedUnder.contains(t.constraints)) {
        checkConstraints(upserts, t.constraints)
        checkedUnder = Some(t.constraints)
      }
    val valueCols = batch.columns.filterNot(c => c == key || c == "op")
    var attempts = 0
    val committed = StagedWrite.replanning { plan =>
      val t0 = tip(table)
      require(t0.version >= 0L,
        s"mergeCowByKey needs an existing table at $table")
      check(t0)
      // Affected-file planning reads the manifest's bounds where the
      // tip DECLARES stats for this key (`statsKey` — set by every
      // merge commit, so one merge heals the chain). An explicit
      // EmptyRange entry means no non-NULL keys (never affected), but
      // a MISSING entry means unknown — a legacy file, or one a
      // generic commit added without stats — and only those files take
      // the bootstrap key-column scan, rather than being silently
      // treated as unaffected, which would insert duplicate keys
      // rather than update them.
      val known =
        if (t0.statsKey.contains(key))
          t0.stats.view.filterKeys(t0.files.toSet).toMap
        else Map.empty[String, (Long, Long)]
      val ranges: Map[String, (Long, Long)] = known ++
        keyStats(spark, table, t0.files.filterNot(known.contains), key)
      val affected = t0.files.filter { f =>
        ranges.get(f).exists { case (kmin, kmax) =>
          kmin <= bmx && kmax >= bmn
        }
      }.toSet
      // The scans apply any PENDING deletes to the affected files
      // before merging — the rewrite's new files get a fresh seq, so
      // those deletes stop applying to them exactly when their effect
      // is baked in. Untouched files keep the delete list (carried by
      // replaceFiles) by seq scoping.
      val out =
        if (affected.isEmpty) upserts.coalesce(1)
        else ups match {
          case Some(rows) => fileAligned(spark, table, t0, ranges,
            affected, keys, rows, upserts, key, targetFileBytes)
          case None =>
            val merged = GraftTables.scanFiles(spark, table, t0,
                affected.toSeq.sorted)
              .as("t")
              .join(batch.as("s"), Seq(key), "full_outer")
              .filter(col("s.op").isNull || col("s.op") =!= "delete")
              .select(col(key) +: valueCols.toSeq.map(c =>
                when(col("s.op").isNotNull, col(s"s.$c"))
                  .otherwise(col(s"t.$c")).as(c)): _*)
            // Rewrite parallelism is proportional to the affected
            // bytes; range partitioning keeps the output files'
            // manifest stats disjoint.
            val nOut = rewriteFanOut(table, t0, affected, targetFileBytes)
            if (nOut <= 1) merged.coalesce(1)
            else merged.repartitionByRange(nOut, col(key))
        }
      // The new files' stats are declared under the merge key. The
      // tip the commit builds on declares it too, and survivors keep
      // their bounds under it: the planned files' (possibly
      // bootstrapped) ranges, and what a tip already declaring the key
      // holds for the rest (a tip declaring another key carries none:
      // unknown, never wrong). So a merge that commits on its planned
      // tip leaves a fully stats-bearing one; files a rebase adopts keep
      // what their tip had.
      val planned = t0.copy(statsKey = Some(key))
      def keyed(t: Manifest): Manifest = t.copy(statsKey = Some(key),
        stats = (t.stats -- t0.files).filter(_ => t.statsKey.contains(key))
          ++ ranges.view.filterKeys(t.files.toSet))
      // A rebase adopts the files of every commit since `t0`. A blind
      // append's rows are ordered after the merge (WriteSerializable);
      // a file any other commit added where the batch's keys may live
      // holds rows this plan never read, so the merge replans to read
      // them (the Merge rule).
      val staged = StagedWrite.stage(out, table,
        if (plan == 0) subdir else s"$subdir-r$plan", planned)
      StagedWrite.commit(spark, table, planned, staged,
        StagedWrite.Merge(affected, key, bmn, bmx), "merge",
        addsRows = false) { (t, under) =>
        check(t)
        onPlanned(attempts)
        attempts += 1
        val declared = keyed(t)
        replaceFiles(table, declared, "merge", affected, under(declared))
      }
    }
    committed.copy(conflicts = attempts - 1)
  }

  /** The file-aligned rewrite of a [[mergeCowByKey]] batch read to the
    * driver (`keys`: its non-NULL keys; `ups`: its upserts, `op`
    * dropped, which `upserts` holds as a local relation): one output
    * partition per affected file, one job, no shuffle. Affected files
    * are ordered by their range's min. An upsert goes to the file whose
    * range covers its key; a key no file covers (NULL sorts below every
    * key) goes to the neighbouring file — the highest whose min ≤ key,
    * else the lowest — while that file is under `targetFileBytes`, and
    * to one new file next to it otherwise. One scan reads every
    * affected file, one file per partition ([[GraftTables.rowsByFile]]),
    * and drops the batch's keys: each file holds only keys inside its
    * range, so this is the merge's match. Each file's partition is then
    * zipped with its upserts, and each new file is a partition of its
    * own. Driver work is one planned scan plus O(affected files + batch
    * rows): a plan per file measured about 30 ms each (4 vCPUs, a
    * C1-only JVM as perfbench runs), and a `union` of one-partition
    * frames can run as ONE task (Spark unions children that share an
    * output partitioning partition by partition). */
  private def fileAligned(spark: SparkSession, table: Path, t0: Manifest,
      ranges: Map[String, (Long, Long)], affected: Set[String],
      keys: Seq[Long], ups: Seq[Row], upserts: DataFrame, key: String,
      targetFileBytes: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Cast, InSet}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftshim.BatchDF
    import org.apache.spark.sql.types.LongType
    import scala.collection.Searching.{Found, InsertionPoint}
    val files = affected.toIndexedSeq.sortBy(f => (ranges(f)._1, f))
    val mins = files.map(ranges(_)._1)
    // The highest range max among files 0..i: ranges may overlap (a
    // compaction packs files that are not neighbours), so a key the
    // file with the highest min ≤ key misses may sit in an earlier one.
    val maxUpTo = files.map(ranges(_)._2).scanLeft(Long.MinValue)(math.max).tail
    def full(i: Int): Boolean = sizeOf(table, t0, files(i)) >= targetFileBytes
    val keyAt = upserts.schema.fieldIndex(key)
    // (affected file index, into a new file next to it?)
    def slot(r: Row): (Int, Boolean) =
      if (r.isNullAt(keyAt)) (0, full(0))
      else {
        val k = r.getAs[Number](keyAt).longValue
        val i = mins.search(k) match {
          case Found(j) => j
          case InsertionPoint(j) => math.max(0, j - 1)
        }
        if (mins(i) <= k && maxUpTo(i) >= k)
          ((i to 0 by -1).find(j => ranges(files(j))._2 >= k).get, false)
        else (i, full(i))
      }
    val cols = upserts.columns.toSeq.sortBy(_ != key).map(col)
    // The output columns take the types a union of the files' and the
    // batch's columns widens to.
    val schema = GraftTables.scanFiles(spark, table, t0, files)
      .select(cols: _*).union(upserts.select(cols: _*)).schema
    val out = schema.map(f => col(f.name).cast(f.dataType).as(f.name))
    // The batch keys, matched as BIGINT in an InSet: its generated code
    // references the set, so one compiled class serves every merge (an
    // IN list inlines its literals, a class per list).
    val (rows, partFiles) = GraftTables.rowsByFile(spark, table, t0, files,
      col(key).isNull || !BatchDF.column(InSet(
        Cast(UnresolvedAttribute.quoted(key), LongType), keys.toSet[Any])),
      out)
    // The upserts as rows of `schema`, grouped by slot; converting a
    // local relation runs no job.
    val slices = ups.map(slot).zip(upserts.select(out: _*)
      .queryExecution.executedPlan.executeCollect())
      .groupMap(_._1)(_._2)
    def slice(s: (Int, Boolean)): Array[InternalRow] =
      slices.getOrElse(s, Nil).toArray
    // A file split over several partitions takes its upserts in the
    // first.
    val first = partFiles.zipWithIndex.reverse.toMap
    val index = files.zipWithIndex.toMap
    val perPart = partFiles.zipWithIndex.map { case (f, p) =>
      if (first(f) == p) slice((index(f), false)) else Array.empty[InternalRow]
    }
    val sc = spark.sparkContext
    val merged = rows.zipPartitions(sc.parallelize(perPart, perPart.size)) {
      (kept, added) => kept ++ added.flatMap(_.iterator)
    }
    val fresh = slices.keys.filter(_._2).toSeq.sorted.map(slice)
    BatchDF.fromRows(spark,
      if (fresh.isEmpty) merged
      else merged.union(sc.parallelize(fresh, fresh.size).flatMap(_.iterator)),
      schema)
  }

  /** Compaction as a pure manifest swap: the tip's contents coalesced
    * into `nFiles`, committed as the next version. Readers of any
    * pinned version never notice. Stats are computed for the
    * EFFECTIVE key — the caller's `statsKey`, else the tip's declared
    * one — because the rewrite replaces every file: carrying the
    * declaration forward with empty stats would leave a tip whose
    * whole file set is stats-less, demoting every later merge to a
    * bootstrap scan. */
  def compact(
      spark: SparkSession, table: Path, subdir: String,
      nFiles: Int = 1, statsKey: Option[String] = None): Committed = {
    val tipVersion = latest(table).get
    // `t` declaring the effective key; bounds a surviving file holds
    // under another key are dropped (unknown, never wrong).
    def keyed(t: Manifest): Manifest = {
      val key = statsKey.orElse(t.statsKey)
      if (key == t.statsKey) t else t.copy(statsKey = key, stats = Map.empty)
    }
    // The re-keyed tip is what the rewrite stages under and builds on;
    // the commit still folds and delta-encodes against the stored one.
    val planned = keyed(readManifest(table, tipVersion))
    // Staged (with its stats) before the commit loop, so a retry
    // never rewrites.
    val staged = StagedWrite.stage(
      readVersion(spark, table, tipVersion).coalesce(nFiles),
      table, subdir, planned)
    // A full rewrite targets every planned file: it rebases over a
    // commit that only appended (the appended files survive it) and
    // refuses one that rewrote a planned file or added a merge-on-read
    // delete. Each tip is re-keyed, so the staged stats follow the
    // declaration through a rebase.
    StagedWrite.commit(spark, table, planned, staged,
      StagedWrite.Targets(planned.files.toSet), "compact",
      addsRows = false) { (t, under) =>
      val declared = keyed(t)
      replaceFiles(table, declared, "compact", planned.files.toSet,
        under(declared))
        .copy(deletes = t.deletes.filterNot(planned.deletes.toSet))
    }
  }

  /** RESTORE the table to `toVersion` as a NEW commit — the Delta
    * RESTORE semantic (Delta Lake PROTOCOL.md "restore"): the tip
    * becomes content-identical to that snapshot (files, per-file
    * stats/sizes/partition values, declared schema) while every
    * intermediate state stays time-travelable, because restore is
    * just one more manifest — nothing is deleted, and the rolled-back
    * snapshot's data files still exist (only [[expire]]+[[vacuum]]
    * reclaims). Under delta storage the commit costs O(files changed
    * since `toVersion`) bytes. `ts` is cleared so the commit gets a
    * FRESH timestamp ([[versionAtTimestamp]] stays monotone) and
    * `txn` so replay watermarks keep folding from the parent chain
    * rather than re-stamping an old batch. */
  def restore(table: Path, toVersion: Long): Committed = {
    val target = readManifest(table, toVersion)
    commitRetryWith(table, t => {
      // Same file SET as the target, ordered survivors-in-tip-order
      // then re-added: a file list is a set semantically (readers and
      // pruning never depend on order), and this ordering is exactly
      // what delta resolution produces — so the restore commit gets
      // its exact O(changed files) delta encoding instead of falling
      // back to a full snapshot on a spurious order mismatch.
      val targetSet = target.files.toSet
      val tipSet = t.files.toSet
      target.copy(action = "restore",
        files = t.files.filter(targetSet) ++
          target.files.filterNot(tipSet),
        txn = None, ts = 0L)
    })
  }

  /** Declare (or replace) a CHECK constraint — the Delta `ALTER TABLE
    * ADD CONSTRAINT` feature: `pred` is a SQL boolean expression over
    * the table's logical columns; from this commit on, every
    * DataFrame-level write path ([[graft.sources.GraftTables.insert]],
    * [[mergeCowByKey]]) validates its batch with [[checkConstraints]]
    * and REFUSES writes carrying a violating row. SQL semantics: a row
    * violates only when the predicate evaluates to FALSE — NULL
    * passes, like standard CHECK. Constraints are table metadata every
    * later commit carries implicitly (see the fold in
    * [[tryCommitManifest]]); raw file-list commits ([[tryCommit]])
    * bypass validation by design — the log records, engines enforce,
    * exactly Delta's contract. */
  def setConstraint(table: Path, name: String, pred: String): Committed =
    commitRetryWith(table, t => t.copy(action = "constraint",
      constraints = t.constraints + (name -> pred), txn = None, ts = 0L))

  /** Remove a CHECK constraint; later writes stop validating it. */
  def dropConstraint(table: Path, name: String): Committed =
    commitRetryWith(table, t => t.copy(action = "drop-constraint",
      constraints = t.constraints - name, txn = None, ts = 0L))

  /** Validate `data` against CHECK constraints in ONE pass (a single
    * conditional aggregate however many constraints ride along) and
    * refuse loudly on the first violated one. NULL predicate results
    * pass (SQL CHECK semantics). */
  def checkConstraints(
      data: DataFrame, constraints: Map[String, String]): Unit = {
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{expr, lit, sum, when}
    val ordered = constraints.toSeq.sortBy(_._1)
    val aggs = ordered.map { case (n, p) =>
      sum(when(expr(s"not coalesce(($p), true)"), lit(1L))
        .otherwise(lit(0L))).as(n)
    }
    val row = data.agg(aggs.head, aggs.tail: _*).head()
    ordered.zipWithIndex.foreach { case ((n, p), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L,
        s"CHECK constraint '$n' ($p) violated by $bad row(s); " +
          "write refused")
    }
  }

  /** ADD COLUMN as a manifest-only commit (completing the
    * column-mapping evolution set: RENAME and WIDEN exist since r13).
    * The new column gets a FRESH physical name (`c<id>v<version>` —
    * unique because at most one schema commit lands per version), so
    * it can never collide with the bytes of a column dropped earlier:
    * files written before the ADD simply lack the physical column and
    * read as NULL (the standard parquet missing-column semantic);
    * files written after carry it. Zero data movement at any scale. */
  def addColumn(table: Path, name: String, typ: String): Committed =
    commitRetryWith(table, t => {
      val cols = t.columns.getOrElse(sys.error(
        s"$table declares no columns; only declared-schema tables " +
          "evolve (create through the connector or declare columns)"))
      require(!cols.exists(_.name == name),
        s"column '$name' already exists on $table")
      val id = cols.map(_.id).max + 1
      t.copy(action = "schema",
        columns = Some(cols :+
          ColumnDef(id, name, typ, s"c${id}v${t.version + 1}")),
        txn = None, ts = 0L)
    })

  /** DROP COLUMN as a manifest-only commit: the ColumnDef vanishes
    * from the declared schema, with the column's stats declarations
    * (stats key, colStats, NDV sketches) — the bytes stay in the files
    * (pinned pre-drop versions still read them), but no later reader
    * requests the physical column and no rewrite carries it. Re-ADDing the same logical name mints a NEW
    * id + physical, so the dropped bytes are never resurrected — the
    * re-added column reads NULL everywhere until written. Refused when
    * a CHECK constraint still references the column. */
  def dropColumn(table: Path, name: String): Committed =
    commitRetryWith(table, t => {
      val cols = t.columns.getOrElse(sys.error(
        s"$table declares no columns; nothing to drop"))
      require(cols.exists(_.name == name),
        s"no column '$name' on $table")
      require(cols.size > 1, s"cannot drop the last column of $table")
      val referenced = constraintReferencing(t, name)
      require(referenced.isEmpty,
        s"column '$name' is referenced by CHECK constraint(s) " +
          s"${referenced.keys.mkString(", ")} — drop them first")
      // A pending equality delete keyed on this column would leave
      // scans unable to bind its key — repay the debt first.
      val phys = cols.find(_.name == name).get.physical
      require(!t.deletes.exists(_.key == phys),
        s"column '$name' keys pending equality delete(s) on $table — " +
          "run materializeDeletes first")
      // Its stats declarations go with it: no later write stages the
      // physical column, so none could bound or sketch it. (The
      // commit's NDV fold drops its sketches: the column is gone.)
      t.copy(action = "schema",
        columns = Some(cols.filterNot(_.name == name)),
        statsKey = t.statsKey.filterNot(_ == phys),
        stats = if (t.statsKey.contains(phys)) Map.empty else t.stats,
        colStats = t.colStats - phys,
        txn = None, ts = 0L)
    })

  private def constraintReferencing(
      t: Manifest, name: String): Map[String, String] =
    t.constraints.filter { case (_, pred) =>
      ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
        .findFirstIn(pred).isDefined
    }

  /** RENAME COLUMN as a manifest-only commit: the ColumnDef keeps its
    * stable id and physical name, only the logical `name` changes —
    * pinned readers resolve through their own manifest's mapping, so
    * both sides of the rename read the same bytes (the r13
    * column-mapping semantics, as a first-class op). Refused while a
    * CHECK constraint references the old name — its predicate text
    * would silently stop binding. */
  def renameColumn(
      table: Path, name: String, newName: String): Committed =
    commitRetryWith(table, t => {
      val cols = t.columns.getOrElse(sys.error(
        s"$table declares no columns; only declared-schema tables " +
          "evolve"))
      require(cols.exists(_.name == name), s"no column '$name' on $table")
      require(!cols.exists(_.name == newName),
        s"column '$newName' already exists on $table")
      val referenced = constraintReferencing(t, name)
      require(referenced.isEmpty,
        s"column '$name' is referenced by CHECK constraint(s) " +
          s"${referenced.keys.mkString(", ")} — drop them first")
      t.copy(action = "schema", columns = Some(cols.map(c =>
        if (c.name == name) c.copy(name = newName) else c)),
        txn = None, ts = 0L)
    })

  /** The type changes that are metadata-only: the Spark 4 vectorized
    * parquet reader widens narrower physical pages during the read, so
    * moving RIGHT along a chain never rewrites a byte. Anything else
    * (narrowing, cross-chain) would need a table rewrite — refused. */
  private val WidenChains: Seq[Seq[String]] = Seq(
    Seq("tinyint", "smallint", "int", "bigint"),
    Seq("float", "double"))

  /** WIDEN a column's logical type as a manifest-only commit (the r13
    * widening semantics as a first-class op); see [[WidenChains]]. */
  def widenColumn(table: Path, name: String, newType: String): Committed =
    commitRetryWith(table, t => {
      val cols = t.columns.getOrElse(sys.error(
        s"$table declares no columns; only declared-schema tables " +
          "evolve"))
      val c = cols.find(_.name == name).getOrElse(
        sys.error(s"no column '$name' on $table"))
      val ok = WidenChains.exists { ch =>
        val (i, j) = (ch.indexOf(c.typ), ch.indexOf(newType))
        i >= 0 && j > i
      }
      require(ok, s"cannot alter '$name' ${c.typ} -> $newType: only " +
        "widening is metadata-only (rewrite the table to narrow)")
      t.copy(action = "schema", columns = Some(cols.map(x =>
        if (x.name == name) x.copy(typ = newType) else x)),
        txn = None, ts = 0L)
    })

  /** SHALLOW CLONE (the Delta Lake feature of the same name): create
    * a NEW table at `dst` whose first manifest references the SOURCE
    * snapshot's data files by ABSOLUTE path — zero bytes copied, the
    * clone of a 100 TB table is one metadata commit. The clone then
    * evolves independently: appends land inside `dst`, and any CoW
    * rewrite (merge/delete/compact) replaces referenced source files
    * with clone-local ones, never touching the source. Per-file
    * stats, sizes, row counts, NDV sketches and partition values are
    * carried (re-keyed to the absolute paths), so skipping and the
    * optimizer's statistics work from the first read, and the commit
    * opens no data file. The clone needs no SparkSession unless the
    * source carries position deletes (below).
    *
    * Caveats, same as Delta's: vacuuming the SOURCE can reclaim files
    * a clone still references (the clone's references are invisible
    * to the source's log) — clones are sandboxes, not backups.
    *
    * A source with PENDING merge-on-read deletes clones correctly:
    * its sequence numbers are source-log coordinates, so they are
    * TRANSLATED order-preserving into the NEGATIVE range (highest
    * source seq → -1). That keeps every carried file/delete pair's
    * `seqs(f) < d.seq` verdict identical — scans of the clone apply
    * exactly the deletes the source's scans apply — while every seq
    * the CLONE's own log will ever mint (commit version + 1 ≥ 1)
    * sorts ABOVE the carried history: a new delete on the clone
    * correctly targets all carried files, a new append correctly
    * escapes all carried deletes. Files the source never stamped
    * (implicit seq -1) join the translation as their own rank, so
    * the default-`-1` fallback in readers can never mis-scope them. */
  def cloneShallow(src: Path, dst: Path,
      version: Option[Long] = None): Committed = {
    val v = version.orElse(latest(src)).getOrElse(
      sys.error(s"no committed version to clone at $src"))
    val m = readManifest(src, v)
    val srcRoot = src.toAbsolutePath.normalize
    def abs(f: String): String = srcRoot.resolve(f).toString
    // Order-preserving seq translation into negatives (see scaladoc).
    val srcSeqOf: String => Long = f => m.seqs.getOrElse(f, -1L)
    val distinctSeqs: Seq[Long] =
      (m.files.map(srcSeqOf) ++ m.deletes.map(_.seq)).distinct.sorted
    val xlate: Map[Long, Long] = distinctSeqs.zipWithIndex.map {
      case (s, i) => s -> (i.toLong - distinctSeqs.size)
    }.toMap
    val cloneSeqs: Map[String, Long] =
      if (m.deletes.isEmpty) Map.empty // no scoping to preserve
      else m.files.map(f => abs(f) -> xlate(srcSeqOf(f))).toMap
    Files.createDirectories(dst)
    val cloneDeletes: Seq[DeleteFile] = m.deletes.map { d =>
      if (d.kind != "pos") d.copy(path = abs(d.path), seq = xlate(d.seq))
      else {
        // A position delete's CONTENT names source-RELATIVE data
        // files, which the clone references by ABSOLUTE path — so the
        // membership scoping would miss every target. Rewrite the
        // delete file clone-local with absolute names: O(delete
        // bytes), which is tiny by design, so "zero DATA bytes
        // copied" stands. (Also insulates the clone from the source
        // materializing this delete and vacuuming the file.)
        val spark = SparkSession.getActiveSession.getOrElse(sys.error(
          s"cloneShallow($src): the source carries pending POSITION " +
            "deletes, whose file must be rewritten clone-local with a " +
            "Spark read — run the clone with an active SparkSession " +
            "(every other clone shape is session-free)"))
        import org.apache.spark.sql.functions.{col, udf}
        val rootStr = srcRoot.toString // Path is not serializable
        // resolve(), not concat: a clone-of-a-clone carries ABSOLUTE
        // names already, which resolve passes through unchanged.
        val absU = udf((f: String) =>
          java.nio.file.Paths.get(rootStr).resolve(f).toString)
        val sub = s"clonepos${System.nanoTime()}"
        graft.util.ParquetSchema.read(spark,
            Seq(src.resolve(d.path).toString))
          .select(absU(col("file_path")).as("file_path"), col("pos"))
          .coalesce(1)
          .write.parquet(dst.resolve(sub).toString)
        val p = parquetsUnder(dst, sub).head
        d.copy(path = p, seq = xlate(d.seq),
          bytes = Files.size(dst.resolve(p)))
      }
    }
    commitRetryWith(dst, t => {
      require(t.version < 0L, s"clone target $dst already has a log")
      Manifest(0L, 0L, "clone", m.files.map(abs),
        stats = m.stats.map { case (f, r) => abs(f) -> r },
        statsKey = m.statsKey,
        seqs = cloneSeqs,
        deletes = cloneDeletes,
        partitions = m.partitions.map { case (f, p) => abs(f) -> p },
        columns = m.columns,
        sizes = m.sizes.map { case (f, n) => abs(f) -> n },
        colStats = m.colStats.view.mapValues(
          _.map { case (f, r) => abs(f) -> r }).toMap,
        constraints = m.constraints,
        rows = m.rows.map { case (f, n) => abs(f) -> n },
        ndv = m.ndv.view.mapValues(
          _.map { case (f, k) => abs(f) -> k }).toMap)
    })
  }

  /** Row-level CHANGE DATA FEED over the window `(fromVersion,
    * toVersion]`, computed purely from the log's file diffs — no
    * per-commit change files needed, because every commit is either
    * an append or a copy-on-write file swap: appended files are pure
    * inserts, files dropped without replacement pure deletes, and a
    * rewrite commit is classified row-by-row with a full outer join
    * of its removed vs added files on the table's unique, non-NULL
    * `key` — rows the rewrite carried verbatim cancel out, so the
    * feed is exact even though CoW granularity is whole files.
    * Output = the data columns plus `_change_type` (insert / delete /
    * update_preimage / update_postimage) and `_commit_version`.
    *
    * Scale: work per commit is O(its changed files) — the whole feed
    * reads exactly the files the window's commits touched, never the
    * table; the per-commit join shuffles only changed rows (AQE
    * broadcasts small sides). Column-mapped tables are read under
    * each side's own manifest and renamed to logical, so the feed
    * spans RENAME commits.
    *
    * Merge-on-read aware, two ways. (1) Every side is read through
    * the connector's scan under ITS OWN manifest
    * ([[graft.sources.GraftTables.scanFiles]]), so rows a pending
    * delete already removed never appear as pre-images — a
    * materialize commit (which rewrites affected files without
    * changing a visible row) correctly nets to ZERO change rows
    * instead of replaying old deletions at the wrong version. (2) A
    * delete-mor commit changes no files (added/removed both empty)
    * but DOES change visible rows: the newly-referenced delete file's
    * keys are semi-joined against the files the delete scopes (seq
    * strictly below), emitted as `delete` rows at that commit. */
  def changes(spark: SparkSession, table: Path,
      fromVersion: Long, toVersion: Long, key: String,
      emptyAs: Option[StructType] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"changes window ($fromVersion, $toVersion] is inverted")
    val live = versions(table).toSet
    def logical(df: DataFrame, m: Manifest): DataFrame = m.columns match {
      case Some(cols) =>
        val byPhys = cols.map(c => c.physical -> c.name).toMap
        df.select(df.columns.toSeq.map(c =>
          col(c).as(byPhys.getOrElse(c, c))): _*)
      case None => df
    }
    def readFiles(fs: Seq[String], m: Manifest): DataFrame =
      logical(GraftTables.scanFiles(spark, table, m, fs), m)
    // Row-by-row classification of a (pre, post) rewrite pair on the
    // unique non-NULL `key`: carried rows cancel, the rest emit as
    // insert / delete / update_preimage+postimage — shared by the
    // copy-on-write rewrite branch and the update-mor (delta) branch.
    def classify(pre: DataFrame, post: DataFrame, v: Long): DataFrame = {
      val cols = post.columns.toSeq
      require(pre.columns.toSeq == cols,
        s"changes at v$v: schema drift across the rewrite " +
          s"(${pre.columns.mkString(",")} vs ${cols.mkString(",")})")
      val a = post.select(col(key).as("_k"),
        struct(cols.map(col): _*).as("_post"))
      val r = pre.select(col(key).as("_k"),
        struct(cols.map(col): _*).as("_pre"))
      val classified = r.join(a, Seq("_k"), "full_outer")
        .select(col("_pre"), col("_post"),
          when(col("_pre").isNull, lit("insert"))
            .when(col("_post").isNull, lit("delete"))
            .when(col("_pre") <=> col("_post"), lit("carried"))
            .otherwise(lit("update")).as("_cls"))
        .filter(col("_cls") =!= "carried")
      classified.select(explode(
        when(col("_cls") === "update", array(
          struct(col("_pre").as("_row"),
            lit("update_preimage").as("_ct")),
          struct(col("_post").as("_row"),
            lit("update_postimage").as("_ct"))))
          .when(col("_cls") === "insert", array(
            struct(col("_post").as("_row"), lit("insert").as("_ct"))))
          .otherwise(array(
            struct(col("_pre").as("_row"), lit("delete").as("_ct"))))
      ).as("_e"))
        .select(col("_e._row.*") +: Seq(
          col("_e._ct").as("_change_type"),
          lit(v).as("_commit_version")): _*)
    }
    val perCommit: Seq[DataFrame] = versions(table)
      .filter(v => v > fromVersion && v <= toVersion).flatMap { v =>
        // expire() leaves gaps: a commit whose immediate parent is
        // gone has no pre-image to diff against — refuse cleanly
        // (Delta raises the same retention error for CDF windows
        // that outlive deleted commit files).
        require(live(v - 1),
          s"CDF window ($fromVersion, $toVersion] exceeds retention " +
            s"at $table: version ${v - 1} (parent of $v) was expired")
        val prev = readManifest(table, v - 1)
        val cur = readManifest(table, v)
        val prevSet = prev.files.toSet
        val curSet = cur.files.toSet
        val added = cur.files.filterNot(prevSet)
        val removed = prev.files.filterNot(curSet)
        val prevDeletes = prev.deletes.toSet
        val newDeletes = cur.deletes.filterNot(prevDeletes)
        if (cur.action == "restore" &&
            (newDeletes.nonEmpty || prev.deletes.exists(d =>
              !cur.deletes.contains(d)))) {
          // A restore that changes the pending-delete set has no
          // per-file diff story: reinstated delete files change
          // visible rows without touching data files, and DROPPED
          // delete entries resurrect rows a file-diff would read as
          // metadata-only. Classify with the exact visible-row diff
          // of the two snapshots — O(both snapshots), acceptable for
          // restore (a special event, never the steady state). Every
          // other action is barred from this shape at
          // [[tryCommitManifest]]'s commit-shape invariant.
          val pre = readFiles(prev.files, prev)
          val post = readFiles(cur.files, cur)
          // Names AND types: a restore across a same-name type change
          // (widened column) passing a name-only guard would hand
          // exceptAll/unionByName mismatched types and fail opaquely
          // (or coerce silently) downstream.
          def sig(df: DataFrame) =
            df.schema.map(f => (f.name, f.dataType))
          require(sig(pre) == sig(post),
            s"changes at v$v: restore across a schema change " +
              s"(${sig(pre).mkString(",")} vs " +
              s"${sig(post).mkString(",")}) — no row diff exists")
          Some(pre.exceptAll(post)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v))
            .unionByName(post.exceptAll(pre)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v))))
        }
        else if (newDeletes.nonEmpty && cur.action == "update-mor") {
          // An update-mor commit appends the rewritten rows AND
          // position-deletes their old ordinals in one commit: the
          // pre-images are what v-1 shows of the named files that v
          // no longer shows, the post-images the appended files.
          require(removed.isEmpty && newDeletes.forall(_.kind == "pos"),
            s"changes at v$v: malformed update-mor commit " +
              "(removed files or non-position deletes)")
          val named = {
            val n = newDeletes
              .flatMap(d => posDeleteNamedFiles(table, d)).toSet
            cur.files.filter(n)
          }
          val pre =
            if (named.isEmpty) // empty, correct schema
              readFiles(cur.files.take(1), cur).filter(lit(false))
            else readFiles(named, prev).exceptAll(readFiles(named, cur))
          val post =
            if (added.isEmpty) pre.filter(lit(false))
            else readFiles(added, cur)
          // Key classification pairs pre/post exactly: a plain UPDATE
          // yields update_preimage/postimage, a MERGE's not-matched
          // rows yield insert, its matched-DELETE rows delete.
          Some(classify(pre, post, v))
        }
        else if (newDeletes.nonEmpty) {
          // A delete-mor commit references new delete files and
          // touches no data files — the ONLY shape the commit
          // primitive admits for a non-update-mor, non-restore commit
          // adding deletes ([[tryCommitManifest]]'s commit-shape
          // invariant), so this assert is unreachable for any log the
          // primitive wrote; it guards hand-crafted manifests only.
          assert(added.isEmpty && removed.isEmpty,
            s"changes at v$v: commit both adds deletes and changes " +
              "data files — a shape tryCommitManifest refuses")
          // Pre-images base on prev's visibility PLUS this commit's
          // new POSITION deletes (`prevPos`): the pos diff's
          // subtrahend must not also apply the commit's new EQUALITY
          // deletes (else eq-removed rows of pos-named files land in
          // BOTH the pos diff and the eq join — the r17 CDF
          // duplication bug, generalized), and the eq join's base
          // must already exclude pos-removed rows (a row removed by
          // both a pos and an eq delete in the same commit emits
          // exactly once, in the pos diff). prev.seqs semantics are
          // preserved — pos deletes never consult seqs.
          val newPos = newDeletes.filter(_.kind == "pos")
          val newEq = newDeletes.filter(_.kind != "pos")
          val prevPos = prev.copy(deletes = prev.deletes ++ newPos)
          // Position deletes name exact (file, ordinal) pairs: the
          // feed rows are precisely what v-1 shows of the named files
          // that v no longer shows — exceptAll keeps multiplicity
          // right when identical rows share a file. ONE diff over the
          // UNION of every pos file's named set, not one per delete
          // file: a single delete-only commit can carry several pos
          // files naming the SAME data file (a >maxSplitBytes file
          // splits across tasks and each GraftDeltaWriter task writes
          // its own pos file) — per-file diffs would re-emit every
          // deleted row of a shared file once per overlapping pos
          // file. O(named files), few by the position-delete design
          // point.
          val posDiff = {
            val namedSet = newPos
              .flatMap(d => posDeleteNamedFiles(table, d)).toSet
            val named = cur.files.filter(namedSet)
            if (named.isEmpty) None
            else Some(GraftTables.scanFiles(spark, table, prev, named)
              .exceptAll(
                GraftTables.scanFiles(spark, table, prevPos, named)))
          }
          // Equality deletes: rows visible at v-1 (prev deletes plus
          // this commit's pos deletes applied) in the files the
          // deletes scope, whose key any delete names. The delete
          // files carry the PHYSICAL key column, matching the scan's
          // physical names — rename to logical only after the join.
          // A commit may carry MANY eq files (one per parallel
          // writer task), possibly keyed on SEVERAL
          // different columns (r19 — the invariant that refused the
          // mixed-key shape is lifted): band the scoped files by
          // WHICH deletes apply (scopes nest by seq, so bands are
          // few); within a band, mark matches per KEY COLUMN with a
          // broadcast left-outer join against that column's distinct
          // key union, and keep rows matching ANY marker — a row
          // named by deletes on two different columns emits exactly
          // once (OR, not union-of-semi-joins), and distinct key
          // sides keep the outer joins multiplicity-exact.
          val eqDiffs: Seq[DataFrame] = if (newEq.isEmpty) Nil else {
            cur.files
              .map(f => f -> newEq.filter(d =>
                cur.seqs.getOrElse(f, -1L) < d.seq))
              .filter(_._2.nonEmpty)
              .groupBy(_._2.map(_.path))
              .toSeq.sortBy(_._1.mkString(","))
              .map { case (_, entries) =>
                val scoped = entries.map(_._1)
                val byKey = entries.head._2.groupBy(_.key).toSeq
                  .sortBy(_._1)
                val base = GraftTables.scanFiles(spark, table, prevPos,
                  scoped)
                val marked = byKey.zipWithIndex
                  .foldLeft(base) { case (acc, ((k, ds), i)) =>
                    val keys = graft.util.ParquetSchema.read(spark,
                        ds.map(d => table.resolve(d.path).toString))
                      .select(col(k)).distinct()
                      .withColumn(s"__graft_eq$i", lit(1))
                    acc.join(broadcast(keys), Seq(k), "left_outer")
                  }
                val markers = byKey.indices.map(i => col(s"__graft_eq$i"))
                marked.filter(markers.map(_.isNotNull)
                    .reduce(_ || _))
                  .drop(markers.indices.map(i => s"__graft_eq$i"): _*)
              }
          }
          val dels = (posDiff.toSeq ++ eqDiffs)
            .reduceOption(_.unionByName(_))
          dels.map(df => logical(df, cur)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v)))
        }
        else if (added.isEmpty && removed.isEmpty) None // metadata-only
        else if (removed.isEmpty) Some(
          readFiles(added, cur)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        else if (added.isEmpty) Some(
          readFiles(removed, prev)
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v)))
        else Some(classify(readFiles(removed, prev),
          readFiles(added, cur), v))
      }
    if (perCommit.isEmpty) {
      // A window of pure metadata commits: a streaming consumer
      // (whose windows are whatever versions landed between triggers)
      // needs an EMPTY batch of the declared feed shape, while the
      // batch API keeps failing loudly — a user asking for a feed
      // over nothing is usually a version-arithmetic bug.
      emptyAs match {
        case Some(schema) => return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        case None => throw new IllegalArgumentException(
          s"no data-changing commits in ($fromVersion, $toVersion] at $table")
      }
    }
    perCommit.reduce(_.unionByName(_))
  }

  /** OPTIMIZE-style INCREMENTAL compaction (Delta's OPTIMIZE / Iceberg
    * rewrite_data_files with a size filter): bin-pack ONLY the files
    * smaller than `minFileBytes` into ~`targetFileBytes` outputs,
    * leaving well-sized files untouched by name — O(small-file bytes),
    * never O(table), which is the compaction one can actually schedule
    * continuously at 100 TB (a full [[compact]] of a petabyte table is
    * a special event; sweeping up last hour's streaming commits is
    * routine). Pending equality deletes targeting the packed files are
    * applied during the rewrite; the list is carried for survivors.
    * Fewer than two qualifying files is a no-op (nothing to pack). */
  def compactSmall(spark: SparkSession, table: Path, subdir: String,
      minFileBytes: Long = 32L << 20,
      targetFileBytes: Long = TargetFileBytes): Committed = {
    val t0 = tip(table)
    val small = t0.files.filter(f => sizeOf(table, t0, f) < minFileBytes)
    if (small.size < 2) return Committed(t0.version, 0)
    val nOut = rewriteFanOut(table, t0, small, targetFileBytes)
    // Staged (with its stats) before the commit loop, so retries
    // recompute nothing.
    val staged = StagedWrite.stage(
      GraftTables.scanFiles(spark, table, t0, small).coalesce(nOut),
      table, subdir, t0)
    // Rebases over commits that left the small files alive and added
    // no merge-on-read delete; refuses otherwise.
    StagedWrite.commit(spark, table, t0, staged,
      StagedWrite.Targets(small.toSet), "compactSmall",
      addsRows = false) { (t, under) =>
      replaceFiles(table, t, "optimize", small.toSet, under(t))
    }
  }

  /** Expire all but the last `retainLast` versions: their manifests
    * are deleted, which is what makes their exclusively-referenced
    * files vacuum-eligible. EXCEPTION: for every streaming writer
    * (appId) the manifest carrying its HIGHEST (appId, batchId) stamp
    * is retained even when older than the horizon — deleting it would
    * erase the app's replay watermark ([[lastTxn]] → None), and a
    * checkpoint-recovered replay of the last batch would then
    * re-commit it, silently voiding exactly-once. The cost is one
    * extra retained manifest per writer, superseded as soon as the
    * writer commits a newer batch. Returns the expired versions. */
  def expire(table: Path, retainLast: Int): Seq[Long] = {
    val all = versions(table)
    val highWater: Set[Long] = all
      .flatMap(v => rawTxn(table, v).map {
        case (app, batch) => (app, batch, v)
      })
      .groupBy(_._1).values
      .map(_.maxBy(s => (s._2, s._3))._3).toSet
    val drop = all.dropRight(retainLast).filterNot(highWater)
    val dropSet = drop.toSet
    // A RETAINED delta manifest whose base is about to drop is first
    // MATERIALIZED in place as the equivalent full snapshot (identical
    // resolved content, so the swap is semantically invisible) —
    // otherwise deleting its base would orphan the delta chain. One
    // rewrite per broken chain edge; done before any deletion so
    // resolution still sees every base.
    all.filterNot(dropSet).foreach { r =>
      Option(rawNode(table, r).get("base")).map(_.asLong)
        .filter(dropSet).foreach { _ =>
          val full = render(readManifest(table, r))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val tmp = Files.createTempFile(logDir(table), ".tmp-", ".json")
          Files.write(tmp, full)
          Files.move(tmp, manifestPath(table, r),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
    }
    drop.foreach(v => Files.delete(
      logDir(table).resolve(f"$v%08d.json")))
    drop
  }

  /** Every parquet data file under the table root (any depth),
    * relative paths, `_log` excluded. */
  def dataFiles(table: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(table)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => table.relativize(p).toString)
      .filterNot(_.startsWith("_log"))
      .toSeq.sorted
    finally s.close()
  }

  final case class Vacuumed(deleted: Seq[String], keptUnreferenced: Seq[String])

  /** Log-derived vacuum: delete every data file that (a) no RETAINED
    * manifest references and (b) is older than the retention horizon.
    * The age guard is what protects an in-flight writer's
    * not-yet-committed files — exactly the
    * [[SourceSinkQueries.sinkVacuumRetention]] discipline, with
    * liveness from the log instead of a listing. */
  def vacuum(table: Path, horizonMs: Long): Vacuumed = {
    val live = liveFiles(table, versions(table))
    val cutoff = System.currentTimeMillis() - horizonMs
    val (doomed, keptUnref) = dataFiles(table)
      .filterNot(live)
      .partition(f => table.resolve(f).toFile.lastModified() < cutoff)
    doomed.foreach(f => Files.delete(table.resolve(f)))
    Vacuumed(doomed, keptUnref)
  }

  /** Relative paths (to the table root) of the parquet files a Spark
    * write just produced under `subdir` — the file-set a commit
    * references. */
  def parquetsUnder(table: Path, subdir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val d = table.resolve(subdir)
    val s = Files.list(d)
    try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".parquet"))
      .map(n => if (subdir.isEmpty) n else s"$subdir/$n")
      .toSeq.sorted
    finally s.close()
  }
}
