package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.TxnLog

/** CDC micro-batches into a transaction-log table: the scale path for
  * the reference's Kafka commit-after-write ingest. Each op lands one
  * change file by atomic rename, runs one AvailableNow trigger whose
  * foreachBatch merges the batch with `TxnLog.mergeCowByKey`, runs
  * maintenance (compactSmall, expire, vacuum) every `MaintainEvery`-th
  * op, and reads a key range of the new version. */
final class Cdc(work: Path, seed: Long, seconds: Int) extends Workload {
  import Cdc._

  private val salt = Math.floorMod(seed, 1000003L)
  private val staging = work.resolve("staging")
  /** The change files, generated before any op: (key, v, note, op). */
  private var changes = Vector.empty[Array[(Long, Long, String, String)]]
  /** Expected table: base rows overridden by every applied change
    * (None = deleted), plus running totals for the snapshot checksum. */
  private val overlay = mutable.HashMap.empty[Long, Option[(Long, String)]]
  private var expCount, expSumKey, expSumV, expSumNote = 0L
  /** Highest key + 1 once change file j has been applied. */
  private var keyLimit = Vector.empty[Long]
  private var recentShare, partsTouched = 0.0
  private var dir, tbl, src, ckpt: Path = _
  private var target = 0L

  private def baseV(k: Long): Long = (k * 7919 + salt * 104729) % 1000003
  private def baseNote(k: Long): String = "n" + (k * 31 + salt) % 9973

  private def current(k: Long): Option[(Long, String)] =
    overlay.getOrElse(k, if (k < BaseKeys) Some((baseV(k), baseNote(k))) else None)

  private def applyChange(j: Int): Unit = changes(j).foreach { case (k, v, note, op) =>
    current(k).foreach { case (ov, on) =>
      expCount -= 1; expSumKey -= k; expSumV -= ov; expSumNote -= on.length
    }
    if (op == "delete") overlay(k) = None
    else {
      overlay(k) = Some((v, note))
      expCount += 1; expSumKey += k; expSumV += v; expSumNote += note.length
    }
  }

  def nominalOpSeconds: Double = 1.7

  override def cycle: Int = MaintainEvery

  def generate(spark: SparkSession): Unit = {
    val rnd = new java.util.Random(seed)
    var maxKey = BaseKeys.toLong
    val nFiles = WarmUpChanges +
      math.max(timedOps(seconds, trace = false), timedOps(seconds, trace = true))
    val nIns = ChangeRows / 10
    val nDel = ChangeRows / 10
    val nUps = ChangeRows - nIns - nDel
    var recent, sampled = 0L
    var touched = 0L
    changes = Vector.tabulate(nFiles) { _ =>
      val window = math.max(1L, maxKey / 10)
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < nUps + nDel) {
        keys += (if (rnd.nextDouble() < HotShare) maxKey - 1 - (rnd.nextDouble() * window).toLong
          else (rnd.nextDouble() * maxKey).toLong)
      }
      recent += keys.count(_ >= maxKey - window)
      sampled += keys.size
      val ins = (0 until nIns).map(maxKey + _)
      maxKey += nIns
      touched += (keys ++ ins).map(k => math.min(k * BaseFiles / BaseKeys, BaseFiles.toLong)).size
      val (ups, dels) = keys.toSeq.splitAt(nUps)
      (ups.map(k => (k, rnd.nextInt(1000003).toLong, "u" + rnd.nextInt(100000), "upsert")) ++
        dels.map(k => (k, 0L, "", "delete")) ++
        ins.map(k => (k, rnd.nextInt(1000003).toLong, "i" + rnd.nextInt(100000), "upsert"))
      ).toArray
    }
    keyLimit = Vector.tabulate(nFiles)(j => BaseKeys.toLong + (j + 1L) * nIns)
    recentShare = recent.toDouble / sampled
    partsTouched = touched.toDouble / nFiles
    val rows = changes.zipWithIndex.flatMap { case (c, j) =>
      c.map { case (k, v, note, op) =>
        if (op == "delete") Row(j, k, null, null, op) else Row(j, k, v, note, op)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
        StructType(StructField("chg", IntegerType) +: ChangeSchema.fields))
      .repartition(col("chg"))
      .write.partitionBy("chg").parquet(staging.toString)
    // Expected state after the warm-up ops' changes.
    expCount = BaseKeys
    expSumKey = BaseKeys.toLong * (BaseKeys - 1) / 2
    (0L until BaseKeys).foreach { k => expSumV += baseV(k); expSumNote += baseNote(k).length }
    (0 until WarmUpChanges).foreach(applyChange)
  }

  def properties: Seq[(String, Double)] = Seq(
    "base_rows" -> BaseKeys.toDouble,
    "base_files" -> BaseFiles.toDouble,
    "change_rows" -> ChangeRows.toDouble,
    "change_files" -> changes.size.toDouble,
    "change_bytes" -> Fs.bytesUnder(staging).toDouble / changes.size,
    "recent_key_share" -> recentShare,
    "partitions_touched_per_change" -> partsTouched)

  private def changeFile(j: Int): Path =
    Fs.dataFiles(staging.resolve(s"chg=$j")).find(_.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"change file $j missing"))

  def setup(spark: SparkSession, round: Int): Unit = {
    Option(dir).foreach(Fs.deleteTree)
    dir = work.resolve(s"round-$round")
    tbl = dir.resolve("table")
    src = dir.resolve("src")
    ckpt = dir.resolve("ckpt")
    Files.createDirectories(src)
    spark.range(BaseKeys).select(col("id").as("key"),
        ((col("id") * 7919L + lit(salt * 104729)) % 1000003L).as("v"),
        concat(lit("n"), ((col("id") * 31L + lit(salt)) % 9973L).cast("string")).as("note"))
      .repartitionByRange(BaseFiles, col("key")).sortWithinPartitions("key")
      .write.parquet(tbl.resolve("d0").toString)
    val baseFiles = TxnLog.parquetsUnder(tbl, "d0")
    TxnLog.commitRetry(tbl, "create", _ => baseFiles,
      statsFor = _ => TxnLog.keyStats(spark, tbl, baseFiles, "key"),
      statsKey = Some("key"))
    target = Fs.bytesUnder(tbl.resolve("d0")) / BaseFiles
  }

  /** Applies the first `WarmUpChanges` change files, which generation
    * already folded into the expected table, one trigger each, with the
    * maintenance of a timed op on the same cycle. */
  def warmUp(spark: SparkSession): Unit = for (j <- 0 until WarmUpChanges) {
    Files.move(changeFile(j), src.resolve(f"chg-$j%05d.parquet"))
    pass(spark, new Tracer(false))
    if (j % MaintainEvery == MaintainEvery - 1) maintain(spark, s"w$j")
    TxnLog.readVersion(spark, tbl, TxnLog.latest(tbl).get)
      .filter(col("key") < BaseKeys / 100).collect()
  }

  private def maintain(spark: SparkSession, tag: String): Unit = {
    TxnLog.compactSmall(spark, tbl, tag, minFileBytes = target,
      targetFileBytes = target)
    TxnLog.expire(tbl, RetainLast)
    TxnLog.vacuum(tbl, 0L)
  }

  /** One AvailableNow trigger over the persistent checkpoint; returns
    * (batches, input rows, commit retries). */
  private def pass(spark: SparkSession, tr: Tracer): (Int, Long, Int) = {
    var batches, retries = 0
    val q = spark.readStream.schema(ChangeSchema).parquet(src.toString)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val c = tr.span("txnlog", "txnlog.merge")(
          TxnLog.mergeCowByKey(b.sparkSession, tbl, b, "key", s"m$id",
            targetFileBytes = target))
        batches += 1
        retries += c.conflicts
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (batches, q.recentProgress.map(_.numInputRows).sum, retries)
  }

  private def readRange(spark: SparkSession, v: Long, lo: Long, hi: Long): Array[Row] =
    TxnLog.readVersion(spark, tbl, v).filter(col("key").between(lo, hi)).collect()

  def op(spark: SparkSession, i: Int, tr: Tracer): OpResult = {
    val j = i + WarmUpChanges
    val rnd = new java.util.Random(seed * 31 + i)
    val width = BaseKeys / 100
    val lo = (rnd.nextDouble() * (keyLimit(j) - width)).toLong
    val hi = lo + width - 1
    val v0 = TxnLog.latest(tbl).get
    val before = TxnLog.readManifest(tbl, v0)
    val filesBefore = (Fs.files(tbl) ++ Fs.files(ckpt)).toSet
    val staged = changeFile(j)
    val inBytes = Files.size(staged)
    applyChange(j)

    val stop = Clock.start()
    val (stream, got, v) = tr.span("op") {
      Files.move(staged, src.resolve(f"chg-$j%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      val stream = tr.span("streaming")(pass(spark, tr))
      if (i % MaintainEvery == MaintainEvery - 1)
        tr.span("txnlog", "txnlog.compact")(maintain(spark, s"c$i"))
      val v = TxnLog.latest(tbl).get
      val got = tr.span("txnlog", "txnlog.read")(readRange(spark, v, lo, hi))
      (stream, got, v)
    }
    val time = stop()
    val read = Clock.repeatReads(readRange(spark, v, lo, hi))

    val problems = Seq.newBuilder[String]
    val gotMap = got.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val want = (lo to hi).flatMap(k => current(k).map(k -> _)).toMap
    if (got.length != gotMap.size || gotMap != want)
      problems += s"key range [$lo, $hi] differs from the fold of the change files"
    val sums = TxnLog.readVersion(spark, tbl, v)
      .agg(count(lit(1)), sum(col("key")), sum(col("v")), sum(length(col("note"))))
      .head()
    val gotSums = (sums.getLong(0), sums.getLong(1), sums.getLong(2), sums.getLong(3))
    if (gotSums != ((expCount, expSumKey, expSumV, expSumNote)))
      problems += s"snapshot checksum $gotSums != ${(expCount, expSumKey, expSumV, expSumNote)}"
    if (stream._1 != 1) problems += s"${stream._1} batches for one change file"

    val written = (Fs.files(tbl) ++ Fs.files(ckpt)).filterNot(filesBefore)
      .map(Files.size(_)).sum
    if (tr.tracing) {
      val merged = TxnLog.readManifest(tbl, v0 + 1)
      val gone = before.files.filterNot(merged.files.toSet)
      tr.add("streaming.batches", stream._1)
      tr.add("streaming.rows", stream._2)
      tr.add("txnlog.commit_retries", stream._3)
      tr.add("txnlog.files_rewritten", gone.size)
      tr.add("txnlog.bytes_rewritten", gone.map(f => before.sizes.getOrElse(f, 0L)).sum)
      tr.add("txnlog.live_files", TxnLog.readManifest(tbl, v).files.size)
      tr.add("txnlog.log_bytes", Fs.bytesUnder(TxnLog.logDir(tbl)))
    }
    val p = problems.result()
    OpResult(time, read, ChangeRows, inBytes, written, p.isEmpty, p.mkString("; "))
  }

  /** Measured after expiring every version but the tip and vacuuming,
    * so the figure does not depend on where in the maintenance cycle
    * the timed phase stopped. */
  def spaceAmp(spark: SparkSession): Double = {
    TxnLog.expire(tbl, 1)
    TxnLog.vacuum(tbl, 0L)
    val out = work.resolve("compacted")
    TxnLog.readVersion(spark, tbl, TxnLog.latest(tbl).get).coalesce(1)
      .write.parquet(out.toString)
    Fs.bytesUnder(tbl).toDouble / Fs.bytesUnder(out)
  }
}

object Cdc {
  val BaseKeys = 50000
  val BaseFiles = 16
  val ChangeRows = 1000
  /** Share of upserts and deletes aimed at the newest 10% of keys. */
  val HotShare = 0.8
  val MaintainEvery = 3
  /** Change files applied before the timed phase, two maintenance
    * cycles: after only two, the next three triggers ran about 25%
    * slower than the ones after them. */
  val WarmUpChanges = 6
  val RetainLast = 3
  val ChangeSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("v", LongType),
    StructField("note", StringType), StructField("op", StringType)))
}
