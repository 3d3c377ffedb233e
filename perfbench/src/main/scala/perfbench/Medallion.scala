package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.infer.Infer
import graft.pipeline.Pipeline
import graft.sources.Sources
import graft.transform.{SqlTransforms, Step}
import graft.types.LogicalType
import graft.types.LogicalType._

/** The paper's case study 1: flight-delay CSV files through schema
  * inference, bronze ingest, a silver chain (cancelled filter,
  * delay-minutes timestamp diff, CASE category) and a gold chain
  * (broadcast route lookup join, group aggregate), then a preview of
  * gold. Columns mix date, timestamp and number formats so the
  * inference votes have real work to do. */
final class Medallion(work: Path, seed: Long) extends Workload {
  import Medallion._

  private val inDir = work.resolve("in")
  private val routesCsv = work.resolve("routes.csv")
  private var totalRows = 0L
  private var keptRows = 0L
  private var csvBytes = 0L
  private var cancelledShare = 0.0
  /** Gold computed by the benchmark from the generated rows:
    * (region, category) -> (flights, delay minutes, distance). */
  private var expectedGold = Map.empty[(String, String), (Long, Long, Long)]
  private var lastRoot: Option[Path] = None

  def generate(spark: SparkSession): Unit = {
    val rnd = new java.util.Random(seed)
    Files.createDirectories(inDir)
    val routes = for {
      o <- Airports; d <- Airports if o != d
    } yield (o, d, f"R${rnd.nextInt(Regions) + 1}%02d", 100 + rnd.nextInt(2900))
    Files.write(routesCsv, ("origin,dest,region\n" +
      routes.map { case (o, d, r, _) => s"$o,$d,$r" }.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    val gold = scala.collection.mutable.Map.empty[(String, String), (Long, Long, Long)]
    var id = 0L
    var cancelled = 0L
    val base = LocalDateTime.of(2024, 1, 1, 0, 0)
    for (f <- 0 until CsvFiles) {
      val sb = new StringBuilder(Header).append('\n')
      for (_ <- 0 until RowsPerFile) {
        id += 1
        val (o, d, region, dist) = routes(rnd.nextInt(routes.size))
        val sched = base.plusMinutes(rnd.nextInt(366 * 24 * 60))
        val u = rnd.nextDouble()
        val delay =
          if (u < 0.4) -rnd.nextInt(11)
          else if (u < 0.7) 1 + rnd.nextInt(15)
          else if (u < 0.9) 16 + rnd.nextInt(45)
          else 61 + rnd.nextInt(180)
        val isCancelled = rnd.nextDouble() < 0.02
        val actual = sched.plusMinutes(delay)
        val dateTxt = (if (rnd.nextInt(10) < 7) IsoDate else UsDate).format(sched)
        def ts(t: LocalDateTime) =
          (if (rnd.nextInt(10) < 6) IsoTs else UsTs).format(t)
        val distTxt = if (dist >= 1000) f"\"${dist / 1000},${dist % 1000}%03d\"" else dist.toString
        val cancTxt = CancelTokens(rnd.nextInt(CancelTokens.size))
        val cancTok = if (isCancelled) cancTxt._1 else cancTxt._2
        sb.append(id).append(',').append(dateTxt).append(',')
          .append(Airlines(rnd.nextInt(Airlines.size))).append(',')
          .append(o).append(',').append(d).append(',')
          .append(ts(sched)).append(',')
          .append(if (isCancelled) "" else ts(actual)).append(',')
          .append(distTxt).append(',')
          .append(f"$delay%d.0").append(',')
          .append(cancTok).append('\n')
        if (isCancelled) cancelled += 1
        else {
          val k = (region, category(delay))
          val (n, dm, dd) = gold.getOrElse(k, (0L, 0L, 0L))
          gold(k) = (n + 1, dm + delay, dd + dist)
        }
      }
      Files.write(inDir.resolve(f"flights-$f%02d.csv"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    totalRows = id
    keptRows = id - cancelled
    cancelledShare = cancelled.toDouble / id
    expectedGold = gold.toMap
    csvBytes = Fs.bytesUnder(inDir) + Files.size(routesCsv)
  }

  def properties: Seq[(String, Double)] = Seq(
    "rows" -> totalRows.toDouble,
    "bytes" -> csvBytes.toDouble,
    "files" -> CsvFiles.toDouble,
    "cancelled_share" -> cancelledShare,
    "gold_groups" -> expectedGold.size.toDouble)

  def setup(spark: SparkSession, round: Int): Unit = ()

  def nominalOpSeconds: Double = 4.0

  /** Set-up is only the session start here, about 0.1 s. */
  override def setupRounds: Int = 7

  /** Three ops: the first takes several times as long as a warm one
    * (class loading, code generation), and the next two still ran
    * slower than the ops after them while the JIT caught up. */
  def warmUp(spark: SparkSession): Unit = for (i <- -1 to -3 by -1) {
    val r = op(spark, i, new Tracer(false))
    require(r.ok, s"warm-up op failed: ${r.why}")
  }

  private def silverSteps(spark: SparkSession): Seq[Step] = Seq(
    SqlTransforms.step(spark, "not_cancelled",
      """SELECT * FROM __input__
         WHERE lower(trim(cancelled)) NOT IN ('yes', 'true')""", order = 0),
    SqlTransforms.step(spark, "delay_minutes",
      s"""SELECT *,
           CAST((unix_timestamp(${parseTs("actual_dep")})
                 - unix_timestamp(${parseTs("sched_dep")})) / 60 AS BIGINT)
             AS delay_min,
           CAST(replace(distance, ',', '') AS BIGINT) AS distance_mi
         FROM __input__""", order = 1),
    SqlTransforms.step(spark, "delay_category",
      """SELECT *, CASE WHEN delay_min <= 0 THEN 'on_time'
                        WHEN delay_min <= 15 THEN 'minor'
                        WHEN delay_min <= 60 THEN 'moderate'
                        ELSE 'severe' END AS category
         FROM __input__""", order = 2))

  private def goldSteps(spark: SparkSession, routes: DataFrame): Seq[Step] = Seq(
    Step("route_lookup", df => df.join(broadcast(routes), Seq("origin", "dest")),
      order = 0),
    SqlTransforms.step(spark, "region_summary",
      """SELECT region, category, count(*) AS n_flights,
                sum(delay_min) AS total_delay_min,
                sum(distance_mi) AS total_distance_mi
         FROM __input__ GROUP BY region, category""", order = 1))

  private def readGold(spark: SparkSession, path: String): Pipeline.Preview =
    Pipeline.preview(Sources.scanParquet(spark, path), 1000)

  def op(spark: SparkSession, i: Int, tr: Tracer): OpResult = {
    val root = work.resolve(s"layers/op-$i")
    val stop = Clock.start()
    val (fields, run, preview) = tr.span("op") {
      val src = tr.span("sources")(
        Sources.scanCsv(spark, inDir.toString, schema = Some(FlightSchema)))
      val routes = tr.span("sources")(
        Sources.scanCsv(spark, routesCsv.toString, schema = Some(RouteSchema)))
      val fields = tr.span("infer")(Infer.inferTypes(src, SampleRows))
      val (silver, gold) = tr.span("transform")(
        (silverSteps(spark), goldSteps(spark, routes)))
      def traced(steps: Seq[Step]) =
        steps.map(s => s.copy(fn = (df: DataFrame) => tr.span("transform")(s.fn(df))))
      val run = tr.span("pipeline") {
        val pid = tr.current
        val s0 = System.nanoTime()
        val r = Pipeline.run(spark, src, traced(silver), traced(gold), root.toString)
        if (pid >= 0) deriveLayerSpans(tr, pid, s0, r, silver.size)
        r
      }
      val preview = tr.span("pipeline", "pipeline.preview")(readGold(spark, run.goldPath))
      (fields, run, preview)
    }
    val time = stop()
    val read = Clock.repeatReads(readGold(spark, run.goldPath))

    val problems = Seq.newBuilder[String]
    val inferred = fields.map(f => f.name -> f.tpe).toMap
    if (inferred != ExpectedTypes) problems += s"inferred $inferred"
    if (run.status != Pipeline.Status.GoldReady) problems += s"status ${run.status}"
    else {
      val rows = run.layers.map(l => l.layer -> (l.inputRows, l.outputRows)).toMap
      if (rows("bronze")._2 != totalRows) problems += s"bronze rows ${rows("bronze")}"
      if (rows("silver")._2 != keptRows) problems += s"silver rows ${rows("silver")}"
      val got = preview.rows.map { r =>
        (r(0).toString, r(1).toString) ->
          (r(2).asInstanceOf[Long], r(3).asInstanceOf[Long], r(4).asInstanceOf[Long])
      }.toMap
      if (got != expectedGold || preview.totalRows != expectedGold.size)
        problems += "gold differs from the benchmark's computation"
    }
    val bronzeBytes = Fs.bytesUnder(root.resolve("bronze"))
    val sinkBytes = Fs.bytesUnder(root.resolve("silver")) + Fs.bytesUnder(root.resolve("gold"))
    if (tr.tracing) {
      tr.add("sources.rows", totalRows)
      tr.add("sources.bytes_read", csvBytes)
      tr.add("infer.sample_rows", math.min(SampleRows, totalRows))
      tr.add("infer.confidence", fields.map(_.confidence).sum / fields.size)
      tr.add("bronze.files_written", Fs.dataFiles(root.resolve("bronze"))
        .count(_.toString.endsWith(".parquet")))
      tr.add("bronze.bytes_written", bronzeBytes)
      val steps = run.layers.flatMap(_.steps)
      tr.add("transform.steps", steps.size)
      tr.add("transform.steps_failed", steps.count(_.status == "failed"))
      tr.add("sinks.bytes_written", sinkBytes)
    }
    lastRoot.filter(_ != root).foreach(Fs.deleteTree)
    lastRoot = Some(root)
    val p = problems.result()
    OpResult(time, read, totalRows, csvBytes, bronzeBytes + sinkBytes,
      p.isEmpty, p.mkString("; "))
  }

  def spaceAmp(spark: SparkSession): Double = {
    val root = lastRoot.getOrElse(sys.error("no op completed"))
    val onDisk = Seq("bronze", "silver", "gold").map(l => Fs.bytesUnder(root.resolve(l))).sum
    val fresh = Seq("bronze", "silver", "gold").map { l =>
      val out = work.resolve(s"compacted/$l")
      Sources.scanParquet(spark, root.resolve(l).toString).coalesce(1)
        .write.parquet(out.toString)
      Fs.bytesUnder(out)
    }.sum
    onDisk.toDouble / fresh
  }
}

object Medallion {
  val CsvFiles = 16
  val RowsPerFile = 1000
  val SampleRows = 1000
  val Regions = 12
  val Airports: Seq[String] = Seq("ATL", "ORD", "DFW", "DEN", "LAX", "JFK",
    "SFO", "SEA", "LAS", "MCO", "CLT", "PHX", "MIA", "IAH", "BOS", "MSP",
    "DTW", "PHL", "SLC", "BWI")
  val Airlines: Seq[String] = Seq("AA", "DL", "UA", "WN", "AS", "B6", "NK",
    "F9", "G4", "HA", "SY", "MQ")
  /** (cancelled, not cancelled) token pairs in the spellings the
    * inference's boolean vote accepts. */
  val CancelTokens: Seq[(String, String)] =
    Seq(("yes", "no"), ("true", "false"), ("Yes", "No"), ("TRUE", "FALSE"))
  val Header = "flight_id,flight_date,airline,origin,dest,sched_dep," +
    "actual_dep,distance,dep_delay_reported,cancelled"
  val FlightSchema: StructType = StructType(
    Header.split(',').map(StructField(_, StringType)).toSeq)
  val RouteSchema: StructType = StructType(
    Seq("origin", "dest", "region").map(StructField(_, StringType)))
  val ExpectedTypes: Map[String, LogicalType] = Map(
    "flight_id" -> TLong, "flight_date" -> TDate, "airline" -> TString,
    "origin" -> TString, "dest" -> TString, "sched_dep" -> TTimestamp,
    "actual_dep" -> TTimestamp, "distance" -> TLong,
    "dep_delay_reported" -> TDouble, "cancelled" -> TBoolean)
  private val IsoDate = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val UsDate = DateTimeFormatter.ofPattern("MM/dd/yyyy")
  private val IsoTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val UsTs = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm")

  def category(delay: Int): String =
    if (delay <= 0) "on_time" else if (delay <= 15) "minor"
    else if (delay <= 60) "moderate" else "severe"

  private def parseTs(c: String): String =
    s"coalesce(try_to_timestamp($c, 'yyyy-MM-dd HH:mm:ss'), " +
      s"try_to_timestamp($c, 'MM/dd/yyyy HH:mm'))"

  /** Child spans of a Pipeline.run span, from what the run reports:
    * bronze is the first `durationMs` of the run; each of silver and
    * gold is its transform steps (already recorded as spans) followed by
    * the sink write that fills the rest of that layer's `durationMs`.
    * The gaps left are Pipeline.run's own work: its row-count re-reads. */
  def deriveLayerSpans(tr: Tracer, pid: Int, s0: Long,
      r: Pipeline.RunResult, nSilver: Int): Unit = {
    val steps = tr.all.filter(s => s.parent == pid && s.layer == "transform")
      .sortBy(_.startNs)
    val ms = r.layers.map(l => l.layer -> l.durationMs * 1000000L).toMap
    ms.get("bronze").foreach(b => tr.derived("bronze", pid, s0, s0 + b))
    val (sil, gol) = steps.splitAt(nSilver)
    def sink(ss: Seq[Span], layer: String): Unit =
      for (d <- ms.get(layer) if ss.nonEmpty)
        tr.derived("sinks", pid, ss.last.endNs, ss.head.startNs + d)
    sink(sil, "silver")
    sink(gol, "gold")
  }
}
