package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bronze
import graft.pipeline.Pipeline
import graft.sources.Sources
import graft.transform.Step
import graft.util.{ParquetSchema, Scratch}

/** The medallion bookkeeping: layer counts, files and bytes come off the
  * parquet footers, `scanParquet` takes its schema from a footer, and
  * `preview` collects the limit before it counts. Each result must equal
  * what a plain Spark read of the same directory says. Bronze writes one
  * file per ingestion date, and a one-date run does it without a shuffle. */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private def source(n: Long): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("v"), col("id").cast("string")).as("s"))

  private val silver = Seq(Step("drop_k0", _.filter(col("k") =!= 0)))
  private val gold = Seq(Step("by_k", _.groupBy("k").count()))

  /** Data files under a directory, walked with java.nio: names
    * starting with `part-`, at any depth. */
  private def partFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toList
    finally walk.close()
  }

  /** Spark jobs started while `f` runs (listener events drain first). */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val (a, jobs) = jobsRun(f)
    (a, jobs.size)
  }

  private def fields(st: StructType): Seq[(String, String, Boolean)] =
    st.fields.toSeq.map(f => (f.name, f.dataType.json, f.nullable))

  private def typedSource: DataFrame =
    spark.range(40).select(col("id"),
      (col("id") * 1.5).as("d"),
      col("id").cast("decimal(12,2)").as("dec"),
      col("id").cast("string").as("s"),
      timestamp_seconds(col("id")).as("ts"),
      array(col("id"), lit(null).cast("long")).as("a"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("x"), col("id").cast("string").as("y")).as("st"),
      when(col("id") % 2 === 0, lit(java.sql.Date.valueOf("2026-01-01")))
        .otherwise(lit(java.sql.Date.valueOf("2026-01-02")))
        .as("_ingestion_date"))

  test("layer rows equal a plain read of each layer; bronze totals every run; files and bytes match the listing") {
    val root = Scratch.dir("graft_pipe_counts").toString
    val r1 = Pipeline.run(spark, source(1000), silver, gold, root)
    val r2 = Pipeline.run(spark, source(600), silver, gold, root,
      ingestionDate = java.sql.Date.valueOf("2026-01-02"))
    for (r <- Seq(r1, r2))
      assert(r.status == Pipeline.Status.GoldReady)
    val layers = r2.layers.map(l => l.layer -> l).toMap
    assert(r2.layers.map(_.layer) == Seq("bronze", "silver", "gold"))
    for (l <- r2.layers) {
      val dir = s"$root/${l.layer}"
      assert(l.outputRows == spark.read.parquet(dir).count(),
        s"${l.layer} rows")
      val parts = partFiles(dir)
      assert(l.outputFiles == parts.size, s"${l.layer} files")
      assert(l.outputBytes == parts.map(Files.size).sum, s"${l.layer} bytes")
    }
    // Bronze is an append: its count is the directory total of both runs.
    assert(layers("bronze").outputRows == 1600)
    assert(layers("bronze").inputRows == 1600)
    assert(partFiles(s"$root/bronze").map(_.getParent.getFileName.toString)
      .toSet == Set("_ingestion_date=2026-01-01", "_ingestion_date=2026-01-02"))
    assert(layers("silver").inputRows == 1600)
    assert(layers("silver").outputRows == (0L until 1000).count(_ % 7 != 0) +
      (0L until 600).count(_ % 7 != 0))
    assert(layers("gold").inputRows == layers("silver").outputRows)
    assert(layers("gold").outputRows == 6)
    assert(r1.layers.head.outputRows == 1000)
  }

  test("layer listing skips _SUCCESS, .crc siblings and zero-byte files") {
    val root = Scratch.dir("graft_pipe_listing").toString
    val r = Pipeline.run(spark, source(300), silver, gold, root)
    for (l <- r.layers) {
      val dir = java.nio.file.Paths.get(s"$root/${l.layer}")
      val schema = spark.read.parquet(dir.toString).schema
      // Sorts ahead of every part- file: the schema lookup meets it first.
      Files.createFile(dir.resolve("a-empty.parquet"))
      val again = ParquetSchema.totals(spark, dir.toString)
      assert(again == ParquetSchema.Totals(
        l.outputRows, l.outputFiles, l.outputBytes), l.layer)
      // A plain inferring read would pick the empty file and fail; the
      // footer schema skips it, and Spark's scan skips it as well.
      val scan = Sources.scanParquet(spark, dir.toString)
      assert(scan.schema == schema, l.layer)
      assert(scan.count() == l.outputRows, l.layer)
      val walk = Files.walk(dir)
      val names = try walk.iterator().asScala
        .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toList
      finally walk.close()
      assert(names.contains("_SUCCESS"), s"${l.layer}: $names")
      assert(names.exists(_.endsWith(".crc")), s"${l.layer}: $names")
      val parts = partFiles(dir.toString)
      assert(parts.nonEmpty && l.outputFiles == parts.size,
        s"${l.layer}: ${l.outputFiles} files counted among $names")
      assert(l.outputBytes == parts.map(Files.size).sum)
      assert(ParquetSchema.dataFiles(spark.sessionState.newHadoopConf(),
        dir.toString).map(_.getPath.getName) ==
        parts.map(_.getFileName.toString).sorted)
    }
  }

  test("preview's totalRows is exact below, at and above n, and for n = 0") {
    val dir = Scratch.dir("graft_pipe_preview").resolve("t").toString
    source(30).repartition(3).write.parquet(dir)
    assert(partFiles(dir).size == 3)
    val df = Sources.scanParquet(spark, dir)
    for (n <- Seq(31, 30, 29, 1, 0)) {
      val p = Pipeline.preview(df, n)
      assert(p.totalRows == 30, s"n=$n")
      assert(p.rows.size == math.min(n, 30), s"n=$n")
      assert(p.schema == Seq("id" -> "bigint", "k" -> "bigint",
        "s" -> "string"))
    }
  }

  test("scanParquet's schema equals the inferring read field by field, flat and partitioned") {
    val base = Scratch.dir("graft_pipe_schema")
    val flat = base.resolve("flat").toString
    val parted = base.resolve("parted").toString
    typedSource.repartition(2).write.parquet(flat)
    typedSource.repartition(2).write.partitionBy("_ingestion_date")
      .parquet(parted)
    for (dir <- Seq(flat, parted)) {
      val got = Sources.scanParquet(spark, dir)
      val want = spark.read.parquet(dir)
      assert(fields(got.schema) == fields(want.schema), dir)
      assert(got.collect().toSet == want.collect().toSet, dir)
    }
    // The partitioned directory is served from a footer too: its data
    // schema is the partition-less one, and the partition column comes
    // back from discovery as the last field.
    val footer = ParquetSchema.footerSchema(spark, parted)
    assert(footer.map(_.fieldNames.toSeq) ==
      Some(spark.read.parquet(parted).schema.fieldNames.toSeq.init))
    assert(spark.read.parquet(parted).schema.last.name == "_ingestion_date")
  }

  test("scanParquet on a missing or empty directory fails like a plain read") {
    val base = Scratch.dir("graft_pipe_missing")
    val empty = base.resolve("empty")
    Files.createDirectories(empty)
    for (dir <- Seq(base.resolve("missing").toString, empty.toString)) {
      val want = intercept[Exception](spark.read.parquet(dir))
      val got = intercept[Exception](Sources.scanParquet(spark, dir))
      assert(got.getClass == want.getClass, s"$dir: $got vs $want")
      (got, want) match {
        case (g: SparkThrowable, w: SparkThrowable) =>
          assert(g.getCondition == w.getCondition, dir)
        case _ => fail(s"$dir: expected Spark errors, got $got / $want")
      }
    }
  }

  test("scanParquet starts no Spark job on a flat or a partitioned directory") {
    val base = Scratch.dir("graft_pipe_jobs_scan")
    val flat = base.resolve("flat").toString
    val parted = base.resolve("parted").toString
    typedSource.write.parquet(flat)
    typedSource.write.partitionBy("_ingestion_date").parquet(parted)
    for (dir <- Seq(flat, parted)) {
      val (cols, jobs) =
        jobsDuring(Sources.scanParquet(spark, dir).schema.size)
      assert(cols == 9 && jobs == 0, s"$dir: $jobs jobs")
    }
  }

  test("preview of a single-file table smaller than n runs exactly one job") {
    val dir = Scratch.dir("graft_pipe_jobs_preview").resolve("t").toString
    source(48).coalesce(1).write.parquet(dir)
    assert(partFiles(dir).size == 1)
    val df = Sources.scanParquet(spark, dir)
    val (p, jobs) = jobsDuring(Pipeline.preview(df, 1000))
    assert(p.totalRows == 48 && p.rows.size == 48)
    assert(jobs == 1, s"$jobs jobs")
  }

  /** `source`'s columns over exactly four partitions, with no shuffle. */
  private def fourPartitions(n: Long): DataFrame =
    spark.range(0, n, 1, 4).select(col("id"), (col("id") % 7).as("k"),
      concat(lit("v"), col("id").cast("string")).as("s"))

  /** Data files in each `_ingestion_date=` directory under `dir`. */
  private def filesPerDate(dir: String): Map[String, Int] =
    partFiles(dir).groupBy(_.getParent.getFileName.toString)
      .map { case (d, fs) => d -> fs.size }

  test("Pipeline.run writes its one-date bronze in one job, with no shuffle") {
    val root = Scratch.dir("graft_pipe_bronze_one").toString
    val src = fourPartitions(4000)
    assert(src.rdd.getNumPartitions == 4)
    val (r, jobs) = jobsRun(Pipeline.run(spark, src, silver, gold, root))
    assert(r.status == Pipeline.Status.GoldReady)
    val bronze = jobs.filter(_.callStack.contains("Bronze$.writeBronze"))
    assert(bronze.size == 1, jobs)
    assert(bronze.map(_.shuffleBytes).sum == 0L, bronze)
    assert(filesPerDate(s"$root/bronze") ==
      Map("_ingestion_date=2026-01-01" -> 1))
    assert(r.layers.head.outputRows == 4000 && r.layers.head.outputFiles == 1)
  }

  test("writeBronze of a multi-date frame still writes one file per date") {
    val dir = Scratch.dir("graft_pipe_bronze_dates").resolve("b").toString
    val df = fourPartitions(3000).withColumn("_ingestion_date",
      date_add(lit(java.sql.Date.valueOf("2026-01-01")),
        (col("id") % 3).cast("int")))
    Bronze.writeBronze(df, dir)
    assert(filesPerDate(dir) == Map(
      "_ingestion_date=2026-01-01" -> 1,
      "_ingestion_date=2026-01-02" -> 1,
      "_ingestion_date=2026-01-03" -> 1))
    assert(Sources.scanParquet(spark, dir).count() == 3000)
  }
}
