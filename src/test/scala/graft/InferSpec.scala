package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.infer.Infer
import graft.types.LogicalType._
import graft.types.FieldSpec

class InferSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def inferOne(values: Seq[String]): (String, Double) = {
    val df = values.toDF("c")
    val f = Infer.inferTypes(df).head
    (f.tpe.name, f.confidence)
  }

  test("boolean voting over the token set") {
    assert(inferOne(Seq.fill(20)("yes") ++ Seq("no", "TRUE", "f"))._1
      == "boolean")
  }

  test("95% threshold is strict: 19/20 booleans stays string") {
    val (t, _) = inferOne(Seq.fill(19)("true") :+ "banana")
    assert(t == "string")
  }

  test("integers with thousands commas") {
    assert(inferOne(Seq("1,234", "56", "-7", "+890"))._1 == "long")
  }

  test("floats including scientific notation") {
    assert(inferOne(Seq("1.5", "-2.75", "3e4", ".5"))._1 == "double")
  }

  test("date formats: iso, us, eu") {
    assert(inferOne(Seq("2024-01-15", "01/15/2024", "15-01-2024"))._1
      == "date")
  }

  test("datetime formats at the 80% threshold") {
    val vals = Seq.fill(9)("2024-01-15T10:30") :+ "not a ts"
    assert(inferOne(vals)._1 == "timestamp")
  }

  test("all-null column degrades to string at confidence 0.5") {
    val df = Seq[(Int, String)]((1, null), (2, null)).toDF("id", "c")
      .select("c")
    val f = Infer.inferTypes(df).head
    assert(f.tpe == TString && f.confidence == 0.5)
  }

  test("mixed 90% ints is not long (threshold 0.95)") {
    val vals = Seq.fill(18)("7") ++ Seq("x", "y")
    assert(inferOne(vals)._1 == "string")
  }

  test("blank strings are skipped, not counted as mismatches") {
    assert(inferOne(Seq("1", "2", "", "  ", "3"))._1 == "long")
  }

  test("typed columns keep their Spark type at confidence 1.0") {
    val df = Seq((1L, 2.0)).toDF("a", "b")
    val fs = Infer.inferTypes(df)
    assert(fs.map(f => f.name -> f.tpe.name).toMap
      == Map("a" -> "long", "b" -> "double"))
    assert(fs.forall(_.confidence == 1.0))
  }

  test("inferTypes votes in one collect-limit job: 1 task, no shuffle") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(0, 4000, 1, 4).select(
      col("id").cast("string").as("n"),
      (col("id") % 3 === 0).cast("string").as("b"))
    assert(df.rdd.getNumPartitions == 4)
    val (fs, jobs) = jobsRun(Infer.inferTypes(df))
    assert(fs.map(f => f.name -> f.tpe.name) ==
      Seq("n" -> "long", "b" -> "boolean"))
    assert(jobs.size == 1, jobs)
    assert(jobs.head.tasks == 1 && jobs.head.shuffleBytes == 0L, jobs)
  }

  test("columnStats: nulls, distinct, numeric min/max, samples") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "a"), Row(2L, "b"), Row(2L, null), Row(null, "a")),
      StructType(Seq(StructField("n", LongType), StructField("s", StringType))))
    val stats = Infer.columnStats(df).map(f => f.name -> f).toMap
    assert(stats("n").nullCount == 1 && stats("n").uniqueCount == 2)
    assert(stats("n").min.contains("1.0") && stats("n").max.contains("2.0"))
    assert(stats("s").nullCount == 1 && stats("s").uniqueCount == 2)
    assert(stats("s").min.isEmpty)
  }

  test("compatCheck flags missing and extra columns") {
    val byPath = Map(
      "f0" -> Seq(("a", "b", "c")).toDF("a", "b", "c"),
      "f1" -> Seq(("a", "b")).toDF("a", "b"),
      "f2" -> Seq(("a", "b", "c", "d")).toDF("a", "b", "c", "d"))
    val r = Infer.compatCheck(spark, Seq("f0", "f1", "f2"), byPath(_))
    assert(r(0).compatible)
    assert(!r(1).compatible && r(1).missing == Seq("c"))
    assert(!r(2).compatible && r(2).extra == Seq("d"))
  }

  test("overallConfidence blends 0.7 field / 0.3 compat") {
    val fields = Seq(FieldSpec("a", TLong, confidence = 0.8),
      FieldSpec("b", TString, confidence = 1.0))
    val compat = Seq(
      Infer.FileCompat("x", compatible = true, Nil, Nil),
      Infer.FileCompat("y", compatible = false, Nil, Nil))
    val got = Infer.overallConfidence(fields, compat)
    assert(math.abs(got - (0.7 * 0.9 + 0.3 * 0.5)) < 1e-12)
  }

  test("overallConfidence: empty compat contributes 0, result rounds to 3dp") {
    val fields = Seq(FieldSpec("a", TLong, confidence = 0.95))
    // no files checked -> file ratio 0.0 (reference schema_detection.py:584-587)
    assert(Infer.overallConfidence(fields, Nil) == 0.665)
    // 0.7 * 0.1234 = 0.08638 -> rounds to 0.086
    assert(Infer.overallConfidence(
      Seq(FieldSpec("a", TLong, confidence = 0.1234)), Nil) == 0.086)
  }

  test("synthesizeRows cycles samples, casts types, nulls empties") {
    val rows = Infer.synthesizeRows(spark, Seq(
      FieldSpec("s", TString, sampleValues = Seq("x", "y")),
      FieldSpec("i", TInteger, sampleValues = Seq("1,000")),
      FieldSpec("bad", TLong, sampleValues = Seq("oops")),
      FieldSpec("none", TDouble)), 4).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(0)).toSeq == Seq("x", "y", "x", "y"))
    assert(rows.forall(_.getInt(1) == 1000))
    assert(rows.forall(_.isNullAt(2)) && rows.forall(_.isNullAt(3)))
  }
}
