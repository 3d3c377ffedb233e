package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.infer.Infer
import graft.sinks.Sinks
import graft.transform.{Chain, Step}

/** Property-style tests driven by ScalaCheck generators (sampled
  * directly — the scalatest/scalacheck bridge artifact is not on the
  * offline classpath). */
class PropertySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(42L + i)))

  test("pure integer columns always vote long (no 0/1 boolean bleed)") {
    samples(Gen.nonEmptyListOf(Gen.chooseNum(2L, 1000000L)), 20)
      .foreach { ns =>
        val f = Infer.inferTypes(ns.map(_.toString).toDF("c")).head
        assert(f.tpe.name == "long" && f.confidence == 1.0, ns.take(5))
      }
  }

  /** The vote counters as one aggregate over the whole sample: the
    * single-pass form `Infer.voteCounts` had before it packed the votes
    * into bit flags, kept here as the reference. */
  private def aggregateVotes(
      sample: org.apache.spark.sql.DataFrame, c: String): Infer.TypeVotes = {
    import org.apache.spark.sql.functions._
    val t = trim(col(c))
    val noComma = regexp_replace(t, ",", "")
    val nn = t.isNotNull && t =!= ""
    def one(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    val r = sample.agg(
      one(nn),
      one(nn && lower(t).isin(Infer.BoolTokens: _*)),
      one(nn && noComma.rlike("^[+-]?[0-9]+$")),
      one(nn && noComma.rlike(
        "^[+-]?(([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?|(?i:inf(inity)?|nan))$")),
      one(nn && t.rlike(
        "^([0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{2}/[0-9]{2}/[0-9]{4}|[0-9]{2}-[0-9]{2}-[0-9]{4})$")),
      one(nn && t.rlike(
        "^([0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}(:[0-9]{2}(\\.[0-9]+)?)?|[0-9]{2}/[0-9]{2}/[0-9]{4} [0-9]{2}:[0-9]{2}(:[0-9]{2})?)$"))
    ).collect()(0)
    def g(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Infer.TypeVotes(g(0), g(1), g(2), g(3), g(4), g(5))
  }

  test("packed votes equal the one-aggregate count on every vote edge") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    def d(n: Int) = Gen.listOfN(n, Gen.numChar).map(_.mkString)
    val grouped = Gen.chooseNum(-9999999L, 9999999L)
      .map(n => "%,d".formatLocal(java.util.Locale.US, n))
    val signed = for {
      s <- Gen.oneOf("", "+", "-"); n <- Gen.chooseNum(0L, 1000000L)
    } yield s"$s$n"
    val float = for {
      s <- Gen.oneOf("", "+", "-"); m <- Gen.oneOf("1.5", "3.", ".25", "7")
      e <- Gen.oneOf("", "e4", "E-2", "e+10", "e")
    } yield s"$s$m$e"
    val special = Gen.oneOf("inf", "-Infinity", "+INF", "NaN", "nan", "infin")
    val date = for { y <- d(4); m <- d(2); dd <- d(2); shape <- Gen.choose(0, 2) }
      yield Seq(s"$y-$m-$dd", s"$m/$dd/$y", s"$dd-$m-$y")(shape)
    val ts = for {
      y <- d(4); mo <- d(2); dd <- d(2); h <- d(2); mi <- d(2); s <- d(2)
      shape <- Gen.choose(0, 4)
    } yield Seq(s"$y-$mo-${dd}T$h:$mi", s"$y-$mo-$dd $h:$mi:$s",
      s"$y-$mo-$dd $h:$mi:$s.123", s"$mo/$dd/$y $h:$mi",
      s"$mo/$dd/$y $h:$mi:$s")(shape)
    val bool = for {
      tok <- Gen.oneOf(Infer.BoolTokens)
      ups <- Gen.listOfN(tok.length, Gen.oneOf(true, false))
    } yield tok.zip(ups).map { case (ch, u) => if (u) ch.toUpper else ch }.mkString
    val other = Gen.oneOf("", " ", "\t", "  \t ", "café", "日本語", "Ünïcödé",
      "1,2.5", "--1", "2024-1-5", "abc")
    val value = for {
      v <- Gen.frequency(3 -> grouped, 3 -> signed, 3 -> float, 1 -> special,
        2 -> date, 2 -> ts, 3 -> bool, 2 -> other)
      pre <- Gen.oneOf("", "", "", " ", "  ", "\t")
      post <- Gen.oneOf("", "", "", " ", "\t", "\n")
      isNull <- Gen.frequency(1 -> true, 19 -> false)
    } yield if (isNull) null else pre + v + post
    val column = Gen.chooseNum(0, 1000).flatMap(Gen.listOfN(_, value))
    val schema = StructType(Seq(StructField("c", StringType)))
    samples(column, 25).foreach { vs =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(vs.map(Row(_)), 1), schema)
      assert(Infer.voteCounts(df, Seq("c"), 1000)("c") ==
        aggregateVotes(df, "c"), vs.take(10))
    }
  }

  test("decide() never exceeds confidence 1.0 for consistent votes") {
    val g = for {
      nn <- Gen.chooseNum(0L, 100L)
      b <- Gen.chooseNum(0L, nn max 0L)
      i <- Gen.chooseNum(0L, nn max 0L)
      f <- Gen.chooseNum(0L, nn max 0L)
    } yield Infer.TypeVotes(nn, b, i, f, 0, 0)
    samples(g, 100).foreach { v =>
      val (_, conf) = Infer.decide(v)
      assert(conf > 0.0 && conf <= 1.0, v)
    }
  }

  test("sanitized table names always satisfy the postgres identifier rule") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val t = Sinks.sanitizeTableName(s)
      assert(t.matches("^[A-Za-z_][A-Za-z0-9_.]*$") && t.length <= 63,
        s"'$s' -> '$t'")
    }
  }

  test("int8 quantization: range, zero-vector safety, bounded error") {
    import org.apache.spark.sql.functions._
    val gVec = Gen.listOfN(8, Gen.chooseNum(-1e4f, 1e4f))
    val vecs = samples(gVec, 40).map(_.toArray) :+
      Array.fill(8)(0.0f) // the ma = 0 edge
    val df = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val rows = graft.operators.Similarity
      .quantizeInt8(df, keepDouble = true)
      .select("vec_id", "ed", "ma", "codes")
      .collect()
    assert(rows.length == vecs.length)
    rows.foreach { r =>
      val ed = r.getSeq[Double](1)
      val ma = r.getDouble(2)
      val codes = r.getSeq[Byte](3)
      assert(codes.length == ed.length)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (ma == 0.0) assert(codes.forall(_ == 0))
      else ed.zip(codes).foreach { case (x, c) =>
        // Dequantized value is within half a quantization step.
        val recon = c.toDouble * ma / 127.0
        assert(math.abs(recon - x) <= ma / 127.0 * 0.5 + 1e-9,
          s"x=$x recon=$recon ma=$ma")
      }
    }
  }

  test("chain fold equals direct function composition") {
    samples(Gen.listOfN(3, Gen.chooseNum(1, 5)), 5).foreach { mults =>
      val df = Seq(1, 2, 3).toDF("n")
      val steps = mults.zipWithIndex.map { case (m, i) =>
        Step(s"s$i",
          _.withColumn("n", org.apache.spark.sql.functions.col("n") * m),
          order = i)
      }
      val (out, results) = Chain.run(df, steps)
      val expected = Seq(1, 2, 3).map(_ * mults.product)
      assert(out.as[Int].collect().sorted.toSeq == expected)
      assert(results.forall(_.status == "success"))
    }
  }

  test("sorted_intersect_size equals the set-intersection size on random sets") {
    import org.apache.spark.sql.functions._
    val g = for {
      a <- Gen.listOf(Gen.chooseNum(0, 50))
      b <- Gen.listOf(Gen.chooseNum(0, 50))
    } yield (a.distinct.map(i => s"s$i").sorted, b.distinct.map(i => s"s$i").sorted)
    val cases = samples(g, 200)
    val df = cases.toDF("a", "b")
      .select(graft.functions.SortedIntersectSize(col("a"), col("b")).as("got"))
    val gots = df.as[Int].collect()
    cases.zip(gots).foreach { case ((a, b), got) =>
      assert(got == a.toSet.intersect(b.toSet).size, s"a=$a b=$b")
    }
  }

  test("binned range join equals the naive range join on random data") {
    import org.apache.spark.sql.functions._
    val base = 1700000000000000L // fixed epoch-micros origin
    val hour = 3600000000L
    val pts = samples(Gen.chooseNum(0L, 72L * hour), 150).zipWithIndex
      .map { case (off, i) => (i.toLong, new java.sql.Timestamp((base + off) / 1000)) }
    val ivs = samples(Gen.zip(Gen.chooseNum(0L, 70L * hour),
      Gen.chooseNum(1L, 10L * hour)), 40).zipWithIndex
      .map { case ((s, len), i) =>
        (i.toLong, new java.sql.Timestamp((base + s) / 1000),
          new java.sql.Timestamp((base + s + len) / 1000)) }
    val p = pts.toDF("p_id", "t")
    val iv = ivs.toDF("i_id", "s", "e")
    val want = p.join(iv, col("t") >= col("s") && col("t") < col("e"))
      .select("p_id", "i_id").as[(Long, Long)].collect().toSet
    Seq(1800L, 3600L, 7 * 3600L).foreach { w =>
      val got = graft.operators.RangeJoin
        .pointInInterval(p, "t", iv, "s", "e", binWidthSec = w)
        .select("p_id", "i_id").as[(Long, Long)].collect().toSet
      assert(got == want, s"binWidthSec=$w")
    }
  }

  test("bottom_k equals sorted distinct take(k) on random multisets") {
    import org.apache.spark.sql.functions._
    val vals = samples(Gen.chooseNum(0, 300), 400).map(i => f"v$i%03d")
    val want = vals.distinct.sorted.take(7)
    Seq(1, 5, 24).foreach { parts =>
      val got = vals.toDF("s").repartition(parts)
        .agg(graft.functions.BottomKStrings.asColumn(col("s"), 7).as("bk"))
        .as[Seq[String]].head()
      assert(got == want, s"parts=$parts")
    }
  }

  test("span dedup equals in-memory first-occurrence scan on random corpora") {
    import org.apache.spark.sql.functions._
    val k = 4
    // Tiny vocabulary forces heavy span collisions across docs.
    val texts = samples(for {
      n <- Gen.chooseNum(0, 30)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" "), 60).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text").repartition(5)
    val got = graft.operators.Dedup.spanKeepMarks(df, k)
      .select(col("doc_id"), col("ci"), col("keep"))
      .as[(Long, Int, Boolean)].collect()
      .map { case (d, c, kf) => (d, c) -> kf }.toMap
    val seen = scala.collection.mutable.Set[String]()
    texts.sortBy(_._1).foreach { case (id, t) =>
      val ws = t.split(" ", -1)
      if (ws.length >= k) (0 until ws.length / k).foreach { ci =>
        val span = ws.slice(ci * k, ci * k + k).mkString(" ")
        val expectKeep = !seen.contains(span)
        seen += span
        assert(got((id, ci)) == expectKeep,
          s"doc $id chunk $ci span '$span'")
      }
    }
  }

  test("hash-fingerprint span marks equal the text-grouped form") {
    import org.apache.spark.sql.functions._
    val k = 3
    val texts = samples(for {
      n <- Gen.chooseNum(0, 24)
      ws <- Gen.listOfN(n, Gen.oneOf("x", "y", "z"))
    } yield ws.mkString(" "), 50).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text").repartition(4)
    def marks(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), col("ci"), col("keep"))
      .as[(Long, Int, Boolean)].collect().toSet
    val viaHash = marks(graft.operators.Dedup.spanKeepMarks(df, k))
    val viaText = marks(graft.operators.Dedup.spanKeepMarksByText(df, k))
    assert(viaHash == viaText)
    assert(viaHash.nonEmpty)
  }

  test("custom top-k exec equals in-memory grouped sort-take on random data") {
    import org.apache.spark.sql.functions._
    val rows = samples(for {
      key <- Gen.chooseNum(0, 6)
      score <- Gen.chooseNum(0, 40)  // narrow range forces ties
      id <- Gen.chooseNum(0L, 100000L)
    } yield (s"k$key", score.toDouble, id), 500).distinct
    Seq(1, 3, 5).foreach { k =>
      val got = graft.plans.TopKPerKey(
          rows.toDF("key", "score", "id").repartition(7),
          Seq("key"), Seq(("score", true), ("id", false)), k)
        .as[(String, Double, Long)].collect().toSet
      val want = rows.groupBy(_._1).flatMap { case (_, vs) =>
        vs.sortBy { case (_, s, id) => (-s, id) }.take(k)
      }.toSet
      assert(got == want, s"k=$k")
    }
  }

  test("hash split is a stable partition: every id lands in exactly one side") {
    import org.apache.spark.sql.functions._
    val ids = samples(Gen.chooseNum(0L, 1000000L), 200)
    def eval(): Seq[String] = ids.toDF("id")
      .select(graft.operators.Sampling.splitCol(col("id")).as("s"))
      .as[String].collect().toSeq
    val first = eval()
    assert(first.forall(s => s == "train" || s == "holdout"))
    assert(first == eval(), "same ids must land on the same side every run")
  }
}
