package perfbench

import java.nio.file.Path
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup}
import graft.sinks.Sinks
import graft.sources.Sources

/** LLM pre-training curation over a seeded corpus in the
  * `documents.parquet` / `embeddings.parquet` shapes, so the
  * `(spark, dir)` entry points run unchanged. One op runs
  * `Curation.pretrainCuration`, `Dedup.minHashLsh`,
  * `Dedup.embeddingCosinePairs` and a parquet release write of the
  * documents that survive near-duplicate removal. */
final class CurationDedup(work: Path, seed: Long) extends Workload {
  import CurationDedup._

  private val dataDir = work.resolve("corpus")
  private var texts = Array.empty[String]
  private var langs = Array.empty[String]
  private var vecs = Array.empty[Array[Float]]
  private var exactShare, nearShare, contamShare = 0.0
  private var inBytes = 0L
  /** Checks computed from the generated inputs: pretrainCuration's
    * rows, and exact all-pairs results on seeded subsamples. */
  private var expectedCuration = Seq.empty[(String, Long, Long)]
  private var docSample = Set.empty[Long]
  private var docPairs = Set.empty[(Long, Long)]
  private var vecSample = Set.empty[Long]
  private var vecPairs = Set.empty[(Long, Long)]
  private var vecBorder = Set.empty[(Long, Long)]
  private var candidates = -1L
  private var lastRelease: Option[Path] = None

  def generate(spark: SparkSession): Unit = {
    val rnd = new java.util.Random(seed)
    val zipf = {
      val w = Array.tabulate(Vocabulary)(r => 1.0 / math.pow(r + 1, ZipfExponent))
      val cdf = w.scanLeft(0.0)(_ + _).tail
      cdf.map(_ / cdf.last)
    }
    def word(): String =
      if (rnd.nextDouble() < StopShare) StopWords(rnd.nextInt(StopWords.size))
      else {
        val i = java.util.Arrays.binarySearch(zipf, rnd.nextDouble())
        "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
      }
    val toks = new Array[Array[String]](Docs)
    val original = mutable.ArrayBuffer.empty[Int]
    val origin = new Array[Int](Docs)
    var exact, near, contam = 0
    for (id <- 0 until Docs) {
      val u = rnd.nextDouble()
      origin(id) = id
      if (original.size > 20 && u < ExactShare) {
        val o = original(rnd.nextInt(original.size))
        toks(id) = toks(o); origin(id) = o; exact += 1
      } else if (original.size > 20 && u < ExactShare + NearShare) {
        val o = original(rnd.nextInt(original.size))
        val t = toks(o).clone()
        (0 until 1 + rnd.nextInt(3)).foreach(_ => t(rnd.nextInt(t.length)) = word())
        toks(id) = t; origin(id) = o; near += 1
      } else {
        val t = Array.fill(30 + rnd.nextInt(50))(word())
        if (id > 0 && rnd.nextDouble() < ContaminatedShare) {
          // Copy a 3-gram of one of the every-97th documents that
          // pretrainCuration treats as its benchmark set.
          val b = toks(97 * rnd.nextInt((id - 1) / 97 + 1))
          System.arraycopy(b, rnd.nextInt(b.length - 2), t, rnd.nextInt(t.length - 2), 3)
          contam += 1
        }
        toks(id) = t
        original += id
      }
    }
    texts = toks.map(_.mkString(" "))
    langs = Array.fill(Docs) {
      val u = rnd.nextDouble()
      if (u < 0.6) "en" else if (u < 0.75) "de" else if (u < 0.9) "fr" else "es"
    }
    exactShare = exact.toDouble / Docs
    nearShare = near.toDouble / Docs
    contamShare = contam.toDouble / Docs
    val docRows = (0 until Docs).map(i => Row(i.toLong, texts(i), langs(i),
      s"src${i % 5}", texts(i).length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 4), DocSchema)
      .write.parquet(dataDir.resolve("documents.parquet").toString)

    val base = mutable.ArrayBuffer.empty[Int]
    val vorigin = new Array[Int](Vectors)
    vecs = new Array[Array[Float]](Vectors)
    for (id <- 0 until Vectors) {
      vorigin(id) = id
      vecs(id) =
        if (base.size > 20 && rnd.nextDouble() < NearVectorShare) {
          val o = base(rnd.nextInt(base.size))
          vorigin(id) = o
          vecs(o).map(x => (x + rnd.nextGaussian() * VectorNoise).toFloat)
        } else { base += id; Array.fill(Dim)(rnd.nextGaussian().toFloat) }
    }
    val vecRows = (0 until Vectors).map(i => Row(i.toLong, vecs(i).toSeq, 0))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 4), VecSchema)
      .write.parquet(dataDir.resolve("embeddings.parquet").toString)
    inBytes = Fs.bytesUnder(dataDir)

    expectedCuration = curationRows()
    docSample = sampleWithFamilies(rnd, Docs, origin)
    val sh = docSample.map(i => i -> shingles(texts(i.toInt))).toMap
    docPairs = pairs(docSample).filter { case (a, b) =>
      val (x, y) = (sh(a), sh(b))
      val inter = x.count(y).toDouble
      inter / (x.size + y.size - inter) >= JaccardThreshold
    }.toSet
    vecSample = sampleWithFamilies(rnd, Vectors, vorigin)
    val scored = pairs(vecSample).map(p => p -> cosine(vecs(p._1.toInt), vecs(p._2.toInt)))
    vecPairs = scored.collect { case (p, c) if c >= CosineThreshold => p }.toSet
    vecBorder = scored.collect { case (p, c) if math.abs(c - CosineThreshold) < 1e-9 => p }.toSet
  }

  /** A seeded subsample that keeps its duplicates: 60 random roots with
    * every document derived from them, plus 100 unrelated documents. */
  private def sampleWithFamilies(rnd: java.util.Random, n: Int, origin: Array[Int]): Set[Long] = {
    val roots = Array.fill(60)(origin(rnd.nextInt(n))).toSet
    ((0 until n).filter(i => roots(origin(i))) ++ Seq.fill(100)(rnd.nextInt(n)))
      .map(_.toLong).toSet
  }

  private def pairs(s: Set[Long]): Seq[(Long, Long)] = {
    val v = s.toSeq.sorted
    for (i <- v.indices; j <- i + 1 until v.size) yield (v(i), v(j))
  }

  private def md5Hex2(id: Long): String =
    MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .take(1).map(b => f"${b & 0xff}%02x").mkString

  /** pretrainCuration's result, recomputed from the generated texts:
    * quality filter, exact dedup keeping the lowest id, removal of
    * documents sharing a 3-gram with the every-97th-document benchmark
    * set, the 40% `en` downsample, then per-split document and token
    * totals. */
  private def curationRows(): Seq[(String, Long, Long)] = {
    val bench = (0 until Docs by 97).flatMap(i => shingles(texts(i))).toSet
    val keep = (0 until Docs).filter { i =>
      val t = texts(i).split(" ", -1)
      t.length >= 15 && t.count(StopWords.contains).toDouble / t.length >= 0.02
    }.groupBy(texts(_)).values.map(_.min)
      .filterNot(i => shingles(texts(i)).exists(bench))
      .filter(i => langs(i) != "en" || md5Hex2(i.toLong) < "66")
    keep.groupBy(i => if (md5Hex2(i.toLong) < "e6") "train" else "holdout")
      .map { case (s, ids) => (s, ids.size.toLong, ids.map(i => texts(i).split(" ", -1).length.toLong).sum) }
      .toSeq.sortBy(_._1)
  }

  def properties: Seq[(String, Double)] = Seq(
    "docs" -> Docs.toDouble,
    "vectors" -> Vectors.toDouble,
    "bytes" -> inBytes.toDouble,
    "exact_duplicate_share" -> exactShare,
    "near_duplicate_share" -> nearShare,
    "contaminated_share" -> contamShare,
    "near_vector_share_planted" -> NearVectorShare,
    "checked_doc_pairs" -> docPairs.size.toDouble,
    "checked_vector_pairs" -> vecPairs.size.toDouble)

  def setup(spark: SparkSession, round: Int): Unit = ()

  def nominalOpSeconds: Double = 8.0

  def warmUp(spark: SparkSession): Unit = {
    val r = op(spark, -1, new Tracer(false))
    require(r.ok, s"warm-up op failed: ${r.why}")
  }

  private def readRelease(spark: SparkSession, out: Path): Row =
    Sources.scanParquet(spark, out.toString)
      .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).head()

  def op(spark: SparkSession, i: Int, tr: Tracer): OpResult = {
    val dir = dataDir.toString
    val out = work.resolve(s"release/op-$i")
    val stop = Clock.start()
    val (cur, near, cos, back) = tr.span("op") {
      val cur = tr.span("curation")(Curation.pretrainCuration(spark, dir).collect())
      val near = tr.span("dedup")(Dedup.minHashLsh(spark, dir, JaccardThreshold).collect())
      val cos = tr.span("similarity")(Dedup.embeddingCosinePairs(spark, dir, CosineThreshold).collect())
      val removed = near.map(_.getLong(1)).distinct.toSeq
      val docs = tr.span("sources")(
        Sources.scanParquet(spark, dataDir.resolve("documents.parquet").toString))
      tr.span("sinks")(Sinks.parquetOverwrite(
        docs.join(broadcast(spark.createDataFrame(removed.map(Tuple1(_))).toDF("doc_id")),
          Seq("doc_id"), "left_anti"),
        out.toString))
      val back = tr.span("sources")(readRelease(spark, out))
      (cur, near, cos, back)
    }
    val time = stop()
    val read = Clock.repeatReads(readRelease(spark, out))

    val problems = Seq.newBuilder[String]
    val gotCur = cur.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    if (gotCur != expectedCuration)
      problems += s"pretrainCuration $gotCur != $expectedCuration"
    val nearPairs = near.map(r => (r.getLong(0), r.getLong(1)))
    val gotDoc = nearPairs.filter { case (a, b) => docSample(a) && docSample(b) }.toSet
    if (gotDoc != docPairs) problems += s"minHashLsh pairs on the subsample: " +
      s"${(gotDoc -- docPairs).size} extra, ${(docPairs -- gotDoc).size} missing"
    val gotVec = cos.map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => vecSample(a) && vecSample(b) }.toSet
    if ((gotVec -- vecBorder) != (vecPairs -- vecBorder))
      problems += s"cosine pairs on the subsample: ${(gotVec -- vecPairs).size} extra, " +
        s"${(vecPairs -- gotVec).size} missing"
    val removed = nearPairs.map(_._2).distinct
    val kept = (0L until Docs).filterNot(removed.toSet)
    val want = (kept.size.toLong, kept.sum, kept.map(k => texts(k.toInt).length.toLong).sum)
    if ((back.getLong(0), back.getLong(1), back.getLong(2)) != want)
      problems += s"release (${back.getLong(0)} docs) differs from ${want._1} kept docs"

    val released = Fs.bytesUnder(out)
    if (tr.tracing) {
      if (candidates < 0) candidates = Dedup.minHashCandidates(
        Sources.scanParquet(spark, dataDir.resolve("documents.parquet").toString),
        JaccardThreshold).count()
      tr.add("dedup.candidate_pairs", candidates)
      tr.add("dedup.verified_pairs", near.length)
      tr.add("dedup.rows_removed", removed.size)
      tr.add("similarity.pairs_scored", Vectors.toLong * (Vectors - 1) / 2)
      tr.add("similarity.pairs_kept", cos.length)
      tr.add("curation.docs_in", Docs)
      tr.add("curation.docs_kept", gotCur.map(_._2).sum)
      tr.add("sinks.bytes_written", released)
    }
    lastRelease.filter(_ != out).foreach(Fs.deleteTree)
    lastRelease = Some(out)
    val p = problems.result()
    OpResult(time, read, Docs, inBytes, released, p.isEmpty, p.mkString("; "))
  }

  def spaceAmp(spark: SparkSession): Double = {
    val rel = lastRelease.getOrElse(sys.error("no op completed"))
    val out = work.resolve("compacted")
    Sources.scanParquet(spark, rel.toString).coalesce(1).write.parquet(out.toString)
    Fs.bytesUnder(rel).toDouble / Fs.bytesUnder(out)
  }
}

object CurationDedup {
  val Docs = 400
  val Vectors = 600
  val Dim = 64
  val Vocabulary = 20000
  val ZipfExponent = 1.0
  val StopShare = 0.1
  val ExactShare = 0.05
  val NearShare = 0.20
  val ContaminatedShare = 0.01
  val NearVectorShare = 0.10
  val VectorNoise = 0.3
  val JaccardThreshold = 0.8
  val CosineThreshold = 0.46
  val StopWords: Seq[String] = graft.operators.TextOps.StopWords
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Distinct word 3-shingles, as TextOps.shinglesOfTokens forms them. */
  def shingles(text: String): Set[String] =
    text.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString("|")).toSet

  /** Cosine as graft.functions.CosineSimilarity computes it on floats. */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot, nx, ny = 0.0
    var i = 0
    while (i < x.length) {
      val a = x(i).toDouble; val b = y(i).toDouble
      dot += a * b; nx += a * a; ny += b * b
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
