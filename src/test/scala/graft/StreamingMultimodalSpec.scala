package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.operators.Relational
import graft.streaming.Streaming

class StreamingMultimodalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("windowed aggregation equals batch group-by per hour") {
    val got = Streaming.windowedAggQuery(spark, sfDir)
      .select("window_start", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet
    val want = Relational.table(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(got == want)
  }

  test("rocksdb state store: provider-independent results, rocksdb layout on disk") {
    val row = Streaming.rocksDbStateQuery(spark, sfDir).head()
    val want = Relational.table(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), sum(col("n"))).head()
    assert(row.getLong(0) == want.getLong(0), "window count differs from batch")
    assert(row.getLong(1) == want.getLong(1), "event total differs from batch")
    assert(row.getBoolean(2),
      "checkpoint state dir must carry the RocksDB layout (no .delta files)")
  }

  test("transformWithState counters equal the mapGroupsWithState path and the batch") {
    val v2 = Streaming.transformWithStateQuery(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val v1 = Streaming.statefulQuery(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    assert(v2 == v1, "the two custom-state APIs disagree")
    assert(v2.nonEmpty)
  }

  test("event-time timers close exactly the sessions the fire-rule arithmetic says") {
    val got = Streaming.timerExpiryQuery(spark, sfDir)
      .as[(Long, Long, Boolean)].collect().toSet
    // Replay Spark's fire rule: timer (max-event-ms + gap) fires iff
    // <= final watermark (global max-event-ms − delay), floor-ms.
    val ev = Relational.table(spark, sfDir, "events")
    val gmax = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
    val want = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max(unix_millis(col("ts"))).as("mx"))
      .select(col("user_id"), col("n"),
        (col("mx") + 3600000L <= gmax - 1800000L).as("expired"))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == want)
    // Both verdicts must occur, or the fixture proves nothing.
    assert(got.exists(_._3) && got.exists(!_._3),
      "fixture must contain both timer-expired and still-open sessions")
  }

  test("ttl'd state lapses every batch while the durable control survives") {
    val got = Streaming.ttlLapseQuery(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val want = Relational.table(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id") % 2).as("calls"))
      .select(col("user_id"), col("n"), col("calls"),
        col("calls").as("ttl_lapses"), lit(1L).as("durable_lapses"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    // The contrast that witnesses TTL: users seen in both batches
    // lapsed the TTL slot twice but the durable slot once.
    assert(got.exists(r => r._4 == 2L && r._5 == 1L),
      "fixture must contain a user seen in both micro-batches")
  }

  test("stateful counters equal batch per-user totals") {
    val got = Streaming.statefulQuery(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val want = Relational.table(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("p"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("stream-stream interval join equals the batch interval join") {
    val got = Streaming.streamJoinQuery(spark, sfDir)
      .as[(Long, Long)].collect().toSet
    val ev = Relational.table(spark, sfDir, "events")
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("ets"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    val want = e.join(p, col("user_id") === col("pu") &&
        col("pts") >= col("ets") &&
        col("pts") <= col("ets") + expr("interval 30 minutes"))
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("checkpoint resume equals the batch aggregate over both files") {
    val got = Streaming.streamResumeQuery(spark, sfDir)
      .as[(String, Long, Long)].collect().toSet
    val want = Relational.table(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).as("s"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("staged and fallback landings get strictly increasing mtimes in move order") {
    // An events table with no odd event_id: the odd slice stages no
    // directory, so landing it takes the single-file fallback. The clock
    // stands still, as when moves share a tick or the clock steps back.
    val base = graft.util.Scratch.dir("graft_halves_mtime")
    val fixture = base.resolve("fx")
    Relational.table(spark, sfDir, "events").filter(col("event_id") % 2 === 0)
      .write.parquet(fixture.resolve("events.parquet").toString)
    val srcDir = base.resolve("in")
    java.nio.file.Files.createDirectories(srcDir)
    val land = Streaming.stageEventHalves(spark, fixture.toString, base,
      () => 1767225600000L)
    assert(!java.nio.file.Files.exists(base.resolve("halves_stage/__p=1")))
    land(1, srcDir, "a.parquet")
    land(0, srcDir, "b.parquet")
    val stamps = Seq("a.parquet", "b.parquet")
      .map(n => srcDir.resolve(n).toFile.lastModified())
    assert(stamps == Seq(1767225600000L, 1767225600001L),
      s"mtimes in move order: $stamps")
  }

  test("stream incremental dedup: persisted index survives the restart") {
    // Force the bloom short-circuit to engage (the fixture index sits
    // far below the cost-based threshold) so run 2 pins BOTH split
    // paths; equality with the batch replay holds either way. Run at a
    // NON-DEFAULT bucket count: the bucket knob must not be baked in,
    // and the per-bucket bloom shards must dedup correctly at any
    // nBuckets (5 also exercises partially-empty shard creation).
    val prevMin = Streaming.BloomMinIndexRows
    Streaming.BloomMinIndexRows = 0L
    Streaming.bloomCensusEnabled = true // split census is spec-only
    val got =
      try Streaming.streamIncrementalDedupQuery(spark, sfDir, nBuckets = 5)
        .as[Long].collect().toSeq
      finally {
        Streaming.BloomMinIndexRows = prevMin
        Streaming.bloomCensusEnabled = false
      }
    // Replay the feed in batch: even half first-per-text, then the
    // re-keyed full copy contributes only texts the even half lacks.
    val docs = Relational.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val even = docs.filter(col("doc_id") % 2 === 0)
      .groupBy("text").agg(min("doc_id").as("doc_id"))
    val fresh = docs.join(even.select("text"), Seq("text"), "left_anti")
      .groupBy("text").agg(
        (min("doc_id") + graft.operators.Dedup.ReKeyOffset).as("doc_id"))
    val want = (even.select("doc_id").as[Long].collect() ++
      fresh.select("doc_id").as[Long].collect()).sorted.toSeq
    assert(got == want)
    assert(got.exists(_ >= graft.operators.Dedup.ReKeyOffset),
      "run 2 must contribute genuinely new texts through the probe")
    assert(got.exists(_ < graft.operators.Dedup.ReKeyOffset),
      "run 1 survivors must persist")
    // Run 2's batch holds both novel texts (bloom-negative, must skip
    // the anti-join) and cross-run duplicates (might-contain, must
    // take it) — the split has to exercise BOTH paths to dedup right.
    val (nSkipped, nChecked) = Streaming.lastBloomSplit
    assert(nSkipped > 0, "bloom-negative rows should bypass the join")
    assert(nChecked > 0, "known digests should reach the exact probe")
  }

  test("foreachBatch upsert across restarts equals batch latest-per-key") {
    val got = Streaming.streamUpsertQuery(spark, sfDir)
      .as[(Long, Long, String, Long)].collect().toSet
    val want = graft.operators.RelationalExt.latestByKey(spark, sfDir)
      .select(col("user_id"), col("last_event_id"),
        col("last_event_type"), col("ts_us"))
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("injected sink failure: replay is exactly-once only under idempotent writes") {
    val row = Streaming.streamExactlyOnceQuery(spark, sfDir).collect()(0)
    val want = graft.operators.Relational.table(spark, sfDir, "events").count()
    assert(row.getLong(0) == want, "idempotent leg must hold every event once")
    assert(row.getBoolean(2), "the injected failure must force a replay")
    assert(row.getBoolean(3), "idempotent leg must be exactly-once")
    assert(row.getBoolean(4), "append leg must duplicate the replayed batch")
  }

  test("micro-batch runs leave no memory-sink tables in the catalog") {
    graft.operators.SourceSinkQueries.scanMicroBatch(spark, sfDir).count()
    val leaked = spark.catalog.listTables().collect()
      .filter(_.name.startsWith("mb_"))
    assert(leaked.isEmpty, s"leaked memory-sink tables: ${leaked.toSeq}")
  }

  test("wav roundtrip: genuine RIFF bytes, sample-exact decode, query law") {
    // Container check + sample-exact roundtrip on a few ids.
    Seq(0L, 7L, 41L).foreach { id =>
      val bytes = Multimodal.encodeWav(id)
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
      val r = Multimodal.decodeOneWav(bytes)
      val (n, base) = Multimodal.wavLaw(id)
      assert(r.sampleRate == 8000 && r.n == n)
      val samples = (0 until n).map(Multimodal.sampleAt(base, _))
      assert(r.sum == samples.map(_.toLong).sum)
      assert(r.sumAbs == samples.map(s => math.abs(s).toLong).sum)
    }
    // The distributed query must reach the same closed forms.
    val rows = Multimodal.audioDecodeQuery(spark, sfDir).collect()
    assert(rows.length == 48)
    rows.foreach { row =>
      val id = row.getLong(0)
      val (n, base) = Multimodal.wavLaw(id)
      val samples = (0 until n).map(Multimodal.sampleAt(base, _))
      assert(row.getInt(1) == 8000 && row.getInt(2) == n)
      assert(row.getInt(3) == n / 8)
      assert(row.getLong(4) == samples.map(_.toLong).sum)
      assert(row.getLong(5) == samples.map(s => math.abs(s).toLong).sum)
    }
  }

  test("wav resample halves the rate at even-index samples; quarantine loses nothing") {
    val rs = Multimodal.audioResampleQuery(spark, sfDir).collect()
    assert(rs.length == 48)
    rs.foreach { row =>
      val id = row.getLong(0)
      val (n, base) = Multimodal.wavLaw(id)
      val rn = (n + 1) / 2
      val samples = (0 until rn).map(j => Multimodal.sampleAt(base, 2 * j))
      assert(row.getInt(1) == 4000 && row.getInt(2) == rn)
      assert(row.getLong(3) == samples.map(_.toLong).sum)
      assert(row.getLong(4) == samples.map(s => math.abs(s).toLong).sum)
    }
    val q = Multimodal.decodeQuarantineQuery(spark, sfDir).collect()
    assert(q.length == 48, "no row may vanish")
    q.foreach { row =>
      val id = row.getLong(0)
      if (id % 7 == 3) {
        assert(!row.getBoolean(1) && row.getInt(2) == -1)
        assert(row.getString(4) == "UnsupportedAudioFileException")
      } else {
        val (n, base) = Multimodal.wavLaw(id)
        assert(row.getBoolean(1) && row.getInt(2) == n)
        assert(row.getLong(3) ==
          (0 until n).map(i => Multimodal.sampleAt(base, i).toLong).sum)
        assert(row.getString(4).isEmpty)
      }
    }
  }

  test("gif container: lossless indexed roundtrip, stride-2 keyframes match law") {
    // Container + all-frames roundtrip on a few ids.
    Seq(1L, 6L, 47L).foreach { id =>
      val bytes = Multimodal.encodeGif(id)
      assert(new String(bytes.take(3), "US-ASCII") == "GIF")
      val frames = Multimodal.decodeGifFrames(bytes)
      assert(frames.length == Multimodal.gifFrames(id))
      val (w, h, base) = Multimodal.pngDims(id)
      frames.foreach { case (f, fw, fh, sum) =>
        assert(fw == w && fh == h)
        val want = (for (x <- 0 until w; y <- 0 until h)
          yield Multimodal.gifPixel(base, f, x, y).toLong).sum
        assert(sum == want, s"frame $f of clip $id")
      }
    }
    // The distributed keyframe query keeps exactly the even frames.
    val rows = Multimodal.videoFramesQuery(spark, sfDir).collect()
    val wantRows = (0L until 48L).map(id => (Multimodal.gifFrames(id) + 1) / 2).sum
    assert(rows.length == wantRows)
    rows.foreach { r =>
      val (w, h, base) = Multimodal.pngDims(r.getLong(0))
      val f = r.getInt(1)
      assert(f % 2 == 0)
      val want = (for (x <- 0 until w; y <- 0 until h)
        yield Multimodal.gifPixel(base, f, x, y).toLong).sum
      assert(r.getInt(2) == w && r.getInt(3) == h && r.getLong(4) == want)
    }
  }

  test("image phash: codec hash equals law hash; banded join finds every noisy twin") {
    def lawHash(id: Long, noisy: Boolean): Long = {
      val (w, h, _) = Multimodal.pngDims(id)
      val vals = for (j <- 0 until 7; k <- 0 until 9)
        yield Multimodal.phashPixel(id, noisy, k * w / 9, j * h / 7)
      val mean = vals.sum / 63
      vals.zipWithIndex.foldLeft(0L) { case (acc, (v, idx)) =>
        if (v > mean) acc | (1L << idx) else acc
      }
    }
    // Decode-side hash must equal the law-side hash (lossless roundtrip).
    Seq(0L, 13L, 47L).foreach { id =>
      Seq(false, true).foreach { noisy =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(
            Multimodal.encodePhashPng(id, noisy)))
        assert(Multimodal.aHash63(img) == lawHash(id, noisy),
          s"hash mismatch id=$id noisy=$noisy")
      }
    }
    // The banded join must deliver exactly the law-replayed pair set.
    val got = Multimodal.imagePhashDedupQuery(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hashes = (0L until 48L).flatMap(id => Seq(
      id -> lawHash(id, noisy = false),
      (id + 1000) -> lawHash(id, noisy = true))).toMap
    val want = (for {
      a <- hashes.keys; b <- hashes.keys if a < b
      ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if ham <= 3
    } yield (a, b, ham)).toSet
    assert(got == want, s"pair set mismatch: got ${got.size}, want ${want.size}")
    // Every noisy twin is found (the semantic point of the operator).
    (0L until 48L).foreach { id =>
      assert(got.exists(p => p._1 == id && p._2 == id + 1000),
        s"twin pair missing for $id")
    }
  }

  test("audio fingerprint: codec fp equals law fp; every noisy twin at Hamming 0") {
    def lawFp(id: Long, noisy: Boolean): Long = {
      val (n, base) = Multimodal.wavLaw(id)
      val sums = new Array[Long](63)
      (0 until n).foreach { i =>
        sums((i.toLong * 63 / n).toInt) +=
          math.abs(Multimodal.fpSample(n, base, i, noisy))
      }
      val mean = sums.sum / 63
      sums.zipWithIndex.foldLeft(0L) { case (acc, (e, w)) =>
        if (e > mean) acc | (1L << w) else acc
      }
    }
    Seq(2L, 19L, 47L).foreach { id =>
      Seq(false, true).foreach { noisy =>
        assert(Multimodal.audioFp63(Multimodal.encodeFpWav(id, noisy)) ==
          lawFp(id, noisy), s"fp mismatch id=$id noisy=$noisy")
      }
    }
    val got = Multimodal.audioFingerprintDedupQuery(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fps = (0L until 48L).flatMap(id => Seq(
      id -> lawFp(id, noisy = false),
      (id + 1000) -> lawFp(id, noisy = true))).toMap
    val want = (for {
      a <- fps.keys; b <- fps.keys if a < b
      ham = java.lang.Long.bitCount(fps(a) ^ fps(b)) if ham <= 3
    } yield (a, b, ham)).toSet
    assert(got == want, s"pair set mismatch: got ${got.size}, want ${want.size}")
    (0L until 48L).foreach { id =>
      assert(got.contains((id, id + 1000, 0)),
        s"twin pair missing or nonzero for $id")
    }
  }

  test("media release funnel: quarantine, decode, collapse counts all law-exact") {
    val r = Multimodal.mediaReleaseQuery(spark, sfDir).collect()(0)
    assert(r.getLong(0) == 96, "n_input")
    // media_id % 7 == 3 among {0..47} ∪ {1000..1047}
    val wantQ = ((0L until 48L) ++ (1000L until 1048L)).count(_ % 7 == 3)
    assert(r.getLong(1) == wantQ, "n_quarantined")
    assert(r.getLong(2) == 96 - wantQ, "n_decoded")
    assert(r.getLong(4) == r.getLong(2), "collapse accounts for every decoded clip")
    assert(r.getLong(3) < r.getLong(2), "twins must collapse")
    assert(r.getLong(5) > 0, "dup groups must exist")
  }

  test("media table matches the declared multimodal schema") {
    val schema = Multimodal.mediaTable(spark, sfDir).schema
    assert(schema.fieldNames.toSeq
      == Seq("media_id", "media_type", "bytes", "meta"))
    assert(schema("bytes").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
  }

  test("decode stub is deterministic and byte-count faithful") {
    val media = Multimodal.mediaTable(spark, sfDir)
    val a = Multimodal.decodeStub(media).orderBy("media_id").collect()
    val b = Multimodal.decodeStub(media).orderBy("media_id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val lens = Relational.table(spark, sfDir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long")).as[(Long, Long)]
      .collect().toMap
    Multimodal.decodeStub(media)
      .select("media_id", "n_bytes").as[(Long, Long)].collect()
      .foreach { case (id, n) => assert(n == lens(id)) }
  }

  test("frame sampling keeps every Nth chunk with correct boundaries") {
    import graft.multimodal.Multimodal
    val frames = Multimodal.frameSampleStub(
      Multimodal.mediaTable(spark, sfDir), frameBytes = 256, everyNth = 4)
      .collect()
    assert(frames.nonEmpty)
    frames.foreach { r =>
      assert(r.getInt(1) % 4 == 0, "only every 4th frame index survives")
      assert(r.getAs[Array[Byte]](2).length <= 256)
    }
  }

  test("resize never exceeds the target byte cap") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions.length
    val over = Multimodal.resizeStub(
      Multimodal.mediaTable(spark, sfDir), targetBytes = 1024)
      .filter(length($"resized") > 1024).count()
    assert(over == 0)
  }

  test("png round trip: real ImageIO decode recovers the encoded pixels") {
    // The payloads are genuine PNGs: decode must recover exact
    // dimensions and channel sums, and a second decode of the
    // nearest-neighbor downscale must match the pixel law directly —
    // the closed forms the DuckDB oracle replays.
    val rows = Multimodal.imageDecodeQuery(spark, sfDir).collect()
    assert(rows.length == 48)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h, base) = Multimodal.pngDims(id)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      val wantSum = 3L * h * w * (w - 1) / 2 + 5L * w * h * (h - 1) / 2 +
        w.toLong * h * base
      assert(r.getLong(3) == wantSum, s"pixel sum mismatch for $id")
      val (rw, rh) = ((w + 1) / 2, (h + 1) / 2)
      assert(r.getInt(4) == rw && r.getInt(5) == rh)
      val wantR = 3L * rh * rw * (rw - 1) + 5L * rw * rh * (rh - 1) +
        rw.toLong * rh * base
      assert(r.getLong(6) == wantR, s"resized pixel sum mismatch for $id")
    }
    // The bytes really are PNG (magic header), and undecodable bytes
    // fail loudly rather than passing as zeros.
    val png = Multimodal.pngTable(spark, sfDir)
      .select("png").as[Array[Byte]].head()
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte,
      'N'.toByte, 'G'.toByte))
    val boom = intercept[Exception] {
      Multimodal.decodePng(Seq((1L, Array[Byte](1, 2, 3))).toDF(
        "media_id", "png")).collect()
    }
    assert(boom.getMessage != null)
  }

  test("jpeg roundtrip: lossy decode within bound, real JPEG container") {
    val rows = Multimodal.jpegRoundtrip(spark, sfDir).collect()
    assert(rows.length == 48)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h, _) = Multimodal.pngDims(id)
      assert(r.getInt(1) == w && r.getInt(2) == h,
        s"decoded dims mismatch for $id")
      assert(r.getBoolean(3), s"payload for $id lacks the JPEG SOI marker")
      val err = r.getInt(4)
      // Genuinely lossy (err >= 1 on this JDK) yet far inside the
      // witness bound of 16.
      assert(err >= 1 && err <= 16, s"max_abs_err=$err for $id")
    }
    // Explicit quality matters: a lower quality must not decode
    // byte-identically to the default leg (the writer really honors
    // the compression parameter).
    val hi = Multimodal.encodeJpeg(0L, 0.85f)
    val lo = Multimodal.encodeJpeg(0L, 0.1f)
    assert(!java.util.Arrays.equals(hi, lo))
    assert(lo.length < hi.length, "q=0.1 should compress harder than q=0.85")
  }

  test("feature vectors are fixed-width") {
    val dims = Multimodal.decodeStub(Multimodal.mediaTable(spark, sfDir))
      .select(size(col("feature"))).distinct().as[Int].collect().toSeq
    assert(dims == Seq(8))
  }

  test("real-codec feature dispatch matches every payload law per type") {
    val rows = Multimodal.featuresQuery(spark, sfDir).collect()
    assert(rows.length == 48 + Multimodal.StubIds)
    rows.foreach { r =>
      val id = r.getLong(0)
      (r.getString(1), r.getLong(2), r.getLong(3)) match {
        case ("image", units, fsum) =>
          val (w, h, base) = Multimodal.pngDims(id)
          assert(units == w.toLong * h)
          assert(fsum == 3L * h * w * (w - 1) / 2 +
            5L * w * h * (h - 1) / 2 + w.toLong * h * base)
        case ("audio", units, fsum) =>
          val (n, base) = Multimodal.wavLaw(id)
          assert(units == n.toLong)
          val want = (0 until n).map(i =>
            math.abs(Multimodal.sampleAt(base, i)).toLong).sum
          assert(fsum == want)
        case ("video", units, fsum) =>
          val (w, h, base) = Multimodal.pngDims(id)
          val nf = Multimodal.gifFrames(id)
          assert(units == nf.toLong)
          val want = (for { f <- 0 until nf; x <- 0 until w; y <- 0 until h }
            yield Multimodal.gifPixel(base, f, x, y).toLong).sum
          assert(fsum == want)
        case ("audio_mp3", _, fsum) =>
          // The one labeled stub branch: content sentinel only.
          assert(id >= Multimodal.StubOffset)
          assert(fsum == -1L)
        case other => fail(s"unexpected media_type row: $other")
      }
    }
    // The stub branch is exercised, and ONLY by the offset rows.
    assert(rows.count(_.getString(1) == "audio_mp3") == Multimodal.StubIds)
  }

  test("real-codec resize dispatch halves units per each type's law") {
    val rows = Multimodal.resizeQuery(spark, sfDir).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val (o, ru) = (r.getLong(2), r.getLong(3))
      r.getString(1) match {
        case "image" =>
          val (w, h, _) = Multimodal.pngDims(id)
          assert(o == w.toLong * h)
          assert(ru == ((w + 1) / 2).toLong * ((h + 1) / 2))
        case "audio" =>
          assert(ru == (o + 1) / 2)
        case "video" =>
          assert(ru == (o + 1) / 2)
        case "audio_mp3" =>
          assert(ru <= 1024, "stub resize must respect the byte cap")
          assert(r.getLong(4) == -1L)
      }
    }
  }

  test("stream dedup index: bucketed stored side probes shuffle-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // Same table shape dedupBatch persists: single digest column,
    // digest-bucketed. The per-batch anti-join must hash only the
    // O(batch) probe side into the bucket partitioning; the
    // corpus-sized stored side reads bucket-aligned, no exchange.
    // Checked at the default AND a non-default bucket count — the
    // zero-reshuffle property is the bucket layout's, not constant 8's.
    for (nBuckets <- Seq(8, 5)) {
      val base = graft.util.Scratch.dir(s"graft_sdedup_bucket_spec$nBuckets")
      val tbl = s"spec_sdedup_idx_$nBuckets"
      val docs = Relational.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      docs.withColumn("digest", sha2(col("text").cast("binary"), 256))
        .select("digest")
        .write.bucketBy(nBuckets, "digest").sortBy("digest").format("parquet")
        .option("path", base.resolve("idx").toString)
        .saveAsTable(tbl)
      val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevA = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        // force sort-merge + a static plan so the shuffle census is exact
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val probe = docs.limit(100)
          .withColumn("digest", sha2(col("text").cast("binary"), 256))
          .groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
        val j = probe.join(spark.table(tbl), Seq("digest"), "left_anti")
        j.collect()
        val plan = j.queryExecution.executedPlan
        val idxScans = plan.collect {
          case f: FileSourceScanExec
            if f.output.map(_.name) == Seq("digest") => f
        }
        assert(idxScans.nonEmpty, s"index scan missing at $nBuckets: $plan")
        assert(idxScans.forall(_.bucketedScan),
          s"stored side must read bucket-aligned at $nBuckets")
        val shuffledIdxScans = plan.collect {
          case s: ShuffleExchangeExec => s.child.collect {
            case f: FileSourceScanExec
              if f.output.map(_.name) == Seq("digest") => f
          }
        }.flatten
        assert(shuffledIdxScans.isEmpty,
          s"stored side must never sit under an exchange at $nBuckets: $plan")
        val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
        assert(shuffles.nonEmpty,
          "probe side is unbucketed, so it alone should exchange")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        spark.conf.set("spark.sql.adaptive.enabled", prevA)
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
      }
    }
  }

  test("bucketed bloom shards: per-bucket routing, no false negatives") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.util.sketch.BloomFilter
    // Build nBuckets shards over the even docs with the SAME bucket
    // law dedupBatch uses, then probe every doc: every even doc must
    // flag might-contain in ITS OWN shard (no false negatives through
    // the sharding), some odd doc must come back definitely-new, and
    // the probe must compile into whole-stage codegen.
    val nBuckets = 5
    // Make a codegen failure FATAL instead of a silent interpreted
    // fallback — a bad doGenCode would otherwise pass every value
    // assertion while quietly de-optimizing the hot path.
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
    val docs = Relational.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        sha2(col("text").cast("binary"), 256).as("digest"))
    val bkt = pmod(hash(col("digest")), lit(nBuckets))
    val even = docs.filter(col("doc_id") % 2 === 0)
      .select(bkt.as("_b"), xxhash64(col("digest")).as("_h"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val shards = Array.fill(nBuckets)(BloomFilter.create(10000L, 0.03))
    even.foreach { case (b, h) => shards(b).putLong(h) }
    val probed = docs.withColumn("_maybe",
      graft.functions.BucketedBloomMightContain(
        shards, bkt, xxhash64(col("digest"))))
    val rows = probed.select("doc_id", "_maybe")
      .as[(Long, Boolean)].collect()
    assert(rows.filter(_._1 % 2 == 0).forall(_._2),
      "a sharded probe must never lose an indexed digest")
    assert(rows.exists(!_._2),
      "some unindexed doc should be definitely-new")
    // Cross-shard isolation: a key present ONLY in shard j must not
    // turn rows of other buckets positive (beyond fpp). Deterministic
    // check: empty shards answer false for every row they own.
    val emptyIdx = 2
    val lonely = Array.tabulate(nBuckets)(i =>
      if (i == emptyIdx) BloomFilter.create(10000L, 0.03) else shards(i))
    val iso = docs.withColumn("_b", bkt).withColumn("_maybe",
        graft.functions.BucketedBloomMightContain(
          lonely, col("_b"), xxhash64(col("digest"))))
      .filter(col("_b") === emptyIdx)
      .select("_maybe").as[Boolean].collect()
    assert(iso.nonEmpty && iso.forall(_ == false),
      "an empty shard must answer definitely-new for its whole bucket")
    val codegenSpans = probed.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.toString
    }
    assert(codegenSpans.exists(_.contains("bucketed_bloom_might_contain")) ||
      codegenSpans.exists(_.contains("BucketedBloomMightContain")),
      s"sharded probe must sit inside a WholeStageCodegen span:\n" +
        probed.queryExecution.executedPlan.toString.take(1200))
    } finally {
      prevMode match {
        case Some(m) => spark.conf.set("spark.sql.codegen.factoryMode", m)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("bloom probe via Literal sketch stays inside whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    // The dedupBatch probe shape: a driver-held sketch carried as a
    // binary Literal into BloomFilterMightContain over xxhash64. Pins
    // (a) put-long/probe-long format compatibility end to end and
    // (b) that the probe compiles into the generated pipeline — a
    // regression back to a Scala UDF would drop out of codegen.
    val docs = Relational.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val bf = docs.filter(col("doc_id") % 2 === 0)
      .select(xxhash64(col("text")).as("_h"))
      .stat.bloomFilter("_h", 10000L, 0.03)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    val probed = docs.withColumn("_maybe", ColumnBridge.column(
      BloomFilterMightContain(Literal(bytes),
        ColumnBridge.expression(xxhash64(col("text"))))))
    val rows = probed.collect()
    val inBloom = rows.filter(_.getAs[Boolean]("_maybe")).map(_.getLong(0))
    // No false negatives: every even doc was put into the sketch.
    assert(rows.filter(_.getLong(0) % 2 == 0)
      .forall(_.getAs[Boolean]("_maybe")))
    assert(inBloom.nonEmpty && rows.exists(!_.getAs[Boolean]("_maybe")))
    val codegenSpans = probed.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.toString
    }
    assert(codegenSpans.exists(_.contains("might_contain")),
      s"probe must sit inside a WholeStageCodegen span:\n" +
        probed.queryExecution.executedPlan.toString.take(1200))
  }
}
