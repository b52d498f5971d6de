package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val media = Multimodal.syntheticMedia(spark, 90)

  test("synthetic media matches the declared schema and is deterministic") {
    // name/type equality (generated-plan nullability flags differ)
    def shape(s: org.apache.spark.sql.types.StructType): String =
      s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    assert(shape(media.schema) == shape(Multimodal.mediaSchema))
    val a = media.select(md5(col("bytes"))).collect().map(_.getString(0))
    val b = Multimodal.syntheticMedia(spark, 90)
      .select(md5(col("bytes"))).collect().map(_.getString(0))
    assert(a.toSeq == b.toSeq)
    assert(media.select("kind").distinct().count() == 3)
  }

  test("feature extraction is partition-wise, stable, and fixed-dim") {
    val ds = media.as[MediaRow]
    val f1 = Multimodal.extractFeatures(ds, dim = 16).collect()
    assert(f1.forall(_.features.length == 16))
    // repartitioning must not change per-row results (kernel is per-row
    // even though execution is per-partition)
    val f2 = Multimodal.extractFeatures(
      ds.repartition(7), dim = 16).collect()
    assert(f1.map(f => f.media_id -> f.features.toSeq).toMap ==
           f2.map(f => f.media_id -> f.features.toSeq).toMap)
  }

  test("real PNG decode: geometry from the codec, histogram is a distribution") {
    val pngs = Multimodal.syntheticPngMedia(spark, 24, side = 8)
    val feats = Multimodal.decodeImages(pngs, dim = 16).collect()
    assert(feats.length == 24)
    assert(feats.forall(_.decoded), "every synthetic PNG must decode")
    assert(feats.forall(f => f.width == 8 && f.height == 8))
    // two-tone image: luminance histogram mass sums to 1 over ≤2 buckets
    feats.foreach { f =>
      assert(math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-6)
      assert(f.features.count(_ > 0f) <= 2)
    }
    // decode is value-stable under repartitioning
    val again = Multimodal.decodeImages(pngs.repartition(5), dim = 16)
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(again == feats.map(f => f.media_id -> f.features.toSeq).toMap)
  }

  test("undecodable and non-image rows fall back, flagged decoded=false") {
    val junk = Seq(
      MediaRow(1L, "image", Array[Byte](1, 2, 3, 4),
        Multimodal.MediaMeta(0, 0, 0, 0, "corrupt")),
      MediaRow(2L, "audio", Array[Byte](9, 9, 9),
        Multimodal.MediaMeta(0, 0, 16000, 1000, "pcm"))).toDS()
    val out = Multimodal.decodeImages(junk).collect()
    assert(out.forall(!_.decoded))
    assert(out.forall(_.features.length == 16))
  }

  test("extracted features flow into the ANN surface") {
    val emb = Multimodal.asEmbeddings(
      Multimodal.extractFeatures(media.as[MediaRow], dim = 16))
    val top = graft.operators.Similarity.bruteForceTopK(
      emb, col("vec_id") < 2, k = 3, dim = 16)
    assert(top.count() == 6) // 2 queries x top-3
  }

  test("perceptual hash: identical images collide, hash is decode-real") {
    // two byte-identical PNGs under different ids + one gradient image
    val base = Multimodal.syntheticPngMedia(spark, 1, side = 8).collect()(0)
    val grad = {
      System.setProperty("java.awt.headless", "true")
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, ((y * 8 + x) * 4) * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(7L, "image", bos.toByteArray,
        Multimodal.MediaMeta(8, 8, 0, 0, "png"))
    }
    val rows = Seq(base.copy(media_id = 1L), base.copy(media_id = 2L),
      grad).toDS()
    val hashes = Multimodal.imageHashes(rows).collect()
    assert(hashes.forall(_.decoded))
    val hs = hashes.map(h => h.media_id -> h.ahash).toMap
    assert(hs(1L) == hs(2L)) // identical bytes → identical perceptual hash
    val pairs = Multimodal.imageNearDup(
        Multimodal.imageHashes(rows).toDF(), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("image dHash near-dup: full recall vs exact pixel-distance truth, " +
    "decoded grid equals the writer formula") {
    // corpus: 60 base images + 15 one-cell-perturbed copies, through
    // the REAL PNG encode -> ImageIO decode path
    val ids = spark.range(60).select(col("id").as("vec_id"))
    val media = Multimodal.imagesFromIds(ids)
    val rows = media.collect()
    assert(rows.length == 75)

    // EXACT truth, independent of the operator under test: decode each
    // PNG in plain test code, read the raw pixel grid, recompute dHash
    // bits from pixels, and count exact pairwise hamming
    def pixelGrid(bytes: Array[Byte]): Array[Int] = {
      val im = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(im.getWidth == 9 && im.getHeight == 8)
      Array.tabulate(72)(i => im.getRGB(i % 9, i / 9) & 0xff)
    }
    val grids = rows.map(r => r.media_id -> pixelGrid(r.bytes)).toMap
    // PNG losslessness: the decoded grid IS the writer formula — the
    // premise the DuckDB oracle mirror rests on
    rows.foreach { r =>
      val baseId = if (r.media_id >= 10000000L) r.media_id - 10000000L
                   else r.media_id
      val pert = r.media_id >= 10000000L
      val expect = Array.tabulate(72)(i =>
        Multimodal.cellGray(baseId, i, pert))
      assert(grids(r.media_id).toSeq == expect.toSeq, s"id=${r.media_id}")
    }
    def dhashOf(g: Array[Int]): Long = {
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (g(y * 9 + x + 1) > g(y * 9 + x)) h |= (1L << (y * 8 + x))
      h
    }
    val hashes = grids.map { case (id, g) => id -> dhashOf(g) }
    val idsAll = hashes.keys.toSeq.sorted
    val truth = (for {
      a <- idsAll; b <- idsAll if a < b
      d = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if d <= 6
    } yield (a, b, d)).toSet

    val got = Multimodal.imageNearDup(
        Multimodal.imageDHashes(media).toDF()
          .withColumnRenamed("dhash", "ahash"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // pigeonhole (hamming <= 6 leaves >= 2 clean blocks, so some
    // clean 2-block band exists among the 28) makes the banded
    // operator FULL-recall against the exact pairwise truth — and the
    // exact-hamming verify makes it full-precision, so set equality
    assert(got == truth,
      s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
    // every planted perturbed copy pairs with its base within 2 bits
    // (one cell changed -> at most 2 horizontal-gradient bits flip)
    for (id <- 0L until 60L if id % 4 == 0) {
      val p = truth.find(t => t._1 == id && t._2 == id + 10000000L)
      assert(p.nonEmpty, s"planted pair for id=$id not in exact truth")
      assert(p.get._3 <= 2, s"planted pair hamming ${p.get._3} > 2")
    }
  }

  test("streaming image dedup: batch-parity on the cross pairs and a " +
    "real MemoryStream leg in append mode") {
    import graft.streaming.StreamImageDedup
    // standing corpus: 40 base images (drop the built-in perturbed
    // copies — arrivals will supply them)
    val corpus = Multimodal.imagesFromIds(
        spark.range(40).select(col("id").as("vec_id")))
      .filter(_.media_id < 10000000L)
    // arrivals: the one-cell-perturbed copies of every 4th corpus id
    // (true near-dups of the standing corpus) + 5 unrelated new images
    val arrivals = Multimodal.imagesFromIds(
        spark.range(40).select(col("id").as("vec_id")))
      .filter(_.media_id >= 10000000L)
      .union(Multimodal.imagesFromIds(
          spark.range(100, 105).select(col("id").as("vec_id")))
        .filter(_.media_id < 10000000L))
    val idx = StreamImageDedup.bandIndex(corpus)

    // static-frame invocation (the same stream-static plan, batch input)
    val got = StreamImageDedup.imageDedupStream(arrivals, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // batch-operator truth: imageNearDup over corpus ∪ arrivals,
    // restricted to cross pairs (corpus ids < arrival ids here, so
    // img_a is always the corpus side)
    val corpusIds = corpus.collect().map(_.media_id).toSet
    val batchPairs = Multimodal.imageNearDup(
        Multimodal.imageDHashes(corpus.union(arrivals)).toDF()
          .withColumnRenamed("dhash", "ahash"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, _) => corpusIds(a) ^ corpusIds(b) }
      .map { case (a, b, d) =>
        if (corpusIds(a)) (b, a, d) else (a, b, d) }.toSet
    assert(got == batchPairs,
      s"missed=${(batchPairs -- got).take(3)} extra=${(got -- batchPairs).take(3)}")
    // every planted perturbed copy found its base within 2 bits
    for (id <- 0L until 40L if id % 4 == 0)
      assert(got.exists(p => p._1 == id + 10000000L && p._2 == id &&
        p._3 <= 2), s"arrival for base $id not matched")

    // end-to-end: the SAME plan runs as a real streaming query,
    // append mode, stateless
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MediaRow](spark)
    val q = StreamImageDedup.imageDedupStream(in.toDS(), idx)
      .writeStream.format("memory").queryName("img_dedup_stream")
      .outputMode("append").start()
    val arrivalRows = arrivals.collect()
    in.addData(arrivalRows.take(10).toSeq)
    q.processAllAvailable()
    in.addData(arrivalRows.drop(10).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("img_dedup_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == got, "MemoryStream leg diverged from the static plan")
  }

  test("streaming audio dedup: batch-parity on the cross pairs " +
    "(cosine bit-exact) and a real MemoryStream leg in append mode") {
    import graft.streaming.StreamAudioDedup
    // standing corpus: 12 AM-modulated base tones; arrivals: their
    // re-gained copies (true near-dups, ids 1000/1004/1008) + 8 new
    // unrelated tones (bases 12..19 — the generator emits their
    // copies 1012/1016 too; exclude those so arrivals are B-only)
    val all = Multimodal.syntheticAmWavMedia(spark, 20)
    val corpus = all.filter(_.media_id < 12L)
    val arrivals = all.filter(r =>
      (r.media_id >= 1000L && r.media_id < 1012L) ||
        (r.media_id >= 12L && r.media_id < 1000L))
    val idx = StreamAudioDedup.bandIndex(corpus)

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    val got = StreamAudioDedup.audioDedupStream(arrivals, idx)
      .collect().map(key).toSet

    // batch-operator truth: audioNearDup over corpus ∪ arrivals,
    // restricted to cross pairs, reoriented (arrival, corpus)
    val corpusIds = corpus.collect().map(_.media_id).toSet
    val batchPairs = Multimodal.audioNearDup(corpus.union(arrivals))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => corpusIds(a) ^ corpusIds(b) }
      .map { case (a, b, c) =>
        val bits = java.lang.Double.doubleToLongBits(c)
        if (corpusIds(a)) (b, a, bits) else (a, b, bits) }.toSet
    assert(got == batchPairs,
      s"missed=${(batchPairs -- got).take(3)} extra=${(got -- batchPairs).take(3)}")
    // every planted re-gained copy found its base
    for (id <- 0L until 12L if id % 4 == 0)
      assert(got.exists(p => p._1 == id + 1000L && p._2 == id),
        s"arrival copy of base $id not matched")

    // end-to-end: the SAME plan as a real streaming query, append
    // mode, stateless
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MediaRow](spark)
    val q = StreamAudioDedup.audioDedupStream(in.toDS(), idx)
      .writeStream.format("memory").queryName("audio_dedup_stream")
      .outputMode("append").start()
    val arrivalRows = arrivals.collect()
    in.addData(arrivalRows.take(5).toSeq)
    q.processAllAvailable()
    in.addData(arrivalRows.drop(5).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamedAudio = spark.table("audio_dedup_stream")
      .collect().map(key).toSet
    assert(streamedAudio == got,
      "MemoryStream leg diverged from the static plan")
    // stateless contract: the probe must plan as a stream-static
    // join — zero stateful operators (a vec_id join-back of the
    // stream against itself would silently become a stream-stream
    // join with unbounded state; this pin caught exactly that)
    assert(q.lastProgress.stateOperators.isEmpty,
      s"audio dedup stream must be stateless: ${q.lastProgress}")
  }

  test("dHash block-averaging on non-grid-sized images matches an " +
    "independent pixel recomputation") {
    // 36x16: each dHash cell averages a 4x2 pixel block
    System.setProperty("java.awt.headless", "true")
    val img = new java.awt.image.BufferedImage(
      36, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 36) {
      val g = (x * 31 + y * 97 + (x * y) % 13 * 20) % 256
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(MediaRow(1L, "image", bos.toByteArray,
      Multimodal.MediaMeta(36, 16, 0, 0, "png"))).toDS()
    val got = Multimodal.imageDHashes(media).collect()(0)
    assert(got.decoded)
    // independent recomputation: same block map, plain arrays
    val sum = new Array[Double](72)
    val cnt = new Array[Long](72)
    for (y <- 0 until 16; x <- 0 until 36) {
      val g = (x * 31 + y * 97 + (x * y) % 13 * 20) % 256
      val gi = math.min(y * 8 / 16, 7) * 9 + math.min(x * 9 / 36, 8)
      sum(gi) += g; cnt(gi) += 1
    }
    val avg = Array.tabulate(72)(i => if (cnt(i) > 0) sum(i) / cnt(i) else 0.0)
    var expect = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (avg(y * 9 + x + 1) > avg(y * 9 + x)) expect |= (1L << (y * 8 + x))
    assert(got.dhash == expect)
  }

  test("real WAV decode: sample rate, duration, RMS and ZCR match the tone formula") {
    val sr = 8000
    val wavs = Multimodal.syntheticWavMedia(spark, 12, sampleRate = sr, ms = 250)
    val feats = Multimodal.decodeAudio(wavs, dim = 8).collect()
    assert(feats.length == 12)
    assert(feats.forall(_.decoded), "every synthetic WAV must decode")
    feats.foreach { f =>
      assert(f.sample_rate == sr)
      assert(f.n_samples == sr / 4) // 250 ms
      assert(f.duration_ms == 250)
      // id-derived sine: amp = 0.25 + (id%4)*0.2, RMS ≈ amp/√2
      val amp = 0.25 + (f.media_id % 4) * 0.2
      assert(math.abs(f.rms - amp / math.sqrt(2)) < 0.01,
        s"id=${f.media_id} rms=${f.rms} expected≈${amp / math.sqrt(2)}")
      // zero crossings of a sine ≈ 2·f/sr per sample
      val freq = 200.0 + (f.media_id % 20) * 50.0
      assert(math.abs(f.zero_cross_rate - 2 * freq / sr) < 0.01,
        s"id=${f.media_id} zcr=${f.zero_cross_rate} expected≈${2 * freq / sr}")
      // constant-amplitude tone: envelope windows all ≈ the global RMS
      assert(f.envelope.length == 8)
      f.envelope.foreach(e => assert(math.abs(e - f.rms) < 0.02))
    }
    // decode is value-stable under repartitioning
    val again = Multimodal.decodeAudio(wavs.repartition(5), dim = 8)
      .collect().map(f => f.media_id -> f.envelope.toSeq).toMap
    assert(again == feats.map(f => f.media_id -> f.envelope.toSeq).toMap)
  }

  test("audio near-dup: re-gained copies pair through the real WAV " +
    "decode; distinct AM shapes do not") {
    // 12 AM-modulated tones + a 10%-regained re-synthesis of every
    // 4th (ids 1000/1004/1008) — the audio twin of perturbedCopies
    val wavs = Multimodal.syntheticAmWavMedia(spark, 12)
    val pairs = Multimodal.audioNearDup(wavs, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted gain-copy pairs with its base (cosine of the
    // centered envelope is gain-invariant)
    for (id <- 0L until 12L if id % 4 == 0)
      assert(pairs.contains((id, id + 1000L)) ||
             pairs.contains((id + 1000L, id)), s"copy of $id not paired")
    // nothing ELSE pairs at 0.98: distinct AM rates shape distinct
    // envelopes, and distinct carriers with the SAME AM rate (e.g.
    // ids 0 and 5 share fm only if baseId%5 collides — they do; the
    // envelope sees only the AM, so same-fm pairs are legitimately
    // similar and excluded from this assert)
    val planted = (0L until 12L by 4).map(id =>
      Set((id, id + 1000L), (id + 1000L, id))).reduce(_ ++ _)
    val extras = pairs -- planted
    extras.foreach { case (a, b) =>
      val fmOf = (x: Long) => (if (x >= 1000L) x - 1000L else x) % 5
      assert(fmOf(a) == fmOf(b),
        s"unexpected pair ($a,$b) across DIFFERENT AM shapes")
    }
    // the fingerprint rides the REAL decode: every row decodes
    val feats = Multimodal.decodeAudio(wavs, dim = 16).collect()
    assert(feats.forall(_.decoded))
  }

  test("undecodable and non-audio rows fall back, flagged decoded=false") {
    val junk = Seq(
      MediaRow(1L, "audio", Array[Byte](82, 73, 70, 70, 1, 2, 3), // truncated RIFF
        Multimodal.MediaMeta(0, 0, 16000, 1000, "corrupt")),
      MediaRow(2L, "image", Array[Byte](9, 9, 9),
        Multimodal.MediaMeta(0, 0, 0, 0, "png"))).toDS()
    val out = Multimodal.decodeAudio(junk).collect()
    assert(out.forall(!_.decoded))
    assert(out.forall(_.envelope.length == 16))
  }

  test("audio envelope features flow into the ANN surface") {
    val emb = Multimodal.asEmbeddings(
      Multimodal.decodeAudio(
        Multimodal.syntheticWavMedia(spark, 10), dim = 16)
        .map(f => Multimodal.MediaFeatures(f.media_id, "audio", f.envelope)))
    val top = graft.operators.Similarity.bruteForceTopK(
      emb, col("vec_id") < 2, k = 3, dim = 16)
    assert(top.count() == 6)
  }

  test("image near-dup is block-keyed: no cartesian in the plan") {
    val pngs = Multimodal.syntheticPngMedia(spark, 24, side = 8)
    val plan = Multimodal.imageNearDup(
        Multimodal.imageHashes(pngs).toDF())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("streaming image dedup plan is band-keyed: no cartesian, no " +
    "nested loop") {
    import graft.streaming.StreamImageDedup
    val corpus = Multimodal.imagesFromIds(
      spark.range(24).select(col("id").as("vec_id")))
    val plan = StreamImageDedup.imageDedupStream(corpus,
        StreamImageDedup.bandIndex(corpus))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("real MJPEG-AVI decode: geometry, frame count, fps, and " +
       "per-frame luminance match the writer formula") {
    val n = 6
    val frames = 4
    val out = Multimodal.decodeVideo(
        Multimodal.syntheticAviMedia(spark, n, frames = frames,
          width = 32, height = 24, fps = 10), dim = frames)
      .collect().map(f => f.media_id -> f).toMap
    assert(out.size == n)
    out.foreach { case (id, f) =>
      assert(f.decoded, s"video $id did not decode")
      assert(f.width == 32 && f.height == 24)
      assert(f.n_frames == frames)
      assert(math.abs(f.fps - 10.0) < 1e-6)
      // dim == frames → one luminance window per frame; solid-gray
      // JPEG frames decode within a small lossy tolerance
      (0 until frames).foreach { fi =>
        val expected = Multimodal.grayLevel(id, fi) / 255.0
        assert(math.abs(f.features(fi) - expected) < 0.02,
          s"video $id frame $fi: ${f.features(fi)} vs $expected")
      }
    }
  }

  test("video near-dup: one-frame-edited copies pair via shared frame " +
    "fingerprints, truth recomputed from independently decoded pixels") {
    // 16 textured videos + a one-frame-replaced copy of every 4th
    val vids = Multimodal.syntheticTexturedAviMedia(spark, 16, frames = 4)
    val rows = vids.collect()
    assert(rows.length == 20)

    // independent truth: decode every frame in plain test code (fresh
    // ImageIO, no operator code), dHash from raw pixels, enumerate
    // video pairs with >= 2 frames matching within hamming 6
    def frameHashes(bytes: Array[Byte]): Seq[Long] = {
      // minimal independent MJPEG extraction: scan for JPEG SOI..EOI
      // spans inside the container and decode each
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      var i = 0
      while (i + 1 < bytes.length) {
        if ((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xd8) {
          var j = i + 2
          var end = -1
          while (end < 0 && j + 1 < bytes.length) {
            if ((bytes(j) & 0xff) == 0xff && (bytes(j + 1) & 0xff) == 0xd9)
              end = j + 2
            j += 1
          }
          if (end > 0) {
            val im = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(
                java.util.Arrays.copyOfRange(bytes, i, end)))
            if (im != null) {
              // independent dHash from pixels (same definition as the
              // image test's dhashOf, block-averaged here)
              val sum = new Array[Double](72)
              val cnt = new Array[Long](72)
              for (y <- 0 until im.getHeight; x <- 0 until im.getWidth) {
                val g = im.getRGB(x, y)
                val lum = (((g >> 16) & 0xff) * 299 +
                  ((g >> 8) & 0xff) * 587 + (g & 0xff) * 114) / 1000.0
                val gi = math.min(y * 8 / im.getHeight, 7) * 9 +
                  math.min(x * 9 / im.getWidth, 8)
                sum(gi) += lum; cnt(gi) += 1
              }
              val avg = Array.tabulate(72)(k =>
                if (cnt(k) > 0) sum(k) / cnt(k) else 0.0)
              var hh = 0L
              for (y <- 0 until 8; x <- 0 until 8)
                if (avg(y * 9 + x + 1) > avg(y * 9 + x))
                  hh |= (1L << (y * 8 + x))
              out += hh
            }
            i = end
          } else i += 1
        } else i += 1
      }
      out.toSeq
    }
    val truthHashes = rows.map(r => r.media_id -> frameHashes(r.bytes)).toMap
    truthHashes.values.foreach(fs => assert(fs.length == 4))
    val ids = truthHashes.keys.toSeq.sorted
    // n_shared semantics (r15 ADVICE): DISTINCT frames of the
    // lower-id video that match ≥1 frame of the other within hamming 6
    val truth = (for {
      a <- ids; b <- ids if a < b
      n = truthHashes(a).count(ha => truthHashes(b).exists(hb =>
        java.lang.Long.bitCount(ha ^ hb) <= 6))
      if n >= 2
    } yield (a, b) -> n.toLong).toMap
    val truthPairs = truth.keySet

    val gotRows = Multimodal.videoNearDup(vids, minSharedFrames = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = gotRows.keySet
    // full recall on pairs whose shared frames have hamming <= 6
    // (composite-band pigeonhole), full precision from exact verify
    assert(got == truthPairs,
      s"missed=${(truthPairs -- got).take(3)} extra=${(got -- truthPairs).take(3)}")
    // n_shared counts the lower-id side's DISTINCT matching frames
    assert(gotRows == truth,
      s"n_shared divergence: ${gotRows.toSet.diff(truth.toSet).take(3)}")
    // every planted copy shares 3 of 4 frames with its base
    for (id <- 0L until 16L if id % 4 == 0)
      assert(got.contains((id, id + 5000L)), s"copy of video $id not paired")
  }

  test("undecodable and non-video rows fall back, flagged decoded=false") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", Array[Byte](1, 2, 3),
        Multimodal.MediaMeta(0, 0, 0, 0, "junk")),
      Multimodal.MediaRow(2L, "audio", Array[Byte](4, 5),
        Multimodal.MediaMeta(0, 0, 8000, 1, "wav"))).toDS()
    val out = Multimodal.decodeVideo(rows).collect()
      .map(f => f.media_id -> f.decoded).toMap
    assert(out == Map(1L -> false, 2L -> false))
  }

  test("n_shared counts DISTINCT frames, not frame pairs: one repeated " +
       "shared frame cannot clear minSharedFrames (r15 ADVICE)") {
    // frame 0 of video 1 matches BOTH frames of video 2 (a static
    // scene): 2 verified frame PAIRS but only 1 distinct matching
    // frame — the old count(1) roll-up would have passed min=2
    val pairs = Seq(
      (1L, 0, 2L, 0, 2), (1L, 0, 2L, 1, 3)).toDF(
      "vid_a", "frame_a", "vid_b", "frame_b", "hamming")
    assert(Multimodal.rollupFramePairs(pairs, minSharedFrames = 2)
      .count() == 0)
    val one = Multimodal.rollupFramePairs(pairs, minSharedFrames = 1)
      .collect()
    assert(one.length == 1 && one.head.getLong(2) == 1L &&
      one.head.getInt(3) == 2)
  }

  test("oracle WAV fixture: decoded RMS envelope equals the dyadic " +
       "formula bit-for-bit, gain copies pair through audioNearDup") {
    val ids = spark.range(16).select(col("id").as("vec_id"))
    val media = Multimodal.wavsFromIds(ids)
    val rows = media.collect()
    assert(rows.length == 20) // 16 bases + 4 half-gain copies
    val feats = Multimodal.decodeAudio(media, dim = 16).collect()
    assert(feats.forall(_.decoded), "every fixture WAV must decode")
    val md = java.security.MessageDigest.getInstance("MD5")
    feats.foreach { f =>
      val baseId = if (f.media_id >= 10000000L) f.media_id - 10000000L
                   else f.media_id
      val half = f.media_id >= 10000000L
      val expect = (0 until 16).map { w =>
        val e = Multimodal.windowAmpExp(baseId, w, md) -
          (if (half) 1 else 0)
        // 2^(e-15) exactly — the envelope contract the oracle replays
        java.lang.Math.scalb(1.0f, e - 15)
      }
      assert(f.envelope.toSeq == expect,
        s"media ${f.media_id}: ${f.envelope.toSeq} != $expect")
    }
    val got = Multimodal.audioNearDup(media, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (id <- 0L until 16L if id % 4 == 0)
      assert(got.contains((id, id + 10000000L)),
        s"half-gain copy of $id not paired")
    // unrelated md5-enveloped tracks stay apart at t=0.98
    assert(got.forall { case (a, b) => b - a == 10000000L })
  }

  test("oracle AVI fixture: PNG frames decode to the formula grid — " +
       "frame dHashes equal the formula dHash, copies pair with " +
       "n_shared = frames") {
    val ids = spark.range(12).select(col("id").as("vec_id"))
    val media = Multimodal.videosFromIds(ids, frames = 3)
    val fh = Multimodal.videoFrameHashes(media).collect()
      .map(f => (f.media_id, f.frame_idx) -> f.fhash).toMap
    assert(fh.size == (12 + 3) * 3)
    val md = java.security.MessageDigest.getInstance("MD5")
    // independent truth: dHash straight off the integer formula grid
    def formulaHash(baseId: Long, f: Int, pert: Boolean): Long = {
      val g = Array.tabulate(72)(i =>
        Multimodal.frameCellGray(baseId, f, i, pert, md).toDouble)
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (g(y * 9 + x + 1) > g(y * 9 + x)) h |= (1L << (y * 8 + x))
      h
    }
    fh.foreach { case ((mid, f), hash) =>
      val baseId = if (mid >= 10000000L) mid - 10000000L else mid
      val pert = mid >= 10000000L && f == (baseId % 3).toInt
      assert(hash == formulaHash(baseId, f, pert),
        s"video $mid frame $f: codec round-trip diverged from formula")
    }
    val got = Multimodal.videoNearDup(media, minSharedFrames = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    for (id <- 0L until 12L if id % 4 == 0)
      assert(got.get((id, id + 10000000L)).contains(3L),
        s"copy of video $id: ${got.get((id, id + 10000000L))}")
    // band-width dial: at a shared maxHamming both widths have FULL
    // recall by pigeonhole (2-block to 6, 3-block to 5), so at 5 the
    // outputs must be row-identical — the selectivity gain is free
    def rows(bb: Int) = Multimodal.videoNearDup(media,
        minSharedFrames = 2, maxHamming = 5, bandBlocks = bb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(rows(3) == rows(2), "3-block banding lost recall at hamming<=5")
  }

  test("streaming video dedup: batch-parity on the cross pairs " +
       "(n_shared and min_hamming included) and a real MemoryStream leg") {
    import graft.streaming.StreamVideoDedup
    // standing corpus: 16 base videos (copies become the arrivals)
    val all = Multimodal.videosFromIds(
      spark.range(16).select(col("id").as("vec_id")), frames = 3)
    val corpus = all.filter(_.media_id < 10000000L)
    val arrivals = all.filter(_.media_id >= 10000000L)
      .union(Multimodal.videosFromIds(
          spark.range(100, 104).select(col("id").as("vec_id")), frames = 3)
        .filter(_.media_id < 10000000L))
    val idx = StreamVideoDedup.bandIndex(corpus)

    // static-frame invocation of the same stream-static plan
    val matches = StreamVideoDedup.videoFrameMatches(arrivals, idx)
    val got = StreamVideoDedup.rollupArrivals(matches, minSharedFrames = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

    // batch-operator truth: videoNearDup over corpus ∪ arrivals,
    // restricted to cross pairs (one side in each set)
    val corpusIds = corpus.collect().map(_.media_id).toSet
    val truth = Multimodal.videoNearDup(corpus.union(arrivals),
        minSharedFrames = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .filter { case (a, b, _, _) => corpusIds(a) ^ corpusIds(b) }
      .toSet
    assert(got == truth,
      s"missed=${(truth -- got).take(3)} extra=${(got -- truth).take(3)}")
    // every planted one-frame-perturbed copy pairs with all 3 frames
    for (id <- 0L until 16L if id % 4 == 0)
      assert(got.exists(p => p._1 == id && p._2 == id + 10000000L &&
        p._3 == 3L), s"copy of video $id not rolled up")

    // end-to-end: the frame-match plan runs as a real streaming
    // query, append mode, stateless; the shared roll-up then
    // reproduces the same video pairs from the streamed matches
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MediaRow](spark)
    val q = StreamVideoDedup.videoFrameMatches(in.toDS(), idx)
      .writeStream.format("memory").queryName("vid_dedup_stream")
      .outputMode("append").start()
    val arrivalRows = arrivals.collect()
    in.addData(arrivalRows.take(4).toSeq)
    q.processAllAvailable()
    in.addData(arrivalRows.drop(4).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = StreamVideoDedup.rollupArrivals(
        spark.table("vid_dedup_stream"), minSharedFrames = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(streamed == got, "MemoryStream leg diverged from the static plan")
  }

  test("verified impossible: no inter-frame video codec exists on " +
       "this image (MJPEG-in-AVI is the real-decode boundary)") {
    // the ImageIO registry has no H.264/HEVC/VP9 reader, and the usual
    // JNI codec bridges are absent — pinning why decodeVideo supports
    // exactly the independent-frame (MJPEG) container case
    Seq("h264", "hevc", "vp9", "av1").foreach { fmt =>
      assert(!javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
        .hasNext, s"unexpected ImageIO reader for $fmt")
    }
    Seq("org.bytedeco.javacv.FFmpegFrameGrabber",
        "org.jcodec.api.FrameGrab").foreach { cls =>
      assertThrows[ClassNotFoundException](Class.forName(cls))
    }
  }
}
