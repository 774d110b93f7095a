package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Ivf, Multimodal, NearDup}
import graft.queries._

/** LLM-data operators checked against engine-independent ground truth. */
class ExtendedOperatorsSpec extends AnyFunSuite {
  import TestSession._

  test("minhash LSH candidates achieve full recall of exact-jaccard pairs") {
    val exact = NearDup.ngramJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, DedupQueries.JaccardThreshold)
      .select("doc_a", "doc_b")
    val cand = NearDup.minHashLshPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN)
      .select("doc_a", "doc_b")
    assert(exact.count() > 0, "corpus should contain planted near-dups")
    assert(exact.except(cand).count() == 0, "LSH missed an exact near-dup pair")
  }

  test("simhash pairs are mostly true near-dups with good planted-pair recall") {
    // A 32-bit SimHash admits rare hamming<=3 collisions between unrelated
    // docs (measured: 1 in ~125k pairs on this corpus), so the contract is
    // precision/recall, not zero false positives.
    val sim = NearDup.simHashPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, DedupQueries.SimHammingMax)
      .select("doc_a", "doc_b")
    val exact = NearDup.ngramJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, 0.5)
      .select("doc_a", "doc_b")
    val nSim = sim.count()
    val truePos = nSim - sim.except(exact).count()
    val nExact = exact.count()
    assert(nSim > 0 && nExact > 0)
    assert(truePos.toDouble / nSim >= 0.9, s"precision $truePos/$nSim < 0.9")
    assert(truePos.toDouble / nExact >= 0.6, s"recall $truePos/$nExact < 0.6")
  }

  test("wide minhash geometry (Mh64) keeps planted-pair recall and sharpens the estimate") {
    import graft.functions.Lsh
    val exact = NearDup.ngramJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, DedupQueries.JaccardThreshold)
    val c16 = NearDup.minHashLshPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, Lsh.Mh16)
    val c64 = NearDup.minHashLshPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, Lsh.Mh64)
    assert(exact.count() > 0)
    assert(exact.select("doc_a", "doc_b")
      .except(c64.select("doc_a", "doc_b")).count() == 0,
      "deep-band geometry missed an exact near-dup pair on this corpus")
    // k=64 halves the signature estimator's std error vs k=16: mean |est -
    // true| on the verified pairs must not degrade (deterministic corpus
    // and hash family, so this is a fixed number, not a flaky sample).
    def mae(c: org.apache.spark.sql.DataFrame): Double =
      exact.join(c, Seq("doc_a", "doc_b"))
        .select(avg(abs(col("est_jaccard") - col("jaccard"))))
        .first().getDouble(0)
    val (e16, e64) = (mae(c16), mae(c64))
    assert(e64 <= e16 + 0.02, s"k=64 estimator MAE $e64 vs k=16 $e16")
  }

  test("word-array simhash at Sim32 equals the scalar simhash kernel") {
    import graft.functions.Lsh
    val sh = Tables.documents(spark, sf).limit(500)
      .select(col("doc_id"),
        graft.plans.SignatureExprs.distinctNGrams(
          split(col("text"), " "), DedupQueries.JaccardN).as("sh"))
      .filter(size(col("sh")) > 0)
    val both = sh.select(
      graft.plans.SignatureExprs.simHash(col("sh"),
        Lsh.GA, Lsh.GB, Lsh.TwoPow32, Lsh.SimBits).as("scalar"),
      graft.plans.SignatureExprs.simHashWords(col("sh"),
        Lsh.Sim32.gas, Lsh.Sim32.gbs, Lsh.TwoPow32).as("words"))
    assert(both.count() > 0)
    assert(both.filter(col("scalar") =!= col("words")(0)).count() == 0,
      "Sim32's single word must reproduce the scalar fingerprint bit-for-bit")
  }

  test("simhash geometry guards: pigeonhole and shape invariants") {
    import graft.functions.Lsh
    // maxHamming = bands loses completeness: a pair can differ in every band.
    intercept[IllegalArgumentException] {
      NearDup.simHashPairs(Tables.documents(spark, sf), "doc_id", "text",
        DedupQueries.JaccardN, Lsh.Sim32.bands, Lsh.Sim32)
    }
    // Geometry shape: bands must divide bits; words need a mixer pair each;
    // bands may not straddle 32-bit words; mixers must be odd.
    intercept[IllegalArgumentException] { Lsh.SimGeometry(48, 4, Seq(Lsh.GA), Seq(Lsh.GB)) }
    intercept[IllegalArgumentException] { Lsh.SimGeometry(32, 5, Seq(Lsh.GA), Seq(Lsh.GB)) }
    intercept[IllegalArgumentException] { Lsh.SimGeometry(64, 8, Seq(Lsh.GA), Seq(Lsh.GB)) }
    intercept[IllegalArgumentException] {
      // width 64 would straddle the 32-bit words
      Lsh.SimGeometry(64, 1, Seq(Lsh.GA, Lsh.GA2), Seq(Lsh.GB, Lsh.GB2))
    }
    // but one-band-per-word IS legal: width 32 never straddles
    assert(Lsh.SimGeometry(64, 2, Seq(Lsh.GA, Lsh.GA2), Seq(Lsh.GB, Lsh.GB2)).width == 32)
    intercept[IllegalArgumentException] { Lsh.SimGeometry(32, 4, Seq(2L), Seq(Lsh.GB)) }
  }

  test("radius-lever geometry (Sim64Radius, hamming<=7) keeps planted-pair recall") {
    import graft.functions.Lsh
    val wide = NearDup.simHashPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, 7, Lsh.Sim64Radius)
      .select("doc_a", "doc_b")
    val exact = NearDup.ngramJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, 0.5)
      .select("doc_a", "doc_b")
    val nWide = wide.count()
    val truePos = nWide - wide.except(exact).count()
    val nExact = exact.count()
    assert(nWide > 0 && nExact > 0)
    // 64 fingerprint bits double the hamming signal on real near-dups while
    // unrelated-pair collisions fall ~2^-32: precision should be essentially
    // perfect and recall no worse than the 32-bit geometry's floor.
    assert(truePos.toDouble / nWide >= 0.95, s"precision $truePos/$nWide < 0.95")
    assert(truePos.toDouble / nExact >= 0.6, s"recall $truePos/$nExact < 0.6")
  }

  test("collision-lever geometry (Sim64) yields exactly the 64-bit-verified subset of q23") {
    // Word 1 of Sim64 IS the Sim32 fingerprint, so hamming64 <= 3 implies
    // hamming32 <= 3, and both blockings are pigeonhole-complete at this
    // radius: q62's pairs must be a subset of q23's, found with 2^-16
    // per-band collision mass instead of 2^-8.
    val wide = DedupQueries.dedupSimHashWide(spark, sf).select("doc_a", "doc_b")
    val narrow = DedupQueries.dedupSimHash(spark, sf).select("doc_a", "doc_b")
    assert(wide.count() > 0)
    assert(wide.except(narrow).count() == 0,
      "a 64-bit hamming<=3 pair escaped the 32-bit hamming<=3 set")
  }

  test("df cap bounds shingle fan-out: boilerplate-only pairs drop, true dups stay") {
    import spark.implicits._
    val boiler = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = ((1L to 8L).map(i => (i, s"$boiler unique$i only$i words$i")) ++
      Seq((100L, s"$boiler same tail here"), (101L, s"$boiler same tail here")))
      .toDF("doc_id", "text")
    // Uncapped: every pair shares the 8 boilerplate trigrams and passes 0.4.
    val uncapped = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4,
      maxPostings = 1000)
    assert(uncapped.count() > 1, "test corpus should produce boilerplate pairs")
    // Capped at 5 (< boilerplate df of 10): only the genuinely identical
    // pair survives, with Jaccard 1.0 over its informative shingles.
    val capped = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4,
      maxPostings = 5).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 101L)))
    assert(capped.head.getDouble(3) == 1.0)
  }

  test("lsh-verified jaccard pairs equal the exact pairs on this corpus") {
    // LSH candidate recall is full here (previous test) and verification is
    // exact Jaccard, so the scale path must reproduce the exact pairs.
    val exact = NearDup.ngramJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, DedupQueries.JaccardThreshold)
      .select("doc_a", "doc_b")
    val verified = NearDup.lshVerifiedJaccardPairs(Tables.documents(spark, sf),
      "doc_id", "text", DedupQueries.JaccardN, DedupQueries.JaccardThreshold)
      .select("doc_a", "doc_b")
    assert(exact.except(verified).count() == 0, "scale path missed an exact pair")
    assert(verified.except(exact).count() == 0, "scale path emitted a false pair")
  }

  test("shard packing covers every document with contiguous bounded shards") {
    val shards = CurationQueries.shardPack(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(shards.map(_.getLong(2)).sum == docs.count(), "every doc lands in a shard")
    val maxDocTokens = docs
      .select(max(size(functions.TextAnalysis.words(col("text"))))).head().getInt(0)
    shards.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val ids = rows.map(_.getLong(1)).sorted
      assert(ids.toSeq == (0L until ids.length), s"$src shards not contiguous: ${ids.toSeq}")
      // start-offset packing can overrun the budget by at most one document
      rows.foreach { r =>
        assert(r.getLong(3) < CurationQueries.ShardTokens + maxDocTokens,
          s"$src shard ${r.getLong(1)} too large: ${r.getLong(3)}")
      }
    }
  }

  test("batched media decode matches the columnar metadata path") {
    val media = Multimodal.payloadTable(Tables.documents(spark, sf)).repartition(6)
    val decoded = Multimodal.decodeBatched(media)(Multimodal.decodeStub)
      .toDF().select("doc_id", "width", "height", "n_bytes")
    val meta = Multimodal.extractMeta(media)
      .select(col("doc_id"), col("width"), col("height"),
        col("byte_len").cast("long").as("n_bytes"))
    assert(decoded.except(meta).count() == 0 && meta.except(decoded).count() == 0)
  }

  test("RIFF/WAVE codec through the batched plug-point recovers the written header") {
    import spark.implicits._
    def makeWav(channels: Int, rate: Int, bits: Int, dataLen: Int): Array[Byte] = {
      val blockAlign = channels * bits / 8
      val byteRate = rate * blockAlign
      // a LIST chunk (with an odd size, exercising word-aligned skipping)
      // sits between WAVE and fmt, as real encoders emit
      val junk = Array.tabulate(7)(i => (i + 1).toByte)
      val size = 4 + (8 + junk.length + 1) + (8 + 16) + (8 + dataLen)
      val bb = java.nio.ByteBuffer.allocate(8 + size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(size).put("WAVE".getBytes)
      bb.put("LIST".getBytes).putInt(junk.length).put(junk).put(0.toByte)
      bb.put("fmt ".getBytes).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate).putInt(byteRate)
        .putShort(blockAlign.toShort).putShort(bits.toShort)
      bb.put("data".getBytes).putInt(dataLen).put(new Array[Byte](dataLen))
      bb.array()
    }
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map { i =>
      val channels = 1 + rnd.nextInt(2)
      val rate = Seq(8000, 16000, 44100)(rnd.nextInt(3))
      val bits = Seq(8, 16)(rnd.nextInt(2))
      val dataLen = (100 + rnd.nextInt(400)) * channels * bits / 8
      (i.toLong, channels, rate, bits, dataLen.toLong,
        makeWav(channels, rate, bits, dataLen))
    }
    val df = rows.toDF("doc_id", "channels", "sample_rate", "bits_per_sample",
      "data_bytes", "payload")
    // decoded header fields must equal the columnar metadata written
    // alongside the payload, row for row
    val decoded = Multimodal.decodeWavBatched(df.select("doc_id", "payload")).toDF()
    val meta = df.select(col("doc_id"), col("channels"), col("sample_rate"),
      col("bits_per_sample"), col("data_bytes"),
      (col("data_bytes") * 1000000L /
        (col("sample_rate") * col("channels") * col("bits_per_sample") / 8))
        .cast("long").as("duration_us"))
    assert(decoded.count() == 50)
    assert(decoded.except(meta).count() == 0 && meta.except(decoded).count() == 0)
  }

  test("imageio codec through the batched plug-point recovers dimensions and pixels") {
    import spark.implicits._
    // deterministic rasters: pixel (x, y) of image i has a closed-form RGB,
    // so the expected full-raster px_sum is computable without the decoder
    def makeImage(i: Int, w: Int, h: Int, fmt: String): (Array[Byte], Long) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = ((x * 7 + i) % 256, (y * 13 + i) % 256, (x + y) % 256)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        sum += r + g + b
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      (bos.toByteArray, sum)
    }
    val rnd = new scala.util.Random(13)
    val rows = (0 until 40).map { i =>
      val (w, h) = (4 + rnd.nextInt(60), 4 + rnd.nextInt(60))
      val fmt = if (i % 2 == 0) "png" else "bmp"
      val (bytes, sum) = makeImage(i, w, h, fmt)
      (i.toLong, fmt, w, h, sum, bytes.length.toLong, bytes)
    }
    val df = rows.toDF("doc_id", "format", "width", "height", "px_sum",
      "n_bytes", "payload").repartition(6)
    val decoded = Multimodal.decodeImageBatched(df.select("doc_id", "payload")).toDF()
    val meta = df.select("doc_id", "format", "width", "height", "px_sum", "n_bytes")
    assert(decoded.count() == 40)
    assert(decoded.except(meta).count() == 0 && meta.except(decoded).count() == 0)
    // non-image payloads fail loudly (the quarantine-sink contract)
    intercept[Exception] {
      Multimodal.decodeImage(99L, "not an image".getBytes)
    }
  }

  test("image resize: exact nearest-neighbor raster, decodable output, deterministic bytes") {
    import spark.implicits._
    def px(i: Int)(x: Int, y: Int): (Int, Int, Int) =
      ((x * 7 + i) % 256, (y * 13 + i) % 256, (x + y) % 256)
    def makeImage(i: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(i)(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, if (i % 2 == 0) "png" else "bmp", bos))
      bos.toByteArray
    }
    val (outW, outH) = (16, 12)
    val rnd = new scala.util.Random(17)
    val rows = (0 until 30).map { i =>
      val (w, h) = (4 + rnd.nextInt(60), 4 + rnd.nextInt(60))
      // reference resample: the operator's documented floor mapping over
      // the closed-form source raster — computed WITHOUT the operator
      val expSum = (for (y <- 0 until outH; x <- 0 until outW) yield {
        val (r, g, b) = px(i)((x.toLong * w / outW).toInt, (y.toLong * h / outH).toInt)
        (r + g + b).toLong
      }).sum
      (i.toLong, w, h, expSum, makeImage(i, w, h))
    }
    val df = rows.map(r => (r._1, r._5)).toDF("doc_id", "payload").repartition(5)
    val got = Multimodal.resizeImageBatched(df, outW, outH).collect()
      .map(r => r.doc_id -> r).toMap
    rows.foreach { case (id, w, h, expSum, _) =>
      val r = got(id)
      assert((r.width, r.height, r.out_w, r.out_h) == (w, h, outW, outH))
      assert(r.out_px_sum == expSum, s"doc $id: resampled raster diverged")
      // the re-encoded payload really is a decodable image of the target
      // size whose pixels are the resampled raster
      val round = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.out_bytes))
      assert(round.getWidth == outW && round.getHeight == outH)
      val roundSum = (for (y <- 0 until outH; x <- 0 until outW) yield {
        val rgb = round.getRGB(x, y)
        (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)).toLong
      }).sum
      assert(roundSum == expSum, s"doc $id: PNG roundtrip lost pixels")
    }
    // bit-deterministic: the same payload resizes to identical bytes
    val twice = Multimodal.resizeImage(0L, rows.head._5, outW, outH)
    assert(java.util.Arrays.equals(twice.out_bytes, got(0L).out_bytes))
  }

  test("audio features: windowed RMS/peak/crossings over real PCM match a reference fold") {
    import spark.implicits._
    def makeWav16(samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val size = 4 + (8 + 16) + (8 + dataLen)
      val bb = java.nio.ByteBuffer.allocate(8 + size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(size).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16)
        .putShort(1).putShort(1).putInt(16000).putInt(32000)
        .putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val window = 256
    val rnd = new scala.util.Random(19)
    val rows = (0 until 20).map { i =>
      val n = 300 + rnd.nextInt(900) // 2-5 windows, last one partial
      val samples = Array.tabulate(n)(j =>
        ((j * 37 + i * 101) % 2001 - 1000).toShort)
      (i.toLong, samples, makeWav16(samples))
    }
    val df = rows.map(r => (r._1, r._3)).toDF("doc_id", "payload").repartition(4)
    val got = Multimodal.audioFeaturesBatched(df, window).collect()
      .map(r => (r.doc_id, r.window_idx) -> r).toMap
    rows.foreach { case (id, samples, _) =>
      samples.grouped(window).zipWithIndex.foreach { case (win, idx) =>
        // reference: the operator's documented sequential fold
        var (sumSq, peak, crossings, prevSign) = (0.0, 0, 0L, 0)
        win.foreach { s =>
          sumSq += s.toDouble * s.toDouble
          if (math.abs(s) > peak) peak = math.abs(s)
          val sign = Integer.signum(s)
          if (sign != 0) {
            if (prevSign != 0 && sign != prevSign) crossings += 1
            prevSign = sign
          }
        }
        val r = got((id, idx))
        assert(r.n_samples == win.length)
        assert(r.rms == math.sqrt(sumSq / win.length), s"doc $id win $idx rms")
        assert(r.peak == peak && r.zero_crossings == crossings)
      }
      assert(!got.contains((id, samples.length / window + 1)), "phantom window")
    }
    // silence is exactly zero everywhere
    val silent = Multimodal.audioFeatures(90L, makeWav16(new Array[Short](512)), 256)
    assert(silent.forall(w => w.rms == 0.0 && w.peak == 0 && w.zero_crossings == 0L))
    // non-16-bit PCM is refused (the quarantine-sink contract)
    intercept[Exception] {
      val bad = makeWav16(Array[Short](1, 2, 3))
      // patch bits_per_sample to 8 in the fmt chunk
      bad(34) = 8
      Multimodal.audioFeatures(91L, bad, 256)
    }
  }

  test("avi demuxer samples frames at the container level and decodes exactly them") {
    import spark.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    // --- fixture builders: a spec-shaped RIFF/AVI written from scratch ---
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + body.length + (body.length & 1))
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")); bb.putInt(body.length); bb.put(body)
      bb.array() // odd bodies carry the word-align pad byte (left zero)
    }
    def list(typ: String, children: Array[Byte]): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ children)
    // frame pixels have a closed form, so the expected px_sum of any frame
    // subset is computable without running the decoder; PNG keeps it exact
    def makeFrame(docId: Int, f: Int, w: Int, h: Int, fmt: String): (Array[Byte], Long) = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = ((x * 5 + f + docId) % 256, (y * 11 + f) % 256, (x + y + f) % 256)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        sum += r + g + b
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      (bos.toByteArray, sum)
    }
    def makeAvi(usecPerFrame: Int, w: Int, h: Int,
                frames: Seq[Array[Byte]]): Array[Byte] = {
      val avih = new Array[Byte](56)
      val ab = ByteBuffer.wrap(avih).order(ByteOrder.LITTLE_ENDIAN)
      ab.putInt(0, usecPerFrame); ab.putInt(32, w); ab.putInt(36, h)
      val movi = frames.map(f => chunk("00dc", f))
        .foldLeft(Array.empty[Byte])(_ ++ _)
      chunk("RIFF", "AVI ".getBytes("US-ASCII") ++
        list("hdrl", chunk("avih", avih)) ++ list("movi", movi))
    }

    val rnd = new scala.util.Random(29)
    val fixtures = (0 until 12).map { i =>
      val (w, h) = (4 + rnd.nextInt(28), 4 + rnd.nextInt(28))
      val usec = 20000 + rnd.nextInt(80000)
      val nFrames = 1 + rnd.nextInt(7)
      val frames = (0 until nFrames).map(f => makeFrame(i, f, w, h, "png"))
      (i, w, h, usec, frames)
    }
    for (sampleEvery <- Seq(1, 3)) {
      val rows = fixtures.map { case (i, w, h, usec, frames) =>
        val sampledSums = frames.zipWithIndex
          .collect { case ((_, s), f) if f % sampleEvery == 0 => s }
        val bytes = makeAvi(usec, w, h, frames.map(_._1))
        (i.toLong, w, h, frames.size, usec.toLong * frames.size,
          sampledSums.size, sampledSums.sum, bytes.length.toLong, bytes)
      }
      val df = rows.toDF("doc_id", "width", "height", "n_frames", "duration_us",
        "sampled_frames", "px_sum", "n_bytes", "payload").repartition(5)
      val decoded = Multimodal.decodeAviBatched(
        df.select("doc_id", "payload"), sampleEvery).toDF()
      val meta = df.select("doc_id", "width", "height", "n_frames",
        "duration_us", "sampled_frames", "px_sum", "n_bytes")
      assert(decoded.count() == fixtures.size.toLong)
      assert(decoded.except(meta).count() == 0 && meta.except(decoded).count() == 0,
        s"sampleEvery=$sampleEvery demux mismatch")
    }

    // MJPEG proper: lossy frames, so the expectation is the test's OWN
    // ImageIO decode of the same frame bytes — proving the demuxer hands
    // the codec exactly the chunk byte ranges, pads skipped correctly
    val jf = (0 until 5).map { f =>
      val (bytes, _) = makeFrame(99, f, 17, 9, "jpg") // odd-size bodies likely
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var sum = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
      }
      (bytes, sum)
    }
    val mjpeg = Multimodal.decodeAvi(99L, makeAvi(33333, 17, 9, jf.map(_._1)))
    assert(mjpeg.n_frames == 5 && mjpeg.sampled_frames == 5)
    assert(mjpeg.px_sum == jf.map(_._2).sum, "MJPEG frame bytes reached ImageIO intact")
    assert(mjpeg.duration_us == 33333L * 5)

    // quarantine contract: non-AVI, truncated, and undecodable-frame
    // payloads all fail loudly instead of emitting half-parsed rows
    intercept[Exception] { Multimodal.decodeAvi(1L, "plainly not a video".getBytes) }
    val good = makeAvi(40000, 8, 8, Seq(makeFrame(0, 0, 8, 8, "png")._1))
    intercept[Exception] { Multimodal.decodeAvi(2L, good.dropRight(10)) }
    intercept[Exception] {
      Multimodal.decodeAvi(3L, makeAvi(40000, 8, 8, Seq("garbage frame".getBytes)))
    }
    // an AVI with no avih header must refuse, not report -1 dimensions
    intercept[Exception] {
      Multimodal.decodeAvi(4L, chunk("RIFF", "AVI ".getBytes("US-ASCII") ++
        list("movi", chunk("00dc", makeFrame(0, 0, 8, 8, "png")._1))))
    }
  }

  test("intervalPointJoin matches the naive inequality join on boundary cases") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // micros → timestamp helper; cases sit exactly ON bucket and interval
    // boundaries: interval end == bucket edge, point at interval start/end,
    // zero-length interval, interval spanning 3 buckets.
    def ts(us: org.apache.spark.sql.Column) = timestamp_micros(us)
    val b = 100L // bucket width in micros
    val iv = Seq(
      (1L, 0L, 100L),   // ends exactly on a bucket edge
      (2L, 150L, 150L), // zero-length
      (3L, 90L, 310L),  // spans buckets 0..3
      (4L, 400L, 450L)  // empty of points
    ).toDF("iv_id", "s_us", "e_us")
      .select($"iv_id", ts($"s_us".cast("long")).as("s"), ts($"e_us".cast("long")).as("e"))
    val pt = Seq(0L, 99L, 100L, 101L, 150L, 200L, 300L, 310L, 311L, 999L)
      .toDF("p_us").select($"p_us", ts($"p_us").as("p"))
    val got = RangeJoin.intervalPointJoin(iv, pt, "s", "e", "p", b)
      .select("iv_id", "p_us").as[(Long, Long)].collect().toSet
    val naive = iv.crossJoin(pt)
      .filter(unix_micros($"p").between(unix_micros($"s"), unix_micros($"e")))
      .select("iv_id", "p_us").as[(Long, Long)].collect().toSet
    assert(got == naive, s"bucketed != naive: ${got.diff(naive)} / ${naive.diff(got)}")
    assert(naive.contains((1L, 0L)) && naive.contains((1L, 100L)) &&
      naive.contains((2L, 150L)) && !naive.exists(_._1 == 4L))
    // exactly-once: no qualifying pair is emitted from two buckets
    val dup = RangeJoin.intervalPointJoin(iv, pt, "s", "e", "p", b)
      .groupBy("iv_id", "p_us").count().filter($"count" > 1).count()
    assert(dup == 0, "a pair met in more than one bucket")
  }

  test("PrefixSum.runningSum matches a single-partition cumulative sum") {
    import spark.implicits._
    import graft.operators.PrefixSum
    // deterministic pseudo-random weights/keys across several buckets,
    // including ties on the order key within and across buckets
    val rows = (1 to 500).map { i =>
      val key = (i * 2654435761L) % 97 // collides: ~5 rows per key
      (key, key / 10, (i % 7).toLong)  // (order key, bucket = key/10, weight)
    }
    val df = rows.toDF("k", "bucket", "w").withColumn("id", monotonically_increasing_id())
    val got = PrefixSum.runningSum(df, "bucket", Seq(col("k"), col("id")), col("w"), "cum")
      .select("k", "id", "cum").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // naive: global sort by (k, id), running sum — bucket = k/10 is monotone
    // in k so the two orders agree
    val naive = df.select("k", "id", "w").as[(Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (k, id, w)) => (k, id, acc + w) }
      .drop(1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq == naive.toSeq)
  }

  test("q71 (prefix-sum) computes exactly q64's (pair-join) answer") {
    val a = TemporalQueries.sessionConcurrency(spark, sf).collect().map(_.toSeq).toSet
    val b = AnalyticsQueries.sessionConcurrencyFast(spark, sf).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("scd2Merge rebuilds only touched keys and matches a full rebuild") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "value", "ts")
    val h1 = ev.filter(col("ts") <= Cols.utcTs(EtlQueries.SplitTs))
    val h2 = ev.filter(col("ts") > Cols.utcTs(EtlQueries.SplitTs))
    val merged = operators.Scd.scd2Merge(
      operators.Scd.scd2FromChangelog(h1, Seq("user_id"), "ts", Seq("event_id")),
      h2, Seq("user_id"), "ts", Seq("event_id"))
    val full = operators.Scd.scd2FromChangelog(ev, Seq("user_id"), "ts", Seq("event_id"))
    assert(merged.except(full).count() == 0 && full.except(merged).count() == 0)
  }

  test("cluster-pruned cosine pairs = brute-force pairs restricted to shared clusters") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val cents = emb.orderBy("vec_id").limit(DedupQueries.SemLists)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val pruned = NearDup.clusterCosinePairs(emb, "vec_id", "embedding",
      cents, DedupQueries.CosineThreshold)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val asn = Ivf.assignListsByJoin(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "vec_id", "v", cents, "list")
      .select("vec_id", "list").as[(Long, Int)].collect().toMap
    val brute = NearDup.embeddingCosinePairs(emb, "vec_id", "embedding",
      DedupQueries.CosineThreshold)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = brute.filter { case (a, b) => asn(a) == asn(b) }
    assert(pruned == expected,
      s"pruned≠same-cluster-brute: extra=${pruned.diff(expected).take(5)} missing=${expected.diff(pruned).take(5)}")
    assert(pruned.nonEmpty, "corpus should contain same-cluster near-dups")
  }

  test("q24 runs the cosine kernel's stage once per call, over every core") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val group = s"q24-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    // (job group, tasks) of every submitted stage that runs the kernel RDD
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == marker || e.stageInfo.rddInfos.exists(_.name == graft.plans.CosineBlocks.RddName))
          stages.add((g, e.stageInfo.numTasks))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "q24")
      // written as a user keeps it: the sort's range sample, its map stage
      // and the write all read the pairs the one kernel stage produced
      try DedupQueries.dedupEmbedding(spark, sf).write.mode("overwrite")
        .parquet(TestSession.tempDir("graft_q24") + "/out")
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once the marker stage is seen,
      // every stage of the call has been
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!stages.toArray.exists(_ == ((marker, 1))) && System.nanoTime() < deadline)
        Thread.sleep(10)
      val kernel = stages.toArray.toSeq.collect { case (g: String, n: Int) if g == group => n }
      assert(kernel == Seq(sc.defaultParallelism), s"kernel stages (tasks each): $kernel")
    } finally sc.removeSparkListener(listener)
  }

  test("co-occurrence pairs: repeat basket lines count once, support is per-basket") {
    import spark.implicits._
    import graft.operators.Analytics
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L), (1L, 30L), // repeat (1,20) must not double
      (2L, 10L), (2L, 20L),
      (3L, 20L), (3L, 10L),                       // order within basket irrelevant
      (4L, 40L)                                   // singleton basket: no pairs
    ).toDF("basket", "item")
    val got = Analytics.coOccurrencePairs(df, "basket", "item", 1L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 20L, 3L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("sliding distinct users matches a brute-force window count") {
    import spark.implicits._
    import graft.operators.Analytics
    // multi-day entities: each (entity, day) grid point present with prob
    // ~1/2 by a deterministic rule; windows overlap heavily
    val rows = for { e <- 0 until 40; d <- 0 until 25
                     if (e * 31 + d * 17) % 7 < 3 }
      yield (e.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)))
    val df = rows.toDF("entity", "day")
    val got = Analytics.slidingDistinctCount(df, "entity", "day", 7, "n")
      .as[(java.sql.Date, Long)].collect().toMap
    val byDay = rows.groupBy(_._2).keySet
    val naive = byDay.map { wend =>
      val we = wend.toLocalDate
      wend -> rows.filter { case (_, d) =>
        val ld = d.toLocalDate
        !ld.isAfter(we) && ld.isAfter(we.minusDays(7))
      }.map(_._1).distinct.size.toLong
    }.toMap
    assert(got == naive)
  }

  test("trailingZScore matches a sequential reference and nulls thin/flat baselines") {
    import spark.implicits._
    import graft.operators.Analytics
    val vals = (0 until 60).map(i => (i.toLong, ((i * 37) % 11).toLong)) ++
      // a flat stretch far from the varied prefix: zero variance → null z
      (100 until 120).map(i => (i.toLong, 5L))
    val df = vals.toDF("day_num", "v")
    val got = Analytics.trailingZScore(df, "day_num", "v", 28, 8)
      .select("day_num", "n_prior", "trailing_mean", "z_score")
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    vals.foreach { case (day, v) =>
      val prior = vals.filter { case (d, _) => d >= day - 28 && d <= day - 1 }.map(_._2)
      val (n, mean, z) = got(day)
      assert(n == prior.size)
      if (prior.size < 8) assert(mean.isEmpty && z.isEmpty, s"day $day")
      else {
        val m = prior.sum.toDouble / prior.size
        assert(math.abs(mean.get - m) < 1e-12, s"day $day")
        val va = (prior.map(x => x.toDouble * x).sum - prior.sum.toDouble * prior.sum / prior.size) /
          (prior.size - 1)
        if (va > 0.0) assert(math.abs(z.get - (v - m) / math.sqrt(va)) < 1e-12, s"day $day")
        else assert(z.isEmpty, s"day $day: zero variance must null the z")
      }
    }
  }

  test("containment pairs surface an excerpt-in-page duplicate Jaccard misses") {
    import spark.implicits._
    val words = (0 until 200).map(i => s"w$i")
    val page = words.mkString(" ")
    val excerpt = words.take(60).mkString(" ")         // fully inside page
    val other = (0 until 200).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, page), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val cont = NearDup.ngramContainmentPairs(docs, "doc_id", "text",
      DedupQueries.JaccardN, DedupQueries.ContainmentThreshold)
      .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a")
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 58.0 / 198.0, 1.0)),
      s"expected the excerpt fully contained: ${cont.toSeq}")
    val jac = NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      DedupQueries.JaccardN, DedupQueries.JaccardThreshold)
    assert(jac.count() == 0, "Jaccard at the dedup threshold must miss the excerpt pair")
  }

  test("decayed customer value matches a driver-side sequential fold") {
    import spark.implicits._
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("day"))
      .agg(sum(Cols.dec2(col("o_totalprice"))).as("rev_dec"))
      .select(col("o_custkey"), col("day"), col("rev_dec").cast("double").as("rev"))
      .as[(Long, java.sql.Date, Double)].collect()
    val maxDay = daily.map(_._2.toLocalDate).max
    val expected = daily.groupBy(_._1).map { case (ck, rows) =>
      val v = rows.sortBy(_._2.toLocalDate.toEpochDay).map { case (_, d, rev) =>
        val age = math.min(
          java.time.temporal.ChronoUnit.DAYS.between(d.toLocalDate, maxDay),
          AnalyticsQueries.DecayCapDays.toLong).toInt
        rev / (1L << age).toDouble
      }.foldLeft(0.0)(_ + _)
      ck -> ((v, rows.size.toLong))
    }
    val got = AnalyticsQueries.decayedCustomerValue(spark, sf)
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected, "fixed-order fold must be bit-identical to the reference")
  }

  test("source drift: full pair coverage, chi-square within [0, 2]") {
    import spark.implicits._
    val drift = AnalyticsQueries.sourceDrift(spark, sf)
      .as[(String, String, Double)].collect()
    val nSources = Tables.documents(spark, sf)
      .select("source").distinct().count().toInt
    assert(drift.length == nSources * (nSources - 1) / 2,
      "one row per unordered source pair")
    assert(drift.forall { case (a, b, x) => a < b && x >= 0.0 && x <= 2.0 },
      "chi-square distance over proportions is bounded by 2")
  }

  test("co-purchase cosine normalizes support by item popularity") {
    import spark.implicits._
    val sim = AnalyticsQueries.copurchaseSimilarity(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(sim.nonEmpty && sim.forall { case (_, _, n, c) =>
      n >= AnalyticsQueries.CoMinSupport && c > 0.0 && c <= 1.0 })
    // cosine must equal support / sqrt(na·nb) for a sampled pair
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val (ia, ib, n, c) = sim.head
    val na = items.filter(col("l_partkey") === ia).count()
    val nb = items.filter(col("l_partkey") === ib).count()
    assert(math.abs(c - n / math.sqrt(na.toDouble * nb)) < 1e-15)
  }

  test("CMS estimates dominate exact counts and counters merge additively") {
    import graft.functions.Sketches
    val docs = Tables.documents(spark, sf)
    val words = docs.select(explode(graft.functions.TextAnalysis.words(col("text"))).as("word"))
    val fp = graft.plans.VectorExprs.polyFingerprint(col("word"))
    val whole = Sketches.cmsCounters(words, fp, SketchQueries.CmsDepth, SketchQueries.CmsWidth)
    val exact = words.groupBy("word").agg(count(lit(1)).as("exact_n"))
    val est = Sketches.cmsEstimates(exact, fp, whole,
      SketchQueries.CmsDepth, SketchQueries.CmsWidth, "est")
    // the one-sided CMS guarantee holds for EVERY key, not just the head
    assert(est.filter(col("est") < col("exact_n")).count() == 0)
    // additivity: per-half counters vector-added == whole-corpus counters
    val h1 = Sketches.cmsCounters(words.filter(fp % 2 === 0), fp,
      SketchQueries.CmsDepth, SketchQueries.CmsWidth)
    val h2 = Sketches.cmsCounters(words.filter(fp % 2 === 1), fp,
      SketchQueries.CmsDepth, SketchQueries.CmsWidth)
    val merged = h1.unionByName(h2).groupBy("d", "bucket")
      .agg(sum("cnt").as("cnt"))
    assert(merged.except(whole).count() == 0 && whole.except(merged).count() == 0)
  }
}
