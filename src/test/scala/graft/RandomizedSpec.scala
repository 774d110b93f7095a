package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Lsh, Similarity}
import graft.operators.{Components, Dedup, NearDup, Scd}
import graft.queries.AnalyticsQueries

/** Randomized property checks with a fixed seed: custom kernels are
  * compared bit-exactly against plain-Scala reference folds (covering
  * both the interpreted and codegen evaluation paths), and operator
  * invariants are checked on generated data far messier than the
  * testdata corpus (ties, empties, collisions).
  */
class RandomizedSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private def randWord(): String =
    (0 until (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  private def randText(maxWords: Int): String =
    (0 until rnd.nextInt(maxWords)).map(_ => randWord()).mkString(" ")

  private def refFp(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((acc, b) => (acc * 31 + b) % 1000000007L)

  test("PolyFingerprint matches the reference fold on random strings") {
    val cases = (0 until 300).map(_ => randText(30)) :+ "" :+ "a"
    val df = cases.map(s => (s, refFp(s))).toDF("s", "expected")
    val bad = df.select(
      graft.plans.VectorExprs.polyFingerprint(col("s")).as("got"), col("expected"))
      .filter(col("got") =!= col("expected")).count()
    assert(bad == 0)
  }

  test("runningSums matches a driver-side reference prefix on random weights") {
    import graft.operators.PrefixSum
    // SIGNED weights (a −3..3 mix and a ±1 balance sweep), clustered
    // buckets, duplicate order keys: negative weights are the round-7
    // advice case — bucket totals read as max() of the inclusive running
    // sum are only correct for counting weights, so the totals must be
    // order-independent sums for this to pass.
    val rows = (0 until 2000).map { i =>
      (rnd.nextInt(40).toLong, rnd.nextInt(500).toLong, i.toLong,
        rnd.nextInt(7).toLong - 3L, if (rnd.nextBoolean()) 1L else -1L)
    }
    val df = rows.toDF("bucket_raw", "ord", "id", "w1", "w2")
      // bucket must be monotone in the global order: derive it FROM ord
      .withColumn("bucket", floor(col("ord") / 16).cast("long"))
    val got = PrefixSum.runningSums(df, "bucket",
        Seq(col("ord"), col("id")), Seq(col("w1") -> "c1", col("w2") -> "c2"))
      .select("id", "c1", "c2").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // reference: one sequential pass over the globally sorted rows
    var (a, b) = (0L, 0L)
    val expected = rows.sortBy(r => (r._2 / 16, r._2, r._3)).map { r =>
      a += r._4; b += r._5
      r._3 -> (a, b)
    }.toMap
    assert(got == expected)
  }

  test("NfcCaseFold matches the Java reference pipeline on mixed-script strings") {
    val pieces = Seq("WORT", "Grüße", "ÉCOLE", "Café", "ПРИВЕТ", "数据",
      "ärger", "mixed ASCII 123", "", "ümläut́s")
    val cases = (0 until 200).map { _ =>
      (0 until rnd.nextInt(6)).map(_ =>
        if (rnd.nextBoolean()) pieces(rnd.nextInt(pieces.size)) else randWord())
        .mkString(" ")
    } ++ pieces
    def ref(s: String): String = java.text.Normalizer.normalize(
      s.toLowerCase(java.util.Locale.ROOT), java.text.Normalizer.Form.NFC)
    val df = cases.map(s => (s, ref(s))).toDF("s", "expected")
    val bad = df.select(
      graft.plans.TextExprs.nfcCaseFold(col("s")).as("got"), col("expected"))
      .filter(col("got") =!= col("expected")).count()
    assert(bad == 0)
    // the decomposed accent really composes: both spellings hash together
    val two = Seq("Café", "Café").toDF("s")
      .select(graft.plans.TextExprs.nfcCaseFold(col("s")).as("n"))
      .distinct().count()
    assert(two == 1, "NFC must unify precomposed and decomposed accents")
  }

  test("MinHashSig matches a reference implementation on random shingle sets") {
    def refSig(shingles: Seq[String]): Seq[Long] =
      (0 until Lsh.K).map { i =>
        shingles.map(s => (Lsh.A(i) * refFp(s) + Lsh.B(i)) % Lsh.P)
          .foldLeft(Long.MaxValue)(math.min)
      }
    val cases = (0 until 100).map(_ => (1 to 1 + rnd.nextInt(40)).map(_ => randWord()))
    val df = cases.map(sh => (sh, refSig(sh))).toDF("sh", "expected")
    val bad = df.select(
      graft.plans.SignatureExprs.minHashSig(col("sh"), Lsh.A, Lsh.B, Lsh.P).as("got"),
      col("expected"))
      .filter(col("got") =!= col("expected")).count()
    assert(bad == 0)
  }

  test("SimHashWords matches a reference implementation at both geometries") {
    def refWords(shingles: Seq[String], gas: Seq[Long], gbs: Seq[Long]): Seq[Long] =
      gas.indices.map { w =>
        val gs = shingles.map(s => (gas(w) * refFp(s) + gbs(w)) % Lsh.TwoPow32)
        (0 until 32).foldLeft(0L) { (sim, j) =>
          val ones = gs.count(g => ((g >>> j) & 1L) == 1L)
          if (2 * ones >= gs.size) sim | (1L << j) else sim
        }
      }
    val cases = (0 until 100).map(_ => (1 to 1 + rnd.nextInt(40)).map(_ => randWord()))
    for (geom <- Seq(Lsh.Sim32, Lsh.Sim64)) {
      val df = cases.map(sh => (sh, refWords(sh, geom.gas, geom.gbs))).toDF("sh", "expected")
      val bad = df.select(
        graft.plans.SignatureExprs.simHashWords(col("sh"),
          geom.gas, geom.gbs, Lsh.TwoPow32).as("got"),
        col("expected"))
        .filter(col("got") =!= col("expected")).count()
      assert(bad == 0, s"geometry ${geom.bits}/${geom.bands}")
    }
  }

  test("band keys and hamming agree with reference math across geometries") {
    // simWordBands: key t must equal the bit-slice of the fingerprint
    def refSimBands(words: Seq[Long], geom: Lsh.SimGeometry): Seq[Long] =
      (0 until geom.bands).map { t =>
        val w = words(t / geom.bandsPerWord)
        (w >>> ((t % geom.bandsPerWord) * geom.width)) & ((1L << geom.width) - 1)
      }
    // minhash bandKeys: mod-P base-31 fold of each row slice
    def refMhBands(sig: Seq[Long], geom: Lsh.MinHashGeometry): Seq[Long] =
      (0 until geom.bands).map { t =>
        sig.slice(t * geom.rowsPerBand, (t + 1) * geom.rowsPerBand)
          .foldLeft(0L)((acc, v) => (acc * 31 + v) % Lsh.P)
      }
    val words = (0 until 50).map(_ =>
      Seq(rnd.nextLong(1L << 32), rnd.nextLong(1L << 32)))
    for (geom <- Seq(Lsh.Sim64, Lsh.Sim64Radius)) {
      val df = words.map(ws => (ws, refSimBands(ws, geom))).toDF("sim", "expected")
      val bad = df.select(Lsh.simWordBands(col("sim"), geom).as("bk"), col("expected"))
        .select(transform(col("bk"), b => b("key")).as("got"), col("expected"))
        .filter(col("got") =!= col("expected")).count()
      assert(bad == 0, s"sim geometry ${geom.bits}/${geom.bands}")
    }
    val sigs = (0 until 50).map(_ => (1 to 64).map(_ => rnd.nextLong(Lsh.P)))
    for (geom <- Seq(Lsh.Mh16, Lsh.Mh64)) {
      val df = sigs.map(s => (s.take(geom.k), refMhBands(s.take(geom.k), geom)))
        .toDF("sig", "expected")
      val bad = df.select(Lsh.bandKeys(col("sig"), geom).as("bk"), col("expected"))
        .select(transform(col("bk"), b => b("key")).as("got"), col("expected"))
        .filter(col("got") =!= col("expected")).count()
      assert(bad == 0, s"minhash geometry ${geom.k}/${geom.bands}")
    }
    // hammingWords ≡ Long.bitCount over XORed words
    val pairs = (0 until 50).map(_ =>
      (Seq(rnd.nextLong(1L << 32), rnd.nextLong(1L << 32)),
        Seq(rnd.nextLong(1L << 32), rnd.nextLong(1L << 32))))
    val hdf = pairs.map { case (a, b) =>
      (a, b, a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum)
    }.toDF("a", "b", "expected")
    val badH = hdf.select(
      Lsh.hammingWords(col("a"), col("b"), 2).cast("int").as("got"), col("expected"))
      .filter(col("got") =!= col("expected")).count()
    assert(badH == 0)
  }

  test("VecDot matches a reference sequential fold bit-exactly") {
    val cases = (0 until 200).map { _ =>
      val n = 1 + rnd.nextInt(80)
      ((0 until n).map(_ => rnd.nextFloat() - 0.5f),
        (0 until n).map(_ => rnd.nextFloat() - 0.5f))
    }
    val df = cases.map { case (a, b) =>
      val exp = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      (a, b, exp)
    }.toDF("a", "b", "expected")
    val bad = df.select(
      graft.plans.VectorExprs.dot(col("a"), col("b")).as("got"), col("expected"))
      .filter(col("got") =!= col("expected")).count()
    assert(bad == 0)
  }

  test("SCD2 invariants hold on a random changelog with ties") {
    // keys with colliding sequence values exercise the tie columns
    val rows = (0 until 2000).map { i =>
      (rnd.nextInt(120).toLong, i.toLong, rnd.nextInt(50).toLong, rnd.nextDouble())
    }
    val df = rows.toDF("k", "uid", "seq", "v")
    val scd2 = Scd.scd2FromChangelog(df, Seq("k"), "seq", Seq("uid"))
    // exactly one current row per key
    assert(scd2.filter(col("is_current")).groupBy("k").count()
      .filter(col("count") =!= 1).count() == 0)
    // every non-current row's effective_to equals some row's effective_from
    // for the same key, and intervals never go backwards
    assert(scd2.filter(col("effective_to") < col("effective_from")).count() == 0)
    val n = df.count()
    assert(scd2.count() == n, "scd2 preserves every changelog row as a version")
  }

  test("folding scd1 merges equals one global latest-wins") {
    val batches = (0 until 3).map { b =>
      (0 until 500).map { i =>
        (rnd.nextInt(80).toLong, (b * 1000 + i).toLong, rnd.nextInt(40).toLong, rnd.nextDouble())
      }.toDF("k", "uid", "seq", "v")
    }
    val folded = batches.tail.foldLeft(
      Dedup.latestByKey(batches.head, Seq("k"), Seq("seq", "uid")))(
      (acc, b) => Scd.scd1Merge(acc, b, Seq("k"), Seq("seq", "uid")))
    val global = Dedup.latestByKey(batches.reduce(_ unionByName _), Seq("k"), Seq("seq", "uid"))
    assert(folded.except(global).count() == 0 && global.except(folded).count() == 0)
  }

  test("connected components agree with a union-find reference on a random graph") {
    val n = 120
    val edges = (0 until 90).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // union-find reference
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val refLabel = (0 until n).map { i =>
      // canonical = min member; path-compress via repeated find
      var r = find(i); i.toLong -> r.toLong
    }.toMap
    // min-id canonicalization of the union-find labels
    val members = refLabel.toSeq.groupBy(_._2).flatMap { case (_, m) =>
      val minId = m.map(_._1).min
      m.map { case (id, _) => id -> minId }
    }
    val got = Components.connectedComponents(
      spark.range(n).select(col("id")),
      edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == members)
  }

  test("components result materializes without recomputing the edge source") {
    // Regression guard: ccWithRounds persists its (possibly very
    // expensive) edge input during the rounds and unpersists it before
    // returning. The returned frame must reference only checkpointed
    // leaves — if the isolated-node anti-join still points at the
    // unpersisted caches, the caller's first action replays the whole
    // edge pipeline one extra time. Count evaluations of the edge source
    // with an accumulator planted in its lineage.
    val acc = spark.sparkContext.longAccumulator("edgeEvals")
    val parts = 4
    val edgeRdd = spark.sparkContext
      .parallelize((0 until 60).map(i => (i.toLong, (i + 1).toLong)), parts)
      .mapPartitions { it => acc.add(1L); it }
    val edges = spark.createDataFrame(edgeRdd).toDF("src", "dst")
    val nodes = spark.range(200).select(col("id"))
    val result = Components.connectedComponents(nodes, edges)
    val during = acc.value
    assert(during >= parts, "edge source must have been evaluated in the rounds")
    assert(result.count() == 200)
    assert(acc.value == during,
      s"materializing the result re-evaluated the edge source " +
        s"(${acc.value - during} extra partition evals) — the isolated-node " +
        "side must be checkpointed before the caches are dropped")
  }

  test("funnel chain matches a driver-side reference on adversarial tie soups") {
    import spark.implicits._
    // heavy timestamp collisions: every step type can land on the same
    // microsecond, the exact patterns the strict-inequality chain must
    // resolve identically to the reference fold
    val types = Seq("view", "click", "purchase", "error")
    val rows = (0 until 4000).map { i =>
      (rnd.nextInt(120).toLong, types(rnd.nextInt(types.size)), i.toLong,
        (1000 + rnd.nextInt(40)).toLong)
    }
    val got = AnalyticsQueries.funnelFrom(rows.toDF("user_id", "event_type", "event_id", "us"))
      .select("user_id", "stage", "view_ts", "click_ts", "purchase_ts")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        Option(r.getTimestamp(2)).map(_.getTime),
        Option(r.getTimestamp(3)).map(_.getTime),
        Option(r.getTimestamp(4)).map(_.getTime))).toMap
    val expected = rows.groupBy(_._1).map { case (u, evs) =>
      val tView = evs.filter(_._2 == "view").map(_._4).minOption
      val tClick = tView.flatMap(v =>
        evs.filter(e => e._2 == "click" && e._4 > v).map(_._4).minOption)
      val tPurchase = tClick.flatMap(c =>
        evs.filter(e => e._2 == "purchase" && e._4 > c).map(_._4).minOption)
      val stage =
        if (tPurchase.isDefined) 3 else if (tClick.isDefined) 2
        else if (tView.isDefined) 1 else 0
      // us is micros; Timestamp.getTime is millis
      u -> (stage, tView.map(_ / 1000), tClick.map(_ / 1000), tPurchase.map(_ / 1000))
    }
    assert(got == expected)
  }

  test("as-of joins match a driver-side reference in all direction/tolerance corners") {
    import spark.implicits._
    import graft.operators.AsOf
    val ts = (s: Long) => new java.sql.Timestamp(s)
    val leftRows = (0 until 600).map(i =>
      (rnd.nextInt(25).toLong, (1000 + rnd.nextInt(50)).toLong * 1000, i.toLong))
    // right side unique per (k, ts) — the operator's documented precondition
    val rightRows = (0 until 600).map(i =>
      (rnd.nextInt(25).toLong, (1000 + rnd.nextInt(50)).toLong * 1000, i.toLong * 10))
      .groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toSeq
    val left = leftRows.map(r => (r._1, ts(r._2), r._3)).toDF("k", "ts", "lid")
    val right = rightRows.map(r => (r._1, ts(r._2), r._3)).toDF("k", "ts", "v")
    for (forward <- Seq(false, true); tolMs <- Seq(None, Some(7000L))) {
      val got = AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v"), "m_",
          toleranceMicros = tolMs.map(_ * 1000), forward = forward)
        .select("lid", "m_v").as[(Long, Option[Long])].collect().toMap
      val expected = leftRows.map { case (k, lts, lid) =>
        val cand = rightRows.filter(r => r._1 == k &&
          (if (forward) r._2 >= lts else r._2 <= lts) &&
          tolMs.forall(t => math.abs(r._2 - lts) <= t))
        val pick =
          if (forward) cand.sortBy(_._2).headOption else cand.sortBy(_._2).lastOption
        lid -> pick.map(_._3)
      }.toMap
      assert(got == expected, s"forward=$forward tol=$tolMs")
    }
  }

  test("interval joins match naive inequality joins on random interval soups") {
    import graft.operators.RangeJoin
    // random intervals with lengths from zero to many buckets, clustered
    // starts (ties guaranteed), plus random points
    val b = 1000L
    val iv = (1 to 200).map { i =>
      val s = rnd.nextInt(50) * 500L // start on half-bucket grid: edge ties
      (i.toLong, s, s + (rnd.nextInt(8) match {
        case 0 => 0L                      // zero-length
        case k => k * 700L                // up to ~5 buckets
      }))
    }
    val pts = (1 to 300).map(i => (i.toLong, rnd.nextInt(30000).toLong))
    val ivDf = iv.toDF("iv_id", "s_us", "e_us")
      .select(col("iv_id"), timestamp_micros(col("s_us")).as("s"),
        timestamp_micros(col("e_us")).as("e"))
    val ptDf = pts.toDF("p_id", "p_us")
      .select(col("p_id"), timestamp_micros(col("p_us")).as("p"))

    val gotP = RangeJoin.intervalPointJoin(ivDf, ptDf, "s", "e", "p", b)
      .select("iv_id", "p_id").as[(Long, Long)].collect().toSeq.sorted
    val naiveP = (for ((id, s, e) <- iv; (pid, p) <- pts if p >= s && p <= e)
      yield (id, pid)).sorted
    assert(gotP == naiveP, "intervalPointJoin != naive")

    // salting spreads hot buckets but must not change the pair set
    val salted = RangeJoin.intervalPointJoin(ivDf, ptDf, "s", "e", "p", b,
        saltShards = 3)
      .select("iv_id", "p_id").as[(Long, Long)].collect().toSeq
    assert(salted.sorted == naiveP, "salted join changed the pair set")
    assert(salted.size == salted.toSet.size, "salting duplicated a pair")

    val other = iv.map { case (id, s, e) => (id + 1000, s, e) }
    val oDf = other.toDF("b_id", "bs_us", "be_us")
      .select(col("b_id"), timestamp_micros(col("bs_us")).as("bs"),
        timestamp_micros(col("be_us")).as("be"))
    val gotO = RangeJoin.intervalOverlapJoin(ivDf, oDf, "s", "e", "bs", "be", b)
      .select("iv_id", "b_id").as[(Long, Long)].collect().toSeq
    val naiveO = (for ((a, as_, ae) <- iv; (bId, bs, be) <- other
      if as_ <= be && bs <= ae) yield (a, bId)).sorted
    assert(gotO.sorted == naiveO, "intervalOverlapJoin != naive")
    assert(gotO.size == gotO.toSet.size, "an overlapping pair was claimed twice")
  }

  test("pointer jumping converges in O(log d) rounds on a deep chain") {
    // A 100-hop chain is the worst case for plain neighbor-min propagation
    // (one hop per round => ~100 rounds, silently wrong at maxIter=25);
    // with path halving the label distance shrinks geometrically.
    val n = 100
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val (labels, rounds) = Components.ccWithRounds(
      spark.range(n).select(col("id")), chain, maxIter = 25)
    assert(labels.filter(col("label") =!= 0L).count() == 0,
      "every chain node must resolve to the minimum id")
    assert(rounds <= 12, s"expected O(log d) convergence, took $rounds rounds")
  }

  test("q215/q233: lift arithmetic stays exact at planted 1e14-scale counts") {
    // counts at 100-TB corpus scale: the products pass 2^63 and MUST
    // ride DECIMAL(38,0); reference = BigInt integer division (exact
    // floor) and correctly-rounded BigDecimal→double product casts
    val cases = (0 until 300).map { _ =>
      val nl = 1e13.toLong + (rnd.nextLong() % 9e14.toLong).abs
      val nr = 1e13.toLong + (rnd.nextLong() % 9e14.toLong).abs
      val nab = 1L + (rnd.nextLong() % math.min(nl, nr)).abs
      val nt = math.max(nl, nr) + (rnd.nextLong() % 1e14.toLong).abs
      (nab, nl, nr, nt)
    }
    val got = graft.operators.Collocations.liftColumns(
        cases.toDF("n_ab", "nl", "nr", "nt"))
      .select("n_ab", "nl", "nr", "nt", "lift_key", "lift")
      .collect()
    got.foreach { r =>
      val (nab, nl, nr, nt) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val num = BigInt(nab) * BigInt(nt)
      val den = BigInt(nl) * BigInt(nr)
      val expKey = (num * 1048576) / den
      val expLift = BigDecimal(num).toDouble / BigDecimal(den).toDouble
      assert(BigInt(r.getLong(4)) == expKey,
        s"key($nab,$nl,$nr,$nt): ${r.getLong(4)} != $expKey")
      assert(r.getDouble(5) == expLift,
        s"lift($nab,$nl,$nr,$nt): ${r.getDouble(5)} != $expLift")
    }
  }

  test("q224: Kneser–Ney counts match a driver reference; single-token docs carry no contexts") {
    import graft.operators.Collocations
    // a corpus where MANY docs are single tokens (no bigram slots) and
    // some are empty; plus an all-singleton corpus (zero bigram types)
    val vocab = Vector("a", "b", "c", "dd", "ee")
    val docs = (0 until 400).map { _ =>
      rnd.nextInt(4) match {
        case 0 => vocab(rnd.nextInt(vocab.size)) // single token
        case _ => (0 until 1 + rnd.nextInt(5))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
    }
    val got = Collocations.kneserNeyCounts(docs.toDF("text"), col("text"), 1L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // driver reference
    val toks = docs.map(_.split(" ").toSeq)
    val uni = toks.flatten.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val bts = toks.filter(_.size >= 2)
      .flatMap(ws => ws.zip(ws.tail)).distinct
    val lt = bts.groupBy(_._2).map { case (w, ps) => w -> ps.size.toLong }
    val rt = bts.groupBy(_._1).map { case (w, ps) => w -> ps.size.toLong }
    val nbt = bts.size.toLong
    uni.foreach { case (w, n) =>
      val exp = (n, lt.getOrElse(w, 0L), rt.getOrElse(w, 0L),
        if (nbt == 0) 0.0 else lt.getOrElse(w, 0L).toDouble / nbt.toDouble)
      assert(got(w) == exp, s"word $w: ${got(w)} != $exp")
    }
    // the all-singleton corpus: zero bigram types, p_continuation 0.0
    val solo = Collocations.kneserNeyCounts(
      Seq("x", "y", "x").toDF("text"), col("text"), 1L).collect()
    assert(solo.nonEmpty && solo.forall(r =>
      r.getLong(2) == 0L && r.getLong(3) == 0L && r.getDouble(4) == 0.0))
  }

  test("q228: Wilson bounds at the k=0 / k=n / n=1 corners") {
    val cases = for (n <- 1 to 60; k <- Seq(0L, n.toLong)) yield (k, n.toLong)
    val df = cases.toDF("k", "n")
      .withColumn("p", col("k").cast("double") / col("n").cast("double"))
      .withColumn("nD", col("n").cast("double"))
    val (lo, hi) = AnalyticsQueries.wilsonBounds(col("p"), col("nD"), lit(AnalyticsQueries.WilsonZ))
    val got = df.select(col("k"), col("n"), lo.as("lo"), hi.as("hi")).collect()
    got.foreach { r =>
      val (k, n) = (r.getLong(0), r.getLong(1))
      // driver replication of the EXACT expression shape
      val z = AnalyticsQueries.WilsonZ
      val (p, nD) = (k.toDouble / n.toDouble, n.toDouble)
      val z2 = z * z
      val rad = z * math.sqrt(p * (1.0 - p) / nD + z2 / (4.0 * nD * nD))
      val expLo = math.min(p,
        math.max(0.0, (p + z2 / (2.0 * nD) - rad) / (1.0 + z2 / nD)))
      val expHi = math.max(p,
        math.min(1.0, (p + z2 / (2.0 * nD) + rad) / (1.0 + z2 / nD)))
      assert(r.getDouble(2) == expLo && r.getDouble(3) == expHi,
        s"k=$k n=$n: (${r.getDouble(2)}, ${r.getDouble(3)}) != ($expLo, $expHi)")
      // post-clamp the bounds are STRICTLY inside [0, 1] — this fuzz
      // caught the unclamped lo reading −3e-17 at k = 0
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= p)
      assert(r.getDouble(3) >= p && r.getDouble(3) <= 1.0)
    }
  }

  test("q233: span mining matches a driver replay, glue-char collisions included") {
    import graft.operators.Collocations
    // tiny vocabulary forces heavy bigram repetition; some words carry
    // a PLANTED glue char (U+0001) — hostile input that must behave
    // exactly like the pre-merged unit it imitates, in both engines
    val vocab = Vector("aa", "bb", "cc", "dd", s"x${Collocations.Glue}y")
    val docs = (0 until 120).map { _ =>
      (0 until 2 + rnd.nextInt(6))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val rounds = 3
    val got = Collocations.collocationSpans(spark, docs.toDF("text"),
        col("text"), rounds, 1L, 1L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // driver replay of the documented procedure
    var cur = docs.map(d => s" $d ")
    val replay = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Double)]
    var done = false
    for (r <- 1 to rounds if !done) {
      val pairs = cur.flatMap { st =>
        val ws = st.trim.split(" ").toSeq
        if (ws.size >= 2) ws.zip(ws.tail) else Seq.empty
      }
      if (pairs.isEmpty) done = true
      else {
        val c = pairs.groupBy(identity).map { case (p, o) => p -> o.size.toLong }
        val la = c.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
        val rb = c.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
        val nt = c.values.sum
        val best = c.keys.toSeq.map { case (a, b) =>
          val key = (BigInt(c((a, b))) * BigInt(nt) * 1048576) /
            (BigInt(la(a)) * BigInt(rb(b)))
          ((a, b), key)
        }.sortBy { case ((a, b), key) => (-key, a, b) }.head._1
        val (a, b) = best
        val lift = BigDecimal(BigInt(c(best)) * BigInt(nt)).toDouble /
          BigDecimal(BigInt(la(a)) * BigInt(rb(b))).toDouble
        replay += ((r, a.replace(Collocations.Glue, " "),
          b.replace(Collocations.Glue, " "), c(best), lift))
        cur = cur.map(_.replace(s" $a $b ", s" $a${Collocations.Glue}$b "))
      }
    }
    assert(got == replay.toSeq, s"$got != $replay")
  }

  test("signed-delta IVM equals the recompute for random insert/retract mixes") {
    import graft.operators.Incremental
    // random base multiset over a small key domain (forcing collisions,
    // full-retraction groups, and delta-only new keys), then a delta
    // that retracts a random SUBSET of base rows and inserts new ones —
    // the maintained view must equal GROUP BY over (base ∖ retracted)
    // ∪ inserted, including groups that vanish entirely
    (0 until 5).foreach { round =>
      val base = (0 until 300).map(i =>
        (rnd.nextInt(12).toLong, BigDecimal(rnd.nextInt(2000)) / 100))
      val retracted = base.filter(_ => rnd.nextBoolean())
      val inserts = (0 until 120).map(i =>
        (rnd.nextInt(16).toLong, BigDecimal(rnd.nextInt(2000)) / 100))
      val baseDf = base.toDF("k", "v")
      val view = baseDf.groupBy("k")
        .agg(count(lit(1)).as("n"), sum(Cols.dec2(col("v"))).as("s"))
      val delta = retracted.map { case (k, v) => (k, -1, v) }
        .++(inserts.map { case (k, v) => (k, 1, v) })
        .toDF("k", "sign", "v")
      val dp = Incremental.signedPartial(delta, Seq("k"), col("sign"), "n",
        Seq("s" -> Cols.dec2(col("v"))))
      val got = Incremental.applySignedDelta(view, dp, Seq("k"), "n", Seq("s"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDecimal(2).toPlainString)).toMap
      val kept = base.diff(retracted) ++ inserts
      val want = kept.groupBy(_._1).map { case (k, rows) =>
        k -> (rows.size.toLong,
          rows.map(_._2).sum.setScale(2).toString)
      }
      assert(got == want, s"round $round: $got != $want")
    }
  }

  test("rolling median matches a driver reference on random sparse series") {
    // sparse random day series (gaps → varying window populations, ties
    // via a tiny value domain) against a brute-force sliding reference
    val days = (0 until 120).filter(_ => rnd.nextBoolean())
    val series = days.map(d => (d.toLong, (rnd.nextInt(7) * 25).toLong))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("d").rangeBetween(-(AnalyticsQueries.RollMedDays - 1L), 0L)
    val got = series.toDF("d", "c")
      .withColumn("vals", sort_array(collect_list(col("c")).over(w)))
      .withColumn("n", size(col("vals")).cast("long"))
      .withColumn("med", expr(
        """CASE WHEN n % 2 = 1
                THEN CAST(element_at(vals, CAST((n + 1) div 2 AS INT)) AS DOUBLE)
                ELSE (CAST(element_at(vals, CAST(n div 2 AS INT)) AS DOUBLE) +
                      CAST(element_at(vals, CAST(n div 2 + 1 AS INT)) AS DOUBLE))
                     / 2.0 END"""))
      .select("d", "med").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    series.foreach { case (d, _) =>
      val win = series.filter(p => p._1 >= d - (AnalyticsQueries.RollMedDays - 1) && p._1 <= d)
        .map(_._2).sorted
      val ref =
        if (win.size % 2 == 1) win((win.size - 1) / 2).toDouble
        else (win(win.size / 2 - 1).toDouble + win(win.size / 2).toDouble) / 2.0
      assert(got(d) == ref, s"day $d: ${got(d)} != $ref over $win")
    }
  }

  // --- q24: the block kernel ≡ the nested-loop join it replaced ---------------

  /** The formulation `NearDup.embeddingCosinePairs` had before its block
    * kernel: a nested-loop self-join on id order with a per-pair `VecDot`
    * and the threshold as a filter. It is the reference the kernel must
    * equal bit for bit, errors included.
    */
  private def joinCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val e = NearDup.withNorm(emb, "vec_id", "embedding")
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", Similarity.cosineFrom(
        Similarity.dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= lit(threshold))
      .select("vec_a", "vec_b", "cos")
  }

  /** Sorted (vec_a, vec_b, cos bits) rows. */
  private def cosineOutcome(pairs: DataFrame): Seq[(Long, Long, Long)] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted

  private def embFrame(s: SparkSession, rows: Seq[(Option[Long], Option[Seq[Double]])],
                       floats: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(if (floats) FloatType else DoubleType))))
    s.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) =>
      Row(id.map(Long.box).orNull,
        v.map(xs => if (floats) xs.map(_.toFloat) else xs).orNull)
    }: _*), schema)
  }

  test("q24: the block cosine kernel equals the nested-loop join bit for bit") {
    import graft.plans.CosineBlocks.BlockRows
    def gauss(d: Int) = Seq.fill(d)(rnd.nextGaussian())
    def rows(n: Int, len: => Int) = (0 until n).map(_ => (Some(rnd.nextInt(n).toLong), Some(gauss(len))))
    val messy = rows(2 * BlockRows + 37, 12) ++ Seq(
      (None, Some(gauss(12))), (None, Some(gauss(12))), (Some(7L), None), (Some(9L), None),
      (Some(5L), Some(gauss(11) :+ Double.NaN)), (Some(6L), Some(Double.PositiveInfinity +: gauss(11))))
    val zero = rows(BlockRows + 3, 8) :+ (Some(3L), Some(Seq.fill(8)(0.0)))
    val cases = Seq(
      ("messy, floats", messy, true, 0.4),
      ("messy, doubles", messy, false, 0.4),
      ("unequal lengths", rows(2 * BlockRows + 5, 1 + rnd.nextInt(12)), true, 0.3),
      ("n = 0", Nil, true, 0.4),
      ("n = 1", rows(1, 12), true, 0.4),
      ("n = BlockRows", rows(BlockRows, 6), false, 0.5),
      ("cos on the threshold",
        Seq((Some(1L), Some(Seq(3.0, 4.0))), (Some(2L), Some(Seq(4.0, 3.0)))), true, 24.0 / 25.0),
      ("a zero vector", zero, true, 0.4))
    // a zero norm product gives a NULL cosine that the threshold drops,
    // with ANSI on and off
    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    for ((name, input, floats, thr) <- cases; s <- Seq(spark, lenient)) {
      val emb = embFrame(s, input, floats)
      val want = cosineOutcome(joinCosinePairs(emb, thr))
      val got = cosineOutcome(NearDup.embeddingCosinePairs(emb, "vec_id", "embedding", thr))
      val ansi = s.conf.get("spark.sql.ansi.enabled")
      assert(got == want, s"$name (ansi=$ansi): kernel ${got.take(5)} vs join ${want.take(5)}")
      if (name.startsWith("messy"))
        assert(want.size > 1000 && want.exists(r => java.lang.Double.isNaN(
          java.lang.Double.longBitsToDouble(r._3))), s"$name: pairs and NaN pairs expected")
      if (name == "cos on the threshold") assert(want.size == 1)
      if (name == "a zero vector")
        assert(want == cosineOutcome(joinCosinePairs(embFrame(s, input.init, floats), thr)),
          s"$name (ansi=$ansi): the zero vector paired")
    }
  }
}
