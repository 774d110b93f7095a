package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SuffixSpans
import graft.queries._

/** Round-17 contracts (VERDICT r16 directives). */
class Round17Spec extends AnyFunSuite {
  import TestSession._

  // --- directive 3: KN perplexity filter --------------------------------------------

  test("KN perplexity: planted gibberish scores strictly more bits/token than fluent text, lands in the tail bucket") {
    import spark.implicits._
    // fluent docs: transitions drawn from a tiny repeated phrase set —
    // every bigram is frequent, so max(c−D)/c dominates and bits/token
    // stay low. gibberish: every transition unique — its probability
    // falls to the backoff term and bits/token blow up.
    val phrase = "the cat sat on the mat and the dog ran to the cat"
    val fluent = (1L to 6L).map(i => (i, "en", phrase))
    val gib = (100L, "en",
      "zq wv xj kl mn bp rs tu vg fh cd ey oa iu qz wx jv lk nm pb sr ut")
    val docs = (fluent :+ gib).toDF("doc_id", "lang", "text")
    val out = CurationQueries.knPerplexityFrom(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(4), r.getLong(5))).toList
    val (gibRows, fluentRows) = out.partition(_._1 == 100L)
    assert(gibRows.size == 1 && fluentRows.size == 6)
    assert(fluentRows.forall(_._2 < gibRows.head._2),
      s"gibberish must score strictly worse: $out")
    assert(gibRows.head._3 == 3L, s"gibberish must land in the tail bucket: $out")
  }

  test("KN perplexity: bits are the exact floor of -log2 P (hand-computed doc)") {
    import spark.implicits._
    // corpus: "a b" ×3 and "a c" ×1 → c(a·)=4, N1+(a·)=2, NB=2,
    // N1+(·b)=1, N1+(·c)=1, D=3/4:
    //   P(b|a) = (3−3/4)/4 + (3/4)(2/4)(1/2) = 0.5625+0.1875·0.5 → num/den:
    //     num = (4·3−3)·2 + 3·2·1 = 24, den = 4·4·2 = 32 → P=0.75 → bits=0
    //   P(c|a) = num (4·1−3)·2 + 3·2·1 = 8, den 32 → P=0.25 → bits=2
    val docs = Seq((1L, "en", "a b"), (2L, "en", "a b"), (3L, "en", "a b"),
      (4L, "en", "a c")).toDF("doc_id", "lang", "text")
    val out = CurationQueries.knPerplexityFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out(1L) == 0L && out(2L) == 0L && out(3L) == 0L && out(4L) == 2L,
      s"hand-computed bits mismatch: $out")
  }

  // --- directive 2: suffix-array exact substring dedup ------------------------------

  test("SuffixSpans finds the planted verbatim span that the word-8-gram form provably misses") {
    import spark.implicits._
    // two docs share a 21-char verbatim run that (a) is only 4 words —
    // no repeated word-8-gram can exist in either doc, so q125's form
    // finds NOTHING by construction — and (b) starts mid-word in doc 2
    // (sub-word alignment), the quantization the char operator removes
    // boundary chars around the shared run DIFFER between the docs
    // ('.'/' ' vs 'd'/'!') so no window can extend past the plant
    val shared = "alpha beta gamma delta"            // 22 chars, 4 words
    val d1 = s"unique one $shared. tail one xxxxxxxx"
    val d2 = s"prefixed$shared! other tail yyyyyyyy" // mid-word start
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    // premise check: no word-8-gram occurs twice across the two docs
    val grams = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(expr(
        "transform(sequence(1, greatest(size(w) - 7, 1)), i -> array_join(slice(w, i, 8), ' '))")).as("g"))
    assert(grams.groupBy("g").count().filter(col("count") >= 2).count() == 0,
      "fixture must defeat the word-8-gram form")
    val spans = SuffixSpans.repeatedSpans(docs, "doc_id", "text", 16, 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1: shared starts at position 12 (1-based, after "unique one ")
    val s1 = d1.indexOf(shared) + 1L
    val s2 = d2.indexOf(shared) + 1L
    assert(spans.contains((1L, s1, s1 + shared.length - 1)), s"doc1 spans: $spans")
    assert(spans.contains((2L, s2, s2 + shared.length - 1)), s"doc2 spans: $spans")
  }

  test("SuffixSpans: within-doc repeats count, sub-window repeats do not") {
    import spark.implicits._
    val run = "0123456789abcdef" // exactly 16 chars
    // distinct boundary chars (:;;:) pin the repeated windows to the
    // exact runs — a shared neighbor char would extend them
    val d1 = s"start:$run;middle;$run:end padpadpad"
    val docs = Seq(
      (1L, d1),                                          // self-repeat
      (2L, "no repeats here at all just words etc etc!!x"), // "etc etc" < 16
      (3L, "zqwvxjkl mnbprst uvgfhcd eyoaiu 1234567")
    ).toDF("doc_id", "text")
    val spans = SuffixSpans.repeatedSpans(docs, "doc_id", "text", 16, 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans.forall(_._1 == 1L), s"only doc1 repeats 16 chars: $spans")
    val p1 = d1.indexOf(run) + 1L
    val p2 = d1.indexOf(run, run.length + 6) + 1L
    assert(spans.toSet == Set((1L, p1, p1 + 15L), (1L, p2, p2 + 15L)), s"$spans")
  }

  test("SuffixSpans honors the bounded-prefix cap") {
    import spark.implicits._
    val run = "QRSTUVWXYZqrstuv"
    // a 40-char all-distinct filler (a repeating filler like "x"*40
    // would plant its own repeated windows); the repeat's second copy
    // sits past the cap — with the cap it is invisible
    val filler = "abcdefghij0123456789!@#$%^&*()-=[]{}<>~_"
    val docs = Seq(
      (1L, run + filler + run),
      (2L, "no sixteen char repeats in this one at all.")
    ).toDF("doc_id", "text")
    val capped = SuffixSpans.repeatedSpans(docs, "doc_id", "text", 16, 32)
    assert(capped.count() == 0)
    val full = SuffixSpans.repeatedSpans(docs, "doc_id", "text", 16, 512)
    assert(full.count() == 2)
  }

  // --- directive 6: d-dimensional layout curves --------------------------------------

  test("hilbertN is a bijection with unit steps (the defining Hilbert property), d=2 and d=3") {
    import graft.plans.HilbertExprs
    for ((d, qBits) <- Seq((2, 4), (3, 3))) {
      val side = 1 << qBits
      val cells = math.pow(side, d).toInt
      // index -> coords, via exhaustive forward evaluation
      val byIndex = new Array[Array[Long]](cells)
      def walk(prefix: List[Long]): Unit =
        if (prefix.length == d) {
          val idx = HilbertExprs.hilbertNJava(qBits, prefix.toArray)
          assert(idx >= 0 && idx < cells, s"index $idx out of range")
          assert(byIndex(idx.toInt) == null, s"index $idx hit twice (not a bijection)")
          byIndex(idx.toInt) = prefix.toArray
        } else (0 until side).foreach(v => walk(prefix :+ v.toLong))
      walk(Nil)
      // consecutive indices are grid-adjacent: exactly one axis moves by 1
      (1 until cells).foreach { i =>
        val diff = byIndex(i).zip(byIndex(i - 1))
          .map { case (a, b) => math.abs(a - b) }
        assert(diff.sum == 1 && diff.max == 1,
          s"d=$d step $i is not a unit step: ${byIndex(i - 1).toList} -> ${byIndex(i).toList}")
      }
    }
  }

  test("interleaveN at d=2 matches the 2-D magic-number spread kernel") {
    import graft.plans.ZOrderExprs
    val rnd = new scala.util.Random(17)
    (0 until 2000).foreach { _ =>
      val x = rnd.nextInt(1 << 16).toLong
      val y = rnd.nextInt(1 << 16).toLong
      assert(ZOrderExprs.interleaveN(16, Array(x, y)) ==
        (ZOrderExprs.spread16(x) | (ZOrderExprs.spread16(y) << 1)))
    }
  }

  test("3-D probe panel: control row scans everything, point probes stay tiny, manifests cover all rows") {
    val rep = RuntimeQueries.hilbert3PruningCompare(spark, sf)
      .orderBy("probe_id").collect()
    assert(rep.length == 6)
    val man = RuntimeQueries.zorder3Manifest(spark, sf)
    val (totBlocks, totRows) = (man.count(),
      man.agg(sum("n_rows")).head().getLong(0))
    val full = rep.last // probe 6: the full-grid control row
    assert(full.getAs[Long]("blocks_z") == totBlocks &&
      full.getAs[Long]("rows_z") == totRows,
      "full-box probe must touch every Morton block")
    assert(full.getAs[Long]("rows_h") == totRows,
      "full-box probe must cover all rows under Hilbert too")
    val point = rep(4) // probe 5: single cell
    assert(point.getAs[Long]("blocks_z") <= totBlocks / 10 &&
      point.getAs[Long]("blocks_h") <= totBlocks / 10,
      "a single-cell probe must prune the vast majority of blocks")
  }

  // --- BPE encode under trained merges ------------------------------------------------

  test("BPE encode: hand-computed merges and token counts on a planted corpus") {
    import spark.implicits._
    // corpus: 'aaab' x3, 'ab' x2. round-1 pairs (weighted): (a,a)=6,
    // (a,b)=5 -> merge (a,a): ' a a a b '->' aa a b ' (left-to-right
    // non-overlapping). round-2 pairs: (aa,a)=3, (a,b)=3+2=5 -> merge
    // (a,b): 'aaab'->[aa,ab]=2 tokens, 'ab'->[ab]=1 token.
    val docs = Seq((1L, "aaab aaab"), (2L, "aaab ab"), (3L, "ab"))
      .toDF("doc_id", "text")
    // premise: the trained merges are exactly ((a,a),(a,b))
    val merges = TextQueries.bpeMergesFrom(spark, docs, col("text"), 2)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("a", "a"), ("a", "b")), s"merges: $merges")
    val got = CurationQueries.bpeEncodeFrom(spark, docs, 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: 2 words x 2 tokens; doc2: 2+1; doc3: 1
    assert(got == Map(1L -> (2L, 4L), 2L -> (2L, 3L), 3L -> (1L, 1L)),
      s"encoded: $got")
  }

  // --- exact-substring excision -------------------------------------------------------

  test("Excision cuts exactly the repeated spans and reassembles segments in order") {
    import spark.implicits._
    val run1 = "0123456789abcdef" // 16 chars, repeated across docs
    val run2 = "ghijklmnopqrstuv" // a second repeated run
    val d1 = s"X${run1}Y${run2}Z"   // two spans inside one doc
    val d2 = s"AA${run1}BB"
    val d3 = s"CC${run2}DD"
    val d4 = "totally unique text with no repeats at all ......."
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4))
      .toDF("doc_id", "text")
    val got = DedupQueries.dedupExciseFrom(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((2L, 32L, "XYZ")),
      s"two-span doc must keep exactly the three 1-char segments: ${got(1L)}")
    assert(got(2L) == ((1L, 16L, "AABB")), s"${got(2L)}")
    assert(got(3L) == ((1L, 16L, "CCDD")), s"${got(3L)}")
    assert(got(4L) == ((0L, 0L, d4)), "span-free docs must pass through verbatim")
  }

  test("Excision leaves text beyond the analyzed prefix cap untouched") {
    import spark.implicits._
    val run = "0123456789abcdef"
    // window-free filler up to the 512-char cap: 124 DISTINCT 4-char
    // base-26 counter blocks — every 16-char window spans 4 consecutive
    // blocks, so no window repeats (a plain T-run would itself be a
    // within-doc repeat and get excised, which an earlier cut of this
    // fixture learned the hard way)
    val filler = (0 until 124).map { i =>
      f"${('a' + i / 26 / 26).toChar}${('a' + i / 26 % 26).toChar}${('a' + i % 26).toChar}${('0' + i % 10).toChar}"
    }.mkString
    assert(filler.length == 496)
    val beyond = "T" * 104 // past SuffixMaxChars = 512: never analyzed
    val docs = Seq((1L, s"$run$filler$beyond"), (2L, s"$run-pad"))
      .toDF("doc_id", "text")
    val got = DedupQueries.dedupExciseFrom(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(1L) == filler + beyond,
      "only the shared run is cut; the beyond-cap tail survives verbatim")
    assert(got(2L) == "-pad")
  }

  // --- DSIR importance weighting ------------------------------------------------------

  test("DSIR: target-vocabulary docs save bits, junk docs cost bits, regardless of label") {
    import spark.implicits._
    // DSIR's operating regime: a junk-heavy RAW pool and a small trusted
    // seed whose distribution DIFFERS from raw — that difference is the
    // signal; when target ≈ raw, p_b/q_b ≈ 1 and the integer-bit
    // quantization correctly reads ~0 saved
    val seed = (1L to 5L).map(i =>
      (i, "the data table join query the data table join query", "en"))
    val junkPool = (100L to 139L).map(i =>
      (i, "zz qq xx vv ww rr tt uu zz qq xx vv ww rr tt uu", "fr"))
    val probes = Seq(
      // target-like CONTENT under a non-target label: DSIR scores by
      // content resemblance, not by the label that defined the seed
      (900L, "the data table join query data table join", "fr"),
      // junk vocabulary: absent from the seed, so the target model
      // charges the smoothing floor for every bigram
      (901L, "zz qq xx vv ww zz qq xx vv ww", "fr"))
    val docs = (seed ++ junkPool ++ probes).toDF("doc_id", "text", "lang")
    val got = CurationQueries.dsirWeightsFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(1)._1 == 9, "10 words must yield 9 bigram occurrences")
    assert(got(900L)._2 > 0, s"target-like content must save bits, got ${got(900L)}")
    assert(got(901L)._2 < 0, s"junk content must cost bits, got ${got(901L)}")
    assert(got(900L)._2 > got(901L)._2 + 8,
      "the target-vs-junk gap must dwarf the 1-bit bucket quantization")
    val sel = CurationQueries.dsirSelect(spark, sf).collect()
    assert(sel.nonEmpty)
    // the selection is a valid prefix: budget respected for every kept
    // doc, cumulative sums self-consistent
    sel.foreach { r =>
      assert(r.getAs[Long]("cum_tokens") - r.getAs[Long]("tokens")
        < CurationQueries.DsirTokenBudget)
    }
    assert(sel.map(_.getAs[Long]("tokens")).sum ==
      sel.map(_.getAs[Long]("cum_tokens")).max,
      "kept docs' tokens must sum to the max cumulative (a true prefix)")
  }

  // --- directive 4: transformWithState (timers + TTL) -------------------------------

  test("SessionizeTws: event-time timers evict silent keys' open tails and free state") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import graft.streaming.{IngestPipeline, SessionizeStream, SessionizeTws}
    val dir = TestSession.tempDir("graft_tws_evict")
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val evEnc = Encoders.product[SessionizeStream.Ev]
    val gap = 60L * 1000000L
    val dayMicros = 24L * 3600 * 1000000L
    val baseMicros = 1700000000000000L
    // Cohort c: closed pair + an open tail a gap+ later, per key. A later
    // cohort's events advance the watermark past the earlier cohort's
    // tails — only handleExpiredTimer can flush those.
    def cohort(c: Int) = (0 until 10).flatMap { k =>
      val key = c.toLong * 10 + k
      val t0 = baseMicros + c * dayMicros + k * 1000000L
      Seq((key, t0, 100L), (key, t0 + 1000000L, 50L),
        (key, t0 + gap + 10000000L, 25L))
    }.toDF("key", "tsMicros", "cents")
    val stateRows = SessionizeTws.withRocksDb(spark) {
      (0 until 3).map { c =>
        cohort(c).write.mode("append").parquet(src)
        val stream = IngestPipeline
          .boundedFileStream(spark, src, evEnc.schema).as(evEnc)
        val q = SessionizeTws.sessionize(stream, gap)
          .writeStream.format("parquet").option("path", out)
          .outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
          .lastOption.getOrElse(fail("no state-operator progress"))
      }
    }
    // settled cohorts' keys are GONE from state (timer expiry cleared them)
    assert(stateRows.last <= 20L,
      s"state accreted under churn: per-run state rows = ${stateRows.toList}")
    val settled = spark.read.parquet(out).filter(col("key") < 20L)
    assert(settled.count() == 40L,
      "each settled key must emit its closed session AND its timer-flushed tail")
    assert(settled.filter(col("session_seq") === 1)
      .filter(col("n_events") =!= 2 || col("total_cents") =!= 150).count() == 0)
    assert(settled.filter(col("session_seq") === 2)
      .filter(col("n_events") =!= 1 || col("total_cents") =!= 25).count() == 0)
  }

  test("SessionizeTws ≡ SessionizeStream on a multi-session fixture (twin equivalence)") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import graft.streaming.{IngestPipeline, SessionizeStream, SessionizeTws}
    val dir = TestSession.tempDir("graft_tws_twin")
    val evEnc = Encoders.product[SessionizeStream.Ev]
    val gap = 60L * 1000000L
    val base = 1700000000000000L
    val events = (0 until 50).flatMap { k =>
      (0 until 6).map { i =>
        // three sessions per key: events at 0s/1s, 300s/301s, 600s/601s
        (k.toLong, base + (i / 2) * 300000000L + (i % 2) * 1000000L + k * 7000L,
          (i + 1) * 10L)
      }
    }.toDF("key", "tsMicros", "cents")
    events.write.mode("overwrite").parquet(s"$dir/src")
    def run(twin: Boolean): Seq[(Long, Long, Long, Long, Long, Long)] = {
      val stream = IngestPipeline
        .boundedFileStream(spark, s"$dir/src", evEnc.schema).as(evEnc)
      val sessions =
        if (twin) SessionizeTws.sessionize(stream, gap, "3650 days")
        else SessionizeStream.sessionize(stream, gap, "3650 days")
      val q = sessions.writeStream.format("parquet")
        .option("path", s"$dir/out$twin").outputMode("append")
        .option("checkpointLocation", s"$dir/cp$twin")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$dir/out$twin")
        .orderBy("key", "session_seq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    }
    val twin = SessionizeTws.withRocksDb(spark) { run(twin = true) }
    val orig = run(twin = false)
    assert(twin == orig, "transformWithState twin diverged from fMGWS")
    assert(twin.nonEmpty && twin.count(_._2 == 2L) == 50,
      "fixture must exercise multi-session keys")
  }

  test("DedupTws TTL: a key re-emits after its state lapses, not before (live soak)") {
    import spark.implicits._
    import graft.streaming.{DedupTws, SessionizeTws}
    val dir = TestSession.tempDir("graft_tws_ttl")
    val (src, cp) = (s"$dir/src", s"$dir/cp")
    val day = java.sql.Date.valueOf("2024-01-01")
    def batch() = Seq(
      DedupTws.Key3(1L, day, "view"), DedupTws.Key3(1L, day, "view"),
      DedupTws.Key3(2L, day, "click")).toDS()
    batch().toDF().write.mode("append").parquet(src)
    val keys = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[DedupTws.Key3].schema)
      .parquet(src).as(org.apache.spark.sql.Encoders.product[DedupTws.Key3])
    SessionizeTws.withRocksDb(spark) {
      val q = DedupTws.registry(keys, java.time.Duration.ofMillis(500))
        .writeStream.format("memory").queryName("tws_ttl_t")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      // A ProcessingTime-mode transformWithState constructs a batch on
      // EVERY trigger (a TTL could always fire), so noNewData is never
      // set and processAllAvailable() never unblocks — poll the sink to
      // a target count instead (the same drain contract the q276 gate
      // documents on runToTableDrained).
      def awaitCount(n: Long): Unit = {
        val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
        while (spark.table("tws_ttl_t").count() < n &&
               System.nanoTime < deadline) Thread.sleep(100)
      }
      try {
        awaitCount(2)
        // in-batch duplicate suppressed while the TTL is alive
        assert(spark.table("tws_ttl_t").count() == 2,
          "first batch must emit exactly the distinct keys")
        Thread.sleep(3000) // >> TTL: every seen-entry lapses
        batch().toDF().write.mode("append").parquet(src)
        awaitCount(4)
        // the registry FORGOT: both keys re-emit after expiry
        assert(spark.table("tws_ttl_t").count() == 4,
          "keys must re-emit once their TTL lapses")
        val perKey = spark.table("tws_ttl_t")
          .groupBy("user_id").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(perKey == Map(1L -> 2L, 2L -> 2L))
      } finally q.stop()
    }
  }
}
