package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BloomJoin, Skyline, SnapshotDiff}
import graft.queries._

/** Round-10 operators: bloom semi-join reduction, snapshot diff, skyline,
  * PPS sampling, chunking, ABC classes — property checks against
  * engine-independent ground truth (the DuckDB oracle gate covers
  * value-exactness; these pin the operator contracts).
  */
class Round10Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("bloom filter has zero false negatives and a bounded false-positive rate") {
    val keys = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > RuntimeQueries.BloomOrderThreshold)
      .select("o_orderkey")
    val bitmap = BloomJoin.buildBitmap(keys, "o_orderkey", RuntimeQueries.BloomBits)
    // no false negatives: every inserted key must test positive
    val misses = keys
      .filter(!BloomJoin.mightContain(bitmap, col("o_orderkey"))).count()
    assert(misses == 0, s"$misses build keys failed the membership test")
    // bounded false positives on known non-members (negative keys never
    // inserted): with n << m the rate must sit far below 1%
    val negatives = spark.range(1, 20001).select((-col("id")).as("k"))
    val fp = negatives.filter(BloomJoin.mightContain(bitmap, col("k"))).count()
    assert(fp <= 200, s"false-positive rate $fp/20000 too high")
  }

  test("bloom-reduced semi-join equals the plain semi-join") {
    val li = Tables.lineitem(spark, sf)
    val hi = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > RuntimeQueries.BloomOrderThreshold)
      .select("o_orderkey")
    val reduced = BloomJoin.reducedSemiJoin(li, "l_orderkey", hi, "o_orderkey",
      RuntimeQueries.BloomBits)
    val plain = li.join(hi, li("l_orderkey") === hi("o_orderkey"), "leftsemi")
    assert(reduced.count() == plain.count())
    assert(reduced.exceptAll(plain).count() == 0)
  }

  test("snapshot diff classifies insert/delete/update and drops unchanged rows") {
    val oldDf = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val newDf = Seq((2L, 20L), (3L, 31L), (4L, 40L)).toDF("k", "v")
    val d = SnapshotDiff.diff(oldDf, newDf, Seq("k"), Seq("v"))
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "delete", 3L -> "update", 4L -> "insert"),
      s"got $d")
  }

  test("snapshot diff treats null metric values as comparable (null==null is unchanged)") {
    val oldDf = Seq((1L, Option.empty[Long]), (2L, Some(5L))).toDF("k", "v")
    val newDf = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("k", "v")
    val d = SnapshotDiff.diff(oldDf, newDf, Seq("k"), Seq("v"))
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(d == Map(2L -> "update"), s"got $d")
  }

  test("skyline sweep equals the quadratic dominance definition") {
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
    val sweep = Skyline.pareto2d(parts, "p_size", "p_retailprice",
      partitionBy = Seq("p_brand")).select("p_partkey")
    // brute force: dominated rows via a non-equi self-join
    val q = parts.select(col("p_brand").as("qb"), col("p_size").as("qs"),
      col("p_retailprice").as("qp"))
    val dominated = parts.join(q,
        col("qb") === col("p_brand") &&
        col("qs") <= col("p_size") && col("qp") <= col("p_retailprice") &&
        (col("qs") < col("p_size") || col("qp") < col("p_retailprice")),
        "leftsemi")
      .select("p_partkey")
    val brute = parts.select("p_partkey").except(dominated)
    assert(sweep.count() > 0)
    assert(sweep.except(brute).count() == 0 && brute.except(sweep).count() == 0)
  }

  test("skyline keeps an entire tie group at a frontier point") {
    val df = Seq((1L, 5, 2.0), (2L, 5, 2.0), (3L, 7, 1.0), (4L, 7, 3.0))
      .toDF("id", "x", "y")
    val got = Skyline.pareto2d(df, "x", "y").select("id")
      .as[Long].collect().toSet
    // (1,2) tie at x=5/y=2 both kept; (3) better y at larger x kept;
    // (4) dominated by (3)
    assert(got == Set(1L, 2L, 3L), s"got $got")
  }

  test("weighted sample returns exactly the k globally-smallest priorities") {
    val all = Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tokens"))
      .filter(col("tokens") > 0)
      .withColumn("priority",
        graft.functions.Sketches.keyHash(col("doc_id")).cast("double")
          / col("tokens").cast("double"))
    val expect = all.orderBy(col("priority"), col("doc_id"))
      .limit(CurationQueries.PpsSampleK).select("doc_id").as[Long].collect().toSet
    val got = CurationQueries.weightedSample(spark, sf).select("doc_id")
      .as[Long].collect().toSet
    assert(got == expect && got.size == CurationQueries.PpsSampleK)
  }

  test("chunking covers every token exactly once outside overlaps and reconstructs text") {
    // longest fixture doc plus a synthetic multi-chunk doc appended so the
    // overlap path is always exercised (sf0.001 docs can all be short)
    val fixture = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val synth = Seq((-1L, (1 to 400).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    Seq(fixture.orderBy(size(split(col("text"), " ")).desc).limit(1),
        synth).foreach { src =>
      val doc = src.collect()(0)
      val (id, text) = (doc.getLong(0), doc.getString(1))
      val n = text.split(" ").length
      val rows =
        if (id >= 0)
          TextQueries.docChunks(spark, sf)
            .filter(col("doc_id") === id).orderBy("chunk_idx").collect()
        else {
          // run the same chunking expressions on the synthetic doc
          synth
            .select(col("doc_id"), split(col("text"), " ").as("w"))
            .select(col("doc_id"), col("w"),
              explode(sequence(lit(0), size(col("w")) - 1,
                lit(TextQueries.ChunkStride))).as("s"))
            .select(col("doc_id"),
              (col("s") / lit(TextQueries.ChunkStride)).cast("long").as("chunk_idx"),
              least(lit(TextQueries.ChunkTokens), size(col("w")) - col("s"))
                .cast("long").as("chunk_tokens"),
              array_join(slice(col("w"), col("s") + 1,
                lit(TextQueries.ChunkTokens)), " ").as("chunk_text"))
            .orderBy("chunk_idx").collect()
        }
      assert(rows.length == (n + TextQueries.ChunkStride - 1) / TextQueries.ChunkStride)
      // stitching rule: every chunk contributes its first `stride` tokens
      // (the rest is overlap), the last chunk contributes everything — the
      // concatenation must rebuild the document
      val rebuilt = (rows.dropRight(1).flatMap { r =>
        r.getAs[String]("chunk_text").split(" ").take(TextQueries.ChunkStride)
      } ++ rows.last.getAs[String]("chunk_text").split(" ")).mkString(" ")
      assert(rebuilt == text, s"doc $id failed to reconstruct")
    }
  }

  test("ABC classes partition the parts and respect the cumulative boundaries") {
    val out = AnalyticsQueries.abcClassification(spark, sf).collect()
    val classes = out.map(_.getString(0)).toSeq
    assert(classes == Seq("A", "B", "C"))
    val nParts = out.map(_.getLong(1)).sum
    val distinctParts = Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(nParts == distinctParts)
    val rev = out.map(r => r.getString(0) -> r.getDouble(2)).toMap
    val total = rev.values.sum
    // A holds <= 80% of revenue plus at most one boundary-straddling part
    assert(rev("A") / total <= 0.8 + 0.05)
    assert(rev("A") > rev("C"), "head class should out-earn the tail class")
  }

  test("benford digit shares sum to one and digits span 1-9") {
    val out = AnalyticsQueries.benfordDigits(spark, sf).collect()
    assert(out.map(_.getInt(0)).toSet.subsetOf((1 to 9).toSet))
    val shareSum = out.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    val expSum = AnalyticsQueries.BenfordExpected.sum
    assert(math.abs(expSum - 1.0) < 1e-12, "Benford expectations must sum to 1")
  }

  test("bot-regularity flags a planted metronome user and not a bursty one") {
    import org.apache.spark.sql.expressions.Window
    // recompute the detector's algebra on a constructed frame via the
    // same integer path used by the query
    val ev = Seq.tabulate(30)(i => (900L, 1000L + i, i * 60L * 1000000L)) ++
      Seq.tabulate(30)(i => (901L, 2000L + i,
        (i.toLong * i * 7 + i) * 1000000L))
    val df = ev.toDF("user_id", "event_id", "m")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("m")).as("ts"))
    val w = Window.partitionBy("user_id").orderBy(col("m"), col("event_id"))
    val gaps = df.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("m"))
      .withColumn("prev", lag(col("m"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), expr("(m - prev) div 1000000").as("gap_s"))
    val flags = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("gap_s")).as("s"),
        sum(col("gap_s") * col("gap_s")).as("ss"))
      .withColumn("reg",
        (col("n") * col("ss") - col("s") * col("s")) * 100
          < col("s") * col("s"))
      .select("user_id", "reg").as[(Long, Boolean)].collect().toMap
    assert(flags(900L), "constant 60s cadence must flag as regular")
    assert(!flags(901L), "quadratic cadence must not flag as regular")
  }
}
