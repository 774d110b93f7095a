package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** The probed IVF-PQ family: `AnnQueries`' one probed-ADC core behind
  * q246/q259 (4×16 residual codes over the embeddings) and q271/q272
  * (8×256 residual or raw codes over the planted-mixture corpus), its
  * residual encode and Lloyd-trained subspace codebooks, and the recall
  * instruments q260/q271/q272 read it with.
  */
class AnnSpec extends AnyFunSuite {
  import TestSession._

  test("q246: a vector whose residual IS a codebook entry codes to it at dist 0") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val corpus = emb.filter(col("vec_id") >= AnnQueries.AnnQueryMaxId)
    val means = graft.operators.Ivf.meanCentroids(corpus, "v", "label")
    val res = AnnQueries.residualFrame(corpus, means)
    val subDim = graft.functions.Lsh.Dim / AnnQueries.PqSub
    val codes = AnnQueries.assignSubCodes(AnnQueries.subspaceFrame(res, subDim),
      AnnQueries.subCodebookDf(spark, AnnQueries.seedSubCodebook(
        AnnQueries.seedRows(res, AnnQueries.PqCodes), subDim)))
    // the PqCodes lowest corpus ids ARE the codebook: every one of their
    // subspace assignments must land at exactly 0.0 (d − d ≡ 0 in IEEE)
    val seedIds = res.orderBy("vec_id").limit(AnnQueries.PqCodes)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val seedRows = codes.filter(col("vec_id").isin(seedIds.toSeq: _*)).collect()
    assert(seedRows.length == seedIds.size * AnnQueries.PqSub)
    seedRows.foreach(r => assert(r.getDouble(4) == 0.0,
      s"seed ${r.getLong(0)} subspace ${r.getInt(2)} dist ${r.getDouble(4)}"))
  }

  test("q246: returned neighbors come only from the query's probed lists") {
    // the probed-ADC core at both geometries: q246's 4×16 residual search
    // over the embeddings, and q271/q272's 8×256 residual and raw
    // searches over the planted-mixture corpus
    val pq = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val cfx = AnnQueries.clusteredEmbeddings(spark, sf)
    Seq(
      ("q246", pq, AnnQueries.IvfNProbe, AnnQueries.ivfPqResidualSearch(spark, sf)),
      ("cfx residual", cfx, AnnQueries.CfxNProbe,
        AnnQueries.cfxAdcSearch(spark, sf, encodeRaw = false)),
      ("cfx raw", cfx, AnnQueries.CfxNProbe,
        AnnQueries.cfxAdcSearch(spark, sf, encodeRaw = true))
    ).foreach { case (tag, emb, nprobe, search) =>
      val got = search.collect()
      assert(got.nonEmpty, tag)
      val byQ = got.groupBy(_.getLong(0))
      byQ.foreach { case (q, rs) =>
        val ranks = rs.map(_.getLong(1)).sorted.toSeq
        assert(ranks == (1L to ranks.length).toSeq, s"$tag: query $q ranks not contiguous")
      }
      // independently recompute the probe sets (quantized means + L2, the
      // operator's documented formulas) and pin the candidate restriction
      val labelOf = emb.filter(col("vec_id") >= AnnQueries.AnnQueryMaxId)
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val means = graft.operators.Ivf
        .meanCentroids(emb.filter(col("vec_id") >= AnnQueries.AnnQueryMaxId),
          "v", "label")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      val qvs = emb.filter(col("vec_id") < AnnQueries.AnnQueryMaxId)
        .select("vec_id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
      got.foreach { r =>
        val (qid, vid) = (r.getLong(0), r.getLong(2))
        val qv = qvs(qid)
        val probed = means.map { case (l, m) =>
          var acc = 0.0
          var i = 0
          while (i < qv.length) { val d = qv(i) - m(i); acc += d * d; i += 1 }
          (acc, l)
        }.sorted.take(nprobe).map(_._2).toSet
        assert(probed.contains(labelOf(vid)),
          s"$tag: query $qid returned $vid from unprobed list ${labelOf(vid)}")
      }
    }
  }

  test("q259: Lloyd rounds reduce total assignment distortion on the fixture") {
    val subDim = graft.functions.Lsh.Dim / AnnQueries.PqSub
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val corpus = emb.filter(col("vec_id") >= AnnQueries.AnnQueryMaxId)
    val means = graft.operators.Ivf.meanCentroids(corpus, "v", "label")
    val res = AnnQueries.residualFrame(corpus, means)
    val cb = AnnQueries.seedRows(res, AnnQueries.PqCodes)
    val sub = AnnQueries.subspaceFrame(res, subDim).persist()
    val seed = AnnQueries.seedSubCodebook(cb, subDim)
    val trained = AnnQueries.trainSubCodebook(sub, seed, AnnQueries.ResTrainIters)
    def distortion(cbSub: IndexedSeq[IndexedSeq[Seq[Double]]]): Double =
      AnnQueries.assignSubCodes(sub,
        AnnQueries.subCodebookDf(spark, cbSub))
        .agg(sum(col("dist2"))).head().getDouble(0)
    val d0 = distortion(seed)
    val dT = distortion(trained)
    sub.unpersist()
    assert(dT <= d0, s"training raised distortion: $d0 -> $dT")
    assert(dT < 0.9 * d0,
      s"training barely moved distortion ($d0 -> $dT) — Lloyd is not " +
        "actually re-centering")
  }

  test("q260: the trained-recall instrument reports a proper per-query fraction over the shared ground truth") {
    // recall monotonicity under training is NOT a theorem (Lloyd
    // minimizes reconstruction distortion, which only correlates with
    // recall — on the 200-vector sf0.001 corpus training reads 0.3 vs
    // untrained 0.4, while at sf0.01 it reads 0.12 vs 0.08), so the
    // contract pinned here is the INSTRUMENT's: every query present,
    // hits within [0, k], recall = n_hits/k exactly
    val rows = AnnQueries.trainedRecall(spark, sf).collect()
    assert(rows.length == AnnQueries.AnnQueryMaxId)
    rows.foreach { r =>
      val hits = r.getLong(1)
      assert(hits >= 0 && hits <= AnnQueries.AnnK, r.toString)
      assert(r.getDouble(2) == hits.toDouble / AnnQueries.AnnK, r.toString)
    }
  }

  test("trainSubCodebook: a code with no members keeps its previous centroid") {
    import spark.implicits._
    // all subvectors sit at (1,1); code 0 is nearby, code 1 is far —
    // after a round, code 0 re-centers to the exact mean and code 1
    // (memberless) must carry its seed unchanged
    val sub = Seq(
      (1L, 0, Seq(1.0, 1.0)), (2L, 0, Seq(1.0, 1.0)), (3L, 0, Seq(1.0, 1.25)))
      .toDF("vec_id", "subspace", "sv")
      .withColumn("label", lit(0))
    val seed = IndexedSeq(IndexedSeq(Seq(0.5, 0.5), Seq(100.0, 100.0)))
    val trained = AnnQueries.trainSubCodebook(sub, seed, iters = 1)
    assert(trained(0)(1) == Seq(100.0, 100.0),
      s"memberless code moved: ${trained(0)(1)}")
    // the member code's centroid is the floor-grid mean of (1,1),(1,1),(1,1.25)
    val S = graft.operators.Ivf.MeanQuantScale.toDouble
    val exp0 = (3 * math.floor(1.0 * S)) / (3 * S)
    val exp1 = (math.floor(1.0 * S) * 2 + math.floor(1.25 * S)) / (3 * S)
    assert(trained(0)(0) == Seq(exp0, exp1),
      s"member code mean mismatch: ${trained(0)(0)} vs ${Seq(exp0, exp1)}")
  }

  test("cfx fixture is clustered: separation >> spread, and exact top-k stays in-cluster") {
    val rep = AnnQueries.cfxFixtureReport(spark, sf).collect()
    assert(rep.length == AnnQueries.CfxClusters)
    val maxWithin = rep.map(_.getDouble(2)).max
    val minInter = rep.map(_.getDouble(3)).min
    assert(minInter > 100 * maxWithin,
      s"planted mixture must separate: min inter $minInter vs within $maxWithin")
    // the clustered-regime consequence the recall rows rely on: every
    // exact L2 neighbor shares its query's planted cluster
    val emb = AnnQueries.clusteredEmbeddings(spark, sf)
    val lab = emb.select(col("vec_id"), col("label"))
    val crossCluster = AnnQueries.exactL2TopKFrom(emb)
      .join(lab.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "ql"), "query_id")
      .join(lab, "vec_id")
      .filter(col("ql") =!= col("label")).count()
    assert(crossCluster == 0, "exact top-k crossed a planted cluster")
  }

  test("cfx recall instrument reads 1.0 on the ground truth itself") {
    val truth = AnnQueries.exactL2TopKFrom(AnnQueries.clusteredEmbeddings(spark, sf))
    val r = AnnQueries.recallOf(truth, truth).collect()
    assert(r.nonEmpty && r.forall(_.getDouble(2) == 1.0))
  }

  test("cfx operating point: trained residual reads a usable recall and beats raw at equal budget") {
    // the r16 directive-1 'done' criterion, pinned: recall@5 ≥ ~0.8 at
    // nprobe ≪ lists for the trained-residual encode, strictly above
    // the raw encode at the identical code budget and training.
    // (Deterministic fixture: sf0.001 reads 0.92 avg vs 0.80 avg.)
    assert(AnnQueries.CfxNProbe * 8 <= AnnQueries.CfxClusters, "nprobe must be << lists")
    val tr = AnnQueries.cfxTrainedRecall(spark, sf).collect()
    val rw = AnnQueries.cfxRawRecall(spark, sf).collect()
    val trAvg = tr.map(_.getDouble(2)).sum / tr.length
    val rwAvg = rw.map(_.getDouble(2)).sum / rw.length
    assert(trAvg >= 0.8, s"trained-residual recall@5 avg $trAvg below the usable bar")
    assert(trAvg > rwAvg,
      s"residual must beat raw at equal budget on clustered data: $trAvg vs $rwAvg")
  }
}
