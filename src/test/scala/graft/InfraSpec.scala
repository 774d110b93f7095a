package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew
import graft.sources.Sources
import graft.queries.EtlQueries

/** Sources, SQL function registration, and skew utilities. */
class InfraSpec extends AnyFunSuite {
  import TestSession._

  test("json rescue read quarantines malformed and schema-violating rows") {
    val dir = TestSession.tempDir("graft_src")
    val good = """{"id": 1, "name": "ok"}"""
    val badJson = """{"id": 2, "name": """ // truncated record
    val badType = """{"id": "not-a-number", "name": "x"}"""
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      Seq(good, badJson, badType).mkString("\n"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val (clean, quarantine) = Sources.splitRescued(
      Sources.jsonWithRescue(spark, s"$dir/in.json", schema))
    assert(clean.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val rescued = quarantine.select(Sources.RescueCol).collect().map(_.getString(0))
    assert(rescued.length == 2)
    assert(rescued.exists(_.contains("not-a-number")), "raw record preserved")
  }

  test("csv rescue read captures arity/type mismatches") {
    val dir = TestSession.tempDir("graft_src")
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "id,qty\n1,10\n2,notanumber\n3,7\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType)))
    val (clean, quarantine) = Sources.splitRescued(
      Sources.csvWithRescue(spark, s"$dir/in.csv", schema))
    assert(clean.count() == 2)
    assert(quarantine.count() == 1)
  }

  test("schema evolution admits new columns; earlier rows read null-padded") {
    val dir = TestSession.tempDir("graft_evolve")
    val store = new Sources.SchemaStore(spark, s"$dir/_schema")

    // batch 1: two columns
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      """{"id": 1, "name": "a"}""" + "\n" + """{"id": 2, "name": "b"}""")
    val b1 = Sources.jsonEvolving(spark, s"$dir/b1.json", store)
    assert(b1.schema.fieldNames.toSeq == Seq("id", "name", Sources.RescueCol))
    Sources.splitRescued(b1)._1.write.mode("append").parquet(s"$dir/target")

    // batch 2: a new `score` column arrives — admitted, not rescued
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      """{"id": 3, "name": "c", "score": 9}""")
    val b2 = Sources.jsonEvolving(spark, s"$dir/b2.json", store)
    assert(b2.schema.fieldNames.contains("score"), "new column should be admitted")
    val (clean2, quarantine2) = Sources.splitRescued(b2)
    assert(quarantine2.count() == 0, "an evolved column must not be quarantined")
    clean2.write.mode("append").parquet(s"$dir/target")

    // the store carries the merged schema; old rows align as null-padded
    val evolved = store.load().get
    assert(evolved.fieldNames.toSeq == Seq("id", "name", "score"))
    val all = Sources.alignTo(
      spark.read.option("mergeSchema", "true").parquet(s"$dir/target"), evolved)
    assert(all.count() == 3)
    assert(all.filter(col("score").isNull).count() == 2, "old rows null-padded")
    assert(all.filter(col("id") === 3 && col("score") === 9).count() == 1)

    // a type CHANGE on an established column is rescue, not evolution
    Files.writeString(java.nio.file.Paths.get(s"$dir/b3.json"),
      """{"id": "not-a-number", "name": "d"}""")
    val b3 = Sources.jsonEvolving(spark, s"$dir/b3.json", store)
    assert(Sources.splitRescued(b3)._2.count() == 1)
    assert(store.load().get.fieldNames.toSeq == Seq("id", "name", "score"),
      "type conflict must not alter the established schema")
  }

  test("graft kernels are callable from SQL after registration") {
    GraftFunctions.install(spark)
    GraftFunctions.install(spark)
    assert(spark.experimental.extraStrategies
      .count(_ == graft.plans.AsOfJoinStrategy) == 1,
      "install must append the as-of strategy once, however often it runs")
    Tables.documents(spark, sf).createOrReplaceTempView("docs_v")
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_v")
    // fingerprint parity with the Column API
    val viaSql = spark.sql(
      "SELECT doc_id, graft_fingerprint(text) AS fp FROM docs_v")
    val viaCol = Tables.documents(spark, sf).select(col("doc_id"),
      functions.TextAnalysis.rollingFingerprint(col("text")).as("fp"))
    assert(viaSql.except(viaCol).count() == 0 && viaCol.except(viaSql).count() == 0)
    // vec_dot self-dot is the squared norm (> 0)
    val d = spark.sql(
      "SELECT graft_vec_dot(embedding, embedding) AS d FROM emb_v LIMIT 5")
      .collect().map(_.getDouble(0))
    assert(d.forall(_ > 0))
    // shingling + minhash + simhash compose in SQL
    val sig = spark.sql(
      """SELECT graft_minhash(graft_ngrams(split(text, ' '), 3)) AS sig,
                graft_simhash(graft_ngrams(split(text, ' '), 3)) AS sim
         FROM docs_v LIMIT 3""").collect()
    assert(sig.forall(r => r.getSeq[Long](0).length == functions.Lsh.K))
    // unicode normalization kernel from SQL
    val folded = spark.sql("SELECT graft_nfc_casefold('Grüße MÜNCHEN') AS s")
      .head.getString(0)
    assert(folded == "grüße münchen")
  }

  test("rendered star-join SQL matches the DataFrame composition (q09 config)") {
    import graft.operators.StarSchema
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    Tables.part(spark, sf).createOrReplaceTempView("part_v")
    Tables.supplier(spark, sf).createOrReplaceTempView("supplier_v")
    val sql = StarSchema.renderSql("lineitem_v",
      Seq("l_orderkey", "l_linenumber", "l_extendedprice"),
      Seq(
        StarSchema.DimRef("part_v", Seq("p_name", "p_brand"),
          factKey = "l_partkey", dimKey = "p_partkey"),
        StarSchema.DimRef("supplier_v", Seq("s_name"),
          factKey = "l_suppkey", dimKey = "s_suppkey")))
    val viaSql = spark.sql(sql)
    val viaDf = EtlQueries.starCompose(spark, sf)
    assert(viaSql.columns.toSeq == viaDf.columns.toSeq)
    assert(viaSql.except(viaDf).count() == 0 && viaDf.except(viaSql).count() == 0)
  }

  test("LEFT star dims keep unmatched fact rows in both SQL and DataFrame form") {
    import graft.operators.StarSchema
    val o = Tables.orders(spark, sf)
    val cSub = Tables.customer(spark, sf).filter(col("c_custkey") % 3 === 0)
    o.createOrReplaceTempView("orders_v")
    cSub.createOrReplaceTempView("cust_sub_v")
    val sql = StarSchema.renderSql("orders_v", Seq("o_orderkey", "o_totalprice"),
      Seq(StarSchema.DimRef("cust_sub_v", Seq("c_mktsegment"),
        factKey = "o_custkey", dimKey = "c_custkey", joinType = "left")))
    assert(sql.contains("LEFT JOIN cust_sub_v"),
      s"renderSql must emit LEFT JOIN for a left dim:\n$sql")
    val viaSql = spark.sql(sql)
    val viaDf = StarSchema.compose(o, Seq("o_orderkey", "o_totalprice"),
      Seq(StarSchema.Dim(cSub, Seq("c_mktsegment"),
        factKey = "o_custkey", dimKey = "c_custkey", joinType = "left")))
    // the null-preserving semantics are the point: every fact row survives,
    // and the unmatched ones really exist and really carry a null dim col
    assert(viaDf.count() == o.count(),
      "a LEFT star composition must never drop fact rows")
    assert(viaDf.filter(col("c_mktsegment").isNull).count() > 0,
      "fixture must actually contain unmatched fact rows")
    assert(viaSql.except(viaDf).count() == 0 && viaDf.except(viaSql).count() == 0)
    // an inner dim over the same config DOES drop them — the semantics differ
    val inner = StarSchema.compose(o, Seq("o_orderkey", "o_totalprice"),
      Seq(StarSchema.Dim(cSub, Seq("c_mktsegment"),
        factKey = "o_custkey", dimKey = "c_custkey")))
    assert(inner.count() < o.count())
    intercept[IllegalArgumentException] {
      StarSchema.Dim(cSub, Seq("c_mktsegment"), "o_custkey", "c_custkey",
        joinType = "full")
    }
  }

  test("filtered star: WHERE slot and dim filter agree across SQL and DataFrame forms") {
    import graft.operators.StarSchema
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    o.createOrReplaceTempView("orders_f")
    c.createOrReplaceTempView("customer_f")
    val lo = "1996-01-01 00:00:00"
    val hi = "1997-01-01 00:00:00"
    val sql = StarSchema.renderSql("orders_f", Seq("o_orderkey", "o_totalprice"),
      Seq(StarSchema.DimRef("customer_f", Seq("c_mktsegment"),
        factKey = "o_custkey", dimKey = "c_custkey", joinType = "left",
        filter = Some("c_mktsegment = 'BUILDING'"))),
      where = Some(s"o_orderdate >= TIMESTAMP '$lo' AND o_orderdate < TIMESTAMP '$hi'"))
    assert(sql.contains("WHERE o_orderdate"), s"fact filter must render as WHERE:\n$sql")
    assert(sql.contains("AND (c_mktsegment = 'BUILDING')") &&
      sql.indexOf("c_mktsegment = 'BUILDING'") < sql.indexOf("WHERE"),
      s"dim filter must live in the ON clause, not the WHERE:\n$sql")
    val viaSql = spark.sql(sql)
    val viaDf = StarSchema.compose(o, Seq("o_orderkey", "o_totalprice"),
      Seq(StarSchema.Dim(c, Seq("c_mktsegment"),
        factKey = "o_custkey", dimKey = "c_custkey", joinType = "left",
        filter = Some(col("c_mktsegment") === "BUILDING"))),
      where = Some(col("o_orderdate") >= Cols.ntzTs(lo) &&
        col("o_orderdate") < Cols.ntzTs(hi)))
    // LEFT + dim filter: every fact row in the window survives; customers
    // outside the segment null-pad instead of dropping their orders
    val window = o.filter(col("o_orderdate") >= Cols.ntzTs(lo) &&
      col("o_orderdate") < Cols.ntzTs(hi))
    assert(viaDf.count() == window.count(),
      "a filtered LEFT dim must not drop windowed fact rows")
    assert(viaDf.filter(col("c_mktsegment").isNull).count() > 0,
      "fixture must contain out-of-segment orders")
    assert(viaDf.filter(col("c_mktsegment").isNotNull &&
      col("c_mktsegment") =!= "BUILDING").count() == 0,
      "dim filter must exclude every other segment")
    assert(viaSql.except(viaDf).count() == 0 && viaDf.except(viaSql).count() == 0)
  }

  test("extensions entry point injects without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("co-bucketed tables join without a shuffle on either side") {
    val dir = TestSession.tempDir("graft_buckets")
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      .withColumnRenamed("l_orderkey", "k")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_orderstatus")
      .withColumnRenamed("o_orderkey", "k")
    operators.Bucketing.saveBucketed(li, "b_lineitem", s"$dir/li", "k", 8)
    operators.Bucketing.saveBucketed(o, "b_orders", s"$dir/o", "k", 8)
    try {
      val joined = operators.Bucketing.colocatedJoin(spark, "b_lineitem", "b_orders", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      // same result as the plain (shuffling) join
      assert(joined.count() == li.join(o, "k").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("the q08 star over co-bucketed facts: same rows, no fact-fact exchange") {
    // the deployed 100 TB shape for the star family's fact-fact edge
    // (PLANS round-7): lineitem and orders landed bucketed by order key,
    // the q08 rollup rides the co-location with zero exchange below the
    // fact join — and produces exactly q08's oracle-gated rows
    val dir = TestSession.tempDir("graft_star_buckets")
    operators.Bucketing.saveBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice", "l_discount"),
      "bs_lineitem", s"$dir/li", "l_orderkey", 8)
    operators.Bucketing.saveBucketed(
      Tables.orders(spark, sf).select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey")),
      "bs_orders", s"$dir/o", "l_orderkey", 8)
    try {
      val joined = operators.Bucketing.colocatedJoin(
        spark, "bs_lineitem", "bs_orders", "l_orderkey")
      val c = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
      val n = Tables.nation(spark, sf)
      val r = Tables.region(spark, sf)
      val star = joined
        .join(broadcast(c), col("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(Cols.moneySum(Cols.discounted(col("l_extendedprice"),
          col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .select("region", "nation", "revenue", "n_items")
      val plan = star.queryExecution.executedPlan.toString
      // the ONLY exchange below the aggregate is the agg's own; the
      // fact-fact join itself is exchange-free
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange hashpartitioning"),
        s"bucketed fact join must not shuffle:\n$joinPlan")
      assert(!plan.contains("SortMergeJoin") ||
        !"Exchange hashpartitioning\\(l_orderkey".r.findFirstIn(plan).isDefined,
        s"fact-fact edge re-shuffled:\n$plan")
      val expected = EtlQueries.starRevenue(spark, sf)
      val got = star.orderBy("region", "nation")
      assert(got.except(expected).count() == 0 && expected.except(got).count() == 0,
        "bucketed star must reproduce q08's oracle-gated rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bs_lineitem")
      spark.sql("DROP TABLE IF EXISTS bs_orders")
    }
  }

  test("salted join equals the plain join on skewed keys") {
    // ~600 rows share 3 hot keys — the skew shape salting exists for
    val fact = Tables.lineitem(spark, sf)
      .select((col("l_orderkey") % 3).as("k"), col("l_extendedprice"))
    val dim = spark.range(3).select(col("id").as("k"),
      concat(lit("grp_"), col("id")).as("label"))
    val plain = fact.join(dim, "k").select("k", "l_extendedprice", "label")
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8)
      .select("k", "l_extendedprice", "label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }
}
