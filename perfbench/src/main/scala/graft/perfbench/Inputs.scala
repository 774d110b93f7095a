package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Seeded input generation from a testdata directory. The same seed gives
  * identical tables; a different seed relabels keys so every table's
  * fingerprint changes while the data's shape — sizes, degree
  * distribution, cosine structure — stays the same, which keeps the work
  * per seed equal. An op's output mapped back through the inverse
  * relabel is then the same for every seed.
  */
object Inputs {

  /** Bijection x ↦ (a·x + b) mod n on the key domain [0, n). */
  final case class Relabel(a: Long, b: Long, n: Long) {
    require(n < 3000000000L, s"key domain $n too large for exact long arithmetic")
    private val aInv = BigInt(a).modInverse(BigInt(n)).toLong
    def apply(c: Column): Column = pmod(c * lit(a) + lit(b), lit(n))
    def inverse(c: Column): Column = pmod((c - lit(b)) * lit(aInv), lit(n))
  }

  def relabel(seed: Long, salt: Int, n: Long): Relabel = {
    val r = new scala.util.Random(seed * 1000003L + salt)
    def draw(): Long = 1 + Math.floorMod(r.nextLong(), n - 1)
    var a = draw()
    while (BigInt(a).gcd(BigInt(n)) != 1) a = draw()
    Relabel(a, Math.floorMod(r.nextLong(), n), n)
  }

  /** Rows and on-disk bytes of one generated table. */
  final case class Table(rows: Long, bytes: Long)

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(g => dirBytes(g.getPath)).sum
    else if (f.isFile) f.length
    else 0L
  }

  private def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Table = {
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(path)
    val rows = df.sparkSession.read.parquet(path).count()
    Table(rows, dirBytes(path))
  }

  private def maxKey(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1

  /** ×factor replica of the embeddings (the ScaleGen transform): replica
    * i > 0 gets new ids and a fixed cyclic rotation with sign flips — an
    * orthogonal map, so each replica keeps the original's cosine structure
    * while replicas sit at the corpus's noise floor to each other. The
    * seed relabels every id; the returned relabel maps them back.
    */
  def embeddings(spark: SparkSession, src: String, dst: String, seed: Long,
                 factor: Int): (Map[String, Table], Relabel) = {
    val stride = 10000000L
    val emb = Tables.embeddings(spark, src)
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val scaled = (0 until factor).map { i =>
      if (i == 0) emb
      else {
        val shift = 1 + new scala.util.Random(31L + i).nextInt(d - 1)
        emb.withColumn("vec_id", col("vec_id") + lit(i * stride))
          .withColumn("embedding", expr(
            s"transform(sequence(0, ${d - 1}), j -> element_at(embedding, ((j + $shift) % $d) + 1) * " +
              s"CASE WHEN pmod(xxhash64($i, j), 2) = 0 THEN CAST(1 AS FLOAT) ELSE CAST(-1 AS FLOAT) END)"))
      }
    }.reduce(_ unionByName _)
    val ids = relabel(seed, 5, factor * stride)
    (Map("embeddings" -> write(scaled.withColumn("vec_id", ids(col("vec_id"))).repartition(4),
      s"$dst/embeddings.parquet")), ids)
  }

  /** A fixed 1/`orderMod` share of the orders' line items (chosen by key
    * hash, independent of the seed) with part and supplier keys relabelled,
    * plus the relabelled `part` table; returns the part-key relabel.
    */
  def graph(spark: SparkSession, src: String, dst: String, seed: Long,
            orderMod: Int): (Map[String, Table], Relabel) = {
    val part = Tables.part(spark, src)
    val li = Tables.lineitem(spark, src)
    val p = relabel(seed, 1, math.max(maxKey(part, "p_partkey"), maxKey(li, "l_partkey")))
    val s = relabel(seed, 2, maxKey(li, "l_suppkey"))
    val sub = li.filter(pmod(xxhash64(col("l_orderkey")), lit(orderMod.toLong)) === 0)
      .withColumn("l_partkey", p(col("l_partkey")))
      .withColumn("l_suppkey", s(col("l_suppkey")))
    (Map(
      "lineitem" -> write(sub.repartition(4), s"$dst/lineitem.parquet"),
      "part" -> write(part.withColumn("p_partkey", p(col("p_partkey"))).repartition(4),
        s"$dst/part.parquet")), p)
  }

  /** The CDC changelog, cut into `increments` windows of event time.
    *
    * Window i covers event time (wm(i-1), wm(i)]. Increment 1 is the
    * initial load (every customer); later increments carry `dimChanges`
    * customer changes each. Every increment also carries exact duplicate
    * rows, null-key rows, and late rows: events held back one increment,
    * landing after the watermark passed them. Both tables are partitioned
    * by `inc`, one directory per increment; only increments up to `keep`
    * are written.
    */
  final case class Cdc(tables: Map[String, Table], watermarks: Seq[java.sql.Timestamp])

  def cdc(spark: SparkSession, src: String, dst: String, seed: Long,
          increments: Int, keep: Int, dimChanges: Int): Cdc = {
    val cust = Tables.customer(spark, src)
    val ev = Tables.events(spark, src)
    val nCust = maxKey(cust, "c_custkey")
    val c = relabel(seed, 3, nCust)
    val u = relabel(seed, 4, maxKey(ev, "user_id"))
    val b = ev.agg(min(expr("unix_micros(ts)")), max(expr("unix_micros(ts)"))).head()
    val (t0, span) = (b.getLong(0), b.getLong(1) - b.getLong(0))
    val m = increments.toLong
    val wms = (0 to increments).map(i => t0 + span * i / m)
    // per-mille (and per-million) draws keyed by the seed
    def h(cols: Column*): Column = pmod(xxhash64(lit(seed) +: cols: _*), lit(1000L))
    def h6(cols: Column*): Column = pmod(xxhash64(lit(seed) +: cols: _*), lit(1000000L))
    // ceil((ts - t0)·m / span), clamped to [1, m]: ts ∈ (wm(i-1), wm(i)]
    val incOf = expr(s"greatest(1L, least(${m}L, " +
      s"((unix_micros(ts) - ${t0}L) * ${m}L + ${span - 1}L) div ${span}L))")
    val events = ev.select(
        col("event_id"), col("ts"), u(col("user_id")).as("user_id"),
        col("event_type"), col("value"),
        c(pmod(col("user_id"), lit(nCust))).as("custkey"))
      .withColumn("win", incOf)
      .withColumn("late", h(col("event_id"), lit(1)) < 20 && col("win") < m)
      .withColumn("inc", when(col("late"), col("win") + 1).otherwise(col("win")))
      .withColumn("user_id", when(h(col("event_id"), lit(2)) < 10, lit(null)).otherwise(col("user_id")))
    val evDup = events.filter(h(col("event_id"), lit(3)) < 30)
    // customer changes: every customer in increment 1, then exactly
    // `dimChanges` per increment, drawn by key hash
    val pick = org.apache.spark.sql.expressions.Window.partitionBy("inc")
      .orderBy(h6(col("c_custkey"), col("inc")), col("c_custkey"))
    val changes = cust.crossJoin(spark.range(1, m + 1).toDF("inc"))
      .withColumn("pick", row_number().over(pick))
      .filter(col("inc") === 1 || col("pick") <= dimChanges)
      .select(
        c(col("c_custkey")).as("c_custkey"), col("c_name"), col("c_nationkey"),
        when(col("inc") === 1, col("c_mktsegment"))
          .otherwise(element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY").map(lit): _*),
            (h(col("c_custkey"), col("inc"), lit(4)) % 5 + 1).cast("int"))).as("c_mktsegment"),
        round(col("c_acctbal") + (h(col("c_custkey"), col("inc"), lit(5)) - 500) / 10.0, 2)
          .as("c_acctbal"),
        // strictly inside window inc: (wm(inc-1), wm(inc)]
        timestamp_micros(expr(s"${t0}L + (inc - 1) * ${span}L div ${m}L + 1") +
          pmod(xxhash64(lit(seed), col("c_custkey"), col("inc")), lit(span / m - 1)))
          .as("upd_ts"),
        col("inc"))
      .withColumn("c_custkey",
        when(col("inc") > 1 && h(col("c_custkey"), col("inc"), lit(6)) < 10, lit(null))
          .otherwise(col("c_custkey")))
    val chDup = changes.filter(col("inc") > 1 && h(col("c_custkey"), col("inc"), lit(7)) < 100)
    val evCols = Seq("event_id", "ts", "user_id", "event_type", "value", "custkey", "inc").map(col)
    val tables = Map(
      "events" -> write(events.select(evCols: _*).unionByName(evDup.select(evCols: _*))
        .filter(col("inc") <= keep).repartition(col("inc")), s"$dst/events", Seq("inc")),
      "customer" -> write(changes.unionByName(chDup).filter(col("inc") <= keep)
        .repartition(col("inc")), s"$dst/customer", Seq("inc")))
    Cdc(tables, wms.map(us => java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))))
  }
}
