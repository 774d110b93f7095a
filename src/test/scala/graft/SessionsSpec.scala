package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the session lifecycle (`Sessions`, `SessionMemo`): the
  * query selector every entry point shares, and what the per-session
  * memos keep and drop.
  */
class SessionsSpec extends AnyFunSuite {
  import TestSession._

  test("query selector: blank names are dropped and an empty value behaves as unset") {
    val all = SparkEntry.queries.keySet
    assert(Sessions.selectQueries(None).keySet == all)
    assert(Sessions.selectQueries(Some("")).keySet == all)
    assert(Sessions.selectQueries(Some(" , ,")).keySet == all)
    val two = all.toSeq.sorted.take(2)
    assert(Sessions.selectQueries(Some(s" ${two(0)} ,, ${two(1)},")).keySet == two.toSet)
  }

  test("query selector: a selection that matches nothing fails naming SPARK_GRAFT_QUERIES") {
    val e = intercept[IllegalArgumentException] {
      Sessions.selectQueries(Some("q0_no_such_query"))
    }
    assert(e.getMessage.contains("SPARK_GRAFT_QUERIES"), e.getMessage)
    assert(e.getMessage.contains("q0_no_such_query"), e.getMessage)
  }

  test("frame memos: one instance per (session, dir), a new session gets its own") {
    val m1 = Queries.copurchaseEdges(spark, sf)
    assert(Queries.copurchaseEdges(spark, sf) eq m1)
    val other = spark.newSession()
    val m2 = Queries.copurchaseEdges(other, sf)
    assert(m2 ne m1)
    assert(m2.sparkSession eq other)
    assert(Queries.copurchaseEdges(other, sf) eq m2)
  }

  test("evictMemos clears the frame memos and keeps the codebook memo") {
    val frame = Queries.copurchaseEdges(spark, sf)
    val key = ("sessions-spec", false)
    val codebook = IndexedSeq(IndexedSeq(Seq(1.0)))
    assert(Queries.cfxCodebookMemo(spark, key)(codebook) eq codebook)
    Queries.evictMemos()
    assert(Queries.copurchaseEdges(spark, sf) ne frame)
    assert(Queries.cfxCodebookMemo(spark, key)(fail("codebook was rebuilt")) eq codebook)
  }

  test("evictMemos drops graft_q* memory-sink views on the stream session") {
    // q127 runs on the memoized stream session and leaves its sink there
    def sinks(s: org.apache.spark.sql.SparkSession) =
      s.catalog.listTables().collect().filter(_.name.startsWith("graft_q"))
    val out = SparkEntry.queries.find(_._1.startsWith("q127_")).get._2(spark, sf)
    val streamSession = out.sparkSession
    assert(streamSession ne spark)
    assert(sinks(streamSession).nonEmpty)
    Queries.evictMemos()
    assert(sinks(streamSession).isEmpty)
  }
}
