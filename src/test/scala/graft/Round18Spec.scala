package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.SuffixSpans
import graft.plans.PackExprs

/** Round-18 (optimization round) contracts: every rewritten operator
  * must compute EXACTLY what it computed before — these specs pin the
  * equivalences the optimizations rely on.
  */
class Round18Spec extends AnyFunSuite {
  import TestSession._

  // --- PackExprs: the window-pack kernel behind the SuffixSpans rewrite -----------

  /** Reference: windows at p and q equal ⟺ the substrings equal. */
  private def refEqual(s: String, w: Int): Seq[Seq[Int]] = {
    val cps = s.codePoints().toArray.toSeq
    (0 to cps.length - w).map(p => cps.slice(p, p + w))
  }

  test("PackedWindows keys are equal exactly when the code-point windows are equal") {
    // mixed widths: ASCII, Latin-1, CJK, and an astral (surrogate-pair)
    // code point — the pack must stay injective at every bits setting
    val corpora = Seq(
      ("abcabcabcabc", 4),
      ("the cat sat on the mat; the cat sat on a hat", 8),
      ("ééééabéééé", 4),
      ("五月雨をあつめて早し最上川五月雨", 4),
      ("a😀b a😀b", 3))
    for ((s, w) <- corpora) {
      val maxCode = PackExprs.maxCodePointJava(UTF8String.fromString(s))
      val bits = 32 - Integer.numberOfLeadingZeros(maxCode)
      val arr = PackExprs.packedWindowsJava(UTF8String.fromString(s), w, bits)
      val keys = (0 until arr.numElements()).map { i =>
        arr.getArray(i).toLongArray.toSeq
      }
      val ref = refEqual(s, w)
      assert(keys.length == ref.length, s"position count for '$s'")
      for (p <- keys.indices; q <- keys.indices)
        assert((keys(p) == keys(q)) == (ref(p) == ref(q)),
          s"pack equality must track window equality at ($p,$q) in '$s'")
    }
  }

  test("MaxCodePoint reads the true maximum (and 0 on empty)") {
    assert(PackExprs.maxCodePointJava(UTF8String.fromString("")) == 0)
    assert(PackExprs.maxCodePointJava(UTF8String.fromString("abz")) == 'z'.toInt)
    assert(PackExprs.maxCodePointJava(
      UTF8String.fromString("a😀b")) == 0x1F600)
  }

  // --- SuffixSpans: direct pack ≡ prefix doubling ≡ brute force --------------------

  /** Brute-force reference: positions whose L-window occurs ≥ 2 times
    * corpus-wide, merged into maximal per-doc spans.
    */
  private def refSpans(docs: Seq[(Long, String)], w: Int,
                       maxChars: Int): Set[(Long, Long, Long)] = {
    def cps(s: String): Vector[Int] = s.codePoints().toArray.toVector
    val prefixes = docs.map { case (id, t) => (id, cps(t).take(maxChars)) }
    val windows = prefixes.flatMap { case (id, cs) =>
      (0 to cs.length - w).map(p => ((id, p + 1), cs.slice(p, p + w))) }
    val counts = windows.groupBy(_._2).view.mapValues(_.size).toMap
    val hits = windows.filter(x => counts(x._2) >= 2).map(_._1)
    val byDoc = hits.groupBy(_._1).view.mapValues(
      _.map(_._2.toLong).sorted).toMap
    byDoc.flatMap { case (id, ps) =>
      // merge covered intervals [p, p + w - 1]
      val iv = ps.map(p => (p, p + w - 1))
      iv.foldLeft(List.empty[(Long, Long)]) {
        case (acc, (s, e)) => acc match {
          case (ps0, pe0) :: rest if s <= pe0 + 1 =>
            (ps0, math.max(pe0, e)) :: rest
          case _ => (s, e) :: acc
        }
      }.map { case (s, e) => (id, s, e) }
    }.toSet
  }

  private def spansOf(docs: Seq[(Long, String)], w: Int,
                      maxChars: Int): Set[(Long, Long, Long)] = {
    import spark.implicits._
    SuffixSpans.repeatedSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", w, maxChars)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("SuffixSpans direct-pack path matches brute force (ASCII corpus)") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox naps; nothing else here repeats at all",
      3L -> "zz the quick brown fox jumps over the moon tonight",
      4L -> "unique text with no overlaps whatsoever qqqqqqqqqqqqqqqqqqqqqq")
    assert(spansOf(docs, 16, 512) == refSpans(docs, 16, 512))
  }

  test("SuffixSpans CJK corpus (4-long packed keys, direct path) matches brute force") {
    // bits ≈ 15 ⇒ blocksFor(16, 15) = 4 — the direct-path boundary case
    val motif = "五月雨をあつめて早し最上川夏草や兵どもが夢の跡" // 23 code points
    val docs = Seq(
      1L -> (motif + "これは前半です" + motif),
      2L -> "まったく別の文はここで終わるだけで繰り返しはない短文",
      3L -> (motif + "という句をもう一度引用する"))
    val got = spansOf(docs, 16, 512)
    assert(got.nonEmpty, "CJK fixture must actually contain a 16-window repeat")
    assert(got == refSpans(docs, 16, 512))
  }

  test("SuffixSpans doubling path (astral code points) matches brute force") {
    // an astral code point forces bits ≥ 17 ⇒ perLong = 3 ⇒
    // blocksFor(16, 17) = 6 > 4 ⇒ the prefix-doubling fallback runs
    val motif = "😀ab😀cd😀ef😀gh" // 12 code points
    val docs = Seq(
      1L -> (motif + motif + "tailing unique text one"),
      2L -> ("prefix two " + motif + motif),
      3L -> "😀 nothing here repeats beyond the window 😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀😀")
    assert(spansOf(docs, 16, 512) == refSpans(docs, 16, 512))
  }

  test("SuffixSpans bounded-prefix cap still binds under the packed seed") {
    val rep = "0123456789abcdef" * 8 // 128 chars of repeated content
    val docs = Seq(1L -> (rep + "X"), 2L -> (rep + "Y"))
    val capped = spansOf(docs, 16, 32)
    assert(capped == refSpans(docs, 16, 32))
    assert(capped.forall { case (_, _, e) => e <= 32 })
  }
}
