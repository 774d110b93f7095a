package graft.plans

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The primitive all-pairs cosine kernel behind
  * `NearDup.embeddingCosinePairs`: vectors packed once into one
  * row-major `Array[Double]`, cut into blocks of `BlockRows` rows, and
  * every block pair `a ≤ b` scanned by one tight loop over the primitive
  * arrays. A pair costs its dot product and a threshold test; only pairs
  * that pass become output rows.
  *
  * Numerical contract — bit-identical to the per-pair `VecDot` join it
  * replaces and to the DuckDB oracle's `list_reduce`: float elements are
  * widened exactly at packing, each pair's dot is Σ a[k]·b[k] folded left
  * to right from 0.0 over the shorter length, `nrm = sqrt(dot(v, v))` and
  * `cos = dot / (na · nb)`. Four pairs share one sweep over `k` with four
  * separate accumulators; no pair's own sum is reassociated or fused.
  * A zero norm product gives `Similarity.cosineFrom`'s NULL cosine, so the
  * pair is dropped under any ANSI setting; `cos ≥ threshold` compares like
  * Spark's `>=`, where NaN sorts above every number.
  */
object CosineBlocks {

  /** Rows per block: two 64-dim blocks of doubles (128 KB) sit in L2. */
  val BlockRows = 128

  /** Name of the RDD whose tasks run the block-pair scans. */
  val RddName = "cosine block pairs"

  /** Packed vectors: row r's elements are `vals(off(r) until off(r) + len(r))`. */
  final class Packed(val ids: Array[Long], val off: Array[Int], val len: Array[Int],
                     val vals: Array[Double], val nrm: Array[Double]) extends Serializable {
    def n: Int = ids.length
    def blocks: Int = (n + BlockRows - 1) / BlockRows
  }

  /** Packs (id, vector) rows; rows with a null id or a null vector can
    * join no pair and are dropped.
    */
  def pack(rows: Iterator[InternalRow], idType: DataType, vecType: DataType): Packed = {
    val floats = vecType.asInstanceOf[ArrayType].elementType == FloatType
    val ids = new ArrayBuilder.ofLong
    val off = new ArrayBuilder.ofInt
    val len = new ArrayBuilder.ofInt
    val vals = new ArrayBuilder.ofDouble
    val nrm = new ArrayBuilder.ofDouble
    var at = 0
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val v = r.getArray(1)
        val d = v.numElements()
        var acc = 0.0
        var k = 0
        while (k < d) {
          val x = if (floats) v.getFloat(k).toDouble else v.getDouble(k)
          vals += x
          acc += x * x
          k += 1
        }
        ids += idOf(r, idType)
        off += at
        len += d
        nrm += math.sqrt(acc)
        at += d
      }
    }
    new Packed(ids.result(), off.result(), len.result(), vals.result(), nrm.result())
  }

  /** Ids are int or long columns (`NearDup.embeddingCosinePairs` checks). */
  private def idOf(r: InternalRow, idType: DataType): Long =
    if (idType == IntegerType) r.getInt(0).toLong else r.getLong(0)

  /** The id as a value of the caller's id column type. */
  def idValue(id: Long, idType: DataType): Any =
    if (idType == IntegerType) id.toInt else id

  /** Every block pair (a, b) with a ≤ b. */
  def blockPairs(blocks: Int): IndexedSeq[(Int, Int)] =
    for (a <- 0 until blocks; b <- a until blocks) yield (a, b)

  /** Scans block pair (a, b), a ≤ b, calling `emit(lowId, highId, cos)`
    * for every row pair with distinct ids whose cosine passes
    * `threshold`; within block a == b each row meets only the rows after
    * it. Equal ids never pair, so a repeated id keeps its multiplicity.
    */
  def scan(m: Packed, a: Int, b: Int, threshold: Double)(
      emit: (Long, Long, Double) => Unit): Unit = {
    val v = m.vals
    val off = m.off
    val len = m.len
    val iHi = math.min(m.n, (a + 1) * BlockRows)
    val jHi = math.min(m.n, (b + 1) * BlockRows)
    def accept(i: Int, j: Int, dot: Double): Unit = {
      val x = m.ids(i)
      val y = m.ids(j)
      if (x != y) {
        val p = m.nrm(i) * m.nrm(j)
        if (p != 0.0) {
          val cos = dot / p
          if (cos >= threshold || java.lang.Double.isNaN(cos)) {
            if (x < y) emit(x, y, cos) else emit(y, x, cos)
          }
        }
      }
    }
    var i = a * BlockRows
    while (i < iHi) {
      val oi = off(i)
      val li = len(i)
      var j = if (a == b) i + 1 else b * BlockRows
      while (j + 4 <= jHi) {
        val o0 = off(j)
        val o1 = off(j + 1)
        val o2 = off(j + 2)
        val o3 = off(j + 3)
        val m0 = math.min(li, len(j))
        val m1 = math.min(li, len(j + 1))
        val m2 = math.min(li, len(j + 2))
        val m3 = math.min(li, len(j + 3))
        val shared = math.min(math.min(m0, m1), math.min(m2, m3))
        var s0 = 0.0
        var s1 = 0.0
        var s2 = 0.0
        var s3 = 0.0
        var k = 0
        while (k < shared) {
          val x = v(oi + k)
          s0 += x * v(o0 + k)
          s1 += x * v(o1 + k)
          s2 += x * v(o2 + k)
          s3 += x * v(o3 + k)
          k += 1
        }
        accept(i, j, fold(v, oi, o0, shared, m0, s0))
        accept(i, j + 1, fold(v, oi, o1, shared, m1, s1))
        accept(i, j + 2, fold(v, oi, o2, shared, m2, s2))
        accept(i, j + 3, fold(v, oi, o3, shared, m3, s3))
        j += 4
      }
      while (j < jHi) {
        accept(i, j, fold(v, oi, off(j), 0, math.min(li, len(j)), 0.0))
        j += 1
      }
      i += 1
    }
  }

  /** Continues a left-to-right dot fold `acc` over k in [from, to). */
  private def fold(v: Array[Double], oa: Int, ob: Int, from: Int, to: Int,
                   acc: Double): Double = {
    var s = acc
    var k = from
    while (k < to) {
      s += v(oa + k) * v(ob + k)
      k += 1
    }
    s
  }
}
