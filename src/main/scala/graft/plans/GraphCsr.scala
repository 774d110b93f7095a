package graft.plans

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** A directed edge list packed for single-pass primitive graph kernels
  * (compressed sparse rows): dense int node ids come from the sorted
  * distinct non-null node ids, so dense order is original-id order and
  * the least dense id of any node set is its least original id;
  * adjacency is out-offsets plus neighbour dense ids.
  *
  * Edges are read where they live, one `Edges` chunk of primitive arrays
  * per partition, and only the chunks are collected; `pack` builds the
  * CSR from them on the driver. Node ids are int or long columns.
  */
object GraphCsr {

  /** Driver heap bytes one collected graph may take: an eighth of the
    * heap, and at most `spark.driver.maxResultSize` (0 = unlimited),
    * since the graph's rows are collected there first. A graph gate is
    * this share over the gate's bytes per edge.
    */
  def driverBytes(spark: SparkSession): Long = {
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.sparkContext.getConf.get("spark.driver.maxResultSize", "1g"))
    val heapShare = Runtime.getRuntime.maxMemory / 8
    if (maxResult > 0) math.min(heapShare, maxResult) else heapShare
  }

  /** Whether node ids of type `t` can be packed. */
  def isIdType(t: DataType): Boolean = t == IntegerType || t == LongType

  /** One partition's edges: `src(i) → dst(i)` for every edge with two
    * endpoints; `loose` holds the non-null endpoint of each edge with
    * exactly one, and `nullEnd` says whether any edge had a null one.
    */
  final class Edges(val src: Array[Long], val dst: Array[Long],
                    val loose: Array[Long], val nullEnd: Boolean) extends Serializable

  /** The (src, dst) rows of one partition, of types `srcType` and
    * `dstType`, when there are at most `cap` of them; None past the cap
    * (which holds no more than `cap` in the meantime).
    */
  def edgesOf(rows: Iterator[InternalRow], srcType: DataType, dstType: DataType,
              cap: Long): Option[Edges] = {
    val src = new ArrayBuilder.ofLong
    val dst = new ArrayBuilder.ofLong
    val loose = new ArrayBuilder.ofLong
    var nullEnd = false
    var n = 0L
    rows.foreach { r =>
      n += 1
      if (n <= cap) {
        val sNull = r.isNullAt(0)
        val dNull = r.isNullAt(1)
        if (!sNull && !dNull) {
          src += idOf(r, 0, srcType)
          dst += idOf(r, 1, dstType)
        } else {
          nullEnd = true
          if (!sNull) loose += idOf(r, 0, srcType)
          if (!dNull) loose += idOf(r, 1, dstType)
        }
      }
    }
    if (n > cap) None
    else Some(new Edges(src.result(), dst.result(), loose.result(), nullEnd))
  }

  private def idOf(r: InternalRow, i: Int, idType: DataType): Long =
    if (idType == IntegerType) r.getInt(i).toLong else r.getLong(i)

  /** The id as a value of the caller's id column type. */
  def idValue(id: Long, idType: DataType): Any =
    if (idType == IntegerType) id.toInt else id

  /** Dense node d has original id `ids(d)` (ascending) and out-neighbours
    * `adj(off(d) until off(d + 1))`, in input order; a duplicate edge
    * stays a duplicate neighbour and a self-loop a neighbour of itself.
    */
  final class Csr(val ids: Array[Long], val off: Array[Int], val adj: Array[Int]) {
    def n: Int = ids.length
  }

  /** The CSR over every chunk's edges; the loose endpoints are nodes
    * without edges of their own.
    */
  def pack(chunks: Seq[Edges]): Csr = {
    val m = chunks.iterator.map(_.src.length.toLong).sum
    val ends = 2 * m + chunks.iterator.map(_.loose.length.toLong).sum
    require(ends < Int.MaxValue, s"a packed graph holds < 2^31 endpoints, got $ends")
    val all = new Array[Long](ends.toInt)
    var at = 0
    chunks.foreach { c =>
      Seq(c.src, c.dst, c.loose).foreach { a =>
        System.arraycopy(a, 0, all, at, a.length)
        at += a.length
      }
    }
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val off = new Array[Int](n + 1)
    val adj = new Array[Int](m.toInt)
    val ds = new Array[Int](m.toInt)
    at = 0
    chunks.foreach { c =>
      var j = 0
      while (j < c.src.length) {
        ds(at + j) = java.util.Arrays.binarySearch(ids, c.src(j))
        off(ds(at + j) + 1) += 1
        j += 1
      }
      at += c.src.length
    }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    at = 0
    chunks.foreach { c =>
      var j = 0
      while (j < c.dst.length) {
        val s = ds(at + j)
        adj(fill(s)) = java.util.Arrays.binarySearch(ids, c.dst(j))
        fill(s) += 1
        j += 1
      }
      at += c.dst.length
    }
    new Csr(ids, off, adj)
  }
}
