package graft.ml

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector}

import graft.sketch.RadixArgsort

/** One partition's training rows in the layout the SGD pass scans,
  * built once per fit and cached across its iterations:
  *
  *  - `labels(r)` is row r's label;
  *  - CSR rows: row r's nonzeros are `[rowEnds(r - 1), rowEnds(r))`
  *    (from 0 for r = 0) of `cols` (global column ids) and `values`;
  *  - `keys` are the partition's distinct columns, ascending, and
  *    `slots(j)` is the index of `cols(j)` in `keys`.
  *
  * A sparse row keeps its stored entries (explicit zeros included)
  * and a dense row all `dim` of them, so a pass over the block makes
  * exactly the multiply-adds, in the same order, that a row-at-a-time
  * pass over the `Vector`s did. `slots` lets [[GradientAccumulator]]
  * sum a sparse partition into an array over `keys` that comes out
  * key-sorted, with no hashing per nonzero. */
final class RowBlock private (
    val dim: Int,
    val labels: Array[Double],
    val rowEnds: Array[Int],
    val cols: Array[Int],
    val values: Array[Double],
    val keys: Array[Int],
    val slots: Array[Int]) extends Serializable {

  def numRows: Int = labels.length
}

object RowBlock {

  /** The block of one partition's (label, features) rows; `dim` is the
    * first row's size (0 for no rows). */
  def apply(rows: Iterator[(Double, Vector)]): RowBlock = {
    var dim = -1
    val labels = new ArrayBuilder.ofDouble
    val rowEnds = new ArrayBuilder.ofInt
    val cols = new ArrayBuilder.ofInt
    val values = new ArrayBuilder.ofDouble
    var nnz = 0
    rows.foreach { case (y, x) =>
      if (dim < 0) dim = x.size
      labels += y
      x match {
        case d: DenseVector =>
          cols.addAll(Array.range(0, d.size))
          values.addAll(d.values)
          nnz += d.size
        case s: SparseVector =>
          cols.addAll(s.indices)
          values.addAll(s.values)
          nnz += s.indices.length
      }
      rowEnds += nnz
    }
    val colArr = cols.result()
    // one argsort of the column ids (non-negative, so their widened
    // longs sort as ints do); a sweep of the sorted order dedups them
    // into `keys` and hands every nonzero its slot
    val n = colArr.length
    val sc = RadixArgsort.scratchFor(n)
    val sorted = sc.keys
    var j = 0
    while (j < n) { sorted(j) = colArr(j).toLong; j += 1 }
    val perm = RadixArgsort.argsort(sc, n)
    val keys = new ArrayBuilder.ofInt
    val slots = new Array[Int](n)
    var k = -1
    var p = 0
    while (p < n) {
      if (p == 0 || sorted(p) != sorted(p - 1)) { keys += sorted(p).toInt; k += 1 }
      slots(perm(p)) = k
      p += 1
    }
    new RowBlock(math.max(dim, 0), labels.result(), rowEnds.result(), colArr,
      values.result(), keys.result(), slots)
  }
}
