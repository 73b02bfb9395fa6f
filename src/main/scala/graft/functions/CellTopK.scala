package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Top-`p` nearest centroid cells of one vector — the coarse-quantizer
  * ranking of the IVF family as ONE native expression over a PACKED
  * primitive centroid matrix, replacing a join-and-rank plan shape.
  *
  * Why an expression: ranking N vectors against k centroids is N·k·d
  * flops however it is phrased, but the phrasing sets the constant. The
  * round-8 shape (broadcast nested-loop join → per-pair project →
  * row_number window) paid ~1 µs per (vector, centroid) PAIR — row
  * iteration, virtual ArrayData access, a BigDecimal round per pair, and
  * an N·k-row exchange into the window; the round-9 g10 probe measured
  * it at 179–292 s of a 320 s query (stage attribution recorded in
  * history/PLANS.md, round 9, "WHAT THE PROBE CAUGHT"). Here the whole
  * per-vector scan is one eval: the vector is unpacked once to a
  * primitive double[], centroids live in a flat double[] shared across
  * rows, the inner loop is pure multiply-adds, and only candidates that
  * can still enter the current top-p pay the exact HALF_UP rounding.
  * CodegenFallback costs one interpreted dispatch per ROW (~µs) against
  * k·d = O(10⁵) flops per row — noise; the surrounding stage stays
  * whole-stage-codegen, and the plan is MAP-ONLY (no join, no window,
  * no exchange).
  *
  * EXACTNESS (the oracle contract): distances accumulate in the same
  * ascending-index IEEE fold as [[ArrayDot.dot]] and DuckDB's
  * `list_dot_product`, with the same association
  * `(e·e − 2·e·c) + c·c`; ranking uses `round(d2 + 1e-9, 6)` via the
  * identical `BigDecimal.valueOf(...).setScale(6, HALF_UP)` Spark's
  * Round generates, with ascending-cell tie-break — so the emitted
  * (cell, d2_raw) pairs are bit-identical to the join+window plan's.
  * The skip guard is sound at EVERY d2 magnitude: round6 moves a value
  * by at most 5e-7 (the HALF_UP step) PLUS ulp(x)/2 (BigDecimal.valueOf
  * goes through Double.toString, whose decimal value sits within half an
  * ulp of x — negligible for small d2 but dominant once d2 grows past
  * ~2^33, where ulp(x) > 1e-6), so a candidate with
  * `d2 + 1e-9 > worst_r6 + 5e-7 + ulp(d2 + 1e-9)` cannot round into a
  * tie or below; only near-top candidates reach BigDecimal.
  *
  * Scale posture: the centroid matrix rides in the expression (plan
  * binary, one copy per executor) — k ≤ ~10⁵ cells is MBs; flat coarse
  * quantization itself stops making sense past ~10M vectors (see
  * KnnSubCellThreshold's scale note), where [[GroupCellTopK]] — the
  * two-level hierarchical ranking — replaces the flat scan.
  */
case class CellTopK(child: Expression, cells: Array[Long],
    flat: Array[Double], d: Int, p: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = CellTopKKernel.outType

  /** Centroid self-dots, same ascending fold as ArrayDot. */
  @transient private lazy val cc: Array[Double] =
    CellTopKKernel.selfDots(cells.length, flat, d)

  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData].toDoubleArray()
    val st = new CellTopKKernel.TopP(math.min(p, cells.length))
    CellTopKKernel.scan(e, CellTopKKernel.selfDot(e, d), cells, flat, cc, d,
      0, cells.length, st)
    st.result()
  }

  override protected def withNewChildInternal(newChild: Expression): CellTopK =
    copy(child = newChild)
}

/** [[CellTopK]] restricted to the centroids of the row's PROBED GROUPS —
  * the level-2 ranking of a two-level (hierarchical / IMI-style) coarse
  * quantizer. `groups` evaluates to the row's probed group ids (the cells
  * of a level-1 [[CellTopK]] over the k1 group centroids); the scan then
  * covers ONLY the centroid ranges of those groups, so the per-row cost is
  * k1·d + sprobe·(k/k1)·d flops instead of the flat k·d — at k = 2560 /
  * k1 = 10 / sprobe = 2 that is ~522·d vs 2560·d, and the gap widens as
  * the adaptive cell count grows with N (k ∝ N ⇒ per-row cost ∝ √-ish
  * terms instead of N). Same packed layout, same top-p kernel, same
  * HALF_UP/tie-break exactness contract as [[CellTopK]]: the output is
  * bit-identical to scoring all cells whose group is probed with a
  * join+window plan, so a SQL oracle (`WHERE group(cell) IN probes` +
  * row_number) reproduces it hash-exactly.
  *
  * `cells`/`flat` MUST be sorted by (group, cell) and `groupIds` (sorted
  * ascending, distinct) with `groupOff` (length k1+1) delimit each group's
  * contiguous range. A probed group id absent from `groupIds` contributes
  * nothing (a level-1 centroid exists only where members exist, so this
  * arises only for callers probing synthetic ids); duplicate probe ids are
  * deduped so no cell can enter the top-p twice.
  */
case class GroupCellTopK(left: Expression, right: Expression,
    cells: Array[Long], flat: Array[Double], d: Int, p: Int,
    groupIds: Array[Long], groupOff: Array[Int])
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = CellTopKKernel.outType

  @transient private lazy val cc: Array[Double] =
    CellTopKKernel.selfDots(cells.length, flat, d)

  override def nullSafeEval(vec: Any, probed: Any): Any = {
    val e = vec.asInstanceOf[ArrayData].toDoubleArray()
    val ee = CellTopKKernel.selfDot(e, d)
    val gs = probed.asInstanceOf[ArrayData].toLongArray()
    java.util.Arrays.sort(gs)
    val st = new CellTopKKernel.TopP(math.min(p, cells.length))
    var i = 0
    while (i < gs.length) {
      if (i == 0 || gs(i) != gs(i - 1)) { // dedup: a cell enters once
        val j = java.util.Arrays.binarySearch(groupIds, gs(i))
        if (j >= 0)
          CellTopKKernel.scan(e, ee, cells, flat, cc, d,
            groupOff(j), groupOff(j + 1), st)
      }
      i += 1
    }
    st.result()
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): GroupCellTopK =
    copy(left = newLeft, right = newRight)
}

/** The shared exact top-p scan of [[CellTopK]] / [[GroupCellTopK]]: one
  * kernel so the HALF_UP rounding, the ulp-sound skip guard, and the
  * (r6, cell) tie-break — the oracle contract — live in exactly one
  * place.
  */
private[functions] object CellTopKKernel {

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("d2_raw", DoubleType, nullable = false))),
    containsNull = false)

  /** Ascending-index IEEE self-dot (the ArrayDot fold). */
  def selfDot(e: Array[Double], d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) { s += e(i) * e(i); i += 1 }
    s
  }

  /** Centroid self-dots over the packed matrix, same fold. */
  def selfDots(k: Int, flat: Array[Double], d: Int): Array[Double] = {
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      var s = 0.0
      var i = 0
      val off = j * d
      while (i < d) { val x = flat(off + i); s += x * x; i += 1 }
      out(j) = s
      j += 1
    }
    out
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Mutable top-n by (round6(d2 + 1e-9), cell) ascending; insertion sort
    * into parallel primitive arrays (n is the IVF probe width, ≤ ~8).
    */
  final class TopP(val n: Int) {
    val topR6 = new Array[Double](n)
    val topCell = new Array[Long](n)
    val topD2 = new Array[Double](n)
    var filled = 0

    def result(): GenericArrayData = {
      val rows = new Array[Any](filled)
      var i = 0
      while (i < filled) { rows(i) = InternalRow(topCell(i), topD2(i)); i += 1 }
      new GenericArrayData(rows)
    }
  }

  /** Score centroids [from, until) against `e` (self-dot `ee`) and fold
    * them into `st`. Call repeatedly over disjoint ranges for a grouped
    * scan — the top-p state is global across calls.
    */
  def scan(e: Array[Double], ee: Double, cells: Array[Long],
      flat: Array[Double], cc: Array[Double], d: Int,
      from: Int, until: Int, st: TopP): Unit = {
    val n = st.n
    val topR6 = st.topR6
    val topCell = st.topCell
    val topD2 = st.topD2
    var j = from
    while (j < until) {
      var qc = 0.0
      val off = j * d
      var i = 0
      while (i < d) { qc += e(i) * flat(off + i); i += 1 }
      val d2 = (ee - 2.0 * qc) + cc(j)
      val x = d2 + 1e-9
      // Sound pre-filter: r6 ∈ [x − 5e-7 − ulp(x), x + 5e-7 + ulp(x)]
      // (HALF_UP step + the Double.toString half-ulp, see scaladoc);
      // past the guard the candidate cannot beat or tie the current
      // worst at ANY d2 magnitude.
      if (st.filled < n || x <= topR6(st.filled - 1) + 5e-7 + math.ulp(x)) {
        val r6 = round6(x)
        val cell = cells(j)
        if (st.filled < n || r6 < topR6(st.filled - 1) ||
            (r6 == topR6(st.filled - 1) && cell < topCell(st.filled - 1))) {
          var pos = if (st.filled < n) st.filled else n - 1
          while (pos > 0 && (r6 < topR6(pos - 1) ||
              (r6 == topR6(pos - 1) && cell < topCell(pos - 1)))) {
            topR6(pos) = topR6(pos - 1)
            topCell(pos) = topCell(pos - 1)
            topD2(pos) = topD2(pos - 1)
            pos -= 1
          }
          topR6(pos) = r6
          topCell(pos) = cell
          topD2(pos) = d2
          if (st.filled < n) st.filled += 1
        }
      }
      j += 1
    }
  }
}
