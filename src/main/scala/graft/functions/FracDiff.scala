package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Fixed-window fractional differentiation (FFD, AFML ch.5).
  *
  * Matches the reference kernel (/root/reference/src/frac_diff.rs:7):
  * weights w_0 = 1, w_k = -w_{k-1} * (d - k + 1) / k until
  * |w_k| < threshold; output_i = Σ_k w_k * price_{i-k}, null while
  * fewer than n_w prices precede.
  *
  * The weight vector is data-independent and tiny (d=0.5, 1e-3 →
  * ~30 weights), so it is computed once while the plan is built:
  * [[fracDiff]] inlines it as literals into a codegen'd Σ w_k·lag_k
  * window expression, and [[fracDiffChunked]] dots it against a
  * per-symbol ring in one ordered scan.
  */
object FracDiff {

  def weights(d: Double, threshold: Double): Array[Double] = {
    val buf = scala.collection.mutable.ArrayBuffer(1.0)
    var k = 1.0
    var wk = -buf.last / k * (d - k + 1.0)
    while (math.abs(wk) >= threshold) {
      buf += wk
      k += 1.0
      wk = -buf.last / k * (d - k + 1.0)
    }
    buf.toArray // w(k) multiplies lag k (reference reverses instead and dots ascending windows)
  }

  /** frac_diff of `value` over a per-`partitionCols` time ordering. */
  def fracDiff(
      value: Column,
      d: Double,
      threshold: Double,
      partitionCols: Seq[Column],
      orderCols: Seq[Column],
  ): Column = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    val ws = weights(d, threshold)
    val terms = ws.zipWithIndex.map { case (wk, k) =>
      if (k == 0) lit(wk) * value else lit(wk) * lag(value, k).over(w)
    }
    val dot = terms.reduceLeft(_ + _)
    when(row_number().over(w) >= ws.length, dot)
  }

  /** Scan form of [[fracDiff]]: identical values (the per-row dot
    * multiplies the same lags by the same weights in the same
    * left-to-right order — bit-identical doubles, pinned in
    * ScalaTest), computed by ONE lazy ordered pass per symbol
    * ([[graft.plans.OrderedScanExec]]: one hash exchange, one sort by
    * (symbol, orderCols)) over a primitive ring of the last n_w
    * values, instead of n_w−1 lag window functions. Output: every
    * column of `df`, then `outCol`.
    *
    * `chunkCol` is unused and kept for source compatibility: the scan
    * needs no day chunks, halos or carried state.
    */
  def fracDiffChunked(
      df: DataFrame,
      valueCol: String,
      d: Double,
      threshold: Double,
      symbolCol: String,
      chunkCol: Column,
      orderCols: Seq[String],
      outCol: String = "frac_diff",
  ): DataFrame = {
    require(df.schema(valueCol).dataType == DoubleType,
      s"frac_diff value column $valueCol must be double, got ${df.schema(valueCol).dataType}")
    val fd = AttributeReference(outCol, DoubleType, nullable = true)()
    graft.plans.OrderedScan(df, Seq(symbolCol), orderCols, RingKernel(weights(d, threshold), valueCol))(_ :+ fd)
  }

  /** The [[fracDiffChunked]] kernel: emits each input row with its dot
    * appended, null until n_w values (and while any of them is null or
    * NaN) are in the ring.
    */
  private final case class RingKernel(ws: Array[Double], valueCol: String) extends graft.plans.ScanKernel {
    override def toString: String = s"FracDiff.RingKernel(${ws.length} weights over $valueCol)"

    def open(input: Seq[Attribute]): graft.plans.ScanStep = new graft.plans.ScanStep {
      private val valOrd = input.indexWhere(_.name == valueCol)
      private val nW = ws.length
      private val ring = new Array[Double](nW) // ring(pos) = current, lag k at pos - k
      private var pos = 0
      private var seen = 0L
      private val fd = new GenericInternalRow(1)
      private val joined = new JoinedRow

      def reset(): Unit = { pos = 0; seen = 0L }

      def step(row: InternalRow): InternalRow = {
        ring(pos) = if (row.isNullAt(valOrd)) Double.NaN else row.getDouble(valOrd)
        seen += 1
        fd.update(0, null)
        if (seen >= nW) {
          var acc = 0.0
          var k = 0
          var bad = false
          while (k < nW && !bad) {
            val v = ring((pos - k + nW) % nW)
            if (v.isNaN) bad = true else acc += ws(k) * v
            k += 1
          }
          if (!bad) fd.setDouble(0, acc)
        }
        pos = (pos + 1) % nW
        joined(row, fd)
      }
    }
  }

  /** The same dot product as ANSI SQL for the DuckDB oracle, with the
    * identical weight literals and left-to-right addition order so
    * float results are bit-identical.
    */
  def oracleSqlExpr(
      valueCol: String,
      d: Double,
      threshold: Double,
      partitionBy: String,
      orderBy: String,
  ): String = {
    val ws = weights(d, threshold)
    val over = s"OVER (PARTITION BY $partitionBy ORDER BY $orderBy)"
    val terms = ws.zipWithIndex.map { case (wk, k) =>
      if (k == 0) s"($wk) * $valueCol"
      else s"($wk) * lag($valueCol, $k) $over"
    }
    s"CASE WHEN row_number() $over >= ${ws.length} THEN ${terms.mkString(" + ")} END"
  }
}
