package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.api.TradingCols

/** Trend-scanning labels (AFML ch.5.2 — beyond the reference's
  * fixed-horizon labels): for each observation, fit OLS of price on
  * the time index over every forward horizon L in [minHorizon,
  * maxHorizon], pick the horizon with the largest |t-value| of the
  * slope (smallest L wins ties), and label by the slope's sign.
  *
  * Two forms, BIT-identical (pinned in ScalaTest):
  *  - [[labels]], the declarative reference: cumulative moments and
  *    one lead() per horizon on one sorted window per symbol;
  *  - [[labelsScan]], the production form: ONE ordered pass per
  *    symbol ([[graft.plans.OrderedScanExec]]) whose ring of
  *    cumulative-moment snapshots scores every horizon of the row
  *    maxHorizon−1 behind the cursor.
  *
  * Exactness: prices become integer cents and the time index is the
  * row number, so every OLS moment (Sy, Syy, Sxy) is an exact BIGINT;
  * the t-value is a fixed double expression tree over those integers,
  * replicated op-for-op by the DuckDB oracle. The horizon argmax
  * compares (|t|, -L) structs — engine-exact.
  *
  * Only rows where the LONGEST horizon fits are labeled (every
  * candidate window complete).
  */
object TrendScan {

  def labels(
      df: DataFrame,
      minHorizon: Int = 5,
      maxHorizon: Int = 20,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minHorizon >= 3, "t-value needs at least 3 points")
    require(maxHorizon >= minHorizon, "maxHorizon >= minHorizon")
    scanPipeline(prepared(df, c), minHorizon, maxHorizon, c)
  }

  /** Production form of [[labels]]: one lazy ordered pass per symbol,
    * planned as one hash exchange and one sort by (symbol, ts,
    * trade_id), with O(maxHorizon) state — a ring of cumulative
    * (Σy, Σy², Σrn·y) snapshots scores every horizon in ~10 integer
    * flops each. Same integers, same double trees, same (|t|, −L)
    * argmax ⇒ BIT-identical to [[labels]] (pinned in ScalaTest).
    */
  def labelsScan(
      df: DataFrame,
      minHorizon: Int = 5,
      maxHorizon: Int = 20,
      c: TradingCols = TradingCols.default,
  ): DataFrame = {
    require(minHorizon >= 3, "t-value needs at least 3 points")
    require(maxHorizon >= minHorizon, "maxHorizon >= minHorizon")
    val produced = Seq(
      AttributeReference("best_l", IntegerType, nullable = false)(),
      AttributeReference("label", IntegerType, nullable = false)(),
      AttributeReference("beta", DoubleType, nullable = false)(),
      AttributeReference("tval", DoubleType, nullable = false)(),
    )
    graft.plans.OrderedScan(prepared(df, c), Seq("__sym"), Seq("__ts", "__tid"), RingKernel(minHorizon, maxHorizon)) {
      in => Seq("__sym", "__ts", "__price").map(n => in.find(_.name == n).get) ++ produced
    }.select(
      col("__sym").as(c.symbol),
      col("__ts").as(c.ts),
      col("__price").as(c.price),
      col("best_l"),
      col("label"),
      col("beta"),
      col("tval"),
    )
  }

  /** The [[labelsScan]] kernel over [[prepared]] rows; emits
    * (__sym, __ts, __price, best_l, label, beta, tval).
    *
    * The row number runs over the whole symbol, so the cumulative
    * moments may wrap a Long on very long symbols; every moment the
    * scores use is a difference of two of them whose true value fits,
    * and two's-complement +, − and × are exact modulo 2^64, so the
    * differences stay exact.
    */
  private final case class RingKernel(minL: Int, maxL: Int) extends graft.plans.ScanKernel {
    override def toString: String = s"TrendScan.RingKernel(horizons $minL..$maxL)"

    def open(input: Seq[Attribute]): graft.plans.ScanStep = new graft.plans.ScanStep {
      private def ord(n: String) = input.indexWhere(_.name == n)
      private val symOrd = ord("__sym")
      private val tsOrd = ord("__ts")
      private val priceOrd = ord("__price")
      private val centsOrd = ord("__cents")
      // per-horizon integer constants of the rebased x = 0..L-1 axis
      private val sxArr = Array.tabulate(maxL + 1)(l => l.toLong * (l - 1) / 2)
      private val sxxArr = Array.tabulate(maxL + 1)(l => (l - 1).toLong * l * (2 * l - 1) / 6)
      private val denArr = Array.tabulate(maxL + 1)(l => l * sxxArr(l) - sxArr(l) * sxArr(l))
      private val ringLen = maxL + 1
      // cumulative-moment snapshots; slot rn % ringLen = cum AFTER row rn
      private val rcy, rcyy, rcjy = new Array[Long](ringLen)
      // meta ring of the last maxL rows awaiting their full window
      private val mTs = new Array[Long](maxL)
      private val mTsNull = new Array[Boolean](maxL)
      private val mPrice = new Array[Double](maxL)
      private val out = new Array[Any](7)
      private val outRow = new GenericInternalRow(out)
      private var rn = 0L
      private var cy, cyy, cjy = 0L

      def reset(): Unit = {
        rn = 0L; cy = 0L; cyy = 0L; cjy = 0L
        rcy(0) = 0L; rcyy(0) = 0L; rcjy(0) = 0L
      }

      def step(row: InternalRow): InternalRow = {
        if (rn == 0L) out(0) = if (row.isNullAt(symOrd)) null else row.getUTF8String(symOrd).copy()
        if (row.isNullAt(centsOrd))
          throw new IllegalArgumentException(s"trend scan needs non-null prices (symbol ${out(0)})")
        val cents = row.getLong(centsOrd)
        rn += 1
        cy += cents; cyy += cents * cents; cjy += rn * cents
        val slot = (rn % ringLen).toInt
        rcy(slot) = cy; rcyy(slot) = cyy; rcjy(slot) = cjy
        val res = if (rn >= maxL) score(rn - maxL + 1) else null
        val meta = ((rn - 1) % maxL).toInt
        mTsNull(meta) = row.isNullAt(tsOrd)
        mTs(meta) = if (mTsNull(meta)) 0L else row.getLong(tsOrd)
        mPrice(meta) = row.getDouble(priceOrd)
        res
      }

      // emit row i (1-based rn): windows [i, i+L-1], cum base i-1
      private def score(iRow: Long): InternalRow = {
        val meta = ((iRow - 1) % maxL).toInt
        val cy0 = rcy(((iRow - 1) % ringLen).toInt)
        val cyy0 = rcyy(((iRow - 1) % ringLen).toInt)
        val cjy0 = rcjy(((iRow - 1) % ringLen).toInt)
        var bestA = Double.NegativeInfinity
        var bestNl = Int.MinValue
        var bestT = 0.0
        var bestB = 0.0
        var bestLab = 0
        var bestL = 0
        var l = minL
        while (l <= maxL) {
          val endSlot = ((iRow + l - 1) % ringLen).toInt
          val sy = rcy(endSlot) - cy0
          val syy = rcyy(endSlot) - cyy0
          val sjy = rcjy(endSlot) - cjy0
          val sxy = sjy - iRow * sy // x rebased to 0..L-1
          val sx = sxArr(l)
          val den = denArr(l)
          val num = l.toLong * sxy - sx * sy
          val b = num.toDouble / den.toDouble
          val sxxc = den.toDouble / l
          val syyc = syy.toDouble - sy.toDouble * sy.toDouble / l.toDouble
          val ssr = syyc - b * b * sxxc
          val tval =
            if (ssr <= 0.0) math.signum(num.toDouble) * 1e308
            else b * math.sqrt(sxxc) / math.sqrt(ssr / (l - 2).toDouble)
          val a = math.abs(tval)
          val nl = -l
          if (a > bestA || (a == bestA && nl > bestNl)) {
            bestA = a; bestNl = nl; bestT = tval; bestB = b
            bestLab = math.signum(num.toDouble).toInt; bestL = l
          }
          l += 1
        }
        out(1) = if (mTsNull(meta)) null else mTs(meta)
        out(2) = mPrice(meta)
        out(3) = bestL; out(4) = bestLab; out(5) = bestB; out(6) = bestT
        outRow
      }
    }
  }

  private def prepared(df: DataFrame, c: TradingCols): DataFrame =
    df.select(
      col(c.symbol).cast("string").as("__sym"),
      col(c.ts).cast("timestamp").as("__ts"),
      col(c.price).cast("double").as("__price"),
      col(c.tradeId).cast("long").as("__tid"),
    ).withColumn("__cents", round(col("__price") * 100).cast("long"))

  /** The declarative moment/argmax pipeline of [[labels]] over
    * [[prepared]] rows, one window per symbol.
    */
  private def scanPipeline(
      base0: DataFrame,
      minHorizon: Int,
      maxHorizon: Int,
      c: TradingCols,
  ): DataFrame = {
    val ord = Window.partitionBy(col("__sym")).orderBy(col("__ts"), col("__tid"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = base0
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("__cy", sum(col("__cents")).over(cum))
      .withColumn("__cyy", sum(col("__cents") * col("__cents")).over(cum))
      .withColumn("__cjy", sum(col("__rn") * col("__cents")).over(cum))

    // Three perf-critical structural choices, all measured at sf0.1:
    //  1. Every lead() is materialized ONCE as a named column — Spark
    //     does NOT deduplicate textually repeated window expressions,
    //     so referencing lead(cy, L-1) six times inside a t-value
    //     tree would plan six separate window functions.
    //  2. Each horizon's t-value tree is computed ONCE into a column.
    //  3. The argmax projection lives ABOVE the __full Window node,
    //     which CollapseProject cannot cross — without that barrier
    //     the struct array would inline ~4 copies of every tree
    //     (abs, t, b, sign), quadrupling codegen size and runtime.
    val ls = minHorizon to maxHorizon
    // one lead per horizon of a packed (cy, cyy, cjy) struct — 16
    // window functions instead of 48 (each lead frame iterates the
    // whole partition; a third of the frames is a third of that cost)
    val cums = struct(col("__cy").as("cy"), col("__cyy").as("cyy"), col("__cjy").as("cjy"))
    val leadCols = ls.map(l => lead(cums, l - 1).over(ord).as(s"__e_$l"))
    val keep = Seq(
      col("__sym"), col("__ts"), col("__tid"), col("__price"),
      col("__rn"), col("__cents"), col("__cy"), col("__cyy"), col("__cjy"),
    )
    val withLeads = base.select(keep ++ leadCols: _*)

    // forward-window moments for horizon L: S = cum(end) - cum(before start)
    def horizonCols(l: Int): Seq[Column] = {
      val sy = col(s"__e_$l.cy") - (col("__cy") - col("__cents"))
      val syy = col(s"__e_$l.cyy") - (col("__cyy") - col("__cents") * col("__cents"))
      val sjy = col(s"__e_$l.cjy") - (col("__cjy") - col("__rn") * col("__cents"))
      val sxy = sjy - col("__rn") * sy // x rebased to 0..L-1
      val sx = l.toLong * (l - 1) / 2
      val sxx = (l - 1).toLong * l * (2 * l - 1) / 6
      val den = l * sxx - sx * sx // = L * centered Sxx
      val num = lit(l.toLong) * sxy - lit(sx) * sy
      val b = num.cast("double") / lit(den.toDouble)
      val sxxc = den.toDouble / l
      val syyc = syy.cast("double") - sy.cast("double") * sy.cast("double") / lit(l.toDouble)
      val ssr = syyc - b * b * lit(sxxc)
      val tval = when(ssr <= lit(0.0), signum(num).cast("double") * lit(1e308))
        .otherwise(b * lit(math.sqrt(sxxc)) / sqrt(ssr / lit((l - 2).toDouble)))
      Seq(tval.as(s"__t_$l"), b.as(s"__b_$l"), signum(num).cast("int").as(s"__lab_$l"))
    }

    val projected = withLeads.select(
      Seq(col("__sym"), col("__ts"), col("__tid"), col("__price"), col("__rn")) ++
        ls.flatMap(horizonCols): _*
    )
    val cands = array(ls.map { l =>
      struct(
        abs(col(s"__t_$l")).as("a"),
        lit(-l).as("nl"),
        col(s"__t_$l").as("t"),
        col(s"__b_$l").as("b"),
        col(s"__lab_$l").as("lab"),
        lit(l).as("l"),
      )
    }: _*)
    projected
      // every horizon complete: the longest lead must exist. This
      // Window is also the CollapseProject barrier described above.
      .withColumn("__full", lead(col("__rn"), maxHorizon - 1).over(ord).isNotNull)
      .where(col("__full"))
      .withColumn("__best", array_max(cands))
      .select(
        col("__sym").as(c.symbol),
        col("__ts").as(c.ts),
        col("__price").as(c.price),
        col("__best.l").as("best_l"),
        col("__best.lab").as("label"),
        col("__best.b").as("beta"),
        col("__best.t").as("tval"),
      )
  }
}
