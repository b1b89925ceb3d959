package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

import graft.functions.FracDiff
import graft.operators.TrendScan
import graft.plans.OrderedScanExec
import graft.sources.TradeData

/** The ordered scans are one lazy plan: building the DataFrame runs no
  * job, and the executed plan is one OrderedScanExec over exactly one
  * shuffle, with its metrics visible in explain("formatted").
  */
class OrderedScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val trades = TradeData.synthetic(spark, 2000)

  private val builders: Seq[(String, () => DataFrame)] = Seq(
    "labelsScan" -> (() => TrendScan.labelsScan(trades, 5, 20)),
    "fracDiffChunked" -> (() =>
      FracDiff.fracDiffChunked(trades, "price", 0.5, 1e-3, "symbol", to_date(col("ts")), Seq("ts", "trade_id"))),
  )

  /** Spark jobs started while `f` runs. Listener events arrive
    * asynchronously and in order, so a marker job before and after
    * fences off exactly the jobs `f` fired.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty("graft.marker"))).getOrElse("job"))
    }
    def fence(name: String): Int = {
      sc.setLocalProperty("graft.marker", name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.marker", null)
      var n = 0
      var m = seen.poll(30, TimeUnit.SECONDS)
      while (m != null && m != name) { n += 1; m = seen.poll(30, TimeUnit.SECONDS) }
      assert(m == name, s"the listener never saw the $name marker job")
      n
    }
    sc.addSparkListener(listener)
    try {
      fence("before")
      f
      fence("after")
    } finally sc.removeSparkListener(listener)
  }

  test("building labelsScan or fracDiffChunked fires no Spark job") {
    trades.schema // the source's own schema discovery is not the operator's
    for ((name, build) <- builders)
      assert(jobsDuring(build()) == 0, s"$name ran jobs while its DataFrame was built")
  }

  test("labelsScan and fracDiffChunked execute as one OrderedScanExec over one shuffle") {
    for ((name, build) <- builders) {
      val df = build()
      val n = df.collect().length
      val plan = df.queryExecution.executedPlan
      val scans = collect(plan) { case s: OrderedScanExec => s }
      assert(scans.size == 1, s"$name: ${scans.size} OrderedScanExec in\n$plan")
      assert(collect(plan) { case e: ShuffleExchangeLike => e }.size == 1, s"$name: not one shuffle in\n$plan")
      assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty, s"$name: broadcast in\n$plan")
      assert(scans.head.metrics("numOutputRows").value == n)
      assert(scans.head.metrics("numInputRows").value == trades.count())
    }
  }

  test("OrderedScanExec metric names appear in explain(formatted)") {
    for ((name, build) <- builders) {
      val text = build().queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      for (m <- Seq("numInputRows", "numOutputRows", "kernelTime"))
        assert(text.contains(m), s"$name: $m missing from\n$text")
    }
  }
}
