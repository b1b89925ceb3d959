package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.FracDiff
import graft.operators.{AsofJoin, Bars, Cusum, Labels, TrendScan}
import graft.sources.TradeData

/** What the generator recorded about its inputs, read from `truth.json`. */
final class Truth(dir: String) {
  private val json: JsonNode = new ObjectMapper().readTree(new java.io.File(s"$dir/truth.json"))
  def long(k: String): Long = json.get(k).asLong
  def map(k: String): Map[String, Long] =
    json.get(k).fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
}

/** A workload runs one pass over the inputs in `dir`: every operation
  * through [[Bench]], checks attached. The operations of a pass are
  * independent of each other (each reads only the inputs), so the
  * checks may run after the pass.
  */
trait Workload {
  /** Input rows of one pass (the numerator of rows_per_s). */
  def rows(t: Truth): Long
  def pass(b: Bench, dir: String, t: Truth): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "ticks_labels" => TicksLabels
    case "stream_labels" => StreamLabels
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)

  /** One aggregation job over `df`; every column must be a count. */
  def stats(df: DataFrame, cols: (String, org.apache.spark.sql.Column)*): Map[String, Long] = {
    val r = df.agg(cols.head._2.as(cols.head._1), cols.tail.map { case (k, c) => c.as(k) }: _*).head()
    cols.map(_._1).zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap
  }
}

/** The AFML labelling chain on seeded ticks, one noop-sunk step at a time. */
object TicksLabels extends Workload {
  val BarDollars = 50000.0
  val CusumH = 0.25
  val FdD = 0.5
  val FdThreshold = 1e-3
  val VolSpan = 100
  val Horizon = "4 hours"

  def rows(t: Truth): Long = t.long("ticks")

  /** CUSUM events as (symbol, t0, t1, event_id) label windows. */
  def windows(events: DataFrame): DataFrame =
    events.select(col("symbol"), col("ts").as("t0"), (col("ts") + expr(s"INTERVAL $Horizon")).as("t1"),
      unix_micros(col("ts")).as("event_id"))

  def sides(events: DataFrame): DataFrame =
    events.select(col("symbol"), col("ts"), col("side"))

  /** `Labels.verticalBarrier(trades, "24 hours")` through the native
    * as-of join (`AsofJoinExec`) instead of the window form.
    */
  def verticalBarrierNative(trades: DataFrame): DataFrame =
    AsofJoin.asofNative(
      trades.select(col("symbol"), col("ts"), (col("ts") + expr("INTERVAL 24 hours")).as("__off")),
      trades.select(col("symbol"), col("ts").as("__rts"), col("ts").as("vertical_barrier")),
      leftOn = "__off", rightOn = "__rts", by = Seq("symbol"), direction = AsofJoin.Forward,
    ).select("symbol", "ts", "vertical_barrier")

  def pass(b: Bench, dir: String, t: Truth): Unit = {
    import Workload._
    val trades = b.source(TradeData.fromEvents(b.spark, dir))
    val ticks = t.long("ticks")
    val perSymbol = t.map("ticks_by_symbol")
    val nW = FracDiff.weights(FdD, FdThreshold).length
    b.facts("functions.fracdiff_dots") = ticks.toDouble * nW

    b.op("dollar_bars")(Bars.dollarBars(trades, BarDollars)) { out =>
      val got = out.groupBy("symbol").agg(sum("volume")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = t.map("volume_by_symbol")
      expect(got == want, s"bar volume by symbol $got != tick size by symbol $want")
    }
    // each check below is one aggregation job over the operation's output
    lazy val events = Cusum.events(trades, CusumH).count()
    b.op("cusum_events")(Cusum.events(trades, CusumH)) { out =>
      val a = stats(out, "n" -> count(lit(1)), "keys" -> countDistinct(col("symbol"), col("ts")),
        "bad" -> count(when(!col("side").isin(-1, 1), 1)))
      expect(a("bad") == 0, s"${a("bad")} sides outside {-1, 1}") ++
        expect(a("keys") == a("n") && a("n") > 0, s"${a("n")} events on ${a("keys")} (symbol, ts) keys")
    }
    b.op("frac_diff")(
      FracDiff.fracDiffChunked(trades, "price", FdD, FdThreshold, "symbol", to_date(col("ts")), Seq("ts", "trade_id"))
    ) { out =>
      val bad = out.groupBy("symbol").agg(
        count(lit(1)).as("n"),
        count(when(col("frac_diff").isNull, 1)).as("nulls"),
        max(when(col("frac_diff").isNull, col("ts"))).as("last_null"),
        min(when(col("frac_diff").isNotNull, col("ts"))).as("first_value"),
      ).collect().filter { r =>
        r.getLong(1) != perSymbol(r.getString(0)) || r.getLong(2) != nW - 1 ||
          !r.getTimestamp(3).before(r.getTimestamp(4))
      }
      expect(bad.isEmpty, s"series without exactly ${nW - 1} leading nulls: ${bad.take(3).mkString("; ")}")
    }
    b.op("daily_vol")(Labels.dailyVol(trades, VolSpan)) { out =>
      val a = stats(out, "n" -> count(lit(1)), "bad" -> count(when(col("daily_return_volatility") < 0, 1)))
      expect(a("n") == ticks, s"${a("n")} rows for $ticks ticks") ++ expect(a("bad") == 0, s"${a("bad")} negative")
    }
    b.op("vertical_barrier")(Labels.verticalBarrier(trades, "24 hours")) { out =>
      val a = stats(out, "n" -> count(lit(1)),
        "bad" -> count(when(col("vertical_barrier") < col("ts") + expr("INTERVAL 24 hours"), 1)))
      expect(a("n") == ticks, s"${a("n")} rows for $ticks ticks") ++
        expect(a("bad") == 0, s"${a("bad")} barriers before ts + 24h")
    }
    b.op("vertical_barrier_native")(verticalBarrierNative(trades)) { out =>
      val want = Labels.verticalBarrier(trades, "24 hours")
      val (extra, missing) = (out.exceptAll(want).count(), want.exceptAll(out).count())
      expect(extra == 0 && missing == 0, s"$extra rows not in Labels.verticalBarrier, $missing of its rows missing")
    }
    b.op("triple_barrier")(Labels.tripleBarrier(trades, horizon = Horizon, volSpan = VolSpan)) { out =>
      val a = stats(out, "n" -> count(lit(1)), "keys" -> countDistinct(col("symbol"), col("ts")),
        "bad" -> count(when(!col("label").isin(-1, 0, 1), 1)))
      expect(a("bad") == 0, s"${a("bad")} labels outside {-1, 0, 1}") ++
        expect(a("keys") == a("n") && a("n") > 0 && a("n") <= ticks, s"${a("n")} labels on ${a("keys")} events")
    }
    b.op("meta_label")(
      Labels.metaLabel(Labels.tripleBarrier(trades, horizon = Horizon, volSpan = VolSpan),
        sides(Cusum.events(trades, CusumH)))
    ) { out =>
      val a = stats(out, "n" -> count(lit(1)), "keys" -> countDistinct(col("symbol"), col("ts")),
        "bad" -> count(when(!col("label").isin(-1, 0, 1) || !col("meta_label").isin(0, 1), 1)))
      expect(a("bad") == 0, s"${a("bad")} labels out of range") ++
        expect(a("keys") == a("n") && a("n") > 0 && a("n") <= events, s"${a("n")} meta-labels on ${a("keys")} of $events events")
    }
    b.op("uniqueness_weights")(Labels.uniquenessWeights(trades, windows(Cusum.events(trades, CusumH)))) { out =>
      val a = stats(out, "n" -> count(lit(1)), "keys" -> countDistinct(col("symbol"), col("event_id")),
        "bad" -> count(when(!(col("avg_uniqueness") > 0 && col("avg_uniqueness") <= 1), 1)))
      expect(a("bad") == 0, s"${a("bad")} weights outside (0, 1]") ++
        expect(a("keys") == events && a("n") == events, s"${a("n")} weights on ${a("keys")} of $events events")
    }
    b.op("trend_labels")(TrendScan.labelsScan(trades, minHorizon = 5, maxHorizon = 20)) { out =>
      val bad = out.groupBy("symbol").agg(count(lit(1)),
        count(when(!col("label").isin(-1, 0, 1) || !col("best_l").between(5, 20), 1)))
        .collect().filter(r => r.getLong(1) != perSymbol(r.getString(0)) - 19 || r.getLong(2) != 0)
      expect(bad.isEmpty, s"symbols with rows != ticks - 19 or labels out of range: ${bad.take(3).mkString("; ")}")
    }
  }
}

/** The ticks staged as one parquet file per day and drained through
  * five streaming twins, one query after another, each checked
  * against its batch operator on the same ticks.
  */
object StreamLabels extends Workload {
  /** 60 daily files, 20 per trigger: three micro-batches per twin, so
    * every twin carries state across batches.
    */
  val FilesPerTrigger = 20

  def rows(t: Truth): Long = t.long("ticks")

  /** The trades view `TradeData.fromEvents` builds, over the staged
    * files as a batch or a stream.
    */
  private def trades(raw: DataFrame): DataFrame =
    raw.where(col("value").isNotNull && col("value") =!= 0).select(
      col("event_type").as("symbol"), TradeData.normalizeTs(raw).as("ts"), col("value").as("price"),
      (col("event_id") % 97 + 1).as("size"), col("event_id").as("trade_id"))

  def pass(b: Bench, dir: String, t: Truth): Unit = {
    import TicksLabels._
    val spark = b.spark
    val staged = s"$dir/stream"
    val batch = b.source(trades(spark.read.parquet(staged)))
    val schema = spark.read.parquet(staged).schema

    def twin(name: String)(f: DataFrame => DataFrame)(check: DataFrame => Seq[String]): Unit = {
      val table = s"${name}_${System.nanoTime()}"
      b.drain(name)(f(trades(spark.readStream.schema(schema).option("maxFilesPerTrigger", FilesPerTrigger).parquet(staged)))) {
        df =>
          df.writeStream.format("memory").queryName(table).outputMode("append")
            .option("checkpointLocation", s"${b.passDir}/stream-$name").trigger(Trigger.AvailableNow()).start()
      }(check(spark.table(table)))
    }

    // multiset equality, collected and compared in memory (outputs are small)
    def sameRows(streamed: DataFrame, want: DataFrame): Seq[String] = {
      def bag(df: DataFrame) = df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
      val got = bag(streamed)
      val exp = bag(want.select(streamed.columns.map(col): _*))
      def surplus(a: Map[org.apache.spark.sql.Row, Int], b: Map[org.apache.spark.sql.Row, Int]) =
        a.map { case (r, n) => math.max(0, n - b.getOrElse(r, 0)) }.sum
      val (extra, missing) = (surplus(got, exp), surplus(exp, got))
      Workload.expect(extra == 0 && missing == 0 && got.nonEmpty,
        s"${got.values.sum} streamed rows: $extra not in batch, $missing batch rows not streamed")
    }

    twin("stream_dollar_bars")(s => graft.streaming.StatefulBars.dollarBars(s, BarDollars).toDF()) { out =>
      // trailing open bars stay in state; batch bars that closed compare
      sameRows(out, Bars.dollarBars(batch, BarDollars)
        .where(round(col("vwap") * 100.0 * col("volume")) >= math.round(BarDollars * 100)))
    }
    twin("stream_cusum")(s => graft.streaming.StreamingCusum.events(s, CusumH).toDF()) { out =>
      sameRows(out, Cusum.events(batch, CusumH))
    }
    twin("stream_frac_diff")(s => graft.streaming.StreamingFracDiff.fracDiff(s, FdD, FdThreshold).toDF()) { out =>
      sameRows(out, FracDiff.fracDiffChunked(batch, "price", FdD, FdThreshold, "symbol", to_date(col("ts")),
        Seq("ts", "trade_id")))
    }
    twin("stream_daily_vol")(s => graft.streaming.StreamingDailyVol.dailyVol(s, VolSpan).toDF()) { out =>
      sameRows(out, Labels.dailyVol(batch, VolSpan))
    }
    twin("stream_barrier")(s => graft.streaming.StreamingBarrier.labels(s, Horizon, 0.02).toDF()) { out =>
      // batch caps t1 at each symbol's last tick; compare the events
      // whose window closed inside the stream
      val last = batch.groupBy("symbol").agg(max("ts").as("__last"))
      val closed = Labels.tripleBarrier(batch, horizon = Horizon, constTarget = Some(0.02))
        .join(last, "symbol").where(col("t1") < col("__last")).drop("__last")
      val streamedClosed = out.join(last, "symbol").where(col("t1") < col("__last")).drop("__last")
      sameRows(streamedClosed, closed)
    }
  }
}
