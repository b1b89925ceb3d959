package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.sources.TradeData

/** Contract: the engine is total over every plausible driver encoding
  * of `events.ts`. The driver owns the data format and has already
  * shipped TIMESTAMP(NANOS) (rounds 1–8) and plain-µs NTZ (round 9 —
  * which zeroed 21/80 queries); `TradeData.fromEvents` must yield
  * bit-identical trades (same epoch micros) from all of:
  *   - int64 nanos (what TIMESTAMP(NANOS) becomes under the
  *     `nanosAsLong` legacy conf),
  *   - µs UTC-adjusted → TimestampType,
  *   - µs not-UTC-adjusted → TIMESTAMP_NTZ,
  * and the result must not depend on the session timezone.
  */
class TimestampEncodingSpec extends SparkSpec {

  // one tick whose micros value is easy to eyeball: 2024-01-01
  // 00:09:58.778549 UTC wall clock
  private val usValue = 1704067798778549L

  private def writeFixture(dir: String, tsType: DataType, tsVal: Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType),
    ))
    val rows = java.util.Arrays.asList(
      Row(7L, tsVal, 1L, "click", 42.5, "{}"),
      // a zero-price tick that fromEvents must drop in every encoding
      Row(8L, tsVal, 1L, "click", 0.0, "{}"),
    )
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def readMicros(dir: String): Seq[(Long, Long)] = {
    val df = TradeData.fromEvents(spark, dir)
    assert(df.schema("ts").dataType == TimestampType,
      s"fromEvents must emit TimestampType, got ${df.schema("ts").dataType}")
    df.select(col("trade_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  test("fromEvents yields identical epoch micros from nanos-long, µs-LTZ, and µs-NTZ parquet") {
    val base = Files.createTempDirectory("graft-tsenc").toString

    // (a) int64 nanos — the dispatch branch TIMESTAMP(NANOS) lands in
    // once nanosAsLong rewrites it to LongType
    writeFixture(s"$base/nanos", LongType, usValue * 1000L)

    // (b) µs UTC-adjusted (isAdjustedToUTC=true → TimestampType)
    writeFixture(s"$base/ltz", TimestampType,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(usValue / 1000000L, (usValue % 1000000L) * 1000L)))

    // (c) µs NTZ (isAdjustedToUTC=false → TIMESTAMP_NTZ; wall clock
    // must be read as UTC) — the round-9 driver format
    writeFixture(s"$base/ntz", TimestampNTZType,
      java.time.LocalDateTime.ofEpochSecond(usValue / 1000000L, ((usValue % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
    // an NTZ wall clock inside America/New_York's 2021 spring-forward
    // gap: it exists as UTC and must not be shifted by the session zone
    val gapValue = java.time.Instant.parse("2021-03-14T02:30:00Z")
    writeFixture(s"$base/ntz_gap", TimestampNTZType, java.time.LocalDateTime.parse("2021-03-14T02:30:00"))
    val ntzRead = spark.read.parquet(s"$base/ntz/events.parquet")
    assert(ntzRead.schema("ts").dataType == TimestampNTZType,
      s"fixture (c) must round-trip as NTZ, got ${ntzRead.schema("ts").dataType}")

    // (d)/(e) the two remaining parquet writer encodings Spark can
    // produce: TIMESTAMP(MILLIS) and INT96 — both read back as
    // TimestampType, landing in the passthrough branch; the ms
    // truncation happens at write time so expectations truncate too
    val msValue = usValue / 1000L * 1000L
    val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      for ((enc, sub) <- Seq("TIMESTAMP_MILLIS" -> "ms", "INT96" -> "int96")) {
        spark.conf.set("spark.sql.parquet.outputTimestampType", enc)
        writeFixture(s"$base/$sub", TimestampType,
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(msValue / 1000000L, (msValue % 1000000L) * 1000L)))
      }
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevOut)

    val expected = Seq((7L, usValue))
    val expectedMs = Seq((7L, msValue))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (tz <- Seq("UTC", "America/New_York", "Asia/Tokyo")) {
        spark.conf.set("spark.sql.session.timeZone", tz)
        assert(readMicros(s"$base/nanos") == expected, s"nanos encoding under tz=$tz")
        assert(readMicros(s"$base/ltz") == expected, s"µs-LTZ encoding under tz=$tz")
        assert(readMicros(s"$base/ntz") == expected, s"µs-NTZ encoding under tz=$tz")
        assert(readMicros(s"$base/ntz_gap") == Seq((7L, gapValue.getEpochSecond * 1000000L)),
          s"µs-NTZ wall clock in a DST gap under tz=$tz")
        assert(readMicros(s"$base/ms") == expectedMs, s"ms encoding under tz=$tz")
        assert(readMicros(s"$base/int96") == expectedMs, s"int96 encoding under tz=$tz")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("fromEvents on the driver's actual testdata emits TimestampType") {
    val df = TradeData.fromEvents(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(5).count() > 0)
    val raw = TradeData.rawEvents(spark, "/root/testdata/sf0.001")
    assert(raw.schema("ts").dataType == TimestampType)
  }
}
