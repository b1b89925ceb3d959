package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark program. `run.py` builds the classpath, generates the
  * inputs, and runs this once per measurement:
  *
  * {{{
  * perfbench.Main --workload NAME --data DIR --work DIR --seconds S
  *                --trace 0|1 --result FILE --spans FILE
  * }}}
  *
  * It sets up once (SparkSession plus an untimed warm-up pass on the
  * small `warm/` inputs), then runs timed passes until `--seconds` of
  * timed wall and [[MinOps]] operations have gone by, and writes the
  * result JSON to `--result`.
  * With `--trace 1` every other pass is traced and the per-layer
  * metrics are reported instead of the end-to-end ones.
  */
object Main {
  /** Spark runs `local[Cores]`. */
  val Cores = 4
  val MinOps = 25

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(args("workload"))
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val truth = new Truth(data)

    // setup: from JVM process start to the first timed operation
    val procStartMs = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val b = new Bench(session(work))
    System.err.println(f"[perfbench] session ready after ${(System.currentTimeMillis() - procStartMs) / 1e3}%.3f s")
    b.passDir = s"$work/warm"
    b.spark.conf.set("spark.graft.checkpointDir", s"${b.passDir}/ckpt")
    workload.pass(b, s"$data/warm", new Truth(s"$data/warm"))
    Bench.deleteTree(b.passDir)
    val setupS = (System.currentTimeMillis() - procStartMs) / 1e3
    System.err.println(f"[perfbench] setup $setupS%.3f s")
    val spark = b.spark
    val probe = if (trace) Some(new SparkProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val plans = if (trace) Some(new PlanProbe) else None
    plans.foreach(spark.listenerManager.register)

    // at least MinOps timed operations, so that op_tail_s (10 operations
    // beyond it) sits well above the median, and the same count per
    // workload from run to run
    val minPasses = if (trace) 3 else 2
    def enough(p: Int) = p >= minPasses && b.ops.count(_.pass >= 0) >= MinOps &&
      b.passWall.filter(_._1 >= 0).values.sum >= seconds
    val passBytes = mutable.LinkedHashMap.empty[Int, Long]
    var p = 0
    while (!enough(p)) {
      val c0 = System.nanoTime()
      b.pass = p
      b.traced = trace && p % 2 == 1
      b.checking = p == 0
      b.passDir = s"$work/pass-$p"
      spark.conf.set("spark.graft.checkpointDir", s"${b.passDir}/ckpt")
      if (b.traced) b.tracer(s"pass-$p", "pass", p)(workload.pass(b, data, truth))
      else workload.pass(b, data, truth)
      b.runChecks()
      passBytes(p) = b.passBytes()
      System.err.println(f"[perfbench] pass $p%d ${b.passWall(p)}%.3f s timed, ${(System.nanoTime() - c0) / 1e9}%.3f s clock: " +
        b.ops.filter(_.pass == p).map(o => f"${o.name} ${o.seconds}%.2f").mkString(", "))
      Bench.deleteTree(b.passDir)
      p += 1
    }
    probe.foreach(_.drain(spark))

    val timed = b.ops.filter(_.pass >= 0)
    val metrics: Seq[(String, Double, String)] =
      if (trace) Layers(b, probe.get, plans.get, truth, passBytes.toMap)
      else {
        val walls = b.passWall.filter(_._1 >= 0).values.toSeq
        val lat = timed.map(_.seconds).sorted
        // the highest percentile with at least 10 operations beyond it
        val tailIdx = math.max(0, lat.size - 11)
        System.err.println(
          f"[perfbench] op_tail_s is p${100.0 * (tailIdx + 1) / lat.size}%.1f of ${lat.size} operations;" +
            f" passes ${walls.size}")
        Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", workload.rows(truth) / Bench.median(walls), "rows/s"),
          ("op_p50_s", Bench.median(lat), "s"),
          ("op_tail_s", lat(tailIdx), "s"),
          ("peak_rss_mb", peakRssMb(), "MiB"),
        )
      }
    if (trace) b.tracer.write(args("spans"))

    val attempted = b.ops.size
    val failed = b.ops.count(!_.ok) + b.failedChecks
    System.err.println(f"[perfbench] fail_ratio ${failed.toDouble / math.max(1, attempted)}%.4f " +
      s"($failed of $attempted operations, warm-up included)")
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    val json = s"""{"correct": ${failed == 0 && b.failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(args("result")), (json + "\n").getBytes("UTF-8"))
    b.close()
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident memory of this JVM (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}
