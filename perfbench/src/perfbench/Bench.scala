package perfbench

import java.util.concurrent.{Executors, Future}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** One operation. `seconds` is the wall time from the operator call
  * until its sink completes (for a micro-batch: its trigger time);
  * checks are never inside it. `ok` is false when it threw.
  */
final case class OpRecord(pass: Int, name: String, seconds: Double, ok: Boolean)

/** What a workload's operations run against: the session, the current
  * pass, and whether that pass is traced and/or checked. Untraced
  * operations time only build + execute; traced ones add a `source`
  * scan per source frame and record each phase as a span. Planning is
  * not a phase of its own: it happens inside `execute`, and the traced
  * run reads its time from [[PlanProbe]].
  *
  * Checks run only on checked passes and never inside a timed region:
  * they are queued, and [[runChecks]] runs them concurrently once the
  * pass is over.
  */
final class Bench(val spark: SparkSession) {
  val tracer = new Tracer
  val stream = new StreamProbe
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Operations whose output failed a check, weighted by operations. */
  var failedChecks = 0
  /** Timed wall per pass: the sum of its operations (or stream drains). */
  val passWall = mutable.LinkedHashMap.empty[Int, Double]
  /** Workload-computed per-layer values (work counts), keyed by metric. */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  var pass = -1
  var traced = false
  var checking = false
  var passDir = ""

  // checks only; twice the cores, because a check spends much of its
  // time planning on its own thread, not in tasks
  private val pool = Executors.newFixedThreadPool(2 * Main.Cores)
  private val queued = mutable.ArrayBuffer.empty[() => Unit]

  spark.streams.addListener(stream)

  def fail(what: String): Unit = synchronized {
    failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }

  private def addWall(p: Int, secs: Double): Unit = passWall(p) = passWall.getOrElse(p, 0.0) + secs

  private def onPool(f: () => Unit): Future[_] = pool.submit(new Runnable { def run(): Unit = f() })

  /** Runs the queued checks concurrently and waits for them. */
  def runChecks(): Unit = {
    queued.map(onPool).foreach(_.get())
    queued.clear()
  }

  def close(): Unit = pool.shutdownNow()

  private def phase[T](name: String)(f: => T): T =
    if (traced) tracer(name, "phase", pass)(f) else f

  /** Traced passes time a noop scan of each source frame. */
  def source(df: DataFrame): DataFrame = {
    if (traced) tracer("source", "phase", pass)(noop(df))
    df
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Checks an output of `op` (on checked passes); each message is one
    * failed check, and a failure counts `weight` failed operations.
    * `done` runs afterwards either way.
    */
  private def check(op: String, weight: Int)(errors: => Seq[String])(done: => Unit): Unit =
    if (!checking) done
    else {
      def run(): Unit = {
        val errs =
          try errors
          catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
          finally done
        errs.foreach(m => fail(s"$op: $m"))
        if (errs.nonEmpty) synchronized(failedChecks += weight)
      }
      synchronized(queued += (() => run()))
    }

  /** A DataFrame operation: operator call, then the noop sink. */
  def op(name: String)(build: => DataFrame)(errors: DataFrame => Seq[String]): Unit = {
    def run(): Unit = {
      val t0 = System.nanoTime()
      var out: DataFrame = null
      val ok =
        try {
          out = phase("build")(build)
          phase("execute")(noop(out))
          true
        } catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      addWall(pass, secs)
      ops += OpRecord(pass, name, secs, ok)
      if (ok) check(name, 1)(errors(out))(())
    }
    if (traced) tracer(name, "operation", pass)(run())
    else run()
  }

  /** A streaming drain: build the twin, start its query (into a
    * memory sink named after the query), wait until
    * `Trigger.AvailableNow` has drained the source. Each micro-batch
    * is one operation, timed by its progress event; the drain's wall
    * time counts toward the pass. `errors` may read the sink's table,
    * which is dropped after the check.
    */
  def drain(name: String)(build: => DataFrame)(start: DataFrame => StreamingQuery)(
      errors: => Seq[String]): Unit = {
    stream.pass = pass
    def run(): Unit = {
      val t0 = System.nanoTime()
      var q: StreamingQuery = null
      val ok =
        try {
          val df = phase("build")(build)
          phase("execute") {
            q = start(df)
            q.awaitTermination()
          }
          true
        } catch {
          case e: Throwable =>
            fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
            false
        }
      addWall(pass, (System.nanoTime() - t0) / 1e9)
      if (q != null) stream.awaitTerminated(q.id)
      val batches = stream.synchronized(stream.batches.filter(b => q != null && b.query == q.name).toList)
      batches.zipWithIndex.foreach { case (b, i) =>
        val secs = b.durations.getOrElse("triggerExecution", 0L) / 1e3
        ops += OpRecord(pass, s"$name#$i", secs, ok)
        if (traced) tracer.add(Span(0, s"$name#$i", "batch", tracer.currentId, pass, b.timestampMs, 0L,
          b.timestampMs + (secs * 1000).toLong, (secs * 1e9).toLong))
      }
      if (!ok || batches.isEmpty) ops += OpRecord(pass, name, 0.0, ok = false)
      def drop(): Unit = if (q != null) spark.catalog.dropTempView(q.name)
      if (ok) check(name, batches.size)(errors)(drop()) else drop()
    }
    if (traced) tracer(name, "operation", pass)(run())
    else run()
  }

  /** Bytes under this pass's working directory: checkpoint tables and
    * streaming state written during the pass.
    */
  def passBytes(): Long = Bench.treeBytes(passDir)
}

object Bench {
  private def walk[T](path: String, empty: T)(f: java.util.stream.Stream[java.nio.file.Path] => T): T = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) empty
    else {
      val s = java.nio.file.Files.walk(root)
      try f(s)
      finally s.close()
    }
  }

  def treeBytes(path: String): Long =
    walk(path, 0L)(_.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum())

  def deleteTree(path: String): Unit =
    walk(path, ())(_.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p)))

  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
