package perfbench

/** Per-layer metrics of a traced run, measured from outside the
  * library: span times, [[SparkProbe]] job/stage/task totals
  * attributed to the span open when each job started, [[PlanProbe]]
  * planning times and plan node counts attributed to the span open
  * when planning started, [[StreamProbe]] progress, and work counts the workload
  * derived from its inputs and outputs. Every value is per traced
  * pass (the mean over traced passes) unless it is a ratio.
  */
object Layers {

  /** Per-layer metric names and units; a layer that does no work on a
    * workload reports 0.
    */
  val Units: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "sources.bytes_written_per_input_byte" -> "B/B",
    "operators.build_s" -> "s",
    "operators.build_jobs" -> "count",
    "plans.plan_s" -> "s",
    "plans.exchanges" -> "count",
    "plans.graft_nodes" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.core_busy" -> "ratio",
    "spark.shuffle_write_mb" -> "MiB",
    "spark.shuffle_read_mb" -> "MiB",
    "spark.spill_mb" -> "MiB",
    "spark.task_skew" -> "ratio",
    "functions.fracdiff_cpu_s" -> "s",
    "functions.fracdiff_dots" -> "count",
    "functions.ewm_cpu_s" -> "s",
    "streaming.batches" -> "count",
    "streaming.add_batch_s" -> "s",
    "streaming.commit_s" -> "s",
    "streaming.state_commit_s" -> "s",
    "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MiB",
    "streaming.late_rows" -> "count",
    "self.sources_s" -> "s",
    "self.operators_s" -> "s",
    "self.plans_s" -> "s",
    "self.spark_s" -> "s",
    "self.streaming_s" -> "s",
    "trace.overhead_s" -> "s",
  )

  private val MiB = 1024.0 * 1024.0

  /** A job's place in the trace: pass, operation and phase names. */
  private final case class Where(pass: Int, op: String, phase: String)

  def apply(b: Bench, probe: SparkProbe, planProbe: PlanProbe, truth: Truth,
      passBytes: Map[Int, Long]): Seq[(String, Double, String)] = {
    val tr = b.tracer
    val tracedPasses = tr.spans.filter(_.kind == "pass").map(_.pass).toSeq
    def where(timeMs: Long): Option[Where] = tr.openAt(timeMs).map { s =>
      val chain = tr.ancestors(s)
      Where(s.pass, chain.find(_.kind == "operation").fold("")(_.name), chain.find(_.kind == "phase").fold("")(_.name))
    }
    val jobs = probe.synchronized(probe.jobTime.toSeq).flatMap { case (id, t) => where(t).map(id -> _) }.toMap
    val stages = probe.synchronized(probe.stages.toSeq).flatMap { case (sid, st) =>
      probe.stageJob.get(sid).flatMap(jobs.get).map(w => (w, st))
    }
    val engine = Set("build", "execute")
    // queries planned inside a DataFrame operation (micro-batches report
    // their planning in their own progress events)
    val drains = b.ops.filter(_.name.contains('#')).map(_.name.takeWhile(_ != '#')).toSet
    val plans = planProbe.synchronized(planProbe.queries.toSeq).flatMap { q =>
      where(q.startMs).filter(w => engine(w.phase) && !drains(w.op)).map(_ -> q)
    }

    def perPass(p: Int): Map[String, Double] = {
      val spans = tr.spans.filter(s => s.pass == p)
      def phaseSecs(name: String) = spans.filter(s => s.kind == "phase" && s.name == name).map(_.seconds).sum
      val pj = jobs.values.filter(w => w.pass == p && engine(w.phase))
      val ps = stages.filter { case (w, _) => w.pass == p && engine(w.phase) }.map(_._2)
      def cpu(op: String) =
        stages.filter { case (w, _) => w.pass == p && w.op == op }.map(_._2.cpuNs).sum / 1e9
      val runS = ps.map(_.runMs).sum / 1e3
      val executeS = phaseSecs("execute")
      val longest = ps.filter(_.durations.nonEmpty).maxByOption(st => st.doneMs - st.submitMs)
      val skew = longest.fold(0.0) { st =>
        val d = st.durations.sorted
        d.last / math.max(1.0, Bench.median(d.map(_.toDouble).toSeq))
      }
      val batches = b.stream.synchronized(b.stream.batches.filter(_.pass == p).toList)
      val lastPerQuery = batches.groupBy(_.query).values.map(_.maxBy(_.timestampMs))
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      val pq = plans.filter(_._1.pass == p)
      def planSecs(phase: String) = pq.filter(_._1.phase == phase).map(_._2.planMs).sum / 1e3
      val streamingS = dur("triggerExecution")
      Map(
        "sources.scan_s" -> phaseSecs("source"),
        "sources.bytes_written_per_input_byte" -> passBytes.getOrElse(p, 0L).toDouble / truth.long("input_bytes"),
        "operators.build_s" -> phaseSecs("build"),
        "operators.build_jobs" -> pj.count(_.phase == "build").toDouble,
        "plans.plan_s" -> (planSecs("build") + planSecs("execute")),
        "plans.exchanges" -> pq.map(_._2.exchanges).sum.toDouble,
        "plans.graft_nodes" -> pq.map(_._2.graftNodes).sum.toDouble,
        "spark.jobs" -> pj.size.toDouble,
        "spark.stages" -> ps.size.toDouble,
        "spark.tasks" -> ps.map(_.tasks).sum.toDouble,
        "spark.task_run_s" -> runS,
        "spark.task_cpu_s" -> ps.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> ps.map(_.gcMs).sum / 1e3,
        "spark.core_busy" -> (if (executeS > 0) runS / (executeS * Main.Cores) else 0.0),
        "spark.shuffle_write_mb" -> ps.map(_.shuffleWrite).sum / MiB,
        "spark.shuffle_read_mb" -> ps.map(_.shuffleRead).sum / MiB,
        "spark.spill_mb" -> ps.map(_.spill).sum / MiB,
        "spark.task_skew" -> skew,
        "functions.fracdiff_cpu_s" -> cpu("frac_diff"),
        "functions.ewm_cpu_s" -> cpu("daily_vol"),
        "streaming.batches" -> batches.size.toDouble,
        "streaming.add_batch_s" -> dur("addBatch"),
        "streaming.commit_s" -> (dur("commitOffsets") + dur("walCommit")),
        "streaming.state_commit_s" -> batches.map(_.stateCommitMs).sum / 1e3,
        "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
        "streaming.state_mb" -> lastPerQuery.map(_.stateBytes).sum / MiB,
        "streaming.late_rows" -> batches.map(_.lateRows).sum.toDouble,
        "self.sources_s" -> phaseSecs("source"),
        "self.operators_s" -> (phaseSecs("build") - planSecs("build")),
        "self.plans_s" -> (planSecs("build") + planSecs("execute")),
        "self.spark_s" -> (executeS - planSecs("execute") - streamingS),
        "self.streaming_s" -> streamingS,
      )
    }

    val per = tracedPasses.map(perPass)
    def mean(k: String) = per.map(_(k)).sum / math.max(1, per.size)
    val walls = b.passWall.filter(_._1 >= 0)
    val traced = walls.filter { case (p, _) => tracedPasses.contains(p) }.values.toSeq
    // pass 0 runs first after the warm-up and is the slowest untraced
    // pass; it is left out of the comparison
    val untraced = walls.filter { case (p, _) => p > 0 && !tracedPasses.contains(p) }.values.toSeq
    val overhead = Bench.median(traced) - Bench.median(untraced)
    System.err.println(f"[perfbench] tracing overhead $overhead%.3f s per pass " +
      f"(traced median ${Bench.median(traced)}%.3f s over ${traced.size}, untraced ${Bench.median(untraced)}%.3f s over ${untraced.size})")
    Units.map { case (k, unit) =>
      val v =
        if (k == "trace.overhead_s") overhead
        else if (per.nonEmpty && per.head.contains(k)) mean(k)
        else b.facts.getOrElse(k, 0.0)
      (k, v, unit)
    }
  }
}
