package perfbench

/** End-to-end figures come from the untraced units, per-layer figures
  * from the traced ones. A per-layer value is a per-unit sum (one unit
  * is one read-path pass or one store cycle), reported
  * as the median over units; store face times are medians per call.
  */
final class Metrics(t: Tracer, traced: Map[Int, Boolean],
    unitGc: Map[Int, Double], unitFacts: Map[Int, Map[String, Double]]) {
  import Stats.median

  private val opKinds = Set("query", "pipeline", "sink", "store")
  private val units = t.spans.filter(_.kind == "unit")
  private val ops = t.spans.filter(s => opKinds(s.kind) && s.unit >= 0)
  private val phases = t.spans.filter(_.kind == "phase")
  private def untraced(s: Span) = !traced.getOrElse(s.unit, false)

  /** Requests: the latencies a user waits for. A query, a store face
    * call, or a whole pipeline run (its construct and sinks are ops
    * inside it, for the per-layer figures).
    */
  private val requests = t.spans.filter(s =>
    (s.kind == "query" || s.kind == "store" || s.kind == "request") && s.unit >= 0)
  val samples: Seq[Double] = requests.filter(untraced).map(_.secs).toSeq
  def unitWalls: Seq[Double] = units.filter(untraced).map(_.secs).toSeq

  /** Each untraced unit's requests in run order, with their times. */
  def unitRequests: Seq[Seq[(String, Double)]] =
    requests.filter(untraced).toSeq.sortBy(_.start).groupBy(_.unit).toSeq.sortBy(_._1)
      .map(_._2.map(s => s.name -> s.secs))
  def wall: Double = median(unitWalls)

  /** Geometric mean of the request latencies. A unit's 10 or 11
    * requests fall into latency clusters, so their median jumps between
    * clusters from run to run; the geometric mean moves smoothly with
    * every request.
    */
  def opGmean: Double =
    if (samples.isEmpty) 0.0 else math.exp(samples.map(math.log).sum / samples.size)

  /** The slowest request, as its median over the run's calls. With 10
    * or 11 requests per unit no percentile below the maximum has ten
    * samples beyond it; a unit's maximum jumps between requests of
    * similar latency, while each request's median over units does not.
    */
  def tail: Double = {
    val byName = requests.filter(untraced).toSeq.groupBy(_.name).values
    if (byName.isEmpty) 0.0 else byName.map(rs => median(rs.map(_.secs))).max
  }

  /** Median untraced time of each op and request, by name. */
  def perOp: Map[String, Double] = (ops ++ requests).filter(untraced).toSeq.distinct
    .groupBy(_.name).map { case (n, os) => n -> median(os.map(_.secs)) }

  private val opById = ops.map(o => o.op -> o).toMap
  private val jobsOf: Map[String, Seq[JobRec]] =
    t.jobs.values.toSeq.filter(j => opById.contains(j.group)).groupBy(_.group)
  private val stageOp: Map[Int, String] =
    t.jobs.values.toSeq.reverse.flatMap(j => j.stages.map(_ -> j.group)).toMap
  private val tasksOf: Map[String, Seq[TaskRec]] =
    t.tasks.toSeq.flatMap(k => stageOp.get(k.stage).map(_ -> k)).groupMap(_._1)(_._2)

  private def jobEnd(j: JobRec, o: Span): Double = if (j.end < 0) o.end else j.end.toDouble

  /** Op time not covered by any of its jobs: driver-side work. */
  private def gap(o: Span): Double = {
    val iv = jobsOf.getOrElse(o.op, Nil)
      .map(j => (math.max(j.start.toDouble, o.start), math.min(jobEnd(j, o), o.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered, hi = 0.0
    var lo = Double.NaN
    iv.foreach { case (s, e) =>
      if (lo.isNaN || s > hi) { if (!lo.isNaN) covered += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (!lo.isNaN) covered += hi - lo
    math.max(0.0, (o.end - o.start - covered) / 1000.0)
  }

  private val phasesOf: Map[String, Seq[Span]] = phases.toSeq.groupBy(_.op)

  /** The exec.* figures of a set of ops. Exec time is a query or
    * sink's exec phase, or a whole store face call.
    */
  private def execOf(os: Seq[Span]): Map[String, Double] = {
    val js = os.flatMap(o => jobsOf.getOrElse(o.op, Nil))
    val ts = os.flatMap(o => tasksOf.getOrElse(o.op, Nil))
    val execS = os.map(o => if (o.kind == "store") o.secs else
      phasesOf.getOrElse(o.op, Nil).filter(_.name == "exec").map(_.secs).sum).sum
    val skew = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble)
      d.max / math.max(1.0, median(d))
    }
    Map(
      "exec.exec_s" -> execS,
      "exec.jobs" -> js.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.empty_task_frac" -> (if (ts.isEmpty) 0.0 else ts.count(_.empty).toDouble / ts.size),
      "exec.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1000.0,
      "exec.driver_gap_s" -> os.map(gap).sum,
      "exec.task_busy_s" -> ts.map(_.runMs).sum / 1000.0,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "exec.task_skew" -> (if (skew.isEmpty) 0.0 else skew.max),
      "exec.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "exec.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble)
  }

  private def perUnit(u: Int): Map[String, Double] = {
    val os = ops.filter(_.unit == u).toSeq
    val ph = phases.filter(_.unit == u).toSeq
    val js = os.flatMap(o => jobsOf.getOrElse(o.op, Nil))
    val construct = ph.filter(p => p.name == "construct" && opById.get(p.op).exists(_.kind == "query"))
    val constructJobs = js.count(j => construct.exists(p =>
      p.op == j.group && j.start >= p.start && j.start <= p.end))
    val cuts = js.filter(_.site.contains("graft.ops.Checkpoints"))
    def sink(p: String => Boolean) = os.filter(o => o.kind == "sink" && p(o.name)).map(_.secs).sum
    execOf(os) ++ Map(
      "queries.construct_s" -> construct.map(_.secs).sum,
      "queries.construct_jobs" -> constructJobs.toDouble,
      "plan.plan_s" -> ph.filter(_.name == "plan").map(_.secs).sum,
      "checkpoint.cut_jobs" -> cuts.size.toDouble,
      "checkpoint.cut_s" -> cuts.map(j => (j.end - j.start) / 1000.0).filter(_ > 0).sum,
      "pipeline.construct_s" -> os.filter(_.kind == "pipeline").map(_.secs).sum,
      "pipeline.sink.tab_s" -> sink(_.startsWith("tab_")),
      "jvm.gc_s" -> unitGc.getOrElse(u, 0.0)) ++
      Seq("findings", "sra_wide", "sra_constancy", "ssm", "subject_consent",
        "sample_attributes", "dcf_index", "cds")
        .map(n => s"pipeline.sink.${n}_s" -> sink(_ == n)) ++
      unitFacts.getOrElse(u, Map.empty)
  }

  private val faces = Seq("commit_append", "commit_upsert", "commit_delete_dv",
    "compact_small", "read_latest", "read_pruned", "count_pruned", "history")

  /** The exec.* figures of each op (query, pipeline construct, sink,
    * store face) over the traced units, median over its calls.
    */
  def perOpExec: Map[String, Map[String, Double]] =
    ops.filter(o => traced.getOrElse(o.unit, false)).toSeq.groupBy(_.name).map {
      case (n, calls) =>
        val rows = calls.map(o => execOf(Seq(o)))
        n -> rows.head.keys.map(k => k -> median(rows.map(_(k)))).toMap
    }

  def perLayer: Map[String, Double] = {
    val tu = traced.filter(_._2).keys.toSeq.sorted
    val rows = tu.map(perUnit)
    val keys = rows.flatMap(_.keys).distinct
    val tracedOps = ops.filter(o => traced.getOrElse(o.unit, false)).toSeq
    val commits = tracedOps.filter(o => o.kind == "store" &&
      (o.name.startsWith("commit") || o.name.startsWith("compact")))
    val tracedWall = median(units.filter(s => traced.getOrElse(s.unit, false)).map(_.secs).toSeq)
    keys.map(k => k -> median(rows.map(_.getOrElse(k, 0.0)))).toMap ++
      faces.map(f => s"store.${f}_s" -> median(tracedOps.filter(o =>
        o.kind == "store" && o.name == f).map(_.secs))) ++
      Map(
        "store.jobs_per_commit" -> (if (commits.isEmpty) 0.0 else
          commits.map(o => jobsOf.getOrElse(o.op, Nil).size).sum.toDouble / commits.size),
        "trace.overhead_frac" -> (if (wall > 0) tracedWall / wall - 1.0 else 0.0))
  }

  /** Every recorded span plus each job as a child of its op's span. */
  def spansJson: String = {
    val ss = t.spans.toSeq.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> Json.str(s.op), "unit" -> s.unit.toString, "name" -> Json.str(s.name),
        "kind" -> Json.str(s.kind), "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end))
    }
    val js = t.jobs.values.toSeq.flatMap { j =>
      opById.get(j.group).map { o =>
        Json.obj("job" -> j.id.toString, "parent" -> o.id.toString,
          "op" -> Json.str(j.group), "start_ms" -> j.start.toString,
          "end_ms" -> j.end.toString, "site" -> Json.str(j.site.linesIterator.take(1).mkString))
      }
    }
    Json.obj("spans" -> ss.mkString("[\n", ",\n", "]"), "jobs" -> js.mkString("[\n", ",\n", "]"))
  }
}
