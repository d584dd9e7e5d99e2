package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its result file (see perfbench/README.md).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE [--spans FILE]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = a("work")
    new java.io.File(work).mkdirs()

    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ops = new Ops(spark, tracer)
    val w: Workload = workload match {
      case "pipeline_queries" => new PipelineQueries(ops, a("data"))
      case "store_churn" => new StoreChurn(ops, a("data"), s"$work/store")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(f: => Any): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    // set-up: the fixture is built several times (median reported), then
    // one warm pass over the workload's own inputs, which is also the
    // correctness check (its digests are compared by the caller)
    val fixtureS = (1 to 3).map { _ => ops.drain(); timed(w.setup()) }
    var digests = Map.empty[String, String]
    val warmS = timed { digests = w.warm() }
    val setupS = sessionS + Stats.median(fixtureS) + warmS
    val warmAttempted = ops.attempted
    val warmFailures = ops.failures.toList
    ops.attempted = 0
    ops.failures.clear()

    // the warm pass's own op times (cold costs), before they are dropped
    val warmOps = tracer.spans.filter(s => s.unit < 0 && s.kind != "phase").toSeq
      .map(s => Json.obj("name" -> Json.str(s.name), "phase_s" -> Json.num(
        tracer.spans.filter(p => p.op == s.op && p.kind == "phase").map(_.secs).sum),
        "s" -> Json.num(s.secs)))

    // timed units: whole units until the time is up, and at least the
    // workload's minimum; with tracing on, traced and untraced units
    // alternate so the overhead is measured, and at least three run, so
    // the traced unit has an untraced one on each side
    tracer.reset()
    val rng = new Random(seed)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var s = 0L; gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime)); s }
    val oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val unitTraced = scala.collection.mutable.LinkedHashMap.empty[Int, Boolean]
    val unitGc = scala.collection.mutable.Map.empty[Int, Double]
    val unitFacts = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
    var heapPeakMb = 0.0
    // before each unit: frees what earlier ops left, twice, so that the
    // context cleaner drops the blocks and shuffle files of the frames the
    // first collection freed before the unit starts, not inside it
    def settle(): Unit = {
      ops.drain()
      System.gc()
      Thread.sleep(200)
      System.gc()
    }
    settle()
    val start = System.nanoTime()
    var u = 0
    val minUnits = if (trace) math.max(3, w.minUnits) else w.minUnits
    def more: Boolean = (System.nanoTime() - start) / 1e9 < seconds || u < minUnits
    while (u == 0 || more) {
      val traced = trace && u % 2 == 1
      unitTraced(u) = traced
      tracer.enabled = traced
      w.prepare(u)
      val g0 = gcMs
      tracer.span(s"unit$u", u, "unit", "unit")(_ => w.unit(u, rng))
      tracer.enabled = false
      unitGc(u) = (gcMs - g0) / 1000.0
      unitFacts(u) = w.unitFacts
      settle()
      oldGen.foreach(p => heapPeakMb = math.max(heapPeakMb, p.getUsage.getUsed / 1048576.0))
      u += 1
    }
    ops.record(w.finish())

    val failures = warmFailures ++ ops.failures
    val attempted = warmAttempted + ops.attempted
    val m = new Metrics(tracer, unitTraced.toMap, unitGc.toMap, unitFacts.toMap)
    val metrics = Map(
      "setup_s" -> setupS,
      "wall_s" -> m.wall,
      "op_gmean_s" -> m.opGmean,
      "op_p50_s" -> Stats.median(m.samples),
      "op_tail_s" -> m.tail,
      "heap_peak_mb" -> heapPeakMb) ++
      (if (trace) m.perLayer ++ w.runFacts else Map.empty)
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "seconds" -> seconds.toString,
      "attempted" -> attempted.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "digests" -> Json.obj(digests.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "units" -> u.toString,
      "requests_timed" -> m.samples.size.toString,
      "unit_s" -> m.unitWalls.map(Json.num).mkString("[", ",", "]"),
      "unit_requests_s" -> m.unitRequests.map(rs => rs.map { case (n, s) =>
        Json.obj("name" -> Json.str(n), "s" -> Json.num(s))
      }.mkString("[", ",", "]")).mkString("[", ",", "]"),
      "warm_ops" -> warmOps.mkString("[", ",", "]"),
      "setup" -> Json.obj("session_s" -> sessionS.toString,
        "fixture_s" -> fixtureS.mkString("[", ",", "]"), "warm_s" -> warmS.toString),
      "conf" -> Json.obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter(kv => kv._1.startsWith("spark.sql") || kv._1 == "spark.master")
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "graft_props" -> Json.obj(sys.props.toSeq.filter(_._1.startsWith("GRAFT_"))
        .sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "op_s" -> Json.obj(m.perOp.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "op_exec" -> Json.obj(m.perOpExec.toSeq.sortBy(_._1).map { case (op, xs) =>
        op -> Json.obj(xs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)
      }: _*),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*))
    Json.write(a("out"), out)
    a.get("spans").foreach(p => Json.write(p, m.spansJson))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def write(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, s + "\n")
  }
}
