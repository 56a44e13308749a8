package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{GraftSession, SparkEntry}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One v1/v2 tier: the predicate `l_extendedprice > threshold` and the
  * five aggregates DuckDB computed for it over the 10x copy.
  */
final case class Tier(name: String, threshold: Double, sum: Option[Double], avg: Option[Double],
    min: Option[Double], max: Option[Double], count: Long)

/** The run's settings, written by run.py. */
final class Config(n: JsonNode) {
  private def s(k: String) = n.get(k).asText()
  val workload: String = s("workload")
  val seed: Long = n.get("seed").asLong()
  val seconds: Double = n.get("seconds").asDouble()
  val trace: Boolean = n.get("trace").asBoolean()
  val fixture: String = s("fixture")
  val work: String = s("work")
  val result: String = s("result")
  val spans: String = s("spans")
  private val goldenDir = s("golden")
  private def opt(x: JsonNode) = if (x == null || x.isNull) None else Some(x.asDouble())
  val tiers: Seq[Tier] = n.get("tiers").elements().asScala.map { t =>
    Tier(t.get("name").asText(), t.get("threshold").asDouble(), opt(t.get("sum")), opt(t.get("avg")),
      opt(t.get("min")), opt(t.get("max")), t.get("count").asLong())
  }.toSeq
  private val goldens = mutable.Map.empty[String, JsonNode]
  def golden(name: String): JsonNode =
    goldens.getOrElseUpdate(name, Check.load(s"$goldenDir/$name.json"))
}

/** Metric name -> (value, unit), in insertion order. A value that is not
  * finite means a measurement went wrong, so it fails the run.
  */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = {
    require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
    values(name) = (v, unit)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

object Files {
  /** (bytes, files) under `dir`, checksum sidecars excluded. */
  def usage(dir: String): (Long, Long) = {
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val files = fs.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc")).toSeq
      (files.map(java.nio.file.Files.size).sum, files.size.toLong)
    } finally fs.close()
  }
}

/** Entry point. `Main <config.json>` runs one workload and writes its
  * result; `Main oracle <out.json>` writes the DuckDB oracle SQL graft
  * ships for every catalog query the workloads run.
  */
object Main {
  /** Spark runs as `local[Cores]`. */
  val Cores = 4

  def main(args: Array[String]): Unit =
    if (args(0) == "oracle") {
      val sql = SparkEntry.oracleSql
      val out = Check.mapper.createObjectNode()
      (Scan.queries ++ Pipeline.ops).foreach(q => out.put(q, sql(q)))
      Check.mapper.writeValue(new java.io.File(args(1)), out)
    } else {
      // exit explicitly: a failed run must not linger on Spark's threads
      val ok = try { run(new Config(Check.load(args(0)))); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      sys.exit(if (ok) 0 else 1)
    }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def procStatus(key: String): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (busy jiffies, total jiffies, cpus) of the whole host. */
  private def hostJiffies(): (Long, Long, Int) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).asScala
    val f = lines.head.trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f.sum - f(3) - f(4), f.sum, lines.count(_.matches("cpu\\d+ .*")))
  }

  def run(cfg: Config): Unit = {
    def now = System.nanoTime()
    val t0 = now
    val spark = GraftSession.build("perfbench", cores = Cores, extraConf = Map(
      "spark.local.dir" -> s"${cfg.work}/spark-local",
      "spark.sql.warehouse.dir" -> s"${cfg.work}/warehouse"))
    val startS = (now - t0) / 1e9
    val rec = new Recorder(spark)
    val ctx = new Ctx(spark, cfg, rec)

    val s0 = now
    val wl: Workload = cfg.workload match {
      case "scan" => new Scan(ctx)
      case "pipeline" => new Pipeline(ctx)
      case "index_serve" => new IndexServe(ctx)
    }
    val initS = (now - s0) / 1e9
    val stageS = { val t = now; wl.stage(); (now - t) / 1e9 }
    val w0 = now
    wl.pass(-1) // untimed warm pass, the same code path: JIT, codegen and footer caches fill here
    val warmS = (now - w0) / 1e9
    val setupS = startS + initS + stageS + warmS

    val telemetry = if (cfg.trace) Some(new graft.metrics.Telemetry().start()) else None
    val (b0, j0, ncpu) = hostJiffies()
    val c0 = osBean.getProcessCpuTime
    val passWall = mutable.LinkedHashMap.empty[Int, (Double, Boolean)]
    val m0 = now
    var p = 0
    // a traced run alternates untraced and traced passes and starts and
    // ends untraced, so tracing cost and leftover warm-up can be told apart
    val minPasses = if (cfg.trace) 3 else 1
    while (p < minPasses || (now - m0) / 1e9 < cfg.seconds - wl.afterPassesS ||
        (cfg.trace && p % 2 == 0)) {
      val traced = cfg.trace && p % 2 == 1
      rec.trace(traced)
      val t = now
      wl.pass(p)
      passWall(p) = ((now - t) / 1e9, traced)
      if (traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      p += 1
    }
    rec.trace(cfg.trace)
    wl.afterPasses()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    rec.trace(false)
    val (b1, j1, _) = hostJiffies()
    val otherCores = math.max(0.0, (b1 - b0).toDouble / math.max(1L, j1 - j0) * ncpu -
      (osBean.getProcessCpuTime - c0) / 1e9 / ((now - m0) / 1e9))

    val timed = rec.ops.filter(_.pass >= 0).toSeq
    val (serveAtt, serveFail) = wl match {
      case w: IndexServe => (w.serveAttempted, w.serveFailed)
      case _ => (0, 0)
    }
    val attempted = timed.size + serveAtt
    val failed = timed.count(!_.ok) + serveFail
    val untraced = passWall.filter(!_._2._2)
    val tracedPasses = passWall.filter(_._2._2).keys.toSeq
    val reads = timed.filter(o => Set("query", "probe", "pipeline")(o.group))

    val m = new Metrics
    val lat = reads.filter(o => untraced.contains(o.pass)).map(_.wallS)
    if (!cfg.trace) {
      m.put("setup_s", setupS, "s")
      m.put("pass_s", Stats.median(untraced.values.map(_._1).toSeq), "s")
      m.put("peak_rss_mb", procStatus("VmHWM"), "MB")
    } else {
      Layers.declare(m, ctx)
      m.put("query_p50_s", Stats.percentile(lat, 50), "s")
      m.put("query_p90_s", Stats.percentile(lat, 90), "s")
      m.put("session.start_s", startS, "s")
      m.put("session.stage_s", initS + stageS, "s")
      m.put("session.warm_s", warmS, "s")
      sparkLayers(m, rec, tracedPasses, passWall.toMap)
      wl.layers(m, tracedPasses)
      m.put("failed_frac", failed.toDouble / math.max(1, attempted), "ratio")
      m.put("trace.overhead_frac", Stats.median(tracedPasses.map(passWall(_)._1)) /
        Stats.median(untraced.values.map(_._1).toSeq) - 1.0, "ratio")
      telemetry.foreach { t =>
        t.stop()
        m.put("host.steal_pct", t.summary._3, "%")
        m.put("host.spin_mops", t.spinSummary._1, "Mop/s")
      }
      m.put("host.other_cores", otherCores, "cores")
      val texts = GraftSession.table(spark, cfg.fixture, "documents").select("text").collect().map(_.getString(0))
      val vecs = GraftSession.table(spark, cfg.fixture, "embeddings").select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      Kernels.rowsPerSecond(texts, vecs, 0.25).foreach { case (k, v) =>
        m.put(s"functions.kernel.${k}_rows_s", v, "1/s")
      }
      rec.writeSpans(cfg.spans)
    }

    val out = Check.mapper.createObjectNode()
    out.put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    val mo = out.putObject("metrics")
    m.values.foreach { case (k, (v, u)) => mo.putObject(k).put("value", v).put("unit", u) }
    val info = out.putObject("info")
    info.put("passes", passWall.size).put("ops", timed.size)
    if (untraced.size >= 2) {
      // leftover warm-up: how much faster the last untraced pass ran than the first
      val u = untraced.values.map(_._1).toSeq
      info.put("untraced_drift_frac", f"${u.last / u.head - 1.0}%.4f")
    }
    passWall.foreach { case (i, (w, tr)) => info.put(s"pass_$i", f"$w%.3f${if (tr) " traced" else ""}") }
    timed.filter(!_.ok).take(20).foreach(o => info.put(s"failed_${o.id}", s"${o.name}: ${o.detail}"))
    spark.stop()
    Check.mapper.writeValue(new java.io.File(cfg.result), out)
  }

  /** Spark scheduler/executor layers, per traced pass, then the median. */
  private def sparkLayers(m: Metrics, rec: Recorder, traced: Seq[Int],
      wall: Map[Int, (Double, Boolean)]): Unit = {
    def med(f: Int => Double): Double = Stats.median(traced.map(f))
    val byPass = traced.map(p => p -> rec.ops.filter(_.pass == p).toSeq).toMap
    val sums = byPass.map { case (p, os) => p -> rec.sum(os.map(_.id)) }
    m.put("spark.plan.analysis_ms", med(sums(_).analysisMs.toDouble), "ms")
    m.put("spark.plan.optimizer_ms", med(sums(_).optimizerMs.toDouble), "ms")
    m.put("spark.plan.physical_ms", med(sums(_).physicalMs.toDouble), "ms")
    m.put("spark.sched.jobs", med(sums(_).jobs.toDouble), "count")
    m.put("spark.sched.stages", med(sums(_).stages.toDouble), "count")
    m.put("spark.sched.tasks", med(sums(_).tasks.toDouble), "count")
    m.put("spark.sched.stage_busy_s", med(p => Recorder.unionS(sums(p).stageSpans)), "s")
    // driver gap: each op's wall minus the part of it some stage covers
    def gap(p: Int) = byPass(p).map { o =>
      o.wallS - Recorder.coveredS(rec.stats.get(o.id).map(_.stageSpans).getOrElse(Nil), o.startMs, o.endMs)
    }.sum
    m.put("spark.sched.driver_gap_s", med(gap), "s")
    m.put("spark.exec.task_run_s", med(sums(_).taskRunMs / 1e3), "s")
    m.put("spark.exec.task_cpu_s", med(sums(_).taskCpuNs / 1e9), "s")
    m.put("spark.exec.gc_s", med(sums(_).gcMs / 1e3), "s")
    m.put("spark.exec.shuffle_write_mb", med(sums(_).shuffleWrite / 1e6), "MB")
    m.put("spark.exec.shuffle_read_mb", med(sums(_).shuffleRead / 1e6), "MB")
    m.put("spark.exec.spill_mb", med(sums(_).spill / 1e6), "MB")
    m.put("spark.exec.core_util", med(p => sums(p).taskRunMs / 1e3 / (wall(p)._1 * Cores)), "ratio")
    // self times per span level: op (driver outside jobs and planning),
    // planning, job (inside a job but outside its stages), stage
    def selfs(p: Int): (Double, Double, Double, Double) = {
      val os = byPass(p)
      var op, plan, job, stage = 0.0
      os.foreach { o =>
        val st = rec.stats.get(o.id)
        val jobs = st.map(_.jobSpans.toSeq).getOrElse(Nil)
        val stages = st.map(_.stageSpans.toSeq).getOrElse(Nil)
        val plans = rec.spans.filter(s => s.kind == "planning" && s.op == o.id).map(s => (s.startMs, s.endMs)).toSeq
        val cj = Recorder.coveredS(jobs, o.startMs, o.endMs)
        val cs = Recorder.coveredS(stages, o.startMs, o.endMs)
        val cjp = Recorder.coveredS(jobs ++ plans, o.startMs, o.endMs)
        op += o.wallS - cjp
        plan += cjp - cj
        job += math.max(0.0, cj - cs)
        stage += cs
      }
      (op, plan, job, stage)
    }
    m.put("trace.self.op_s", med(selfs(_)._1), "s")
    m.put("trace.self.plan_s", med(selfs(_)._2), "s")
    m.put("trace.self.job_s", med(selfs(_)._3), "s")
    m.put("trace.self.stage_s", med(selfs(_)._4), "s")
  }
}

/** Every per-layer metric, declared at zero so each traced run reports the
  * same names; a layer a workload does not exercise reads 0 there.
  */
object Layers {
  def declare(m: Metrics, ctx: Ctx): Unit = {
    val tiers = ctx.cfg.tiers.flatMap(t => Seq(s"v1_${t.name}", s"v2_${t.name}"))
    (Scan.queries ++ tiers).foreach(q => m.put(s"queries.op.${q}_s", 0, "s"))
    Pipeline.ops.foreach(o => m.put(s"operators.op.${o}_s", 0, "s"))
    IndexServe.steps.foreach(s => m.put(s"sources.layouts.${s}_s", 0, "s"))
    Seq("index_mb" -> "MB", "files_written" -> "count", "bytes_written_mb" -> "MB", "write_amp" -> "ratio")
      .foreach { case (n, u) => m.put(s"sources.layouts.$n", 0, u) }
    Seq("query_p50_s" -> "s", "query_p90_s" -> "s", "lifecycle_s" -> "s", "space_amp" -> "ratio", "serve_p50_s" -> "s",
      "serve_p75_s" -> "s").foreach { case (n, u) => m.put(n, 0, u) }
    Seq("bm25_topk_s" -> "s", "ivf_topk_s" -> "s", "records_read" -> "count")
      .foreach { case (n, u) => m.put(s"operators.probe.$n", 0, u) }
    Seq("triggers" -> "count", "start_s" -> "s",
      "queue_s" -> "s", "latest_offset_ms" -> "ms", "get_batch_ms" -> "ms", "query_planning_ms" -> "ms",
      "add_batch_ms" -> "ms", "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms", "gen_lag_max_s" -> "s")
      .foreach { case (n, u) => m.put(s"streaming.$n", 0, u) }
    Seq("spark.scan.records_read" -> "count", "spark.scan.rowgroups_kept_frac" -> "ratio",
      "metrics.planner.plan_ms" -> "ms", "metrics.planner.planned_mb" -> "MB",
      "metrics.planner.selectivity" -> "ratio", "metrics.ranged.read_ms" -> "ms",
      "metrics.ranged.ranges" -> "count", "metrics.ranged.read_mb" -> "MB", "metrics.ranged.gbps" -> "GB/s")
      .foreach { case (n, u) => m.put(n, 0, u) }
  }
}
