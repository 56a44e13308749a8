package perfbench

import graft.SparkEntry
import graft.metrics.{BytePlanner, RangedReader}
import graft.operators.ParquetQuery
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** What one workload does. `stage` is the set-up work timed as
  * `session.stage_s`; `pass` runs the workload's fixed op list once, in
  * the order the seed gives. Pass -1 is the untimed warm pass.
  */
trait Workload {
  def stage(): Unit
  def pass(p: Int): Unit
  /** Runs once after the measured passes, inside the measured window. */
  def afterPasses(): Unit = ()
  /** Seconds of the measured window `afterPasses` needs. */
  def afterPassesS: Double = 0.0
  /** Workload-specific per-layer metrics from the traced passes. */
  def layers(m: Metrics, tracedPasses: Seq[Int]): Unit = ()
}

/** Shared by the workloads: the run's settings and the correctness gate
  * for catalog queries.
  */
final class Ctx(val spark: SparkSession, val cfg: Config, val rec: Recorder) {
  val rng = new scala.util.Random(cfg.seed)
  def shuffled[A](xs: Seq[A], p: Int): Seq[A] = new scala.util.Random(cfg.seed * 1000003L + p).shuffle(xs)

  /** Run the ops one after another, in the order the seed gives pass `p`. */
  def runAll(ops: Seq[() => Any], p: Int): Unit = shuffled(ops, p).foreach(_.apply())

  /** Run a catalog query, collect every row and column, compare with its
    * DuckDB reference.
    */
  def catalogOp(name: String, group: String, p: Int): OpRun = rec.op(name, group, p) {
    val df = SparkEntry.queries(name)(spark, cfg.fixture)
    val rows = df.collect()
    Check.compare(df.schema, rows, cfg.golden(name))
  }

  def perOpMedians(m: Metrics, prefix: String, names: Seq[String], group: String): Unit =
    names.foreach { n =>
      m.put(s"$prefix.$n" + "_s", Stats.median(rec.ops.filter(o => o.pass >= 0 && o.name == n && o.group == group).map(_.wallS).toSeq), "s")
    }
}

/** `scan`: the paper's own path. Per pass, the 17 reference-parity
  * queries, then one v1 tier query (`ParquetQuery` filter + five
  * aggregates) and one v2 tier op (`BytePlanner.plan` + `RangedReader.run`)
  * per tier, over a sorted 10x copy of lineitem in 16 files.
  */
final class Scan(c: Ctx) extends Workload {
  import c._
  import Scan.queries
  private var staged = ""
  private val planStats = mutable.Map.empty[Int, (Double, Double, BytePlanner.Plan, RangedReader.Report)]
  private val Col = "l_extendedprice"
  private val BlockBytes = 64 * 1024 // parquet block size of the copy

  def stage(): Unit = {
    staged = s"${cfg.work}/lineitem10x"
    val base = spark.read.parquet(s"${cfg.fixture}/lineitem.parquet")
    (0 until 10).map(_ => base).reduce(_ union _)
      .repartitionByRange(16, col(Col)).sortWithinPartitions(Col)
      .write.option("parquet.block.size", BlockBytes.toString)
      .parquet(staged)
  }

  private def v1(t: Tier, p: Int): OpRun = rec.op(s"v1_${t.name}", "query", p) {
    val r = ParquetQuery(spark, staged).where(s"$Col > ${t.threshold}")
      .aggregate(s"SUM($Col)", s"AVG($Col)", s"MIN($Col)", s"MAX($Col)", s"COUNT($Col)")
      .df.collect().head
    val got = (0 until 5).map(i => if (r.isNullAt(i)) None else Some(r.get(i).toString.toDouble))
    val want = Seq(t.sum, t.avg, t.min, t.max, Some(t.count.toDouble))
    val bad = got.zip(want).indexWhere {
      case (Some(a), Some(b)) => math.abs(a - b) > 1e-9 * math.max(1.0, math.abs(b))
      case (a, b) => a.isDefined != b.isDefined
    }
    if (bad < 0) None else Some(s"aggregate $bad: got ${got(bad)} want ${want(bad)}")
  }

  private def v2(t: Tier, p: Int): OpRun = {
    var res: (Double, Double, BytePlanner.Plan, RangedReader.Report) = null
    val r = rec.op(s"v2_${t.name}", "query", p) {
      val pred = Some(s"$Col > ${t.threshold}")
      val t0 = System.nanoTime()
      val plan = BytePlanner.plan(staged, Seq(Col), pred)
      val t1 = System.nanoTime()
      val read = RangedReader.run(staged, Seq(Col), pred)
      val t2 = System.nanoTime()
      res = ((t1 - t0) / 1e6, (t2 - t1) / 1e6, plan, read)
      if (read.bytesRead != plan.plannedBytes)
        Some(s"ranged read ${read.bytesRead} B != planned ${plan.plannedBytes} B")
      else None
    }
    if (res != null) planStats(r.id) = res
    r
  }

  def pass(p: Int): Unit = {
    val ops: Seq[() => OpRun] =
      queries.map(q => () => catalogOp(q, "query", p)) ++
        cfg.tiers.map(t => () => v1(t, p)) ++ cfg.tiers.map(t => () => v2(t, p))
    runAll(ops, p)
  }

  override def layers(m: Metrics, traced: Seq[Int]): Unit = {
    val inTraced = rec.ops.filter(o => traced.contains(o.pass))
    val v1Ops = inTraced.filter(_.name.startsWith("v1_"))
    val rows = spark.read.parquet(staged).count().toDouble
    m.put("spark.scan.records_read",
      Stats.median(traced.map(p => rec.sum(inTraced.filter(_.pass == p).map(_.id)).recordsRead.toDouble)), "count")
    m.put("spark.scan.rowgroups_kept_frac",
      if (v1Ops.isEmpty) 0.0 else rec.sum(v1Ops.map(_.id)).recordsRead / (rows * v1Ops.size), "ratio")
    val timed = rec.ops.filter(_.pass >= 0)
    val v2 = timed.filter(_.name.startsWith("v2_")).flatMap(o => planStats.get(o.id)).toSeq
    val passes = timed.map(_.pass).distinct.size.max(1)
    m.put("metrics.planner.plan_ms", Stats.median(v2.map(_._1)), "ms")
    m.put("metrics.planner.planned_mb", v2.map(_._3.plannedBytes).sum / 1e6 / passes, "MB")
    m.put("metrics.planner.selectivity", Stats.mean(v2.map(_._3.selectivity)), "ratio")
    m.put("metrics.ranged.read_ms", Stats.median(v2.map(_._2)), "ms")
    m.put("metrics.ranged.ranges", v2.map(_._4.ranges.toDouble).sum / passes, "count")
    m.put("metrics.ranged.read_mb", v2.map(_._4.bytesRead).sum / 1e6 / passes, "MB")
    m.put("metrics.ranged.gbps",
      v2.map(_._4.bytesRead).sum / 1e9 / math.max(1e-9, v2.map(_._2).sum / 1e3), "GB/s")
    perOpMedians(m, "queries.op", queries ++ cfg.tiers.flatMap(t => Seq(s"v1_${t.name}", s"v2_${t.name}")), "query")
  }
}

object Scan {
  /** The reference-parity queries q01-q17. */
  val queries: Seq[String] = SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
}

/** `pipeline`: the LLM-data-pipeline operators as one batch per pass. */
final class Pipeline(c: Ctx) extends Workload {
  import c._
  def stage(): Unit = ()
  def pass(p: Int): Unit = runAll(Pipeline.ops.map(o => () => catalogOp(o, "pipeline", p)), p)
  override def layers(m: Metrics, traced: Seq[Int]): Unit =
    perOpMedians(m, "operators.op", Pipeline.ops, "pipeline")
}

object Pipeline {
  /** One op per native hash-kernel family (poly_hash, char n-grams,
    * token/shingle/minhash, simhash, dot, chunk hashes) plus the
    * job-heavy rows (x26, x73, x171) whose cost is mostly per-job driver
    * time.
    */
  val ops: Seq[String] = Seq("x04_fingerprint", "x06_ngram_jaccard_dedup",
    "x07_minhash_lsh_dedup", "x08_simhash_dedup", "x09_embedding_neardup",
    "x26_dedup_components", "x73_pagerank", "x121_cdc_chunk_dedup",
    "x171_unigram_segment")
}
