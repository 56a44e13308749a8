package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.queries.{CatalogEntry, QueryCatalog, Staging}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Dev profiler for bench rows, and the plan dump behind PLANS.md.
  *
  * `Profile <sfDir> <name>[,<name>...] [reps]` times each named row (see
  * [[resolve]]) `reps` times (default 3), each rep from a cleared cache
  * and a GC as in [[graft.Bench]]. A rep prints its wall, a per-stage
  * table and, for streaming rows, each trigger's `durationMs` and state
  * operators; wall minus the stage-wall sum is driver time between jobs,
  * the per-job fixed cost that bounds small inputs. Each name ends with
  * one JSON line. Earlier names in a list warm the JVM for later ones.
  *
  * `Profile plan <sfDir> <outFile> [name,...]` writes the physical plans
  * of the named catalog queries, or of all of them, in PLANS.md's layout,
  * on a fixed 4 cores so every Exchange's partition count reads the
  * same on any host. PLANS.md is the sf0.001 dump.
  *
  * Timing cores come from `SPARK_GRAFT_CPUS`, else every available
  * processor; `SPARK_GRAFT_SQLCONF` takes comma-separated `k=v` SQL confs
  * for A/Bs.
  */
object Profile {

  private val usage =
    "usage: Profile <sfDir> <name>[,<name>...] [reps] | Profile plan <sfDir> <outFile> [name,...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: sfDir :: out :: names =>
      val entries = planEntries(names.flatMap(_.split(',')))
      // a fixed 4 cores: the partition count every Exchange in PLANS.md prints
      withSession(4)(writePlans(_, sfDir, out, entries))
    case sfDir :: names :: rest if rest.size <= 1 =>
      val reps = rest.headOption.fold(3)(_.toInt)
      require(reps > 0, s"reps must be positive, got $reps")
      val rows = names.split(',').toSeq.map(n => n -> resolve(n))
      val cores = sys.env.get("SPARK_GRAFT_CPUS")
        .fold(Runtime.getRuntime.availableProcessors)(_.toInt)
      withSession(cores)(spark => rows.foreach { case (n, prepare) =>
        profile(spark, sfDir, n, prepare, reps)
      })
    case _ => throw new IllegalArgumentException(usage)
  }

  private def withSession(cores: Int)(body: SparkSession => Unit): Unit = {
    val sqlConf = sys.env.get("SPARK_GRAFT_SQLCONF").toSeq
      .flatMap(_.split(',')).map(_.split("=", 2))
      .collect { case Array(k, v) if k.nonEmpty => k -> v }.toMap
    val spark = GraftSession.build("graft-profile", cores, sqlConf)
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  private def unknown(name: String, known: Iterable[String]) =
    new IllegalArgumentException(
      s"unknown name '$name'; known: ${known.toSeq.sorted.mkString(", ")}")

  /** The row called `name`, as a preparation that runs any untimed set-up
    * and returns the thunk each rep times: a catalog query through Bench's
    * noop sink; a `build_*` stage, built once (which also forces the
    * templates it forks) and then rebuilt per rep by `Stage.fresh`, as its
    * bench row bills it; or a `stream_*` serving row, run once untimed so
    * the stages it reads are built before any rep, as Bench builds every
    * stage before its streams.
    */
  private[tools] def resolve(name: String): (SparkSession, String) => () => Unit =
    SparkEntry.queries.get(name).map { q => (s: SparkSession, dir: String) =>
      () => q(s, dir).write.format("noop").mode("overwrite").save()
    }.orElse(Staging.all.find(_.label == name).map { st =>
      (s: SparkSession, dir: String) => { st(s, dir); () => { st.fresh(s, dir); () } }
    }).orElse(Staging.streamingBench.collectFirst { case (`name`, f) =>
      (s: SparkSession, dir: String) => { f(s, dir); () => f(s, dir) }
    }).getOrElse(throw unknown(name, SparkEntry.queries.keys ++
      Staging.all.map(_.label) ++ Staging.streamingBench.map(_._1)))

  private[tools] final case class StageStat(name: String, wallMs: Long,
      runMs: Long, cpuMs: Long, tasks: Int, shufWMb: Double, shufRMb: Double,
      inMb: Double)

  /** Times `reps` runs of the row `name` and prints each rep's breakdown,
    * then the row's JSON line. Returns each rep's wall and completed stages.
    */
  private[tools] def profile(spark: SparkSession, sfDir: String, name: String,
      prepare: (SparkSession, String) => () => Unit,
      reps: Int): Seq[(Double, Seq[StageStat])] = {
    val stages = new ConcurrentLinkedQueue[StageStat]()
    val triggers = new ConcurrentLinkedQueue[String]()
    val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for (a <- i.completionTime; b <- i.submissionTime)
          yield a - b).getOrElse(0L)
        stages.add(StageStat(i.name.linesIterator.next(), wall,
          m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead) / 1e6,
          m.inputMetrics.bytesRead / 1e6))
      }
    }
    val streamListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          val st = p.stateOperators.toSeq.map(so =>
            s"[rows=${so.numRowsTotal} commitMs=${so.commitTimeMs} " +
              s"mem=${so.memoryUsedBytes}]").mkString(" ")
          triggers.add(s"  trigger batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations{$dur} state{$st}")
        }
      }
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.streams.addListener(streamListener)
    try {
      val thunk = prepare(spark, sfDir)
      val runs = (1 to reps).map { rep =>
        // events of the set-up or the previous rep must not bill to this one
        ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
        stages.clear()
        triggers.clear()
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        thunk()
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
        val ss = stages.asScala.toSeq
        println(f"== rep $rep: $name wall $wall%.2f s, ${ss.size} stages, " +
          f"sum(stage wall) ${ss.map(_.wallMs).sum / 1e3}%.2f s, " +
          f"sum(run) ${ss.map(_.runMs).sum / 1e3}%.2f s, " +
          f"sum(cpu) ${ss.map(_.cpuMs).sum / 1e3}%.2f s")
        ss.sortBy(-_.runMs).take(25).foreach { s =>
          println(f"  wall ${s.wallMs / 1e3}%6.2f run ${s.runMs / 1e3}%7.2f " +
            f"cpu ${s.cpuMs / 1e3}%7.2f ${s.tasks}%4d tasks " +
            f"shW ${s.shufWMb}%6.1f shR ${s.shufRMb}%6.1f in ${s.inMb}%6.1f  ${s.name.take(90)}")
        }
        triggers.asScala.foreach(println)
        (wall, ss)
      }
      val walls = runs.map(_._1)
      val median = graft.metrics.Telemetry.median(walls)
      println(Bench.checkedLine(f"""{"query":"$name","median_sec":$median%.3f,"runs":[${walls.map(w => f"$w%.2f").mkString(",")}],"sf":"$sfDir"}"""))
      runs
    } finally {
      spark.sparkContext.removeSparkListener(stageListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** The catalog entries called `names`, or every entry when none are. */
  private[tools] def planEntries(names: Seq[String]): Seq[CatalogEntry] = {
    val byName = QueryCatalog.all.map(e => e.name -> e).toMap
    if (names.isEmpty) QueryCatalog.all
    else names.map(n => byName.getOrElse(n, throw unknown(n, byName.keys)))
  }

  private[tools] def writePlans(spark: SparkSession, sfDir: String,
      out: String, entries: Seq[CatalogEntry]): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of catalog queries (generated by `graft.tools.Profile plan`)\n\n")
    sb.append("Audit targets: `PushedFilters` on grammar predicates, `ReadSchema` pruned\n")
    sb.append("to used columns, broadcast only on bounded sides, every join keyed.\n")
    entries.foreach { e =>
      val plan = e.build(spark, sfDir).queryExecution.explainString(SimpleMode)
      sb.append(s"\n## ${e.name}\n\n${e.describe}\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[profile] wrote $out (${entries.size} plans)")
  }
}
