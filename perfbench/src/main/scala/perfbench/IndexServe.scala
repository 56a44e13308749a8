package perfbench

import graft.GraftSession
import graft.operators.{Bm25, SimilaritySearch}
import graft.sources.Layouts
import graft.streaming.StreamAnn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `index_serve`: the write path beside reads. Each pass builds a MinHash
  * index and builds, appends to and (for BM25) compacts an IVF and a BM25
  * index through `Layouts`, on fresh paths so no memo inside graft can
  * turn a build into a hit, then probes the BM25 and IVF indexes three
  * times each. After the measured passes an ANN serving stream
  * (`StreamAnn.serve`) runs on an index built at set-up, fed one query
  * file per `serveCadenceS` on an open-loop schedule.
  */
final class IndexServe(c: Ctx) extends Workload {
  import c._
  private val K = 10
  private val IvfK = 5
  private val Probes = 3
  private val docs = GraftSession.table(spark, cfg.fixture, "documents")
  private val vecs = GraftSession.table(spark, cfg.fixture, "embeddings")
  private def appended(id: String) = expr(s"pmod(xxhash64($id, ${cfg.seed}L), 3) = 0")

  private val docRows: Array[(Long, String)] =
    docs.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
  private val vecRows: Map[Long, Array[Float]] =
    vecs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
  private val vocab = docRows.flatMap(_._2.split(" ")).distinct.sorted
  private val termSets: Seq[Seq[String]] =
    (0 until Probes).map(_ => Seq.fill(1 + rng.nextInt(3))(vocab(rng.nextInt(vocab.length))).distinct)
  private val ids = vecRows.keys.toArray.sorted

  private def perturbed(n: Int, firstId: Long): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val v = vecRows(ids(rng.nextInt(ids.length))).map(x => x + 0.05f * rng.nextGaussian().toFloat)
      (firstId + i, v)
    }
  private val querySets: Seq[Seq[(Long, Array[Float])]] =
    (0 until Probes).map(i => perturbed(5, 1000000L * (i + 1)))

  private def vecDf(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.toSeq, 0) }.toDF("vec_id", "embedding", "label")
  }

  private val groupBytes = 256L * 1024
  private val pageRows = 2000
  private val passDirs = mutable.Map.empty[Int, (Long, Long)] // pass -> (index bytes, files)

  // --- serving ---------------------------------------------------------
  private val serve = new Serving(c)
  def stage(): Unit = serve.stage(vecs)
  override def afterPasses(): Unit = serve.run()
  override def afterPassesS: Double = Serving.QueryFiles * Serving.CadenceMs / 1e3 + 1.5

  // --- lifecycle + probes ---------------------------------------------
  def pass(p: Int): Unit = {
    val dir = s"${cfg.work}/lc-$p"
    val base = docs.where(!appended("doc_id"))
    val app = docs.where(appended("doc_id"))
    val vbase = vecs.where(!appended("vec_id"))
    val vapp = vecs.where(appended("vec_id"))
    implicit val s = spark
    def step(name: String)(f: => Unit) = rec.op(name, "write", p) { f; None }
    // one chain per index family; the steps inside a chain depend on each other
    runAll(Seq(
      () => step("minhash_build")(Layouts.minhashIndex(base, s"$dir/minhash", groupBytes = groupBytes, pageRows = pageRows)),
      () => {
        step("ivf_build")(Layouts.ivfIndex(vbase, s"$dir/ivf", centModulo = 50))
        step("ivf_append")(Layouts.ivfAppend(vapp, s"$dir/ivf", batchId = Some("b1")))
      },
      () => {
        step("bm25_build")(Layouts.bm25Index(base, s"$dir/bm25", groupBytes = groupBytes, pageRows = pageRows))
        step("bm25_append")(Layouts.bm25Append(app, s"$dir/bm25", batchId = Some("b1")))
        step("bm25_compact")(Layouts.bm25Compact(s"$dir/bm25"))
      }), p)
    passDirs(p) = Files.usage(dir)

    val probes: Seq[() => OpRun] =
      termSets.map(t => () => rec.op("bm25_topk", "probe", p) {
        val rows = Bm25.topK(spark, s"$dir/bm25", t, k = K).collect()
        checkBm25(t, rows)
      }) ++ querySets.map(q => () => rec.op("ivf_topk", "probe", p) {
        val rows = SimilaritySearch.ivfTopKStaged(vecDf(q), s"$dir/ivf", k = IvfK, nprobe = 2).collect()
        checkIvf(q, rows)
      })
    runAll(probes, p)
  }

  /** BM25 top-k recomputed in plain Scala over the whole corpus (the base
    * build plus the appended batch), with graft's documented scoring
    * (k1 = 1.2, b = 0.75, rational-Robertson idf) in the same IEEE
    * operation order, ties broken by doc_id.
    */
  private lazy val bm25Ref: (Long, Double, Map[String, Seq[(Long, Long, Long)]]) = {
    val toks = docRows.map { case (id, t) => (id, t.split(" ", -1).toSeq) }
    val n = toks.length.toLong
    val total = toks.map(_._2.size.toLong).sum
    val post = toks.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (term, occ) => (term, (id, occ.size.toLong, ts.size.toLong)) }
    }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSeq }
    (n, total.toDouble / n, post)
  }

  private def checkBm25(terms: Seq[String], rows: Array[Row]): Option[String] = {
    val (n, avgdl, post) = bm25Ref
    val want = terms.distinct.sorted.flatMap { t =>
      val ps = post.getOrElse(t, Seq.empty)
      val df = ps.size.toLong
      ps.map { case (id, tf, dl) =>
        val score = (((n - df) + 0.5) / (df + 0.5)) *
          ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl))))
        (t, id, tf, dl, score)
      }.sortBy(x => (-x._5, x._2)).take(K).zipWithIndex
        .map { case ((t, id, tf, dl, sc), i) => (t, i + 1, id, tf, dl, sc) }
    }
    val got = rows.map(r => (r.getAs[String]("term"), r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("tf"), r.getAs[Long]("dl"), r.getAs[Double]("score"))).toSeq
      .sortBy(x => (x._1, x._2))
    if (got.size != want.size) Some(s"bm25 rows ${got.size} != ${want.size}")
    else got.zip(want).find { case (a, b) =>
      a.copy(_6 = 0.0) != b.copy(_6 = 0.0) || math.abs(a._6 - b._6) > 1e-9 * math.abs(b._6)
    }.map { case (a, b) => s"bm25 $a != $b" }
  }

  /** Each returned neighbour's cosine recomputed in plain Scala; ranks run
    * 1..k in descending cosine with no repeated neighbour.
    */
  private def checkIvf(q: Seq[(Long, Array[Float])], rows: Array[Row]): Option[String] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d, na, nb = 0.0
      a.indices.foreach { i => d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na) / math.sqrt(nb)
    }
    val qv = q.toMap
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    if (byQ.keySet != qv.keySet) return Some(s"ivf answered ${byQ.size} of ${qv.size} queries")
    byQ.iterator.map { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val coss = sorted.map(_.getAs[Double]("cos"))
      val ref = sorted.map(r => cos(qv(qid), vecRows(r.getAs[Long]("corpus_id"))))
      if (sorted.length != IvfK) Some(s"query $qid: ${sorted.length} neighbours")
      else if (sorted.map(_.getAs[Int]("rank")).toSeq != (1 to IvfK)) Some(s"query $qid: ranks")
      else if (sorted.map(_.getAs[Long]("corpus_id")).distinct.length != IvfK) Some(s"query $qid: repeated neighbour")
      else if (coss.zip(coss.drop(1)).exists { case (a, b) => a < b }) Some(s"query $qid: not by cosine")
      else coss.zip(ref).find { case (a, b) => math.abs(a - b) > 1e-6 }
        .map { case (a, b) => s"query $qid: cos $a != $b" }
    }.collectFirst { case Some(e) => e }
  }

  override def layers(m: Metrics, traced: Seq[Int]): Unit = {
    val all = rec.ops.filter(_.pass >= 0).toSeq
    perOpMedians(m, "sources.layouts", IndexServe.steps, "write")
    val passes = all.map(_.pass).distinct
    val lifecycle = passes.map(p => all.filter(o => o.pass == p && o.group == "write").map(_.wallS).sum)
    m.put("lifecycle_s", Stats.median(lifecycle), "s")
    val usage = passDirs.filter(_._1 >= 0).values.toSeq
    val inputBytes = Seq("documents", "embeddings")
      .map(t => new java.io.File(s"${cfg.fixture}/$t.parquet").length()).sum.toDouble
    m.put("space_amp", Stats.median(usage.map(_._1 / inputBytes)), "ratio")
    m.put("sources.layouts.index_mb", Stats.median(usage.map(_._1 / 1e6)), "MB")
    m.put("sources.layouts.files_written", Stats.median(usage.map(_._2.toDouble)), "count")
    val written = traced.map(p => rec.sum(all.filter(o => o.pass == p && o.group == "write").map(_.id)).bytesWritten.toDouble)
    m.put("sources.layouts.bytes_written_mb", Stats.median(written) / 1e6, "MB")
    m.put("sources.layouts.write_amp",
      if (usage.isEmpty) 0.0 else Stats.median(written) / Stats.median(usage.map(_._1.toDouble)), "ratio")
    m.put("operators.probe.bm25_topk_s", Stats.median(all.filter(_.name == "bm25_topk").map(_.wallS)), "s")
    m.put("operators.probe.ivf_topk_s", Stats.median(all.filter(_.name == "ivf_topk").map(_.wallS)), "s")
    m.put("operators.probe.records_read", Stats.median(traced.map(p =>
      rec.sum(all.filter(o => o.pass == p && o.group == "probe").map(_.id)).recordsRead.toDouble)), "count")
    serve.layers(m)
  }

  def serveAttempted: Int = serve.attempted
  def serveFailed: Int = serve.failed
}

object IndexServe {
  val steps: Seq[String] = Seq("minhash_build", "ivf_build", "ivf_append",
    "bm25_build", "bm25_append", "bm25_compact")
}

/** The open-loop serving phase: query files land in the feed directory on
  * a fixed schedule whatever the stream is doing, and each file's latency
  * runs from the time it was due to the end of the trigger that consumed
  * it, so a stall is billed to every file that waited behind it.
  */
final class Serving(c: Ctx) {
  import c._
  import Serving._
  private var index, feedSrc = ""
  private val feedDir = s"${cfg.work}/feed"
  private val ledger = s"${cfg.work}/ledger"
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private var query: org.apache.spark.sql.streaming.StreamingQuery = null
  private var feeder: Thread = null
  private val landed = mutable.ArrayBuffer.empty[(Long, Long)] // (due, landed) epoch ms
  private var startS, lagMaxS = 0.0
  var attempted, failed = 0
  private var lat, queue = Seq.empty[Double]
  private val phases = mutable.Map.empty[String, Seq[Double]]

  def stage(vecs: DataFrame): Unit = {
    index = s"${cfg.work}/serve-ivf"
    Layouts.ivfIndex(vecs, index, centModulo = 50)
    feedSrc = s"${cfg.work}/feed-src"
    val r = new scala.util.Random(cfg.seed + 7)
    val corpus = vecs.select("embedding").collect().map(_.getSeq[Float](0).toArray)
    import spark.implicits._
    (0 until QueryFiles * FeedRows).map { i =>
      val v = corpus(r.nextInt(corpus.length)).map(x => x + 0.05f * r.nextGaussian().toFloat)
      (i.toLong, v.toSeq, 0, i / FeedRows)
    }.toDF("vec_id", "embedding", "label", "f")
      .repartition(QueryFiles, col("f")).write.partitionBy("f").parquet(feedSrc)
  }

  def run(): Unit = { start(); stop() }

  private def start(): Unit = {
    new java.io.File(feedDir).mkdirs()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e)
    })
    val t0 = System.nanoTime()
    query = StreamAnn.serve(spark, feedDir, index, ledger, s"${cfg.work}/serve-ckpt", k = 5, nprobe = 2)
    startS = (System.nanoTime() - t0) / 1e9
    val first = System.currentTimeMillis() + 200
    feeder = new Thread(() => {
      var i = 0
      while (i < QueryFiles) {
        val due = first + i * CadenceMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val src = new java.io.File(s"$feedSrc/f=$i").listFiles().filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(src.toPath, new java.io.File(f"$feedDir/q$i%04d.parquet").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        landed.synchronized(landed += ((due, System.currentTimeMillis())))
        i += 1
      }
    })
    feeder.setDaemon(true)
    feeder.start()
  }

  private def dataBatches = progress.synchronized(progress.map(_.progress).filter(_.numInputRows > 0).sortBy(_.batchId).toSeq)

  private def stop(): Unit = {
    feeder.join()
    val n = landed.synchronized(landed.size)
    val deadline = System.currentTimeMillis() + 15000
    while (dataBatches.size < n && System.currentTimeMillis() < deadline && query.exception.isEmpty)
      Thread.sleep(50)
    query.stop()
    val batches = dataBatches
    val fed = landed.synchronized(landed.toSeq)
    attempted = fed.size
    val ledgerRows = spark.read.parquet(ledger).groupBy("batch_id")
      .agg(countDistinct("query_id").as("q"), count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Number](0).longValue -> (r.getLong(1), r.getLong(2))).toMap
    val good = batches.take(fed.size).map { b =>
      b.numInputRows == FeedRows && ledgerRows.get(b.batchId).contains((FeedRows.toLong, FeedRows * 5L))
    }
    failed = fed.size - good.count(identity)
    def endMs(b: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(b.timestamp).toEpochMilli + b.durationMs.get("triggerExecution")
    val pairs = fed.zip(batches)
    lat = pairs.map { case ((due, _), b) => (endMs(b) - due) / 1e3 }
    queue = pairs.map { case ((_, land), b) =>
      math.max(0L, java.time.Instant.parse(b.timestamp).toEpochMilli - land) / 1e3 }
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
      phases(k) = batches.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    }
    batches.foreach { b =>
      val s = java.time.Instant.parse(b.timestamp).toEpochMilli
      rec.addSpan(Span(s"trigger ${b.batchId}", "trigger", s, endMs(b), "serve", -2))
      b.durationMs.asScala.foreach { case (k, v) =>
        if (k != "triggerExecution") rec.addSpan(Span(s"trigger.$k", "trigger_phase", s, s + v, s"trigger ${b.batchId}", -2))
      }
    }
    lagMaxS = fed.map { case (due, land) => (land - due) / 1e3 }.foldLeft(0.0)(_ max _)
  }

  def layers(m: Metrics): Unit = {
    m.put("serve_p50_s", Stats.percentile(lat, 50), "s")
    m.put("serve_p75_s", Stats.percentile(lat, 75), "s")
    m.put("streaming.triggers", lat.size.toDouble, "count")
    m.put("streaming.start_s", startS, "s")
    m.put("streaming.queue_s", Stats.median(queue), "s")
    Seq("latest_offset_ms" -> "latestOffset", "get_batch_ms" -> "getBatch",
      "query_planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
      "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets").foreach {
      case (n, k) => m.put(s"streaming.$n", Stats.median(phases.getOrElse(k, Nil)), "ms")
    }
    m.put("streaming.gen_lag_max_s", lagMaxS, "s")
  }
}

object Serving {
  /** One query file of `FeedRows` vectors lands every `CadenceMs`. */
  val CadenceMs = 1500L
  val FeedRows = 1000
  /** Query files fed after the measured passes. */
  val QueryFiles = 3
}
