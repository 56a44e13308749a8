package graft.queries

import graft.GraftSession
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One staged artifact: a persisted index, layout or streaming ledger that
  * the catalog's probe queries read. A deployment pays the build once per
  * corpus release and the probe per batch, so [[graft.Bench]] times every
  * stage as its OWN `build_*` row before the query sweep (the reference
  * splits its metadata phase from its query phase the same way,
  * v1/src/main.rs:118-133 vs 137-156).
  *
  * `build(s, dir, out)` writes into the fresh scratch dir `out` and returns
  * the path the probes read (`out` itself, or a ledger under it).
  */
final class Stage(val label: String, prefix: String,
    build: (SparkSession, String, String) => String) {
  // one memo per stage, never one map shared by all: a lifecycle forces
  // its template from inside its own computeIfAbsent, and a nested
  // computeIfAbsent on the same map throws "Recursive update"
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The artifact for fixture `dir`, built on first use and memoized. */
  def apply(s: SparkSession, dir: String): String =
    built.computeIfAbsent(dir, _ => fresh(s, dir))

  /** A new build into a new scratch dir, bypassing the memo — for timing
    * a build more than once in one JVM. Templates it forks still memoize.
    */
  def fresh(s: SparkSession, dir: String): String =
    build(s, dir, Staging.stagedScratch(prefix))

  /** Where the memoized artifact for `dir` lives, if it was built. */
  def path(dir: String): Option[String] = Option(built.get(dir))
}

/** Every [[Stage]] behind the catalog's staged probe queries, plus the
  * streaming serving rows that read them.
  */
object Staging {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    GraftSession.cachedTable(s, dir, name)

  private def stage(label: String, prefix: String)(
      build: (SparkSession, String, String) => String): Stage =
    new Stage(label, prefix, build)

  /** Scratch base for the one-time staged index builds. Defaults under the
    * project's own `target/` — the same filesystem as the fixtures — NOT
    * `java.io.tmpdir`: on the round-11 driver host /tmp cold-read at
    * 0.16 GB/s and made the five staged-probe queries the slowest rows in
    * the whole bench. Override with `GRAFT_SCRATCH_DIR` (e.g. to a RAM
    * disk, or per-executor local dirs on a real cluster — at 100 TB the
    * analog is the persisted-index table location, a deliberate choice,
    * never whatever tmpdir happens to be). Public so [[graft.Bench]] can
    * probe the DEVICE behind it (cold-read GB/s + free space on the final
    * JSON line; the round-11 postmortem took a full round because a
    * collapsed scratch device was invisible in the artifact).
    */
  def scratchBase: String =
    sys.env.getOrElse("GRAFT_SCRATCH_DIR", "target/graft-scratch")

  /** Fixture-scale index geometry every staged index, appended batch and
    * compaction is written with: row-group target bytes and rows per page.
    * Bench's JIT warm-up and BuildTimer use it too, so they exercise and
    * time the same layouts the stages write.
    */
  val GroupBytes: Long = 256L * 1024
  val PageRows: Int = 2000

  private[queries] def stagedScratch(prefix: String): String = {
    val base = java.nio.file.Paths.get(scratchBase)
    try {
      java.nio.file.Files.createDirectories(base)
      java.nio.file.Files.createTempDirectory(base, prefix).toString
    } catch {
      // read-only cwd (spark-submit from an unwritable dir): fall back to
      // tmpdir rather than failing all five staged builds — slower on a
      // degraded /tmp, but correct; the preferred dir remains the default
      case _: java.io.IOException | _: SecurityException =>
        java.nio.file.Files.createTempDirectory(prefix).toString
    }
  }

  /** x101 staging: the posting index is written ONCE per fixture dir via
    * [[graft.sources.Layouts.postingIndex]] and reused for every build in
    * this JVM — the write-once / probe-many split a persisted index exists
    * for. Fine page granularity at fixture scale so the term probe has
    * something to prune.
    */
  val x101Posting: Stage =
    stage("build_x101_posting", "graft-posting") { (s, dir, out) =>
      graft.sources.Layouts.postingIndex(t(s, dir, "documents"), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x178 staging: the BM25 term-posting index (postings + merge-on-read
    * df/global deltas + champion tier), written ONCE per fixture dir via
    * [[graft.sources.Layouts.bm25Index]] — the per-release build the
    * BM25 serving probe then amortizes. Fine page granularity at
    * fixture scale so the term probe has something to prune.
    */
  val x178Bm25Index: Stage =
    stage("build_x178_bm25_index", "graft-bm25") { (s, dir, out) =>
      graft.sources.Layouts.bm25Index(t(s, dir, "documents"), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x182/x183 shared template: the BM25 index built on the %3 != 2
    * "existing corpus" ONCE per fixture dir, then COPIED into each
    * lifecycle staging (the r15 shared-template pattern); its build
    * bills to its own row.
    */
  val bm25Template: Stage =
    stage("build_bm25_template", "graft-bm25g0") { (s, dir, out) =>
      graft.sources.Layouts.bm25Index(
        t(s, dir, "documents").where(col("doc_id") % 3 =!= 2), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x182 staging: template copy → incremental append of the %3 == 2
    * batch → the SAME append REPLAYED (all three slices land as
    * dynamic-overwrite no-ops — the ledger-free idempotence claim,
    * value-gated by the full-corpus oracle).
    */
  val x182Bm25Append: Stage =
    stage("build_x182_bm25_append", "graft-bm25app") { (s, dir, out) =>
      copyIndex(bm25Template(s, dir), out, s)
      val batch = t(s, dir, "documents").where(col("doc_id") % 3 === 2)
      graft.sources.Layouts.bm25Append(batch, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
      graft.sources.Layouts.bm25Append(batch, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
      out
    }

  /** x183 staging: template copy → append the %3 == 2 batch as the
    * poison → retract it. The probe must equal the never-appended
    * build, including the merged df/global deltas forgetting the batch
    * (they do by construction — the batch's delta slice dropped with
    * its postings).
    */
  val x183Bm25Retract: Stage =
    stage("build_x183_bm25_retract", "graft-bm25ret") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      copyIndex(bm25Template(s, dir), out, s)
      graft.sources.Layouts.bm25Append(
        t(s, dir, "documents").where(col("doc_id") % 3 === 2), out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("gx"))
      graft.sources.Layouts.bm25Retract(out, "gx")
      out
    }

  /** x190 staging: the MANAGED BM25 lifecycle — template copy (%3 != 2
    * base) → [[graft.sources.Layouts.manageBm25]] (three per-table
    * manifests publish v0) → sealed append of the %6 == 2 half-batch →
    * [[graft.sources.Layouts.bm25Compact]] (no-quiesce generation fold:
    * postings re-sorted, df deltas SUMMED, champions re-selected) →
    * sealed append of the %6 == 5 half-batch into the NEW generation.
    * Together the two half-batches are exactly the %3 == 2 docs, so the
    * serve must equal the full-corpus oracle.
    */
  val x190Bm25Managed: Stage =
    stage("build_x190_bm25_managed", "graft-bm25mgd") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      copyIndex(bm25Template(s, dir), out, s)
      graft.sources.Layouts.manageBm25(out)
      graft.sources.Layouts.bm25Append(
        t(s, dir, "documents").where(col("doc_id") % 6 === 2), out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
      graft.sources.Layouts.bm25Compact(out,
        groupBytes = GroupBytes, pageRows = PageRows)
      graft.sources.Layouts.bm25Append(
        t(s, dir, "documents").where(col("doc_id") % 6 === 5), out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g2"))
      out
    }

  /** x187 staging: the live-maintenance BM25 serving lifecycle — template
    * copy (%3 != 2 base), StreamBm25 up, micro-batch 0 of term queries
    * served, [[graft.sources.Layouts.bm25Append]] of the %3 == 2 batch
    * fired with the stream LIVE (three commit-atomic slices, no swap),
    * micro-batch 1 re-issues the same terms against the grown index.
    */
  val x187StreamBm25: Stage =
    stage("build_x187_stream_bm25", "graft-sbm25") { (s, dir, base) =>
      val idx = s"$base/idx"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      copyIndex(bm25Template(s, dir), idx, s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      import s.implicits._
      val queries = Seq((0L, "scan"), (1L, "merge"), (2L, "vector"))
        .toDF("query_id", "term")
      // the SAME term frame serves both micro-batches: stage the part
      // file once; the LANDINGS stay exactly where they were — q1 lands
      // only after the live append, which is the ordering the row tests
      val part = stageFeedFile(queries, s"$base/stage")
      val q = graft.streaming.StreamBm25.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try {
        landStaged(part, in, "q0")
        q.processAllAvailable()
        // maintenance fires with the serving stream LIVE
        graft.sources.Layouts.bm25Append(
          t(s, dir, "documents").where(col("doc_id") % 3 === 2), idx,
          groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
        landStaged(part, in, "q1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    }

  /** x192/x193 staging: the positional term index, written ONCE per
    * fixture dir via [[graft.sources.Layouts.positionalIndex]] — fine
    * page granularity at fixture scale so the phrase probe has row
    * groups to prune.
    */
  val x192Positional: Stage =
    stage("build_x192_positional", "graft-posidx") { (s, dir, out) =>
      graft.sources.Layouts.positionalIndex(t(s, dir, "documents"), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x194 staging: positional index on the even half → manageSortedTable
    * migration → sealed append of the odd half → the SAME append
    * REPLAYED (dynamic-overwrite no-op). Together the halves are the
    * full corpus, so the serve must equal x192's full-corpus oracle.
    */
  val x194PositionalAppend: Stage =
    stage("build_x194_positional_append", "graft-posapp") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      graft.sources.Layouts.positionalIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      graft.sources.Layouts.manageSortedTable(out)
      val odd = t(s, dir, "documents").where(col("doc_id") % 2 === 1)
      graft.sources.Layouts.positionalAppend(odd, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
      graft.sources.Layouts.positionalAppend(odd, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
      out
    }

  /** x195 staging: the positional family's RETRACTION path — base index
    * on the %3 != 2 docs, managed, the %3 == 2 batch appended as sealed
    * slice "g1", then dropped via [[graft.sources.Layouts.dropBatch]]
    * (the O(batch-files) directory delete, across retained generations
    * on the managed layout). The serve must equal the survivor-only
    * recompute.
    */
  val x195PositionalRetract: Stage =
    stage("build_x195_positional_retract", "graft-posret") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      graft.sources.Layouts.positionalIndex(
        t(s, dir, "documents").where(col("doc_id") % 3 =!= 2), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      graft.sources.Layouts.manageSortedTable(out)
      graft.sources.Layouts.positionalAppend(
        t(s, dir, "documents").where(col("doc_id") % 3 === 2), out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("g1"))
      val n = graft.sources.Layouts.dropBatch(out, "g1")
      require(n > 0, s"x195 retraction dropped no slices at $out")
      out
    }

  /** x198 staging: the admit-time decontamination gate run as a real
    * two-micro-batch Structured Streaming query — the even-id docs land
    * as trigger 0, the odd-id docs as trigger 1 (the deterministic split
    * the oracle replays), each gated against the fixed eval-phrase list
    * into the quarantine ledger.
    */
  val x198StreamDecontam: Stage =
    stage("build_x198_stream_decontam", "graft-sdecon") { (s, dir, base) =>
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val phrases = Seq(
        Seq("table", "scan"), Seq("slow", "query"),
        Seq("key", "order", "sort"))
      val q = graft.streaming.StreamDecontam.gate(
        s, in, phrases, s"$base/ledger", s"$base/ckpt")
      try {
        landFeedFile(docs.where(col("doc_id") % 2 === 0),
          s"$base/stage0", in, "b0")
        q.processAllAvailable()
        landFeedFile(docs.where(col("doc_id") % 2 === 1),
          s"$base/stage1", in, "b1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    }

  /** x200 staging: the PASSAGE-grained BM25 index — documents split
    * into fixed 8-token non-overlapping chunks (chunk_id = doc_id·1000
    * + chunk_no; the x50 sequence+slice chunker, stride = length), then
    * the ordinary [[graft.sources.Layouts.bm25Index]] build over the
    * chunk rows. The index layer needs nothing chunk-special: df, dl
    * and the champion tier all become passage-grained by construction.
    */
  val x200ChunkBm25: Stage =
    stage("build_x200_chunk_bm25", "graft-bm25chunk") { (s, dir, out) =>
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("chunk_no",
          explode(sequence(lit(0L), expr("(n - 1) div 8"))))
        .select((col("doc_id") * 1000 + col("chunk_no")).as("chunk_id"),
          array_join(slice(col("toks"),
            (col("chunk_no") * 8 + 1).cast("int"), lit(8)), " ").as("chunk_text"))
      graft.sources.Layouts.bm25Index(chunks, out,
        idCol = "chunk_id", textCol = "chunk_text",
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x139 staging: the even-id "existing corpus" EXACT-jaccard index,
    * written ONCE per fixture dir via
    * [[graft.sources.Layouts.jaccardIndex]] — the per-release build the
    * exact ingest probe then amortizes.
    */
  val x139JaccardIndex: Stage =
    stage("build_x139_jaccard_index", "graft-jacidx") { (s, dir, out) =>
      graft.sources.Layouts.jaccardIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x151's poisoned hourly ledger, staged once per fixture dir (the
    * staged-index memo pattern): real hourly counts from `events` plus
    * two anchor-proof poison rows (n = 1, both above every real hour)
    * far outside the plausibility window. Path is what
    * [[graft.streaming.StreamDrift.cusumQuarantine]] probes.
    */
  val x151Ledger: Stage =
    stage("build_x151_ledger", "graft-x151-ledger") { (s, dir, out) =>
      val half = graft.streaming.StreamDrift.DefaultMaxSpanHours / 2
      val hc0 = t(s, dir, "events")
        .groupBy(expr("ts div 3600000000000").as("h"))
        .agg(count(lit(1)).as("n"))
      val anc = hc0.orderBy(col("n").desc, col("h")).limit(1)
        .select(col("h").as("hm"))
      val poison = anc.select(explode(array(
          struct((col("hm") + lit(half + 100000L)).as("h"), lit(1L).as("n")),
          struct((col("hm") + lit(2 * half + 200001L)).as("h"), lit(1L).as("n")))).as("p"))
        .select(col("p.h").as("h"), col("p.n").as("n"))
      hc0.unionByName(poison).write.mode("overwrite").parquet(out)
      out
    }

  /** x117 staging: the even-id "existing corpus" MinHash index, written
    * ONCE per fixture dir via [[graft.sources.Layouts.minhashIndex]] — the
    * per-release build the ingest probe then amortizes.
    */
  val x117MinhashIndex: Stage =
    stage("build_x117_minhash_index", "graft-mhidx") { (s, dir, out) =>
      graft.sources.Layouts.minhashIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x144 staging: the corpus-side (vec_id ≥ 10) IVF index, written ONCE
    * per fixture dir via [[graft.sources.Layouts.ivfIndex]] — the
    * per-release build the cell-pruned ANN probe then amortizes.
    */
  val x144IvfIndex: Stage =
    stage("build_x144_ivf_index", "graft-ivfidx") { (s, dir, out) =>
      // the FLAT leg of the x144/x145 A/B pair, pinned Some(false): the
      // default now auto-selects two-level above the centroid threshold,
      // and x144's oracle replays the exact flat assignment
      graft.sources.Layouts.ivfIndex(
        t(s, dir, "embeddings").where(col("vec_id") >= 10), out, centModulo = 50,
        twoLevel = Some(false))
      out
    }

  /** x145 staging: the same corpus-side IVF index built with the TWO-LEVEL
    * assignment ([[graft.sources.Layouts.ivfIndex]] `twoLevel = true`) —
    * the build that stays affordable at corpus-proportional cell count.
    */
  val x145Ivf2Index: Stage =
    stage("build_x145_ivf2_index", "graft-ivf2idx") { (s, dir, out) =>
      graft.sources.Layouts.ivfIndex(
        t(s, dir, "embeddings").where(col("vec_id") >= 10), out,
        centModulo = 50, twoLevel = Some(true))
      out
    }

  /** Shared gen-0 IVF index TEMPLATE over the even (vec_id ≥ 10,
    * vec_id % 2 == 0) corpus half, flat assignment, built ONCE per
    * fixture dir — the [[minhashTemplate]] pattern (VERDICT r15 #3)
    * applied to the IVF lifecycle family (r19 optimization round): x152
    * append, x154 retract, x156 compact and x162 managed-compact all
    * start from this exact index, and before this each ran the identical
    * even-half assignment build — four copies of the dominant build cost
    * for zero information. Lifecycles hardlink-fork it ([[copyIndex]])
    * and mutate their copy; the template is never mutated. x168
    * (different corpus fence, vec_id ≥ 20) and x177 (provenance from
    * birth) keep their own builds — their gen-0 is genuinely different.
    */
  val ivfEvenTemplate: Stage =
    stage("build_ivf_even_template", "graft-ivfg0") { (s, dir, out) =>
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      graft.sources.Layouts.ivfIndex(
        e.where(col("vec_id") % 2 === 0), out, centModulo = 50,
        twoLevel = Some(false))
      out
    }

  /** x152 staging: IVF index built over the EVEN corpus half (the shared
    * [[ivfEvenTemplate]] template, forked), then the ODD half appended
    * via [[graft.sources.Layouts.ivfAppend]] against the existing
    * centroids — the rebuild-free maintenance path, memoized per fixture
    * dir so the query row measures the read-back audit, not the build
    * (the append bills to the build_x152 bench row, the template build
    * to its own row). Flat build
    * pinned: the oracle replays the flat assignment.
    */
  val x152IvfAppend: Stage =
    stage("build_x152_ivf_append", "graft-ivfappidx") { (s, dir, out) =>
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(ivfEvenTemplate(s, dir), out, s)
      val odd = e.where(col("vec_id") % 2 === 1)
      // appended TWICE with the same batch id — the ledgered-batch replay
      // a retry-based ingest loop produces. The dynamic slice overwrite
      // makes the second call a no-op, and x152's per-cell-count oracle
      // (which replays the single-append assignment) certifies that at
      // the driver gate: a double-counted batch would fail n_total.
      graft.sources.Layouts.ivfAppend(odd, out, batchId = Some("odd"))
      graft.sources.Layouts.ivfAppend(odd, out, batchId = Some("odd"))
      out
    }

  /** Shared gen-0 MinHash index TEMPLATE over the `doc_id % 3 == 0`
    * corpus slice, built ONCE per fixture dir. The three maintenance-
    * lifecycle stagings (x153 append, x155 compact via x153, x158 stream
    * admit) all start from this exact index; before this they each ran
    * the identical corpus-side tokenize/shingle/minhash build — the
    * dominant cost of every one of them — tripling the driver's builds
    * wall for zero information (VERDICT r15 #3). The template is never
    * mutated: lifecycles copy it (the index is ~MBs — the copy is noise
    * next to the build it replaces) and mutate their copy.
    */
  val minhashTemplate: Stage =
    stage("build_minhash_template", "graft-mhgen0") { (s, dir, out) =>
      // fixture-scale layout knobs, like every sibling staging: multiple
      // row groups/pages so the probes' pruning actually engages
      graft.sources.Layouts.minhashIndex(
        t(s, dir, "documents").where(col("doc_id") % 3 === 0), out,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** Copy a staged index directory's contents into `to` (an existing
    * empty scratch dir) — the cheap fork that lets lifecycle stagings
    * share one template build and still mutate independently.
    */
  private def copyIndex(from: String, to: String, s: SparkSession): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(conf)
    fs.listStatus(src).foreach { st =>
      // hardlink fast path (Layouts.copyTree): the template's files are
      // write-once parquet, so the fork shares inodes safely and the
      // driver-side copy loop drops from a stream copy per file to one
      // link syscall each — guide §6, applied to every lifecycle staging
      graft.sources.Layouts.copyTree(fs, st.getPath,
        new org.apache.hadoop.fs.Path(s"$to/${st.getPath.getName}"), conf)
    }
  }

  /** x153 staging: the three-generation ingest index — gen-0 (the shared
    * template, copied), gen-1 probed against it and its ADMITTED (kept)
    * docs appended via [[graft.sources.Layouts.minhashAppend]]. Memoized
    * per fixture dir so the query row measures the gen-2 probe only;
    * probe+append bill to the build_x153 bench row (the gen-0 build
    * bills to the template's own row).
    */
  val x153MinhashAppend: Stage =
    stage("build_x153_minhash_append", "graft-mhappidx") { (s, dir, out) =>
      val docs = t(s, dir, "documents")
      copyIndex(minhashTemplate(s, dir), out, s)
      val g1 = docs.where(col("doc_id") % 3 === 1)
      val st1 = Dedup.incrementalDedupStaged(g1, out, "doc_id", "text",
        threshold = 0.5)
      // materialize the admitted set ONCE: left lazy, the full gen-1
      // probe (banded candidates + jaccard verify) would re-execute in
      // every job minhashAppend derives from it (range sampling + write,
      // ×3 tables — review r14)
      val kept1 = g1.join(
        st1.where(col("status") === "kept").select("doc_id"), "doc_id")
        .localCheckpoint()
      // replayed append under one batch id — the ledgered-batch retry a
      // streaming ingest loop produces; the dynamic slice overwrite makes
      // the second call a no-op. (Unlike x152's per-cell counts, this
      // probe would ABSORB duplicated index rows — semi-join + distinct —
      // so the no-op property itself is pinned at the row level by
      // DedupSpec's replay case; the gate certifies the grown-index
      // semantics either way.)
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("gen1"))
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("gen1"))
      out
    }

  /** x154 staging: IVF index with the x152 build+append lifecycle, plus a
    * POISON batch (the vec_id < 10 rows the corpus fence excludes)
    * appended under its own batch_id and then retracted via
    * [[graft.sources.Layouts.dropBatch]] — the bad-batch recovery path.
    * If the retraction leaked a single row (or deleted a legitimate one),
    * x154's per-cell-count oracle fails.
    */
  val x154IvfRetract: Stage =
    stage("build_x154_ivf_retract", "graft-ivfretidx") { (s, dir, out) =>
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(ivfEvenTemplate(s, dir), out, s) // shared gen-0 template
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"))
      graft.sources.Layouts.ivfAppend(
        t(s, dir, "embeddings").where(col("vec_id") < 10), out,
        batchId = Some("poison"))
      graft.sources.Layouts.dropBatch(out, "poison")(s)
      out
    }

  /** x177 staging: x154's poison scenario with the poison FOLDED before
    * the retraction — the IVF leg of the fold-surviving deletion. Built
    * and appended with src_batch provenance; after [[manageIvf]] +
    * [[graft.sources.Layouts.ivfCompact]] folds the odd batch and the
    * poison into base, [[graft.sources.Layouts.ivfRetractFolded]] erases
    * the poison at the row level.
    */
  val x177IvfRetractFolded: Stage =
    stage("build_x177_ivf_retract_folded", "graft-ivfretfold") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      graft.sources.Layouts.ivfIndex(
        e.where(col("vec_id") % 2 === 0), out, centModulo = 50,
        twoLevel = Some(false), provenance = true)
      graft.sources.Layouts.manageIvf(out)
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"), provenance = true)
      graft.sources.Layouts.ivfAppend(
        t(s, dir, "embeddings").where(col("vec_id") < 10), out,
        batchId = Some("poison"), provenance = true)
      graft.sources.Layouts.ivfCompact(out)
      graft.sources.Layouts.ivfRetractFolded(out, "poison")
      out
    }

  /** x155 staging: x153's finished grown artifact (gen-0 + admitted
    * gen-1), copied, then [[graft.sources.Layouts.minhashCompact]] — the
    * periodic rebase that merges batch generations back into one sorted
    * base per table. Forking x153's artifact instead of re-running its
    * whole lifecycle (VERDICT r15 #3) also makes the build_x155 bench
    * row what it was always meant to be: the COMPACT's cost, not a
    * third copy of the gen-0 build's. The gen-2 probe row then runs
    * against the compacted index under x153's own oracle — which is
    * exactly the probe-invariance claim compaction makes.
    */
  val x155MinhashCompact: Stage =
    stage("build_x155_minhash_compact", "graft-mhcpidx") { (s, dir, out) =>
      copyIndex(x153MinhashAppend(s, dir), out, s)
      graft.sources.Layouts.minhashCompact(out,
        groupBytes = GroupBytes, pageRows = PageRows)(s)
      out
    }

  /** x156 staging: the x152 build+append lifecycle followed by
    * [[graft.sources.Layouts.ivfCompact]] — the rebase that merges each
    * cell's per-batch files into one. The audit query then reads the
    * COMPACTED lists under x152's full-assignment oracle.
    */
  val x156IvfCompact: Stage =
    stage("build_x156_ivf_compact", "graft-ivfcpidx") { (s, dir, out) =>
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(ivfEvenTemplate(s, dir), out, s) // shared gen-0 template
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"))
      graft.sources.Layouts.ivfCompact(out)(s)
      out
    }

  /** Shared gen-0 POSTING index TEMPLATE over the even corpus half,
    * built ONCE per fixture dir — the [[minhashTemplate]] pattern
    * (VERDICT r15 #3) applied to the posting lifecycle family (r19
    * optimization round): x157 append+rebase, x164 retract and x167
    * managed-rebase all start from this exact index; before this each
    * ran the identical even-half trigram explode build. Lifecycles
    * hardlink-fork it ([[copyIndex]]) and mutate their copy.
    */
  val postingEvenTemplate: Stage =
    stage("build_posting_even_template", "graft-postg0") { (s, dir, out) =>
      graft.sources.Layouts.postingIndex(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0),
        out, groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x157 staging: posting index over the even half (the shared
    * [[postingEvenTemplate]] template, forked), odd half appended
    * twice under one batch id ([[graft.sources.Layouts.postingAppend]]),
    * then rebased via [[graft.sources.Layouts.sortedRebase]] — the whole
    * posting maintenance lifecycle in one staged artifact.
    */
  val x157PostingAppend: Stage =
    stage("build_x157_posting_append", "graft-postappidx") { (s, dir, out) =>
      val docs = t(s, dir, "documents")
      copyIndex(postingEvenTemplate(s, dir), out, s)
      val odd = docs.where(col("doc_id") % 2 === 1)
      graft.sources.Layouts.postingAppend(odd, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("odd"))
      graft.sources.Layouts.postingAppend(odd, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("odd"))
      graft.sources.Layouts.sortedRebase(out, Seq("tri"),
        groupBytes = GroupBytes, pageRows = PageRows)(s)
      out
    }

  /** x159 staging: x153's grown lifecycle on the MANIFEST-GENERATION
    * layout — gen-0 forked from the shared template and migrated via
    * [[graft.sources.Layouts.manageMinhash]], gen-1 probed + admitted
    * append, then [[graft.sources.Layouts.minhashCompact]], which on a
    * managed index folds into a NEW generation dir and publishes the
    * pointer (v0 → v1) instead of renaming tables in place.
    */
  val x159ManagedCompact: Stage =
    stage("build_x159_managed_compact", "graft-mhmgidx") { (s, dir, out) =>
      copyIndex(minhashTemplate(s, dir), out, s)
      graft.sources.Layouts.manageMinhash(out)(s)
      val docs = t(s, dir, "documents")
      val g1 = docs.where(col("doc_id") % 3 === 1)
      val st1 = Dedup.incrementalDedupStaged(g1, out, "doc_id", "text",
        threshold = 0.5)
      val kept1 = g1.join(
        st1.where(col("status") === "kept").select("doc_id"), "doc_id")
        .localCheckpoint()
      // caller-named batch id (not stream-shaped), so the compact FOLDS
      // it — the probe then exercises the fully generational fold, not
      // just a slice carry-over
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("gen1"))
      graft.sources.Layouts.minhashCompact(out,
        groupBytes = GroupBytes, pageRows = PageRows)(s)
      out
    }

  /** x160 staging: the x158 streaming admit loop over a manifest-managed
    * gen-0, with [[graft.sources.Layouts.minhashCompact]] fired BETWEEN
    * the two micro-batches while the streaming query stays live — the
    * no-quiesce maintenance story end to end. Returns the ledger path.
    */
  val x160StreamAdmitCompact: Stage =
    stage("build_x160_stream_admit_compact", "graft-sadmcp") { (s, dir, base) =>
      val docs = t(s, dir, "documents")
      val idx = s"$base/idx"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      copyIndex(minhashTemplate(s, dir), idx, s)
      graft.sources.Layouts.manageMinhash(idx)(s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
      val q = graft.streaming.StreamDedup.ingestAdmitLoop(
        s, in, idx, s"$base/ledger", s"$base/ckpt",
        groupBytes = GroupBytes, pageRows = PageRows)
      try {
        landFeedFile(docs.where(col("doc_id") % 3 === 1).select(cols: _*),
          s"$base/stage1", in, "g1")
        q.processAllAvailable()
        // compact the LIVE stream's index between batches: the query is
        // started, its checkpoint open — the quiesce the rename layout
        // required and the manifest layout exists to remove
        graft.sources.Layouts.minhashCompact(idx,
          groupBytes = GroupBytes, pageRows = PageRows)(s)
        landFeedFile(docs.where(col("doc_id") % 3 === 2).select(cols: _*),
          s"$base/stage2", in, "g2")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    }

  /** x161 staging: x153's grown artifact forked, then a POISON batch —
    * the gen-2 probe docs themselves — appended under its own batch id
    * and retracted via [[graft.sources.Layouts.dropBatch]]: the MinHash
    * side of x154's recovery path. Using the probe docs as the poison
    * makes a leak maximally visible: one surviving poison row and the
    * gen-2 probe classifies that doc as an exact dup of itself.
    */
  val x161MinhashRetract: Stage =
    stage("build_x161_minhash_retract", "graft-mhretidx") { (s, dir, out) =>
      copyIndex(x153MinhashAppend(s, dir), out, s)
      val g2 = t(s, dir, "documents").where(col("doc_id") % 3 === 2)
      graft.sources.Layouts.minhashAppend(g2, out,
        groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("poison"))
      graft.sources.Layouts.dropBatch(out, "poison")(s)
      out
    }

  /** x176 staging: x161's poison scenario with the poison FOLDED before
    * the retraction — the case dropBatch cannot recover (the fold erased
    * the slice dirs). The index is built AND appended with src_batch
    * provenance from birth; after the managed compact folds gen-1 and
    * the poison into base, [[graft.sources.Layouts.minhashRetractFolded]]
    * re-folds the generation without the poison's rows. Probing with the
    * poison docs themselves keeps a leak maximally visible (one
    * surviving row → self-dup), and the per-(fp, src_batch) fold dedup
    * keeps a fingerprint shared with base alive through the retraction
    * (one over-deleted row → a true dup reads kept).
    */
  val x176MinhashRetractFolded: Stage =
    stage("build_x176_minhash_retract_folded", "graft-mhretfold") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      graft.sources.Layouts.minhashIndex(docs.where(col("doc_id") % 3 === 0),
        out, groupBytes = GroupBytes, pageRows = PageRows, provenance = true)
      graft.sources.Layouts.manageMinhash(out)
      val g1 = docs.where(col("doc_id") % 3 === 1)
      val st1 = graft.operators.Dedup.incrementalDedupStaged(
        g1, out, "doc_id", "text", 0.5)
      val kept1 = g1.join(
        st1.where(col("status") === "kept").select("doc_id"), "doc_id")
      graft.sources.Layouts.minhashAppend(kept1, out,
        groupBytes = GroupBytes, pageRows = PageRows,
        batchId = Some("gen1"), provenance = true)
      graft.sources.Layouts.minhashAppend(
        docs.where(col("doc_id") % 3 === 2), out,
        groupBytes = GroupBytes, pageRows = PageRows,
        batchId = Some("poison"), provenance = true)
      graft.sources.Layouts.minhashCompact(out,
        groupBytes = GroupBytes, pageRows = PageRows)
      graft.sources.Layouts.minhashRetractFolded(out, "poison",
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x162 staging: the x152 build+append lifecycle on the MANIFEST-
    * GENERATION layout — flat build over the even half, migrated via
    * [[graft.sources.Layouts.manageIvf]], odd half appended, then
    * [[graft.sources.Layouts.ivfCompact]], which on a managed index
    * folds into a new generation and publishes the pointer (the no-
    * quiesce maintenance path the serving stream needs).
    */
  val x162IvfManagedCompact: Stage =
    stage("build_x162_ivf_managed_compact", "graft-ivfmgidx") { (s, dir, out) =>
      val e = t(s, dir, "embeddings").where(col("vec_id") >= 10)
      copyIndex(ivfEvenTemplate(s, dir), out, s) // shared gen-0 template
      graft.sources.Layouts.manageIvf(out)(s)
      graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1), out,
        batchId = Some("odd"))
      graft.sources.Layouts.ivfCompact(out)(s)
      out
    }

  /** x163 staging: the Z-order (Morton) layout over lineitem's price ×
    * quantity plane, written ONCE per fixture dir via
    * [[graft.sources.Layouts.zordered]]. Fine row-group/page granularity
    * at fixture scale so a rectangle predicate has files and pages to
    * prune on BOTH columns (LayoutsSpec pins the actual pruning; the x163
    * catalog probe pins row preservation + the Morton arithmetic under
    * the driver's DuckDB oracle).
    */
  val x163Zorder: Stage =
    stage("build_x163_zorder", "graft-zorder") { (s, dir, out) =>
      graft.sources.Layouts.zordered(t(s, dir, "lineitem"), out,
        "l_extendedprice", "l_quantity",
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x164 staging: the posting index's RETRACTION path — built over the
    * even corpus half, the odd half appended as its own batch slice, then
    * the whole slice retracted via [[graft.sources.Layouts.dropBatch]]
    * (x154/x161's recovery story on the third index family). The probe
    * then expects EXACTLY the even-half search results: a surviving odd
    * posting (retraction leaked) adds candidates, a damaged base slice
    * (retraction over-deleted) loses them — either fails the gate.
    */
  val x164PostingRetract: Stage =
    stage("build_x164_posting_retract", "graft-postretr") { (s, dir, out) =>
      val docs = t(s, dir, "documents")
      copyIndex(postingEvenTemplate(s, dir), out, s) // shared gen-0
      graft.sources.Layouts.postingAppend(docs.where(col("doc_id") % 2 === 1),
        out, groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("odd"))
      val n = graft.sources.Layouts.dropBatch(out, "odd")(s)
      require(n == 1, s"posting retract expected to drop 1 slice, dropped $n")
      out
    }

  /** x167 staging: x157's posting lifecycle on the MANIFEST-GENERATION
    * layout — even half built flat, migrated via
    * [[graft.sources.Layouts.managePosting]], odd half appended (lands
    * sealed in the current generation), then
    * [[graft.sources.Layouts.sortedRebase]], which on a managed index
    * folds into a new generation and publishes the pointer (v0 → v1)
    * instead of renaming the table aside.
    */
  val x167PostingManaged: Stage =
    stage("build_x167_posting_managed", "graft-postmgidx") { (s, dir, out) =>
      val docs = t(s, dir, "documents")
      copyIndex(postingEvenTemplate(s, dir), out, s) // shared gen-0
      graft.sources.Layouts.managePosting(out)(s)
      graft.sources.Layouts.postingAppend(docs.where(col("doc_id") % 2 === 1),
        out, groupBytes = GroupBytes, pageRows = PageRows, batchId = Some("odd"))
      graft.sources.Layouts.sortedRebase(out, Seq("tri"),
        groupBytes = GroupBytes, pageRows = PageRows)(s)
      out
    }

  /** x168 staging: the ANN serving stream ([[graft.streaming.StreamAnn]])
    * kept LIVE across the index's own maintenance — batch 0 served
    * against the even-built managed IVF index, then `ivfAppend` (odd
    * half) + `ivfCompact` (generational fold + pointer publish) fire
    * while the streaming query stays up, then batch 1 is served against
    * the grown index through the new generation. Returns the ledger path.
    */
  val x168StreamAnnCompact: Stage =
    stage("build_x168_stream_ann_compact", "graft-sanncp") { (s, dir, base) =>
      val em = t(s, dir, "embeddings")
      val e = em.where(col("vec_id") >= 20)
      val idx = s"$base/idx"
      graft.sources.Layouts.ivfIndex(e.where(col("vec_id") % 2 === 0), idx,
        centModulo = 50, twoLevel = Some(false))
      graft.sources.Layouts.manageIvf(idx)(s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val q = graft.streaming.StreamAnn.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try {
        landFeedFile(em.where(col("vec_id") < 10), s"$base/stage0", in, "q0")
        q.processAllAvailable()
        // maintenance fires with the serving stream LIVE: the append
        // lands a sealed slice, the compact folds into a new generation
        // and publishes the pointer batch 1's probe then resolves
        graft.sources.Layouts.ivfAppend(e.where(col("vec_id") % 2 === 1),
          idx, batchId = Some("odd"))
        graft.sources.Layouts.ivfCompact(idx)(s)
        landFeedFile(em.where(col("vec_id") >= 10 && col("vec_id") < 20),
          s"$base/stage1", in, "q1")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    }

  /** x172 staging: orders written as Hive-style partition directories on
    * o_orderpriority via [[graft.sources.Layouts.hivePartitioned]] — the
    * coarsest pruning tier, written once per fixture dir.
    */
  val x172HiveLayout: Stage =
    stage("build_x172_hive_layout", "graft-hivepart") { (s, dir, out) =>
      graft.sources.Layouts.hivePartitioned(
        t(s, dir, "orders"), out, "o_orderpriority")
      out
    }

  /** Banded SimHash index rows: 4 disjoint 16-bit bands of the 64-bit
    * signature — Hamming ≤ 3 flips at most 3 bands (pigeonhole), so an
    * equi-join on (band_no, band_val) is a lossless candidate filter,
    * x08's banding persisted as an INDEX table instead of recomputed
    * per run. All four bands are masked (unlike x08's in-flight last
    * band) so the index value is sign-independent and replayable.
    */
  private def simhashBandRows(docs: DataFrame): DataFrame =
    graft.operators.Dedup.simhashBanded(docs)

  private val simhashSortCols = Seq("band_no", "band_val")

  /** x173 staging: the FOURTH manifest family, landed with ZERO new
    * protocol code (the r16 #6 engine's point): a banded-SimHash
    * near-dup index as a generic managed sorted table. Lifecycle
    * exercised end-to-end: build base (evens) → manageSortedTable →
    * sealed append (doc_id%4==1) → managed sortedRebase (fold into a new
    * generation) → second append (%4==3) left as a live slice. The x173
    * probe then reads base+folded+live through one manifest resolve.
    */
  val x173SimhashIndex: Stage =
    stage("build_x173_simhash_index", "graft-shidx") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      graft.sources.Layouts.sortedStats(
        simhashBandRows(docs.where(col("doc_id") % 2 === 0)), out,
        simhashSortCols, groupBytes = GroupBytes, pageRows = PageRows,
        partitions = 1, batchId = Some("base"))
      graft.sources.Layouts.manageSortedTable(out)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 1)), out,
        simhashSortCols, groupBytes = GroupBytes, pageRows = PageRows,
        batchId = Some("g1"))
      graft.sources.Layouts.sortedRebase(out, simhashSortCols,
        groupBytes = GroupBytes, pageRows = PageRows)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 3)), out,
        simhashSortCols, groupBytes = GroupBytes, pageRows = PageRows,
        batchId = Some("g3"))
      out
    }

  /** x174 staging: fold-surviving retraction. Same banded-SimHash family
    * built WITH row provenance from birth (src_batch), two appends
    * FOLDED into base by a managed rebase — their slice dirs are gone —
    * then [[graft.sources.Layouts.retractFolded]] erases batch g1 at the
    * ROW level: the deletion shape dropBatch cannot express once
    * compaction has run, i.e. the GDPR path at 100 TB where compaction
    * is continuous.
    */
  val x174ProvenanceRetract: Stage =
    stage("build_x174_provenance_retract", "graft-shretract") { (s, dir, out) =>
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      graft.sources.Layouts.sortedStats(
        simhashBandRows(docs.where(col("doc_id") % 2 === 0))
          .withColumn("src_batch", lit("base")), out,
        simhashSortCols, groupBytes = GroupBytes, pageRows = PageRows,
        partitions = 1, batchId = Some("base"))
      graft.sources.Layouts.manageSortedTable(out)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 1)), out,
        simhashSortCols, groupBytes = GroupBytes, pageRows = PageRows,
        batchId = Some("g1"), provenance = true)
      graft.sources.Layouts.sortedTableAppend(
        simhashBandRows(docs.where(col("doc_id") % 4 === 3)), out,
        simhashSortCols, groupBytes = GroupBytes, pageRows = PageRows,
        batchId = Some("g3"), provenance = true)
      graft.sources.Layouts.sortedRebase(out, simhashSortCols,
        groupBytes = GroupBytes, pageRows = PageRows)
      graft.sources.Layouts.retractFolded(out, "g1", simhashSortCols,
        groupBytes = GroupBytes, pageRows = PageRows)
      out
    }

  /** x169 staging: the hourly aggregation run in APPEND mode against a
    * parity-split feed — batch 1 re-spans the whole month, so all but its
    * last ~2 h of events arrive behind batch 0's watermark and must be
    * evicted. The third landing is one synthetic event 10 h past the
    * corpus horizon: it pushes the final watermark over every REAL hour
    * window so the append sink flushes them all (its own window stays
    * open and never emits); the extra drain lets the no-data
    * watermark-advance batch run (the EventsStreamSpec timeout pattern).
    */
  val x169StreamLateDrop: Stage =
    stage("build_x169_stream_late_drop", "graft-slate") { (s, dir, base) =>
      withStatePartitions(s, 4) {
        val in = s"$base/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val raw = t(s, dir, "events")
        val q = graft.streaming.EventsStream.hourly(
          graft.streaming.EventsStream.readEvents(s, in))
          .writeStream.format("parquet")
          .option("path", s"$base/ledger")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .start()
        try {
          landFeedFile(eventsFeedOf(raw.where(col("user_id") % 2 === 0)),
            s"$base/st0", in, "a")
          q.processAllAvailable()
          landFeedFile(eventsFeedOf(raw.where(col("user_id") % 2 === 1)),
            s"$base/st1", in, "b")
          q.processAllAvailable()
          landFeedFile(eventsFeedOf(raw.orderBy(col("ts").desc).limit(1)
            .withColumn("ts", col("ts") + lit(36000000000000L))),
            s"$base/st2", in, "c")
          q.processAllAvailable()
          q.processAllAvailable()
        } finally q.stop()
        s"$base/ledger"
      }
    }

  /** x170 staging: [[graft.streaming.StreamDedup.engineDedup]] over two
    * overlapping micro-batches (doc residues {0,1} mod 3, then {1,2}) —
    * the engine's checkpointed seen-key store must swallow batch 1's
    * residue-1 re-deliveries. Returns the ledger path.
    */
  val x170EngineDedup: Stage =
    stage("build_x170_engine_dedup", "graft-sedup") { (s, dir, base) =>
      withStatePartitions(s, 4) {
        val in = s"$base/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        val docs = t(s, dir, "documents")
        val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
        val q = graft.streaming.StreamDedup.engineDedup(
          s, in, s"$base/ledger", s"$base/ckpt")
        try {
          landFeedFile(docs.where(col("doc_id") % 3 <= 1).select(cols: _*),
            s"$base/st0", in, "b0")
          q.processAllAvailable()
          landFeedFile(docs.where(col("doc_id") % 3 >= 1).select(cols: _*),
            s"$base/st1", in, "b1")
          q.processAllAvailable()
        } finally q.stop()
        s"$base/ledger"
      }
    }

  /** x166 staging: [[graft.streaming.EventsStream.attribution]] — the
    * watermarked stream-stream interval join — run as a REAL Structured
    * Streaming query over a two-micro-batch file feed, its append-mode
    * parquet sink kept as the ledger the probe reads. The feed is split
    * by TIME (first half of the span, then the rest) so the 1-hour
    * watermark never classifies a feed file as late: boundary pairs stay
    * joinable because a signup is evicted only once the watermark passes
    * signup_t + the 6 h attribution window, by which point every purchase
    * it could match has already arrived (batch 1 is strictly newer).
    * That makes the streaming output EQUAL to the batch join, which is
    * what lets DuckDB replay it as the oracle.
    */
  val x166StreamAttrib: Stage =
    stage("build_x166_stream_attrib", "graft-sattrib") { (s, dir, base) =>
      withStatePartitions(s, 4) {
        val in = s"$base/in"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
        // split point on the loader-contract epoch-nano ts (one 1-row
        // driver read, like the zordered stats pair)
        val raw = t(s, dir, "events")
        val mm = raw.agg(min("ts"), max("ts")).head()
        val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val q = graft.streaming.EventsStream.attribution(
          graft.streaming.EventsStream.readEvents(s, in), windowSec = 21600L)
          .writeStream.format("parquet")
          .option("path", s"$base/ledger")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .start()
        try {
          landFeedFile(eventsFeedOf(raw.where(col("ts") < mid)),
            s"$base/stage0", in, "b0")
          q.processAllAvailable()
          landFeedFile(eventsFeedOf(raw.where(col("ts") >= mid)),
            s"$base/stage1", in, "b1")
          q.processAllAvailable()
        } finally q.stop()
        s"$base/ledger"
      }
    }

  /** x158 staging: gen-0 index forked from the shared template, then the
    * admit loop RUNS as a real
    * Structured Streaming query — gen-1 landed and drained (engine batch
    * 0), THEN gen-2 landed and drained (batch 1): the landing order is
    * forced because the loop is order-dependent by design (gen-2 must
    * probe the index gen-1's admissions grew). Returns the ledger path.
    */
  val x158StreamAdmit: Stage =
    stage("build_x158_stream_admit", "graft-sadmit") { (s, dir, base) =>
      val docs = t(s, dir, "documents")
      val idx = s"$base/idx"
      // gen-0 = the shared template (VERDICT r15 #3), copied — this
      // build row then measures the streaming admit loop itself
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx))
      copyIndex(minhashTemplate(s, dir), idx, s)
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val cols = graft.streaming.StreamDedup.docSchema.fieldNames.map(col)
      val q = graft.streaming.StreamDedup.ingestAdmitLoop(
        s, in, idx, s"$base/ledger", s"$base/ckpt",
        groupBytes = GroupBytes, pageRows = PageRows)
      try {
        landFeedFile(docs.where(col("doc_id") % 3 === 1).select(cols: _*),
          s"$base/stage1", in, "g1")
        q.processAllAvailable()
        landFeedFile(docs.where(col("doc_id") % 3 === 2).select(cols: _*),
          s"$base/stage2", in, "g2")
        q.processAllAvailable()
      } finally q.stop()
      s"$base/ledger"
    }

  /** One feed file = one micro-batch for the maxFilesPerTrigger=1 file
    * sources: write a 1-part parquet to a staging dir, copy the part file
    * into the feed dir under a stable name (the StreamDriftSpec landing
    * pattern, shared by the streaming bench rows).
    */
  private def landFeedFile(
      df: DataFrame, stage: String, feedDir: String, name: String): Unit =
    landStaged(stageFeedFile(df, stage), feedDir, name)

  /** Write `df` as one parquet part file in a staging dir and return that
    * file — the WRITE half of [[landFeedFile]], split out (r19) so feeds
    * that land the SAME frame under several trigger files pay the Spark
    * write job once and the per-landing cost is a file copy (the landing
    * TIME stays wherever the caller puts [[landStaged]], which is what
    * orders a micro-batch against live index maintenance).
    */
  private def stageFeedFile(df: DataFrame, stage: String): java.io.File = {
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
  }

  /** Land an already-staged part file into the feed dir under a stable
    * name — one micro-batch for the maxFilesPerTrigger=1 sources.
    */
  private def landStaged(part: java.io.File, feedDir: String, name: String): Unit =
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$feedDir/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the session default afterwards. A stateful streaming
    * query latches its STATE-STORE partition count from this conf at
    * first start (it is burned into the checkpoint), and a stream-stream
    * join keeps FOUR stores per partition — at the session's batch
    * default of 32 that is 128 store commits per trigger, and on a
    * high-latency scratch device the per-file commit overhead (~0.5 s
    * per tiny delta file on the r16 driver host) dominates the trigger
    * wall (VERDICT r16 #1: x166 p50 4.1 s, with state commitMs the bulk
    * of addBatch). Sizing state partitions to the stateful workload —
    * not inheriting the batch scan default — is the standard production
    * knob; at 100 TB ingest the same number is sized UP deliberately
    * (state volume / partition memory), never left to the scan default.
    * r18 optimization round: re-sized 8 → 4 against the measured state
    * volume (≤14 k join-state rows ≈ 3.5 MB total — one partition would
    * hold it; 4 keeps some commit/IO overlap): per-trigger state
    * commitMs 2.1–3.1 s → 0.65–0.87 s on the StreamProfile A/B, x166
    * serving wall 7.1 → 5.8 s warm, p50 unchanged-to-better.
    */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Fixture events projected to the streaming file-source shape
    * (EventsStream.schema: ts TIMESTAMP_NTZ) — the feed the monitors read.
    */
  private def eventsFeed(s: SparkSession, dir: String): DataFrame =
    eventsFeedOf(t(s, dir, "events"))

  /** The same projection over an already-filtered slice of the raw events
    * table (the x166 staging splits the feed by TIME on the epoch-nano ts
    * before projecting).
    */
  private def eventsFeedOf(raw: DataFrame): DataFrame =
    raw.select(col("event_id"),
      expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  /** Steady-state STREAMING serving rows, timed by [[graft.Bench]] as
    * their own category next to the one-time builds (VERDICT r12 #6: the
    * streaming legs ran only under specs — now they are graded like
    * batch). Each thunk lands a small multi-file feed, runs the real
    * Structured Streaming query to completion (processAllAvailable), and
    * tears its stream down; the wall covers feed landing + stream
    * startup + every micro-batch, so the row is a round-over-round
    * comparable end-to-end serving measurement against the SAME persisted
    * artifacts the batch probes use (memoized staged indexes / in-row
    * reference tables).
    */
  val streamingBench: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // 3 micro-batches of ~1000 query vectors probed against the staged
    // x144 IVF index (already built by the build rows — this row measures
    // SERVING: per-trigger dedup + dynamic-partition-pruned cell probe +
    // idempotent ledger append)
    "stream_x144_ann_serve" -> ((s, dir) => {
      val idx = x144IvfIndex(s, dir)
      val base = stagedScratch("graft-sann")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val queries = t(s, dir, "embeddings").where(col("vec_id") < 1000)
      // three triggers of the SAME query frame: one staged write, three
      // landings (the write job is the cost; the landing is a copy)
      val part = stageFeedFile(queries, s"$base/stage")
      (0 until 3).foreach(b => landStaged(part, in, s"q$b"))
      val q = graft.streaming.StreamAnn.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 3 micro-batches of term queries served off the staged x178 BM25
    // index (already built by the build rows — this row measures
    // lexical SERVING: per-trigger distinct-term collect + pruned
    // posting probe + idempotent ledger append), extending the serving
    // SLO suite to the lexical index family
    "stream_x178_bm25_serve" -> ((s, dir) => {
      val idx = x178Bm25Index(s, dir)
      val base = stagedScratch("graft-sbserve")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      import s.implicits._
      val queries = Seq((0L, "scan"), (1L, "merge"), (2L, "vector"),
        (3L, "filter"), (4L, "hash"), (5L, "stream"))
        .toDF("query_id", "term")
      // three triggers of the SAME query frame: one staged write, three
      // landings (see stream_x144_ann_serve)
      val part = stageFeedFile(queries, s"$base/stage")
      (0 until 3).foreach(b => landStaged(part, in, s"q$b"))
      val q = graft.streaming.StreamBm25.serve(
        s, in, idx, s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 2 event micro-batches scored against the persisted PSI band
    // histogram (reference built in-row: |types|×10 rows, trivial)
    "stream_x98_psi_monitor" -> ((s, dir) => {
      val base = stagedScratch("graft-spsi")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = eventsFeed(s, dir)
      graft.streaming.StreamDrift.referenceHistogram(ev, s"$base/ref")
      (0 until 2).foreach(b =>
        landFeedFile(ev.where(col("user_id") % 2 === b), s"$base/stage$b", in, s"b$b"))
      val q = graft.streaming.StreamDrift.monitor(
        s, in, s"$base/ref", s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 3 signup/purchase micro-batches through the watermarked
    // stream-stream interval join (EventsStream.attribution) into an
    // append-mode parquet sink — the serving row for the JOIN-state
    // stream shape (the other three rows serve probe/agg state); feeds
    // land time-sliced so the watermark stays monotone like production
    "stream_x166_attrib_serve" -> ((s, dir) => withStatePartitions(s, 4) {
      val base = stagedScratch("graft-sattr2")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val raw = t(s, dir, "events")
      val mm = raw.agg(min("ts"), max("ts")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val q = graft.streaming.EventsStream.attribution(
        graft.streaming.EventsStream.readEvents(s, in), windowSec = 21600L)
        .writeStream.format("parquet")
        .option("path", s"$base/ledger")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .start()
      try (0 until 3).foreach { b =>
        val from = lo + (hi - lo) * b / 3
        val until = if (b == 2) hi + 1 else lo + (hi - lo) * (b + 1) / 3
        landFeedFile(eventsFeedOf(
          raw.where(col("ts") >= from && col("ts") < until)),
          s"$base/stage$b", in, s"b$b")
        q.processAllAvailable()
      } finally q.stop()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }),
    // 2 event micro-batches appended to the idempotent hourly ledger,
    // then the distributed two-sided CUSUM scoring pass over the
    // accumulated series — ledger build AND the scoring read both billed
    "stream_x147_cusum_monitor" -> ((s, dir) => {
      val base = stagedScratch("graft-scusum")
      val in = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val ev = eventsFeed(s, dir)
      graft.streaming.StreamDrift.referenceRate(ev, s"$base/ref")
      (0 until 2).foreach(b =>
        landFeedFile(ev.where(col("user_id") % 2 === b), s"$base/stage$b", in, s"b$b"))
      val q = graft.streaming.StreamDrift.monitorCusum(
        s, in, s"$base/ledger", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      graft.streaming.StreamDrift.cusumLedger(s, s"$base/ledger", s"$base/ref")
        .write.format("noop").mode("overwrite").save()
      scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
    }))

  /** Every stage in dependency order: the shared gen-0 templates come
    * before the lifecycles that fork them, and x153 before the x155/x161
    * stagings that fork its grown index. Applying them in this order
    * makes each build row bill only its own work.
    */
  val all: Seq[Stage] = Seq(
    minhashTemplate, ivfEvenTemplate, postingEvenTemplate, bm25Template,
    x101Posting, x117MinhashIndex, x139JaccardIndex, x144IvfIndex,
    x145Ivf2Index, x151Ledger, x152IvfAppend, x153MinhashAppend,
    x154IvfRetract, x155MinhashCompact, x156IvfCompact, x157PostingAppend,
    x158StreamAdmit, x159ManagedCompact, x160StreamAdmitCompact,
    x161MinhashRetract, x162IvfManagedCompact, x163Zorder,
    x164PostingRetract, x166StreamAttrib, x167PostingManaged,
    x168StreamAnnCompact, x169StreamLateDrop, x170EngineDedup,
    x172HiveLayout, x173SimhashIndex, x174ProvenanceRetract,
    x176MinhashRetractFolded, x177IvfRetractFolded, x178Bm25Index,
    x182Bm25Append, x183Bm25Retract, x187StreamBm25, x190Bm25Managed,
    x192Positional, x194PositionalAppend, x195PositionalRetract,
    x198StreamDecontam, x200ChunkBm25)

  /** On-disk locations of the stages built for `dir` so far (label →
    * path) — lets [[graft.Bench]] report each index's byte size next to
    * the probe timings.
    */
  def paths(dir: String): Seq[(String, String)] =
    all.flatMap(st => st.path(dir).map(st.label -> _))
}
