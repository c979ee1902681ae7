package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, xxhash64}

import graft.sources.SegmentedStore
import graft.streaming.CurationStream

import Search.Req

/** Curate→serve stream: one JSONL micro-batch drained by one
  * `AvailableNow` run of `curateToServeStream` into a serving store,
  * then a read-your-write search for one of the batch's fresh docs. */
object StreamCurateServe {
  val SeedDocs = 40
  val Tenants = 6
  val BatchDocs = 48
  val Bm25Only = Some("""{"bm25":1}""")
  // kinds by position in a batch, every 20 docs: 3 exact duplicates,
  // 2 near duplicates, 3 cross-tenant copies, 12 fresh (position 0
  // always fresh, so every batch has a doc to look up)
  val Exact = Set(3, 9, 15)
  val Near = Set(6, 17)
  val Cross = Set(1, 11, 19)
  val LongWords = 180 // near-dup sources: one appended word keeps 3-shingle Jaccard >= 0.98

  final case class Doc(filename: String, text: String, org: String,
                       survives: Boolean, unique: Option[String])

  def run(env: Env): Result = {
    val seed = env.o.seed
    val g = new Gen(seed)
    val tenants = g.tenants(Tenants)
    val inDir = env.dir("in")
    val root = env.dir("store")
    val stateDir = env.dir("state")
    val ckpt = env.o.work.resolve("checkpoint").toString
    val svc = new TracedService(env.spark, root)
    // accepted texts per tenant; the Boolean marks near-dup sources
    val accepted = mutable.Map[String, Vector[(String, Boolean)]]().withDefaultValue(Vector.empty)
    var userBytes = 0L

    def longText(): String = g.text(LongWords, LongWords + 20)
    def accept(d: Doc): Unit =
      accepted(d.org) = accepted(d.org) :+ (d.text -> (d.text.count(_ == ' ') >= LongWords - 1))

    def drain(docs: Seq[Doc]): String = {
      val lines = docs.map(d =>
        s"""{"filename":${Gen.jsonStr(d.filename)},"text":${Gen.jsonStr(d.text)},""" +
          s""""organization_id":"${d.org}"}""")
      Files.write(Paths.get(inDir, "batch.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      userBytes += docs.map(d => Stats.bytes(d.text)).sum
      val src = env.spark.readStream
        .schema("filename string, text string, organization_id string").json(inDir)
      val q = CurationStream.curateToServeStream(svc, src, stateDir, ckpt).start()
      Trace.span("streaming.curateToServeStream", q.runId.toString)(q.awaitTermination())
      q.exception.foreach(e => throw e)
      docs.filter(_.survives).foreach(accept)
      q.runId.toString
    }

    // set-up: session + the seed documents landed twice, concurrently:
    // bulk-ingested into the serving store, and curated tenant-scoped
    // (scope = tenant, ids as the stream derives them) into the state
    val seedDocs = g.seedTenants(SeedDocs, tenants).zipWithIndex.map { case (org, i) =>
      Doc(s"seed$i.md", if (i % 4 == 0) longText() else g.text(Gen.seedLength(i)), org,
        survives = true, None)
    }
    seedDocs.foreach(accept)
    userBytes += seedDocs.map(d => Stats.bytes(d.text)).sum
    val seedDf = {
      import env.spark.implicits._
      seedDocs.map(d => (d.filename, d.text, d.org)).toDF("filename", "text", "organization_id")
    }
    val stateSeed = scala.concurrent.Future(env.inGroup("setup") {
      CurationStream.curateBatch(seedDf.select(
        xxhash64(col("organization_id"), col("filename"), col("text")).as("id"),
        col("text"), col("organization_id").as("scope")), stateDir)
    })(scala.concurrent.ExecutionContext.global)
    env.inGroup("setup")(svc.ingestBatch(seedDf))
    scala.concurrent.Await.result(stateSeed, scala.concurrent.duration.Duration.Inf)
    val setupS = env.sinceStartS
    val afterFlip = mutable.ArrayBuffer[Double]()
    if (env.trace) afterFlip += Layers.viewAfterFlip(env, root)

    /** One micro-batch: fresh docs (a unique token each), same-tenant
      * exact and near duplicates of accepted docs, and cross-tenant
      * copies of accepted docs into tenants that lack them. Tenants and
      * kinds are fixed by position, so every seed streams the same
      * shape; a duplicate or copy with no candidate becomes fresh. */
    def batch(size: Int): Vector[Doc] = {
      val used = mutable.Set[(String, String)]()
      val out = Vector.newBuilder[Doc]
      g.seedTenants(size, tenants).zipWithIndex.foreach { case (org, i) =>
        val fn = s"b$i.md"
        val own = accepted(org).filterNot(t => used((org, t._1)))
        val doc = i % 20 match {
          case k if Exact(k) && own.nonEmpty =>
            Doc(fn, g.pick(own)._1, org, survives = false, None)
          case k if Near(k) && own.exists(_._2) =>
            val t = g.pick(own.filter(_._2))._1
            Doc(fn, t.stripSuffix(".") + " " + g.pick(g.baseVocab) + ".",
              org, survives = false, None)
          case k if Cross(k) =>
            val target = g.pick(tenants.filter(_ != org))
            val theirs = accepted(target).map(_._1).toSet
            val cands = accepted(org).map(_._1)
              .filter(t => !theirs(t) && !used((target, t)))
            if (cands.isEmpty) fresh(fn, org, i)
            else Doc(fn, g.pick(cands), target, survives = true, None)
          case _ => fresh(fn, org, i)
        }
        used += ((doc.org, doc.text))
        out += doc
      }
      out.result()
    }
    def fresh(fn: String, org: String, i: Int): Doc = {
      val tok = g.uniqueToken()
      val base = if (i % 5 == 0) longText() else g.text(Gen.seedLength(i))
      Doc(fn, base.stripSuffix(".") + " " + tok + ".", org, survives = true, Some(tok))
    }

    // (checked unit, message): the batch, the isolation and the survivor
    // checks; a unit fails once however many checks it fails
    val failures = mutable.ArrayBuffer[(String, String)]()
    val segsBefore = SegmentedStore.readManifest(root).map(_.segments.size).getOrElse(0)

    // One batch, timed as it comes, cold, so every run does the same
    // work whatever its speed or `--seconds`: an untimed warm-up batch
    // would cost about as much again. Timed from landing the file to the
    // read-your-write answer, a search for one fresh doc's token.
    val docs = batch(BatchDocs)
    val probe = docs.find(_.unique.isDefined).get
    val (b0, f0) = if (env.trace) Stats.dirUsage(root) else (0L, 0)
    val gc0 = Stats.gcMs()
    val cpu0 = env.meter.map(_.cpuMs).getOrElse(0.0)
    val t = System.nanoTime()
    val runId = drain(docs)
    val rid = "ryw"
    // keyword lookup: BM25 alone ranks the one doc holding the token
    // first, where fused ranking may let dense hits push it out
    val r = Search.call(env, svc, Req(rid, probe.org, probe.unique.get, weights = Bm25Only))
    val opMs = (System.nanoTime() - t) / 1e6
    val gcWindow = Stats.gcMs() - gc0
    env.drainListeners()
    val cpuWindow = env.meter.map(_.cpuMs).getOrElse(0.0) - cpu0
    r.error.foreach(e => failures += rid -> e)
    if (!r.ids.exists(_.startsWith(s"${probe.org}::${probe.filename}_")))
      failures += rid -> (s"fresh doc ${probe.filename} not found by its token " +
        s"${probe.unique.get} in ${probe.org}; got ${r.ids.take(3).mkString(",")}")
    val (written, filesWritten) =
      if (env.trace) { val (b1, f1) = Stats.dirUsage(root); (b1 - b0, f1 - f0) } else (0L, 0)
    if (env.trace) afterFlip += Layers.viewAfterFlip(env, root)
    val segs = SegmentedStore.readManifest(root).map(_.segments.size).getOrElse(0)

    // tenant isolation: another tenant never sees the probed doc
    val other = tenants.find(_ != probe.org).get
    val x = Search.call(env, svc, Req("isolation", other, probe.unique.get, weights = Bm25Only))
    x.error.foreach(e => failures += "isolation" -> e)
    if (x.ids.exists(_.contains(s"::${probe.filename}_")))
      failures += "isolation" -> s"${probe.filename} visible to tenant $other"

    // survivors: every seed doc plus the generator's expected survivors
    // must be in the store, and nothing else
    val stored = SegmentedStore.readManifest(root).map(m =>
      SegmentedStore.loadView(env.spark, root, m).chunks
        .select("document_id").distinct().count()).getOrElse(-1L)
    val survived = stored - SeedDocs
    val expectSurvivors = docs.count(_.survives)
    if (survived != expectSurvivors)
      failures += "survivors" -> s"store holds $survived streamed docs, generator expects $expectSurvivors"
    if (docs.size - survived <= 0) failures += "survivors" -> "no duplicate was dropped"

    val heap = Stats.heapLiveMb(env.spark)
    val diskBytes = Stats.dirUsage(root)._1 + Stats.dirUsage(stateDir)._1
    val attempted = 3
    val failed = failures.map(_._1).distinct.size
    val notes = failures.take(5).map { case (u, m) => s"$u: $m" }.toSeq ++ Seq(
      f"set-up $setupS%.1f s, batch $opMs%.0f ms",
      f"streamed ${docs.size} docs, $survived survived, ${docs.size - survived} dropped",
      f"fail_frac = $failed/$attempted")

    val metrics =
      if (!env.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_ms_p50", opMs, "ms"),
        ("heap_live_mb", heap, "MB"),
        ("store_bytes_per_user_byte", diskBytes.toDouble / userBytes, "ratio"))
      else {
        val (pipeMs, chunks) = Layers.seedPipeline(env,
          seedDocs.map(d => (d.filename, d.text, d.org)))
        val seedSpan = Trace.named("serve.ingestBatch").head.ms
        val probeQs = Seq(tenants.head, tenants.last).distinct
          .filter(t => accepted(t).nonEmpty)
          .map(t => t -> new Gen(seed + 17).query(accepted(t).map(_._1)))
        val stateFiles = Stats.dirUsage(stateDir)._2
        val compactions = CurationStream.readStateManifest(env.spark, stateDir)
          .map(_.gen.toDouble).getOrElse(0.0)
        val runJobs = env.meter.get.sum(_ == runId).jobs
        Seq(("trace.op_ms_p50", opMs, "ms")) ++
          Layers.spark(env, Set(runId, rid), Set(rid), Set("setup"),
            1, 1, cpuWindow, opMs) ++
          Search.probes(env, svc, root, probeQs) ++ Seq(
            ("retrieval.results_per_search",
              r.ids.size / 10.0, "ratio")) ++
          Layers.sourcesWarm(env, root) ++ Seq(
            ("sources.view_ms_after_flip", Stats.p50(afterFlip.toSeq), "ms"),
            ("sources.seed_persist_ms", seedSpan - pipeMs, "ms"),
            ("sources.bytes_written_per_op", written.toDouble, "bytes"),
            ("sources.files_written_per_op", filesWritten.toDouble, "count"),
            ("sources.segments",
              SegmentedStore.readManifest(root).map(_.segments.size).getOrElse(0).toDouble, "count"),
            ("sources.folds", if (segs < segsBefore) 1.0 else 0.0, "count"),
            ("ingest.seed_pipeline_ms", pipeMs, "ms"),
            ("ingest.chunks_per_doc", chunks.toDouble / SeedDocs, "ratio"),
            ("ingest.pipeline_docs_per_s", SeedDocs / (pipeMs / 1000), "1/s"),
            ("streaming.survivor_frac", survived.toDouble / docs.size, "ratio"),
            ("streaming.dropped_dups", (docs.size - survived).toDouble, "count"),
            ("streaming.jobs_per_batch", runJobs.toDouble, "count"),
            ("streaming.state_files", stateFiles.toDouble, "count"),
            ("streaming.compactions", compactions, "count")) ++
          Layers.jvm(gcWindow, heap)
      }
    Result(attempted, failed, metrics, notes)
  }
}
