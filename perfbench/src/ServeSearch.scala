package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import Search.Req

/** Read-only serving: 2 closed-loop clients call `handle` search on a
  * seeded multi-tenant store. */
object ServeSearch {
  val Docs = 80
  val Tenants = 9
  val Clients = 2
  // non-default dense modes by cycle slot
  val ModeAt = Map(2 -> "exact", 5 -> "quantized", 8 -> "ivfpq",
    12 -> "hnsw", 15 -> "exact", 18 -> "quantized")
  // one default search per client
  val WarmupSlots = Set(0, 10)
  val ProbesPerTenant = 2

  def run(env: Env): Result = {
    val seed = env.o.seed
    val g = new Gen(seed)
    val tenants = g.tenants(Tenants)
    val docs = g.seedTenants(Docs, tenants).zipWithIndex.map { case (t, i) =>
      (s"d$i.md", g.text(Gen.seedLength(i)), t)
    }
    val byTenant = docs.groupBy(_._3).map { case (t, ds) => t -> ds.map(_._2) }
    val live = tenants.filter(byTenant.contains)

    // set-up: session (already up) + one bulk ingest seeding the store
    val root = env.dir("store")
    val svc = new TracedService(env.spark, root)
    import env.spark.implicits._
    env.inGroup("setup") {
      svc.ingestBatch(docs.toDF("filename", "text", "organization_id"))
    }
    val setupS = env.sinceStartS
    val afterFlipMs = if (env.trace) Layers.viewAfterFlip(env, root) else 0.0

    // The request mix is one fixed 20-request cycle, split between the
    // clients (client c sends slots 10c to 10c+9 in order): tenants in
    // Zipf(1.0) shares by size rank; 14 default (ann) dense mode, 2
    // exact, 2 quantized, 1 ivfpq, 1 hnsw; 2 zero-hit; 1 enhanced; 1
    // with a filter. The seed sets the documents and the query words.
    // Every run sends exactly this list, so the median covers the same
    // mix whatever the program's speed.
    val ranked = live.sortBy(t => -byTenant(t).size)
    val tenantCycle = Gen.zipfSchedule(ranked.size, 20)
    def requests(stream: Long, slots: Seq[Int]): Seq[Req] = {
      val gc = new Gen(seed * 1000003L + stream)
      slots.map { slot =>
        val org = ranked(tenantCycle(slot))
        val q = gc.query(byTenant(org), zeroHit = slot % 10 == 7)
        Req(s"s$stream-$slot", org, q, ModeAt.get(slot), enhanced = slot == 4,
          filter = slot == 14)
      }
    }
    def half(c: Int): Seq[Int] = c * 10 until c * 10 + 10

    // warm-up, untimed: the first search of a run pays class loading and
    // code generation. Each other mode's first use falls on the same slot
    // in every run, and the median is robust to a few slower searches.
    val warm0 = System.nanoTime()
    runClients(Clients, c => requests(100 + c, half(c).filter(WarmupSlots)), env, svc,
      new ConcurrentLinkedQueue())
    val warmS = (System.nanoTime() - warm0) / 1e9

    val gc0 = Stats.gcMs()
    val cpu0 = env.meter.map(_.cpuMs).getOrElse(0.0)
    val out = new ConcurrentLinkedQueue[(Req, Search.Resp)]()
    val w0 = System.nanoTime()
    runClients(Clients, c => requests(c, half(c)), env, svc, out)
    val windowMs = (System.nanoTime() - w0) / 1e6
    val gcWindow = Stats.gcMs() - gc0
    env.drainListeners()
    val cpuWindow = env.meter.map(_.cpuMs).getOrElse(0.0) - cpu0

    val rs = out.asScala.toSeq
    val lat = rs.map(_._2.ms)
    val failures = rs.flatMap { case (r, x) => x.error.map(e => s"${r.id}: $e") }
    val heap = Stats.heapLiveMb(env.spark)
    val storeBytes = Stats.dirUsage(root)._1
    val userBytes = docs.map(d => Stats.bytes(d._2)).sum

    val notes = failures.take(5) ++ Seq(
      f"set-up $setupS%.1f s, warm-up $warmS%.1f s, timed ${windowMs / 1000}%.1f s",
      f"${lat.size} searches, ${rs.size / (windowMs / 1000)}%.3f/s, ms in completion order: " +
        lat.map(_.round).mkString(" "),
      f"fail_frac = ${failures.size}/${rs.size}")

    val metrics =
      if (!env.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_ms_p50", Stats.p50(lat), "ms"),
        ("heap_live_mb", heap, "MB"),
        ("store_bytes_per_user_byte", storeBytes.toDouble / userBytes, "ratio"))
      else {
        val searchIds = rs.map(_._1.id).toSet
        val (pipeMs, chunks) = Layers.seedPipeline(env, docs)
        val seedSpan = Trace.named("serve.ingestBatch").head.ms
        // two probe queries each for the largest and the smallest tenant
        val pg = new Gen(seed + 17)
        val probeQs = Seq(ranked.head, ranked.last).distinct.flatMap(t =>
          Seq.fill(ProbesPerTenant)(t -> pg.query(byTenant(t))))
        Seq(("trace.op_ms_p50", Stats.p50(lat), "ms")) ++
          Layers.spark(env, searchIds, searchIds, Set("setup"), rs.size, rs.size,
            cpuWindow, windowMs) ++
          Search.probes(env, svc, root, probeQs) ++ Seq(
            ("retrieval.results_per_search",
              rs.map(_._2.ids.size / 10.0).sum / math.max(1, rs.size), "ratio")) ++
          Layers.sourcesWarm(env, root) ++ Seq(
            ("sources.view_ms_after_flip", afterFlipMs, "ms"),
            ("sources.seed_persist_ms", seedSpan - pipeMs, "ms"),
            ("sources.bytes_written_per_op", 0.0, "bytes"),
            ("sources.files_written_per_op", 0.0, "count"),
            ("sources.segments", 0.0, "count"),
            ("sources.folds", 0.0, "count"),
            ("ingest.seed_pipeline_ms", pipeMs, "ms"),
            ("ingest.chunks_per_doc", chunks.toDouble / docs.size, "ratio"),
            ("ingest.pipeline_docs_per_s", docs.size / (pipeMs / 1000), "1/s"),
            ("streaming.survivor_frac", 0.0, "ratio"),
            ("streaming.dropped_dups", 0.0, "count"),
            ("streaming.jobs_per_batch", 0.0, "count"),
            ("streaming.state_files", 0.0, "count"),
            ("streaming.compactions", 0.0, "count")) ++
          Layers.jvm(gcWindow, heap)
      }
    Result(rs.size, failures.size, metrics, notes)
  }

  /** Closed loop: each client sends its next request when the last one
    * returns, until its list is done. */
  def runClients(clients: Int, reqs: Int => Seq[Req], env: Env,
                 svc: graft.serve.QueryService,
                 out: ConcurrentLinkedQueue[(Req, Search.Resp)]): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try reqs(c).foreach(r => out.add(r -> Search.call(env, svc, r)))
        catch { case e: Throwable => errors.add(e) }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}
