package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.serve.QueryService
import graft.sources.SegmentedStore

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--spans <file>]`. Prints one JSON result line last on
  * stdout; a traced run writes its spans to the `--spans` file. */
object Main {
  final case class Opts(workload: String, seed: Long, trace: Boolean, work: Path)

  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def run(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    // --seconds is required but unused: every workload runs a fixed
    // amount of work, so runs of any speed measure the same thing
    require(need("--seconds").toInt > 0, "--seconds must be positive")
    val o = Opts(need("--workload"), need("--seed").toLong, need("--trace") == "1",
      Paths.get(need("--work")))
    val workload: Env => Result = o.workload match {
      case "serve_search" => ServeSearch.run
      case "stream_curate_serve" => StreamCurateServe.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(o.work)
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions()(_))
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = if (o.trace) {
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      Trace.on = true
      Some(m)
    } else None
    val env = Env(spark, o, meter, t0, nproc)
    val res = workload(env)
    kv.get("--spans").filter(_ => o.trace).foreach(p => Trace.writeJsonl(Paths.get(p)))
    (res.notes :+ f"session up at $sessionS%.1f s, workload done at ${env.sinceStartS}%.1f s")
      .foreach(n => System.err.println(s"[perfbench] $n"))
    val metrics = res.metrics.map { case (k, v, u) =>
      s"${Gen.jsonStr(k)}:{\"value\":${num(v)},\"unit\":${Gen.jsonStr(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${res.failed == 0},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":$metrics}""")
    System.out.flush()
    // every streaming query has ended; halting skips Spark's shutdown
    // hooks, which only clean up the work dir the caller removes anyway
    Runtime.getRuntime.halt(0)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

final case class Env(spark: SparkSession, o: Main.Opts, meter: Option[Meter],
                     t0: Long, nproc: Int) {
  def trace: Boolean = o.trace
  def sinceStartS: Double = (System.nanoTime() - t0) / 1e9
  def dir(name: String): String = {
    val p = o.work.resolve(name); Files.createDirectories(p); p.toString
  }

  /** Run `f` with `group` as the Spark job group of this thread (traced
    * runs only), so listener data is keyed by the request. */
  def inGroup[A](group: String)(f: => A): A =
    if (!trace) f
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }

  def drainListeners(): Unit =
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

final case class Result(attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)],
                        notes: Seq[String])

/** A QueryService whose bulk-ingest seam is spanned, so calls the
  * program makes into it (the curate→serve stream) show in the trace. */
final class TracedService(spark: SparkSession, root: String)
    extends QueryService(spark, root) {
  override def ingestBatch(docs: DataFrame): Long =
    Trace.span("serve.ingestBatch",
      Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id")).getOrElse(""))(
      super.ingestBatch(docs))
}

object Stats {
  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def dirUsage(root: String): (Long, Int) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0)
    else {
      val st = Files.walk(p)
      try {
        val files = st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size)
      } finally st.close()
    }
  }

  /** Heap in use after full collections, in MB. */
  def heapLiveMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def bytes(s: String): Long = s.getBytes("UTF-8").length.toLong
}

/** Search requests and response checks shared by both workloads. */
object Search {
  implicit val formats: Formats = DefaultFormats

  final case class Req(id: String, org: String, query: String,
                       mode: Option[String] = None, enhanced: Boolean = false,
                       filter: Boolean = false, weights: Option[String] = None,
                       limit: Int = 10) {
    def json: String =
      s"""{"op":"search","organization_id":"$org","query":${Gen.jsonStr(query)},""" +
        s""""limit":$limit""" +
        mode.map(m => s""","dense_mode":"$m"""").getOrElse("") +
        (if (enhanced) ""","enhanced":true""" else "") +
        (if (filter) ""","filters":{"level":"paragraph"}""" else "") +
        weights.map(w => s""","weights":$w""").getOrElse("") + "}"
  }

  final case class Resp(ms: Double, ids: Seq[String], error: Option[String])

  /** One timed `handle` call in its own job group, checked: it parses,
    * carries no error status, returns at most `limit` results, and
    * every result belongs to the requesting tenant. */
  def call(env: Env, svc: QueryService, r: Req): Resp = {
    val t = System.nanoTime()
    val out = env.inGroup(r.id) {
      Trace.span("serve.handle.search", r.id)(svc.handle(r.json))
    }
    val ms = (System.nanoTime() - t) / 1e6
    val parsed = try Right(parse(out)) catch { case e: Exception => Left(e.getMessage) }
    parsed match {
      case Left(e) => Resp(ms, Nil, Some(s"unparseable response: $e"))
      case Right(j) =>
        val ids = (j \ "results") match {
          case JArray(rs) => rs.map(x => (x \ "id").extractOpt[String].getOrElse(""))
          case _ => Nil
        }
        val err =
          if ((j \ "status") != JNothing) Some(s"error response: $out")
          else if ((j \ "results") == JNothing) Some(s"no results field: $out")
          else if (ids.size > r.limit) Some(s"${ids.size} results > limit ${r.limit}")
          else ids.find(!_.startsWith(r.org + "::"))
            .map(id => s"result $id outside tenant ${r.org}")
        Resp(ms, ids, err)
    }
  }

  /** Traced-run probes on a few (tenant, query) pairs: per-mode
    * dense-only latency and recall@10 against exact, BM25-only and
    * enhanced latency, and a shadow of the default search through
    * HybridSearch directly (plan build vs execution), whose time is
    * taken off the default `handle` call made just before it to give
    * the serving layer's own share. */
  def probes(env: Env, svc: QueryService, root: String,
             qs: Seq[(String, String)]): Seq[(String, Double, String)] = {
    val modes = Seq("exact", "ann", "quantized", "ivfpq", "hnsw")
    val dense = mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val recall = mutable.ArrayBuffer[Double]()
    val bm25, enh, self, build, exec = mutable.ArrayBuffer[Double]()
    qs.zipWithIndex.foreach { case ((org, q), i) =>
      val byMode = modes.map { m =>
        val r = call(env, svc, Req(s"probe-$i-$m", org, q, mode = Some(m),
          weights = Some("""{"dense":1}""")))
        dense(m) = dense(m) :+ r.ms
        m -> r.ids.take(10)
      }.toMap
      val truth = byMode("exact").toSet
      if (truth.nonEmpty) modes.filter(_ != "exact").foreach { m =>
        recall += byMode(m).count(truth.contains).toDouble / truth.size
      }
      bm25 += call(env, svc, Req(s"probe-$i-bm25", org, q,
        weights = Some("""{"bm25":1}"""))).ms
      enh += call(env, svc, Req(s"probe-$i-enh", org, q, enhanced = true)).ms
      val h = call(env, svc, Req(s"probe-$i-default", org, q))
      val (b, x) = shadow(env, root, org, q, s"probe-$i-shadow")
      build += b; exec += x
      self += h.ms - b - x
    }
    // a difference of two requests, not a span of one: it can come out
    // negative when the shadow runs slower than the request it mirrors
    val negative = self.count(_ < 0)
    if (negative > 0)
      System.err.println(s"[perfbench] serve.search_self_ms: $negative of ${self.size} " +
        "differences were negative and count as 0")
    modes.map(m => (s"retrieval.dense_only_ms_p50.$m", Stats.p50(dense(m)), "ms")) ++ Seq(
      ("retrieval.bm25_only_ms_p50", Stats.p50(bm25.toSeq), "ms"),
      ("retrieval.enhanced_ms_p50", Stats.p50(enh.toSeq), "ms"),
      ("retrieval.recall_at_10", if (recall.isEmpty) 0.0 else recall.sum / recall.size, "ratio"),
      ("retrieval.plan_build_ms_p50", Stats.p50(build.toSeq), "ms"),
      ("retrieval.exec_ms_p50", Stats.p50(exec.toSeq), "ms"),
      ("serve.search_self_ms_p50", Stats.p50(self.map(math.max(0.0, _)).toSeq), "ms"))
  }

  /** The default (ann) search of [[QueryService]], issued straight to
    * HybridSearch over the store's current view: (ms to build the lazy
    * frame, ms to collect it). */
  private def shadow(env: Env, root: String, org: String, q: String,
                     group: String): (Double, Double) = env.inGroup(group) {
    import graft.retrieval.HybridSearch
    val m = SegmentedStore.readManifest(root).get
    val b = SegmentedStore.loadView(env.spark, root, m)
    val t0 = System.nanoTime()
    val frame = Trace.span("retrieval.HybridSearch.search", group) {
      val ann = SegmentedStore.annView(env.spark, root, m).get
      val dense = HybridSearch.DenseMode.AnnLsh(
        ann.filter(col("organization_id") === org), tables = m.lshTables, bits = m.lshBits)
      HybridSearch.search(b.chunks, q, graft.model.TenantContext(org),
        Map.empty, HybridSearch.Config(dense = dense), index = Some(b.bm25Index))
    }
    val t1 = System.nanoTime()
    Trace.span("retrieval.collect", group)(frame.collect())
    env.spark.catalog.clearCache()
    ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
  }
}

/** Per-layer figures both workloads report the same way. */
object Layers {
  val Modules = Seq("serve", "retrieval", "sources", "ingest", "operators", "streaming")

  /** Spark counters per operation over the op groups, plus the
    * per-search subset. */
  def spark(env: Env, opGroups: Set[String], searchGroups: Set[String],
            setupGroups: Set[String], nOps: Int, nSearches: Int,
            cpuMsWindow: Double, windowMs: Double): Seq[(String, Double, String)] = {
    val m = env.meter.get
    env.drainListeners()
    val op = m.sum(opGroups.contains)
    val se = m.sum(searchGroups.contains)
    val setup = m.sum(setupGroups.contains)
    val n = math.max(1, nOps).toDouble
    val ns = math.max(1, nSearches).toDouble
    val jobMs = op.jobMsByModule.values.sum
    Seq(
      ("spark.jobs_per_op", op.jobs / n, "count"),
      ("spark.stages_per_op", op.stages / n, "count"),
      ("spark.tasks_per_op", op.tasks / n, "count"),
      ("spark.plan_ms_per_op", op.planMs / n, "ms"),
      ("spark.sched_delay_ms_per_op", op.schedDelayMs / n, "ms"),
      ("spark.exec_cpu_ms_per_op", op.cpuMs / n, "ms"),
      ("spark.shuffle_bytes_per_op", op.shuffleBytes / n, "bytes"),
      ("spark.spill_bytes", op.spillBytes.toDouble, "bytes"),
      ("spark.jobs_per_search", se.jobs / ns, "count"),
      ("spark.stages_per_search", se.stages / ns, "count"),
      ("spark.tasks_per_search", se.tasks / ns, "count"),
      ("spark.plan_ms_per_search", se.planMs / ns, "ms"),
      ("spark.sched_delay_ms_per_search", se.schedDelayMs / ns, "ms"),
      ("spark.setup_jobs", setup.jobs.toDouble, "count"),
      ("spark.cpu_util", cpuMsWindow / (windowMs * env.nproc), "ratio"),
      ("spark.unattributed_jobs", m.unattributedJobs.toDouble, "count")) ++
      (Modules :+ "other").map(mod => (s"spark.job_share.$mod",
        if (jobMs > 0) op.jobMsByModule(mod) / jobMs else 0.0, "ratio"))
  }

  /** Manifest read and warm per-request view resolution (the dense
    * sidecar view every default search resolves), medians of 5 calls. */
  def sourcesWarm(env: Env, root: String): Seq[(String, Double, String)] =
    env.inGroup("probe-sources") {
      val reads = (1 to 5).map(_ => timeMs(SegmentedStore.readManifest(root)))
      val m = SegmentedStore.readManifest(root).get
      val views = (1 to 5).map(_ => timeMs(SegmentedStore.annView(env.spark, root, m)))
      Seq(("sources.manifest_read_ms", Stats.p50(reads), "ms"),
        ("sources.view_ms", Stats.p50(views), "ms"))
    }

  /** The first view resolution after a manifest flip, in ms. */
  def viewAfterFlip(env: Env, root: String): Double =
    env.inGroup("probe-sources") {
      timeMs(SegmentedStore.readManifest(root).foreach(m =>
        SegmentedStore.annView(env.spark, root, m)))
    }

  private def timeMs(f: => Any): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
  }

  /** The ingest pipeline alone over the seed documents, as the serving
    * ingest runs it (chunks materialized): (ms, chunks). */
  def seedPipeline(env: Env, docs: Seq[(String, String, String)]): (Double, Long) =
    env.inGroup("shadow-seed-pipeline") {
      import env.spark.implicits._
      val df = docs.map { case (fn, text, org) => (s"$org::$fn", text, org) }
        .toDF("doc_id", "text", "org")
      val t = System.nanoTime()
      val n = Trace.span("ingest.Pipeline.ingest", "shadow-seed-pipeline") {
        val b = graft.ingest.Pipeline.ingest(df, orgCol = Some("org"))
        val c = b.chunks.count()
        b.chunks.unpersist()
        c
      }
      ((System.nanoTime() - t) / 1e6, n)
    }

  def jvm(gcMsWindow: Double, heapMb: Double): Seq[(String, Double, String)] =
    Seq(("jvm.gc_ms", gcMsWindow, "ms"), ("jvm.heap_live_mb", heapMb, "MB"))
}
