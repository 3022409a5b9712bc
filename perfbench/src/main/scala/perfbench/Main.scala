package perfbench

import java.lang.management.ManagementFactory

import scala.util.control.NonFatal

import graft.{Functions, GraftSession}
import graft.store.Catalog
import org.apache.spark.sql.SparkSession

/** graft's serving benchmark: one workload, one seed, one process.
  *
  * {{{
  * Main --workload point_serve|dml_serve --seed N
  *      --seconds S --trace 0|1 --work DIR [--commit SHA]
  * }}}
  *
  * Set-up builds the seeded collection and warms up to steady state. `--trace 0` then times an
  * S-second window and prints the end-to-end metrics; `--trace 1`
  * times an untraced half window and a traced window and prints the
  * per-layer metrics. Every call is checked; the last stdout line is
  * the result object, and any violation exits 1.
  */
object Main {
  val Rows = 40000
  /** Relative change between warm-up windows' medians that counts as
    * steady: the bound of `search_p50_ms` in BENCHMARK.json.
    */
  val SteadyTolerance = 0.25
  /** One `dml_serve` writer batch per 5 s, so the writer is busy about a
    * third of the window. At 3 s it was busy about 75% of it, and a slower
    * run then also spent more of its window under writes, which doubled the
    * run-to-run spread of the search figures.
    */
  val WriterPeriodMs = 5000L
  /** dml_serve's writer starts this long before the search window, so the
    * window's first calls already read a growing segment.
    */
  val WriterLeadMs = 1000L
  val WriterPkBase = 2000000000L
  val ProbePkBase = 3000000000L

  final case class Opts(workload: Workload, seed: Long, seconds: Int,
      trace: Boolean, work: String, commit: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload.all.find(_.name == need("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${need("workload")}; " +
        s"known: ${Workload.all.map(_.name).mkString(", ")}"))
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.getOrElse("commit", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    case (k, v: Double) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    case (k, v: Map[_, _]) => s""""$k":${json(v.asInstanceOf[Map[String, Any]])}"""
    case (k, v: Seq[_]) => s""""$k":[${v.map(x => json(Map("v" -> x)).drop(5).dropRight(1)).mkString(",")}]"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Jvm.load1m
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(nproc.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      Functions.register(spark)
      val listener = new GroupListener(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val cat = new Catalog(s"${o.work}/catalog")
      val corpus = Corpus(o.seed, Rows)
      // Every workload's collection auto-folds at 8 deltas; only
      // dml_serve writes inside its window.
      val (coll, phases) = corpus.build(spark, cat, "served",
        Map("compaction.maxDeltas" -> "8"))
      val serve = new Serve(spark, corpus, coll, o.workload)
      val (warm, warmCalls) = warmUp(serve)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val stagger = (warm.last / Workload.Clients).toLong
      val (metrics, extra) =
        if (o.trace) traced(o, serve, listener, cat, stagger)
        else untraced(o, serve, phases("index_build_s"), setupS, stagger)
      serve.reconcile()
      val loadEnd = Jvm.load1m
      val violations = {
        import scala.jdk.CollectionConverters._
        serve.violations.asScala.toSeq
      }
      // Searches, write batches and text requests, plus the post-window
      // recall pass and reconciliation.
      val attempted = extra("attempted").asInstanceOf[Long] + warmCalls + 2
      val failed = violations.size.toLong
      val env = Map[String, Any](
        "nproc" -> nproc, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)),
        "commit" -> o.commit, "load1m_start" -> loadStart, "load1m_end" -> loadEnd,
        // graft.Bench's rule, loaded at BOTH ends, with its threshold of 5
        // (set on 32 cores) scaled to the core count: a back-to-back run
        // inherits the previous run's ~nproc load average at its start.
        "loaded" -> (math.min(loadStart, loadEnd) > 1.5 * nproc))
      val report = Map[String, Any](
        "workload" -> o.workload.name, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> (if (o.trace) 1 else 0), "rows" -> Rows, "env" -> env,
        "setup_phases_s" -> phases, "warmup_windows_ms" -> warm,
        "failed_ratio" -> failed.toDouble / attempted,
        "violations" -> violations.take(10)) ++ extra.removed("attempted")
      println("report " + json(report))
      val ms = metrics.map { case (k, (v, unit)) =>
        k -> Map[String, Any]("value" -> v, "unit" -> unit)
      }
      println(json(Map("correct" -> (failed == 0), "attempted" -> attempted,
        "failed" -> failed, "metrics" -> ms)))
      if (failed == 0) 0 else 1
    } finally spark.stop()
  }

  /** Run the workload's clients in windows of at least 2 s and 8 calls
    * until a window's median latency is within [[SteadyTolerance]] of the
    * previous one: at least 3 windows, so every run starts its window at
    * about the same point of the JIT's warm-up, and at most 6. Returns
    * the windows' medians and the number of calls.
    */
  def warmUp(serve: Serve): (Seq[Double], Int) = {
    val minCalls = 8
    var meds = Vector.empty[Double]
    var n = 0
    def steady = meds.size >= 3 &&
      math.abs(meds.last / meds(meds.size - 2) - 1) < SteadyTolerance
    while (meds.size < 6 && !steady) {
      val t0 = System.nanoTime()
      var calls = Seq.empty[Call]
      while (calls.size < minCalls || System.nanoTime() - t0 < 2000000000L)
        calls ++= serve.clients(System.nanoTime() + 500000000L)(serve.plainCall)
      meds :+= Stats.median(calls.map(_.ms))
      n += calls.size
    }
    (meds, n)
  }

  /** Writer batches for an S-second window: one per period from
    * [[WriterLeadMs]] before the window until 1.5 s before its end, and
    * at least 4 (the 4th folds).
    */
  private def batches(seconds: Int): Int =
    math.max(4, ((seconds * 1000L + WriterLeadMs - 1500L) / WriterPeriodMs).toInt + 1)

  private def startWriter(serve: Serve, seconds: Int, tracer: Option[Tracer])
      : Option[WriterThread] =
    if (!serve.w.writer) None
    else {
      val t = new WriterThread(serve, batches(seconds), System.nanoTime(),
        WriterPeriodMs * 1000000L, WriterPkBase, tracer)
      t.start()
      Thread.sleep(WriterLeadMs)
      Some(t)
    }

  /** The end-to-end run: one timed window with tracing off. */
  def untraced(o: Opts, serve: Serve, indexBuildS: Double, setupS: Double,
      stagger: Long): (Map[String, (Double, String)], Map[String, Any]) = {
    val writerThread = startWriter(serve, o.seconds, None)
    val cpu0 = Jvm.processCpuNs
    val start = System.nanoTime()
    val deadline = start + o.seconds * 1000000000L
    val calls = serve.clients(deadline, stagger)(serve.plainCall)
    writerThread.foreach(_.join())
    val end = (calls.map(_.endNs) :+ deadline).max
    val cpuNs = Jvm.processCpuNs - cpu0
    val queries = calls.size
    val heapMb = Jvm.heapAfterGcMb
    val liveRows = serve.corpus.rows + serve.rowsInserted.get - serve.rowsDeleted.get
    val storeBytesPerRow = serve.coll.storageBytes.toDouble / liveRows
    val recall = serve.recallNow()
    val writes = writerThread.map(_.result).getOrElse(Nil)
    val lat = calls.map(_.ms)
    val m = Map(
      "setup_s" -> (setupS, "s"),
      "index_build_s" -> (indexBuildS, "s"),
      "queries_per_s" -> (queries / ((end - start) / 1e9), "1/s"),
      "search_p50_ms" -> (Stats.pct(lat, 50), "ms"),
      "search_p90_ms" -> (Stats.pct(lat, 90), "ms"),
      "recall_at_10" -> (recall, "ratio"),
      "cpu_ms_per_query" -> (cpuNs / 1e6 / queries, "ms"),
      "store_bytes_per_row" -> (storeBytesPerRow, "B"),
      "heap_after_gc_mb" -> (heapMb, "MB"))
    val mid = start + (deadline - start) / 2
    val (early, late) = calls.partition(_.startNs < mid)
    (m, Map("attempted" -> (calls.size + writes.size).toLong,
      "search_calls" -> calls.size, "write_batches" -> writes.size,
      // > 0: the second half of the window ran slower than the first.
      "window_drift" -> (Stats.median(late.map(_.ms)) / Stats.median(early.map(_.ms)) - 1),
      "search_ms" -> calls.sortBy(_.startNs).map(c => math.rint(c.ms)),
      "write_ms" -> writes.map(b => math.rint(b.latencyMs)),
      "writer_late_ms" -> writes.map(b => math.rint(b.lateMs))))
  }

  /** The per-layer run: an untraced half window (the overhead baseline),
    * a traced window, then the fixed-size layer probes.
    */
  def traced(o: Opts, serve: Serve, listener: GroupListener, cat: Catalog,
      stagger: Long): (Map[String, (Double, String)], Map[String, Any]) = {
    val spark = serve.spark
    val sc = spark.sparkContext
    // dml_serve's writer runs through both windows, so the untraced
    // baseline carries the same write load as the traced window.
    val writerThread = startWriter(serve, o.seconds * 3 / 2, Some(new Tracer(sc)))
    val start = System.nanoTime()
    val half = start + o.seconds * 500000000L
    val deadline = half + o.seconds * 1000000000L
    val plain = serve.clients(half, stagger)(serve.plainCall)
    val gc0 = Jvm.gcMs
    val builtBefore = graft.store.IndexStore.ensureIvf(spark, serve.coll,
      Corpus.Vec, "L2", Corpus.Nlist).builtSeq
    val tracers = new java.util.concurrent.ConcurrentHashMap[Int, Tracer]()
    val layered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, serve.Layers)]()
    val calls = serve.clients(deadline, stagger) { (c, i) =>
      val t = tracers.computeIfAbsent(c, _ => new Tracer(sc))
      val (call, layers) = serve.tracedCall(t, i + 1, i)
      layered.add((i + 1, layers))
      call
    }
    writerThread.foreach(_.join())
    val queries = calls.size
    val gcMs = Jvm.gcMs - gc0
    // point_serve takes its DML layer figures from 4 closed-loop writer
    // batches after the window; the 4th folds.
    val writes = writerThread.map(_.result).getOrElse(
      serve.writer(4, System.nanoTime(), 0L, ProbePkBase, Some(new Tracer(sc))))
    listener.drain()
    import scala.jdk.CollectionConverters._
    val ls = layered.asScala.toSeq
    def med(f: ((Long, serve.Layers)) => Double) = Stats.median(ls.map(f))
    def span(n: String)(x: (Long, serve.Layers)) = x._2.spans.getOrElse(n, 0.0)
    def cnt(n: String)(f: GroupCounts => Long)(x: (Long, serve.Layers)) =
      f(listener.counts(s"${x._1}/$n")).toDouble
    val execMs = med(span("exec"))
    val records = med(cnt("exec")(_.recordsRead))
    val rebuilds = ls.map(_._2).filterNot(_.staleServed).map(_.builtSeq)
      .distinct.count(_ != builtBefore)
    val kernelNs = Probes.l2NsPerPair(spark, serve.coll, serve.corpus, listener)
    val text = Probes.text(spark, cat, o.seed, listener)
    text.violations.foreach(serve.violations.add)
    // Each writer call ran under job group `<batch>/dml.<op>`.
    val dmlGroups = (0 until writes.size).flatMap(k =>
      Seq(s"$k/dml.insert", s"$k/dml.delete"))
    val dmlBytes = dmlGroups.map(g => listener.counts(g).bytesWritten).sum
    val dmlRows = writes.size * 20 + writes.count(_.deleteMs.isDefined) * 5
    val traceP50 = Stats.pct(calls.map(_.ms), 50)
    val plainP50 = Stats.pct(plain.map(_.ms), 50)
    val perCall = Map(
      "route.ms" -> (med(span("route")), "ms"),
      "route.jobs" -> (med(cnt("route")(_.jobs)), "count"),
      "route.self_ms" -> (med(x => span("route")(x) - span("meta")(x) -
        span("ensure")(x) - span("serve")(x) - span("expr")(x)), "ms"),
      "meta.ms" -> (med(span("meta")), "ms"),
      "ensure.ms" -> (med(span("ensure")), "ms"),
      "ensure.rebuilds" -> (rebuilds.toDouble, "count"),
      "ensure.stale_served_ratio" ->
        (ls.count(_._2.staleServed).toDouble / ls.size, "ratio"),
      "serve.ms" -> (med(span("serve")), "ms"),
      "serve.jobs" -> (med(cnt("serve")(_.jobs)), "count"),
      "serve.deltas" -> (med(_._2.deltas.toDouble), "count"),
      "expr.compile_ms" -> (med(span("expr")), "ms"),
      "plan.ms" -> (med(span("plan")), "ms"),
      "exec.ms" -> (execMs, "ms"),
      "exec.jobs" -> (med(cnt("exec")(_.jobs)), "count"),
      "exec.stages" -> (med(cnt("exec")(_.stages)), "count"),
      "exec.tasks" -> (med(cnt("exec")(_.tasks)), "count"),
      "exec.task_run_ms" -> (med(cnt("exec")(_.taskRunMs)), "ms"),
      "exec.sched_delay_ms" -> (med(cnt("exec")(_.schedDelayMs)), "ms"),
      "exec.busy_ratio" -> (med(x => cnt("exec")(_.taskRunMs)(x) /
        (span("exec")(x) * sc.defaultParallelism)), "ratio"),
      "exec.records_read" -> (records, "count"),
      "exec.shuffle_bytes" -> (med(cnt("exec")(_.shuffleBytes)), "B"),
      "ann.rows_scanned_per_hit" -> (med(x => cnt("exec")(_.recordsRead)(x) /
        math.max(1, x._2.hits)), "ratio"),
      "kernel.l2_ns_per_pair" -> (kernelNs, "ns"),
      "kernel.bytes_per_query" -> (records * Corpus.Dim * 4, "B"),
      "dml.write_p50_ms" -> (Stats.pct(writes.map(_.latencyMs), 50), "ms"),
      "dml.write_p90_ms" -> (Stats.pct(writes.map(_.latencyMs), 90), "ms"),
      "dml.insert_ms" -> (Stats.median(writes.map(_.insertMs)), "ms"),
      "dml.delete_ms" -> (Stats.median(writes.flatMap(_.deleteMs)), "ms"),
      "dml.fold_ms" -> (Stats.median(writes.flatMap(_.foldMs)), "ms"),
      "dml.folds" -> (writes.map(_.folds).sum.toDouble, "count"),
      "dml.bytes_written_per_row" -> (dmlBytes.toDouble / dmlRows, "B"),
      "bm25.ms" -> (text.bm25Ms, "ms"),
      "bm25.jobs" -> (text.bm25Jobs, "count"),
      "fusion.ms" -> (text.fusionMs, "ms"),
      "jvm.gc_ms_per_query" -> (gcMs.toDouble / math.max(1, queries), "ms"),
      "trace.overhead_ms" -> (traceP50 - plainP50, "ms"),
      "trace.span_coverage" -> (med(x => x._2.spansMs / x._2.wallMs), "ratio"))
    (perCall, Map(
      "attempted" -> (plain.size + calls.size + writes.size + text.requests).toLong,
      "search_calls_traced" -> calls.size, "search_calls_untraced" -> plain.size,
      "write_batches" -> writes.size,
      "search_p50_ms_traced" -> traceP50, "search_p50_ms_untraced" -> plainP50,
      "dense_leg_ms" -> text.denseMs))
  }

  /** The open-loop writer of `dml_serve`, on its own thread. */
  final class WriterThread(serve: Serve, n: Int, startNs: Long, periodNs: Long,
      pkBase: Long, tracer: Option[Tracer]) extends Thread("writer") {
    @volatile var result: Seq[WriteBatch] = Nil
    override def run(): Unit = {
      try result = serve.writer(n, startNs, periodNs, pkBase, tracer)
      catch {
        case NonFatal(e) => serve.violate(s"writer failed: $e")
      }
    }
  }
}
