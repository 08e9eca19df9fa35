package perfbench

import graft.actions.{Trace, Wget}
import graft.api.GraftContext
import graft.cache.InMemoryDocCache
import graft.conf.GraftConf
import graft.exec.FetchedRow

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, LongAdder}

/** Seeded link graph on a complete binary tree of `2^depth - 1` pages.
  * Page `i` at tree level `L` links to its children `2i+1`, `2i+2` and to two
  * seeded pages of level `L+1`; a leaf links to four seeded pages above it.
  * Every edge goes one level down or back up, so BFS from page 0 visits
  * level `L` in round `L` for every seed, while the seed decides which pages
  * share parents. Each page is about 8 KB of HTML and has a fixed seeded
  * server latency: 2 ms, or 50 ms for 1% of pages.
  */
final class LinkGraph(depth: Int, seed: Long) {
  val n: Int = (1 << depth) - 1
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(i: Long, salt: Long): Long = mix(seed * 0x632BE59BD9B4E019L + i * 31 + salt) & Long.MaxValue
  private def level(i: Int): Int = 31 - Integer.numberOfLeadingZeros(i + 1)

  val links: Array[Array[Int]] = Array.tabulate(n) { i =>
    val l = level(i)
    val out = scala.collection.mutable.LinkedHashSet[Int]()
    val (lo, width) =
      if (l + 1 < depth) { out += 2 * i + 1; out += 2 * i + 2; ((1 << (l + 1)) - 1, 1 << (l + 1)) }
      else (0, (1 << l) - 1)
    var salt = 0L
    while (out.size < math.min(4, width)) { out += lo + (h(i, salt) % width).toInt; salt += 1 }
    out.toArray
  }
  val latencyMs: Array[Int] = Array.tabulate(n)(i => if (h(i, 1000) % 100 == 0) 50 else 2)
  def title(i: Int): String = s"page $i of ${h(i, 2000) % 100000}"

  private val words = Array("graft", "trace", "crawl", "spark", "cache", "agent", "doc", "fetch",
    "explore", "select", "round", "epoch", "shuffle", "stage", "task", "link")

  def html(i: Int, base: String): Array[Byte] = {
    val sb = new StringBuilder(8400)
    sb ++= s"<html><head><title>${title(i)}</title></head><body><h1>${title(i)}</h1>\n"
    var k = 0L
    while (sb.length < 7800) {
      sb ++= "<p>"
      for (_ <- 0 until 24) { sb ++= words((h(i, 3000 + k) % words.length).toInt); sb += ' '; k += 1 }
      sb ++= "</p>\n"
    }
    links(i).foreach(t => sb ++= s"""<a href="$base/p$t.html">link $t</a>\n""")
    sb ++= "</body></html>\n"
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

/** Loopback HTTP server for one [[LinkGraph]], with its own request census:
  * requests per page, bytes, injected wait, handler busy time, and the gap
  * between a response and the next request on the same connection.
  */
final class GraphServer(val graph: LinkGraph, threads: Int) {
  private def g = graph
  graft.agent.HttpTuning() // TCP_NODELAY on accepted sockets, before the server class loads
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val pages: Array[Array[Byte]] = Array.tabulate(g.n)(i => g.html(i, base))

  val perPage = new AtomicIntegerArray(g.n)
  val requests = new AtomicLong
  val bytes = new AtomicLong
  val waitNanos = new AtomicLong
  val busyNanos = new AtomicLong
  val gaps = new ConcurrentLinkedQueue[java.lang.Long]()
  private val lastEnd = new ConcurrentHashMap[String, java.lang.Long]()

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val conn = ex.getRemoteAddress.toString
    Option(lastEnd.get(conn)).foreach(e => gaps.add(t0 - e))
    val path = ex.getRequestURI.getPath
    val i = if (path.startsWith("/p") && path.endsWith(".html"))
      scala.util.Try(path.substring(2, path.length - 5).toInt).getOrElse(-1) else -1
    try {
      if (i < 0 || i >= g.n) {
        ex.sendResponseHeaders(404, -1)
      } else {
        requests.incrementAndGet()
        perPage.incrementAndGet(i)
        val w0 = System.nanoTime()
        Thread.sleep(g.latencyMs(i))
        waitNanos.addAndGet(System.nanoTime() - w0)
        val body = pages(i)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        bytes.addAndGet(body.length)
      }
    } finally {
      ex.close()
      val t1 = System.nanoTime()
      busyNanos.addAndGet(t1 - t0)
      lastEnd.put(conn, t1)
    }
  })
  server.setExecutor(pool)
  server.start()

  def reset(): Unit = {
    (0 until g.n).foreach(perPage.set(_, 0))
    Seq(requests, bytes, waitNanos, busyNanos).foreach(_.set(0))
    gaps.clear(); lastEnd.clear()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}

/** Harness-side counters around the calls the crawl makes into `doc` and
  * `actions` from its own `expand` and extraction closures. Local mode runs
  * those closures in this JVM, so static adders see every call.
  */
object Probe {
  val selectNanos, parsedBytes, selectCalls, traceBuildNanos, linksEmitted = new LongAdder
  def reset(): Unit = Seq(selectNanos, parsedBytes, selectCalls, traceBuildNanos, linksEmitted).foreach(_.reset())

  /** Times `f` (a selector call on `r`'s trajectory) when tracing is on. */
  def select[A](r: FetchedRow[String])(f: => A): A =
    if (!Tracer.on) f
    else {
      val t0 = System.nanoTime()
      try f finally {
        selectNanos.add(System.nanoTime() - t0)
        selectCalls.increment()
        parsedBytes.add(r.trajectory.docs.map(_.content.length.toLong).sum)
      }
    }
}

/** The `crawl_cold` and `crawl_warm` workloads: BFS `explore` from page 0
  * over a loopback [[GraphServer]], then a materialised extraction of each
  * visited page's title and link count.
  *
  * Cold: every timed crawl starts from an empty cache directory, so the
  * server must see exactly one request per page. Warm: every timed crawl
  * replays from the filesystem cache tier after `InMemoryDocCache.clear()`,
  * so the server must see none.
  */
object Crawl {

  /** Tree depth of the graph (1023 pages, 10 BFS rounds): one cold crawl
    * takes about 2 s on 4 cores, so a run holds about ten crawls.
    */
  val Depth = 10

  /** Minimum warm-up time, in seconds. */
  val WarmupSeconds = 14

  final case class One(wallS: Double, exploreS: Double, visited: Long, ok: Boolean, why: String,
                       rounds: Long, traceExec: Long, fromCache: Long, cacheWrites: Long,
                       errors: Long)

  def expand(r: FetchedRow[String]): Seq[(Trace, String)] = {
    val hrefs = Probe.select(r)(r.trajectory.findAll("a").flatMap(_.href))
    val t0 = if (Tracer.on) System.nanoTime() else 0L
    val out = hrefs.map(h => (Trace.of(Wget(h)), h))
    if (Tracer.on) {
      Probe.traceBuildNanos.add(System.nanoTime() - t0)
      Probe.linksEmitted.add(out.size)
    }
    out
  }

  /** One crawl plus extraction, checked against the graph's ground truth and
    * the server census (`expectRequests` per page).
    */
  def crawl(spark: SparkSession, census: Census, g: LinkGraph, srv: GraphServer,
            cacheDir: Path, expectRequests: Int, group: String, span: Int,
            resetServer: Boolean = true): One = {
    import spark.implicits._
    // start every crawl from the same state: no blocks left by the last
    // crawl's epoch checkpoints, and no garbage left to collect
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    if (resetServer) srv.reset()
    val ctx = new GraftContext(spark, GraftConf(dfsCacheDir = Some(cacheDir.toString)))
    val t0 = System.nanoTime()
    val explored = census.inGroup(group, span) {
      ctx.create(Seq(s"${srv.base}/p0.html")).explore(u => Trace.of(Wget(u)))(expand)
    }
    val t1 = System.nanoTime()
    val extract = Tracer.begin("exec", "extract", span)
    val got = try census.inGroup(group, extract) {
      explored.select { r =>
        val title = Probe.select(r.row)(r.row.trajectory.findFirst("title").map(_.text).getOrElse(""))
        val links = Probe.select(r.row)(r.row.trajectory.findAll("a").size)
        (r.row.data, title, links)
      }.collect()
    } finally Tracer.end(extract)
    val wall = (System.nanoTime() - t0) / 1e9
    val m = ctx.metrics
    val problems = verify(g, srv.base, got.toSeq, srv.perPage.get, expectRequests, m.errors.value)
    One(wall, (t1 - t0) / 1e9, got.length, problems.isEmpty, problems.mkString("; "), m.exploreRounds.value,
      m.traceExecutions.value, m.fetchFromCache.value, m.cacheWrites.value, m.errors.value)
  }

  /** Problems with one crawl's output: the visited set, each page's title
    * and link count against the generator, and the server's request count
    * per page against `expectRequests`. Empty when the crawl is correct.
    */
  def verify(g: LinkGraph, base: String, got: Seq[(String, String, Int)], requestsOf: Int => Int,
             expectRequests: Int, errors: Long): Seq[String] = {
    val prefix = s"$base/p"
    val byPage = got.map { case (u, t, l) =>
      scala.util.Try(u.stripPrefix(prefix).stripSuffix(".html").toInt).getOrElse(-1) -> (t, l)
    }.toMap
    Seq(
      (byPage.size != got.size) -> s"${got.size - byPage.size} duplicate rows",
      (byPage.keySet != (0 until g.n).toSet) -> s"visited ${byPage.size} of ${g.n} pages",
      (0 until g.n).exists(i => byPage.contains(i) && byPage(i) != ((g.title(i), g.links(i).length))) ->
        "extracted title or link count differs from the generator",
      (0 until g.n).exists(i => requestsOf(i) != expectRequests) ->
        s"server saw ${(0 until g.n).map(i => requestsOf(i).toLong).sum} requests, expected $expectRequests per page",
      (errors != 0) -> s"$errors fetch errors"
    ).collect { case (true, why) => why }
  }

  private def freshDir(root: Path, name: String): Path = {
    val d = root.resolve(name)
    org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile)
    graft.cache.SegmentStore.invalidate(d.toString)
    d
  }

  private def dirStats(d: Path): (Long, Long) = {
    if (!Files.exists(d)) (0L, 0L)
    else {
      val files = Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        val fs = files.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally files.close()
    }
  }

  def run(spark: SparkSession, census: Census, args: Args, setupReps: Seq[Double], srv: GraphServer,
          warm: Boolean): Outcome = {
    val root = java.nio.file.Paths.get(".bench_build", "crawl").toAbsolutePath
    Files.createDirectories(root)
    val warmCache = freshDir(root, "warm-cache")

    // Untimed warm-up crawls end the set-up: one cold crawl (for crawl_warm
    // it fills the cache the timed crawls replay), then crawls of the timed
    // kind for `WarmupSeconds`, because the JIT keeps speeding crawls up for
    // about that long.
    val g = srv.graph
    val w0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) {
      InMemoryDocCache.clear()
      val (dir, requests) = if (warm) (warmCache, if (i == 0) 1 else 0) else (freshDir(root, "warmup"), 1)
      val w = crawl(spark, census, g, srv, dir, requests, s"warmup-$i", 0)
      if (!w.ok) throw new IllegalStateException(s"warm-up crawl failed its checks: ${w.why}")
      i += 1
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    // Timed crawls until the budget is spent. A traced run alternates
    // untraced and traced crawls; its per-layer metrics all come from the
    // traced crawl of median wall, and the overhead compares the medians.
    final case class Timed(one: One, traced: Boolean, layers: Seq[(String, Metric)])
    val runs = scala.collection.mutable.ArrayBuffer[Timed]()
    val t0 = System.nanoTime()
    while (PerfBench.another(runs.size, if (args.trace) 4 else 3, t0, args.seconds)) {
      val k = runs.size
      val traced = args.trace && k % 2 == 1
      val dir = if (warm) warmCache else freshDir(root, s"cold-${k % 2}")
      InMemoryDocCache.clear()
      Probe.reset()
      Tracer.clear()
      Tracer.on = traced
      val span = Tracer.begin("exec", s"explore #$k")
      val one = try crawl(spark, census, g, srv, dir, if (warm) 0 else 1, s"crawl-$k", span)
      finally { Tracer.end(span); Tracer.on = false }
      if (!one.ok) System.err.println(s"[crawl] crawl $k failed its checks: ${one.why}")
      val layers = if (!traced) Nil else {
        census.fence()
        val spans = Tracer.all
        Tracer.writeJsonl(root.resolve("spans").resolve(s"${args.workload}-${args.seed}-$k.jsonl"), spans)
        layerMetrics(one, census.census(s"crawl-$k"), srv, dirStats(dir), spans)
      }
      runs += Timed(one, traced, layers)
    }

    val failed = runs.count(!_.one.ok)
    val plain = runs.filter(r => r.one.ok && !r.traced).map(_.one).toSeq
    val walls = plain.map(_.wallS)
    val med = PerfBench.median _
    val metrics =
      if (!args.trace) Seq(
        "setup_s" -> Metric(med(setupReps) + warmS, "s"),
        "suite_s" -> Metric(med(walls), "s"),
        "query_p50_s" -> Metric(med(walls), "s"),
        "query_p90_s" -> Metric(PerfBench.percentile(walls, 0.9), "s"),
        "pages_per_s" -> Metric(med(plain.map(o => o.visited / o.wallS)), "pages/s"))
      else {
        val tr = runs.filter(r => r.one.ok && r.traced).sortBy(_.one.wallS)
        if (tr.isEmpty) Nil
        else tr(tr.size / 2).layers :+
          ("trace.overhead_frac" -> Metric(med(tr.map(_.one.wallS).toSeq) / med(walls) - 1, "ratio"))
      }
    Outcome(runs.size, failed, metrics :+ ("failed_frac" -> Metric(failed.toDouble / runs.size, "ratio")),
      notes = Seq("pages" -> g.n.toString, "rounds" -> runs.headOption.map(_.one.rounds).getOrElse(0L).toString,
        "setup_reps_s" -> setupReps.map(Json.num).mkString("[", ",", "]"), "warmup_s" -> Json.num(warmS),
        "crawl_s" -> runs.map(r => Json.num(r.one.wallS)).mkString("[", ",", "]")))
  }

  /** Per-layer metrics of one traced crawl, all read after the fence. */
  private def layerMetrics(one: One, c: GroupCensus, srv: GraphServer, dir: (Long, Long),
                           spans: Seq[Span]): Seq[(String, Metric)] = {
    import scala.jdk.CollectionConverters._
    val gaps = srv.gaps.asScala.map(_.toDouble / 1e6).toSeq
    val links = Probe.linksEmitted.sum.toDouble
    val pagesRequested = (0 until srv.perPage.length).count(srv.perPage.get(_) > 0)
    def cnt(v: Double) = Metric(v, "count")
    def sec(v: Double) = Metric(v, "s")
    val self = Tracer.selfSeconds(spans).toSeq.sortBy(_._1).map { case (l, v) => s"self_s.$l" -> sec(v) }
    Seq(
      "exec.rounds" -> cnt(one.rounds),
      "exec.jobs" -> cnt(c.jobs.get),
      "exec.stages" -> cnt(c.stages.get),
      "exec.tasks" -> cnt(c.tasks.get),
      "exec.task_s" -> sec(c.taskNanos.get / 1e9),
      "exec.shuffle_mb" -> Metric(c.shuffleBytes.get / 1e6, "MB"),
      "exec.ms_per_round" -> Metric(1000 * one.exploreS / math.max(1L, one.rounds), "ms"),
      "exec.trace_executions" -> cnt(one.traceExec),
      "exec.dedup_ratio" -> Metric(if (links > 0) one.traceExec / links else 0.0, "ratio"),
      "doc.select_s" -> sec(Probe.selectNanos.sum / 1e9),
      "doc.parsed_mb" -> Metric(Probe.parsedBytes.sum / 1e6, "MB"),
      "doc.calls" -> cnt(Probe.selectCalls.sum),
      "actions.trace_build_s" -> sec(Probe.traceBuildNanos.sum / 1e9),
      "agent.requests" -> cnt(srv.requests.get),
      "agent.bytes_mb" -> Metric(srv.bytes.get / 1e6, "MB"),
      "agent.retries" -> cnt(srv.requests.get - pagesRequested),
      "agent.errors" -> cnt(one.errors),
      "agent.server_wait_s" -> sec(srv.waitNanos.get / 1e9),
      "agent.gap_ms_p50" -> Metric(if (gaps.isEmpty) 0.0 else PerfBench.percentile(gaps, 0.5), "ms"),
      "agent.gap_ms_p99" -> Metric(if (gaps.isEmpty) 0.0 else PerfBench.percentile(gaps, 0.99), "ms"),
      "agent.in_flight_mean" -> Metric(srv.busyNanos.get / 1e9 / one.wallS, "count"),
      "cache.writes" -> cnt(one.cacheWrites),
      "cache.dfs_files" -> cnt(dir._1),
      "cache.dfs_mb" -> Metric(dir._2 / 1e6, "MB"),
      "cache.hits" -> cnt(one.fromCache),
      "cache.hit_ratio" -> Metric(if (one.traceExec > 0) one.fromCache.toDouble / one.traceExec else 0.0, "ratio")
    ) ++ self
  }
}
