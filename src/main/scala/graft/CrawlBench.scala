package graft

import graft.actions.{Trace, Wget}
import graft.api.GraftContext
import graft.cache.InMemoryDocCache
import graft.conf.GraftConf
import graft.exec.FetchedRow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Explore scale-stress (FIXTURES.md §5): generates an N-page link graph —
  * binary-tree spine plus pseudo-random cross edges (dedup pressure: most
  * pages are discovered from several parents) — then crawls it cold and
  * cache-warm, asserting exactly one fetch per page.
  *
  * `GRAFT_CRAWL_N=8192 sbt "runMain graft.CrawlBench"`
  */
object CrawlBench {

  /** Used driver heap after a GC nudge — the bound that matters for the
    * 100 TB story is that it stays flat in N (bounded per-round state:
    * batchSize (score,key) pairs), not its absolute value.
    */
  private def heapMB(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1L << 20)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_CRAWL_N", "4096").toInt
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dirPath = Paths.get("target", "crawlbench", n.toString).toAbsolutePath
    Files.createDirectories(dirPath)
    val dir = dirPath.toString // capture a String, not a (non-serializable) Path
    spark.range(n).foreachPartition { (ids: Iterator[java.lang.Long]) =>
      ids.foreach { idL =>
        val i = idL.toLong
        val kids = Seq(2 * i + 1, 2 * i + 2, (i * 7 + 3) % n, (i * 13 + 11) % n)
          .filter(k => k < n && k != i).distinct
        val links = kids.map(k => s"""<a href="p$k.html">k$k</a>""").mkString("\n")
        val html = s"""<html><head><title>p $i</title></head><body>$links</body></html>"""
        // Hadoop FS: on a cluster, point the dir at shared storage and this
        // generator still works (java.nio would strand files per-executor)
        graft.agent.DocIO.writeText(dir, s"p$i.html", html)
      }
    }

    def expand(r: FetchedRow[String]): Seq[(Trace, String)] =
      r.trajectory.findAll("a").flatMap(_.href).map(h => (Trace.of(Wget(h)), h))

    // DFS cache tier on: the memory tier is LRU-bounded (8192 keys), so for
    // N beyond the cap only the filesystem tier makes warm re-runs fetch 0.
    // GRAFT_CRAWL_CKPT=true additionally runs the fault-tolerant mode:
    // reliable checkpoints every 4 epochs instead of localCheckpoint-only.
    val cacheDir = dirPath.resolveSibling(s"cache-$n").toString
    // a cache left by a previous invocation would make "cold" a lie
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(cacheDir))
    graft.cache.SegmentStore.invalidate(cacheDir)
    val ckptDir =
      if (sys.env.get("GRAFT_CRAWL_CKPT").contains("true"))
        Some(dirPath.resolveSibling(s"ckpt-$n").toString)
      else None
    val conf = GraftConf(dfsCacheDir = Some(cacheDir),
      checkpointDir = ckptDir, checkpointEveryEpochs = 4)

    def crawl(label: String, expectRemote: Option[Long]): Unit = {
      val ctx = new GraftContext(spark, conf)
      val t0 = System.nanoTime()
      val visited = ctx.create(Seq(s"file:$dir/p0.html"))
        .explore(u => Trace.of(Wget(u)))(expand)
        .count()
      val secs = (System.nanoTime() - t0) / 1e9
      val fetched = ctx.metrics.pagesFetched.value
      val levels = ctx.metrics.exploreRounds.value
      println(f"[crawlbench] $label n=$n visited=$visited fetched=$fetched " +
        f"levels=$levels ${secs}%.1f s ${visited / secs}%.0f pages/s " +
        f"driver-heap ${heapMB()} MB")
      assert(visited >= n - 1, s"expected ~$n visited, got $visited")
      expectRemote.foreach(e => assert(fetched == e, s"expected $e remote fetches, got $fetched"))
    }

    // best-first under fetchBudget >> batchSize (r11 verdict #2, r19
    // verdict #5): rounds ≫ FoldEvery at batch 64. The folded visited set
    // keeps per-round cost flat; the pre-fold O(rounds × visited) rebuild
    // would make secs/round grow ~linearly with the round count (≈2× when
    // rounds double). Runs AFTER the cold BFS crawl, on the warm DFS cache
    // (fetch cost ~one cache read — the driver-sequential bookkeeping is
    // exactly the signal; a remote crawl adds network time that
    // parallelizes across the batch, not more driver work). Each leg runs
    // under a job group so the census can pin the exact driver-side job
    // count: 2 fixed (seed cut+selection + eager output checkpoint) + ONE
    // fused job per round (frontier cut + next-batch selection + budget
    // census ride a single zipPartitions action — r21) + 1 fold per
    // FoldEvery rounds — the O(1)-live-handles claim measured, not argued.
    def bestFirst(budget: Long, batch: Int): (Double, Long, Long, Int) = {
      InMemoryDocCache.clear()
      val ctx = new GraftContext(spark, conf)
      val sc = spark.sparkContext
      val group = s"crawlbench-bf-$budget-$batch"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val explored = ctx.create(Seq(s"file:$dir/p0.html"))
        .exploreBestFirst(u => Trace.of(Wget(u)))(
          expand,
          priority = (t, _) => (t.cacheKey.hashCode & 0x7fffffff).toDouble,
          fetchBudget = budget, batchSize = batch)
      val secs = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      val visited = explored.count() // already materialized (eager checkpoint)
      val jobs = graft.exec.JobCensus.settledJobCount(sc, group)
      (secs, visited, ctx.metrics.exploreRounds.value, jobs)
    }

    crawl("cold", expectRemote = Some(n.toLong))
    InMemoryDocCache.clear() // force the DFS tier
    crawl("warm-dfs", expectRemote = Some(0L))

    val foldEvery = 8 // the ExploreParams default the census multiplies against
    val liveBefore = spark.sparkContext.getPersistentRDDs.size
    val (tHalf, vHalf, rHalf, _) = bestFirst(2048, 64)
    val (tFull, vFull, rFull, jFull) = bestFirst(4096, 64)
    val liveAfter = spark.sparkContext.getPersistentRDDs.size
    val perHalf = tHalf / rHalf
    val perFull = tFull / rFull
    println(f"[crawlbench] best-first 2048/64: $vHalf visited $rHalf rounds " +
      f"${tHalf}%.1f s (${perHalf}%.3f s/round, ${vHalf / tHalf}%.0f pages/s); " +
      f"4096/64: $vFull visited $rFull rounds ${tFull}%.1f s " +
      f"(${perFull}%.3f s/round, ${vFull / tFull}%.0f pages/s); " +
      f"live RDDs $liveBefore -> $liveAfter; driver-heap ${heapMB()} MB")
    assert(perFull < perHalf * 1.6,
      f"per-round cost grew ${perFull / perHalf}%.2fx when rounds doubled — visited-set fold regressed")
    // exact driver-job census at rounds ≫ FoldEvery: any hidden per-round
    // action (e.g. an un-folded visited union materializing per round, or
    // an extra count) breaks the equality
    val expectedJobs = 2 + rFull.toInt + rFull.toInt / foldEvery
    assert(jFull == expectedJobs,
      s"best-first job census: $jFull jobs for $rFull rounds, expected $expectedJobs " +
        s"(2 fixed + 1 fused/round + 1 fold per $foldEvery rounds)")
    // each run may leave its eager output checkpoint; everything else
    // (frontiers, per-round keys, folded accumulator) must have released
    assert(liveAfter - liveBefore <= 2,
      s"best-first leaked persisted RDDs: $liveBefore -> $liveAfter")
    InMemoryDocCache.clear()
    // compact the cache to segment files and prove warm parity holds with
    // ZERO loose files left (the 100 TB small-file story end-to-end)
    val cstats = graft.cache.CacheCompactor.compact(cacheDir)
    println(s"[crawlbench] compacted ${cstats.filesPacked} files " +
      s"(${cstats.bytesPacked} B) into ${cstats.segmentsWritten} segment(s)")
    assert(cstats.filesPacked >= n, s"expected >= $n packed files")
    crawl("warm-packed", expectRemote = Some(0L))
    InMemoryDocCache.clear()
    spark.stop()
  }
}
