package perfbench

import graft.cache.InMemoryDocCache

import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.{Files, Paths}

/** Self-test of the harness's correctness checks at small size: each check
  * must accept a genuine output and reject a deliberately corrupted one or a
  * doubled fetch. `failed` counts checks that did not behave.
  */
object SelfTest {

  def run(spark: SparkSession, census: Census, args: Args): Outcome = {
    val results = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    def expect(name: String, ok: Boolean): Unit = {
      results += (name -> ok)
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    }

    // suite: digest of a genuine output matches; corrupted outputs do not
    val expected = Suite.expected(Suite.ExpectedFile)
    val q = "q04_regional_revenue"
    val r = Suite.runOnce(spark, args.data, q)
    val schema = r.df.get.schema
    expect(s"$q genuine output matches its digest", Suite.check(expected, r).isEmpty)
    val rows = r.rows
    val numCol = schema.fields.indexWhere(f => f.dataType.typeName == "double" || f.dataType.typeName == "long")
    def bump(row: Row): Row = Row.fromSeq(row.toSeq.zipWithIndex.map {
      case (d: Double, `numCol`) => d * 1.001
      case (l: Long, `numCol`) => l + 1
      case (v, _) => v
    })
    val corrupt = Seq(
      "one value changed" -> (bump(rows.head) +: rows.tail),
      "one row dropped" -> rows.tail,
      "one row duplicated" -> (rows :+ rows.head))
    corrupt.foreach { case (what, rs) =>
      expect(s"$q rejected with $what",
        Suite.check(expected, r.copy(digest = Some(Digest(schema, rs.toArray)))).nonEmpty)
    }
    expect(s"$q rejected when it throws", Suite.check(expected, r.copy(digest = None, error = Some("boom"))).nonEmpty)

    // crawl: a genuine crawl passes; a corrupted extraction, a missing page,
    // a doubled fetch and a fetch on a warm crawl are each rejected
    val root = Paths.get(".bench_build", "selftest").toAbsolutePath
    org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile)
    Files.createDirectories(root)
    val g = new LinkGraph(6, args.seed)
    val srv = new GraphServer(g, PerfBench.cores)
    try {
      InMemoryDocCache.clear()
      val cache = root.resolve("cache")
      val one = Crawl.crawl(spark, census, g, srv, cache, 1, "selftest-cold", 0)
      expect(s"cold crawl of ${g.n} pages passes its checks", one.ok)
      InMemoryDocCache.clear()
      val warm = Crawl.crawl(spark, census, g, srv, cache, 0, "selftest-warm", 0)
      expect("warm crawl passes its checks with zero requests", warm.ok)

      val truth = (0 until g.n).map(i => (s"${srv.base}/p$i.html", g.title(i), g.links(i).length))
      val once: Int => Int = _ => 1
      expect("ground truth itself passes", Crawl.verify(g, srv.base, truth, once, 1, 0).isEmpty)
      expect("rejected with a changed title",
        Crawl.verify(g, srv.base, truth.updated(3, truth(3).copy(_2 = "other")), once, 1, 0).nonEmpty)
      expect("rejected with a wrong link count",
        Crawl.verify(g, srv.base, truth.updated(5, truth(5).copy(_3 = 3)), once, 1, 0).nonEmpty)
      expect("rejected with a missing page", Crawl.verify(g, srv.base, truth.tail, once, 1, 0).nonEmpty)
      expect("rejected with a duplicated page", Crawl.verify(g, srv.base, truth :+ truth(7), once, 1, 0).nonEmpty)
      expect("rejected with a fetch error", Crawl.verify(g, srv.base, truth, once, 1, 1).nonEmpty)
      expect("warm check rejects any request", Crawl.verify(g, srv.base, truth, once, 0, 0).nonEmpty)

      // a real doubled fetch: the same cold crawl twice against one server
      // census, the second without any cache
      InMemoryDocCache.clear()
      val noCache = root.resolve("cache2")
      Crawl.crawl(spark, census, g, srv, noCache, 1, "selftest-a", 0)
      InMemoryDocCache.clear()
      org.apache.hadoop.fs.FileUtil.fullyDelete(noCache.toFile)
      graft.cache.SegmentStore.invalidate(noCache.toString)
      val counts = (0 until g.n).map(srv.perPage.get)
      val doubled = Crawl.crawl(spark, census, g, srv, noCache, 1, "selftest-b", 0, resetServer = false)
      expect(s"doubled fetch rejected (server saw ${srv.requests.get} requests for ${g.n} pages)",
        !doubled.ok && counts.forall(_ == 1))
    } finally srv.stop()
    Outcome(results.size, results.count(!_._2), Nil)
  }
}
