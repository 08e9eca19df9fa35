package graft

import graft.sources.Warc

import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets

/** WARC segment source ([[graft.sources.Warc]]): streaming record grammar,
  * gzip layouts (per-record members / whole-file / plain), fail-soft tail
  * handling, HTTP block parse, the Doc seam, and the distributed read.
  */
class WarcSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  private def warcinfoRec = Warc.writeRecord("warcinfo",
    Seq("WARC-Date" -> "2026-01-01T00:00:00Z", "Content-Type" -> "application/warc-fields"),
    bytes("software: graft\r\n"))

  private def request(url: String) = Warc.writeRecord("request",
    Seq("WARC-Target-URI" -> url,
      "Content-Type" -> "application/http; msgtype=request"),
    bytes(s"GET / HTTP/1.1\r\nHost: h\r\n\r\n"))

  private def response(url: String, mime: String, body: Array[Byte]) =
    Warc.writeRecord("response",
      Seq("WARC-Target-URI" -> url,
        "Content-Type" -> "application/http; msgtype=response"),
      Warc.httpResponse(200, mime, body))

  private def parse(seg: Array[Byte]) =
    Warc.records(new ByteArrayInputStream(seg)).toVector

  test("record grammar round-trips; responses() filters types; <uri> brackets strip") {
    val html = bytes("<html><body>hi</body></html>")
    val seg = warcinfoRec ++ request("http://h/a") ++
      Warc.writeRecord("response",
        Seq("WARC-Target-URI" -> "<http://h/a>", // WARC/1.0 bracketed form
          "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponse(200, "text/html", html))
    val recs = parse(seg)
    assert(recs.map(_.warcType) == Vector("warcinfo", "request", "response"))
    val resp = Warc.responses(new ByteArrayInputStream(seg)).toVector
    assert(resp.size == 1)
    val (r, h) = resp.head
    assert(r.targetUri.contains("http://h/a")) // brackets stripped
    assert(h.status == 200 && h.mime == "text/html")
    assert(h.body.sameElements(html))
  }

  test("gzip layouts: per-record members, whole-file, and plain all decode identically") {
    val segPlain = warcinfoRec ++ response("http://h/1", "text/plain", bytes("one")) ++
      response("http://h/2", "text/plain", bytes("two"))
    val perRecord = Warc.gzMember(warcinfoRec) ++
      Warc.gzMember(response("http://h/1", "text/plain", bytes("one"))) ++
      Warc.gzMember(response("http://h/2", "text/plain", bytes("two")))
    val wholeFile = Warc.gzMember(segPlain)
    for (seg <- Seq(segPlain, perRecord, wholeFile)) {
      val resp = Warc.responses(new ByteArrayInputStream(seg)).toVector
      assert(resp.map(_._1.targetUri.get) == Vector("http://h/1", "http://h/2"))
      assert(resp.map(p => new String(p._2.body, "UTF-8")) == Vector("one", "two"))
    }
  }

  test("fail-soft: truncated tail, bad Content-Length, and junk all end after the last good record") {
    val good = response("http://h/ok", "text/plain", bytes("intact"))
    // truncated mid-block
    val truncated = good ++ response("http://h/cut", "text/plain", bytes("gone")).dropRight(20)
    assert(parse(truncated).size == 1)
    // absurd Content-Length (corrupt header): stop, don't allocate
    val bomb = good ++ bytes("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999999999\r\n\r\n")
    assert(parse(bomb).size == 1)
    // non-WARC garbage after a good record
    val junk = good ++ bytes("not a warc header\r\n\r\n")
    assert(parse(junk).size == 1)
    // empty stream
    assert(parse(Array.empty[Byte]).isEmpty)
  }

  test("HTTP parse: declared Content-Length clamps sloppy padding; non-HTTP block is None") {
    val block = bytes("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\nContent-Length: 4\r\n\r\nbodyPADDING")
    val h = Warc.parseHttp(block).get
    assert(h.status == 404 && new String(h.body, "UTF-8") == "body")
    assert(Warc.parseHttp(bytes("not http at all")).isEmpty)
    // no Content-Length: body runs to the end of the block
    val open = Warc.parseHttp(bytes("HTTP/1.1 200 OK\r\n\r\nfull tail")).get
    assert(new String(open.body, "UTF-8") == "full tail")
  }

  test("Doc seam: charset parameter honored, entities decode, selector engine reaches the payload") {
    val html = "<html><head><title>café</title></head><body><article>a &amp; b</article></body></html>"
    val latin = Warc.WarcResponse("seg", "http://h/l", "", 200,
      "text/html; charset=iso-8859-1", html.getBytes(StandardCharsets.ISO_8859_1))
    val utf = Warc.WarcResponse("seg", "http://h/u", "", 200,
      "text/html; charset=utf-8", html.getBytes(StandardCharsets.UTF_8))
    for (r <- Seq(latin, utf)) {
      val root = Warc.toDoc(r).root
      assert(root.findOnly("title").text == "café")
      assert(root.findOnly("article").text == "a & b")
    }
  }

  test("distributed read: one row per response across segments, bodies intact, one task per segment") {
    val spark = SparkFixture.spark
    val dir = SparkFixture.scratchDir("warc")
    val seg0 = Warc.gzMember(warcinfoRec) ++
      Warc.gzMember(response("http://h/a", "text/html", bytes("<p>A</p>"))) ++
      Warc.gzMember(request("http://h/b")) ++
      Warc.gzMember(response("http://h/b", "text/html", bytes("<p>B</p>")))
    val seg1 = Warc.gzMember(response("http://h/c", "application/json", bytes("""{"k":1}""")))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s0.warc.gz"), seg0)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s1.warc.gz"), seg1)

    val ds = Warc.read(spark, dir)
    val rows = ds.collect().sortBy(_.url)
    assert(rows.map(_.url).toVector == Vector("http://h/a", "http://h/b", "http://h/c"))
    assert(rows.forall(_.http_status == 200))
    assert(new String(rows(2).body, "UTF-8") == """{"k":1}""")
    // the scan parallelizes by segment and nothing shuffles before collect
    assert(ds.rdd.getNumPartitions >= 1)
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    // constant-memory contract: binaryFile is a LISTING — the content
    // column must be pruned (tasks stream segments themselves); a scan
    // whose ReadSchema carries `content` re-materializes whole segments
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("path") && !readSchema.contains("content"),
      s"binaryFile scan must prune content: $readSchema")
    // payload reaches the JSON node tree through the same seam
    val doc = Warc.toDoc(rows(2))
    assert(doc.root.findAll("k").nonEmpty)

    // several per-record-gzipped segments of titled pages: every record
    // written is parsed, and every parsed record yields its title
    val many = SparkFixture.scratchDir("warc-many")
    val (nSeg, perSeg) = (3, 5)
    (0 until nSeg).foreach { s =>
      val seg = (0 until perSeg).flatMap { r =>
        val id = s * perSeg + r
        Warc.gzMember(response(s"http://h/doc/$id", "text/html; charset=utf-8",
          bytes(s"<html><head><title>doc $id</title></head><body><p>x</p></body></html>")))
      }.toArray
      java.nio.file.Files.write(java.nio.file.Paths.get(many, f"seg_$s%05d.warc.gz"), seg)
    }
    val parsed = Warc.read(spark, many).filter("http_status = 200").count()
    import spark.implicits._
    val titles = Warc.read(spark, many)
      .map(r => Warc.toDoc(r).root.findOnly("title").text).collect().sorted.toSeq
    assert(parsed == nSeg * perSeg)
    assert(titles == (0 until nSeg * perSeg).map(i => s"doc $i").sorted)
  }

  test("offline crawl replay: importToCache seeds the DFS tier; Wget then runs with zero network; wayback picks snapshots") {
    import graft.actions.{Trace, Wget}
    import graft.api.GraftContext
    import graft.conf.GraftConf
    val spark = SparkFixture.spark
    import spark.implicits._
    val segDir = SparkFixture.scratchDir("warc-replay")
    val cacheDir = SparkFixture.scratchDir("warc-cache")
    def respAt(url: String, date: String, body: String) =
      Warc.writeRecord("response",
        Seq("WARC-Target-URI" -> url, "WARC-Date" -> date,
          "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponse(200, "text/html",
          bytes(s"<html><head><title>$body</title></head><body/></html>")))
    // two snapshots of /a (a month apart) + one of /b — host does not exist
    val seg = Warc.gzMember(respAt("http://warc.test/a", "2026-01-01T00:00:00Z", "a-v1")) ++
      Warc.gzMember(respAt("http://warc.test/a", "2026-02-01T00:00:00Z", "a-v2")) ++
      Warc.gzMember(respAt("http://warc.test/b", "2026-01-15T00:00:00Z", "b-v1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(segDir, "s.warc.gz"), seg)

    val conf = GraftConf(dfsCacheDir = Some(cacheDir), remoteRetries = 0)
    assert(Warc.importToCache(spark, segDir, conf) == 3)
    // force every later probe through the imported DFS tier
    graft.cache.InMemoryDocCache.clear()

    val ctx = new GraftContext(spark, conf)
    val titles = ctx.create(Seq("http://warc.test/a", "http://warc.test/b"))
      .fetchOne(u => Trace.of(Wget(u)))
      .select(_.trajectory.doc.get.root.findOnly("title").text).collect().sorted
    assert(titles.toSeq == Seq("a-v2", "b-v1")) // freshest snapshot wins by default
    assert(ctx.metrics.pagesFetched.value == 0, "replay must not touch the network")

    // wayback pinned between the two snapshots selects the OLDER one
    graft.cache.InMemoryDocCache.clear()
    val pinned = new GraftContext(spark, conf.copy(
      waybackMillis = Some(java.time.Instant.parse("2026-01-20T00:00:00Z").toEpochMilli)))
    val old = pinned.create(Seq("http://warc.test/a"))
      .fetchOne(u => Trace.of(Wget(u)))
      .select(_.trajectory.doc.get.root.findOnly("title").text).collect()
    assert(old.toSeq == Seq("a-v1"))
    assert(pinned.metrics.pagesFetched.value == 0)

    // a 100 TB import is billions of loose .obs files — compaction must
    // pack the imported tier without breaking warm replay (incl. wayback)
    val stats = graft.cache.CacheCompactor.compact(cacheDir)
    assert(stats.filesPacked >= 3 && stats.segmentsWritten >= 1)
    graft.cache.InMemoryDocCache.clear()
    val packed = new GraftContext(spark, conf)
    val packedTitles = packed.create(Seq("http://warc.test/a", "http://warc.test/b"))
      .fetchOne(u => Trace.of(Wget(u)))
      .select(_.trajectory.doc.get.root.findOnly("title").text).collect().sorted
    assert(packedTitles.toSeq == Seq("a-v2", "b-v1"))
    assert(packed.metrics.pagesFetched.value == 0, "packed replay must stay offline")
  }
  // ---------------------------------------------------------------- mbox

  test("mbox: write/messages round-trip incl. adversarial From-quoting and multi-message split") {
    import graft.sources.Mbox
    val m1 = ("From: a@b\nSubject: one\n\n" +
      "From the start of a line\n>From already quoted\n>>From double\nplain tail").getBytes("ISO-8859-1")
    val m2 = "From: c@d\nSubject: two\n\nsecond body".getBytes("ISO-8859-1")
    val archive = Mbox.write(Seq(m1, m2))
    val back = Mbox.messages(new java.io.ByteArrayInputStream(archive)).toSeq
    assert(back.size == 2)
    assert(new String(back(0), "ISO-8859-1") == new String(m1, "ISO-8859-1") + "\n" ||
      new String(back(0), "ISO-8859-1").stripSuffix("\n") == new String(m1, "ISO-8859-1"),
      s"m1 mangled: '${new String(back(0), "ISO-8859-1")}'")
    assert(new String(back(1), "ISO-8859-1").stripSuffix("\n") == new String(m2, "ISO-8859-1"))
    // the quoted lines decode as a real message through the Node seam
    val root = graft.doc.Node.parse(back(0), "message/rfc822")
    assert(root.text == "one\nFrom the start of a line\n>From already quoted\n>>From double\nplain tail",
      s"got '${root.text}'")
  }

  test("mbox: distributed read yields one row per message, segment-tagged, in file order") {
    import graft.sources.Mbox
    val spark0 = SparkFixture.spark
    val dir = SparkFixture.scratchDir("mbox")
    val msgs = (0 until 5).map(i =>
      s"From: x@y\nSubject: msg $i\n\nbody $i".getBytes("ISO-8859-1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.mbox"), Mbox.write(msgs.take(3)))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.mbox"), Mbox.write(msgs.drop(3)))
    val rows = Mbox.read(spark0, s"$dir/*.mbox").collect()
      .map(m => (m.segment.split('/').last, m.msg_idx,
        graft.doc.Node.parse(m.raw, "message/rfc822").text))
      .sortBy(r => (r._1, r._2))
    assert(rows.length == 5)
    assert(rows.map(_._3).toSeq == Seq(
      "msg 0\nbody 0", "msg 1\nbody 1", "msg 2\nbody 2", "msg 3\nbody 3", "msg 4\nbody 4"))
    assert(rows.take(3).forall(_._1 == "a.mbox") && rows.drop(3).forall(_._1 == "b.mbox"))
  }
}
