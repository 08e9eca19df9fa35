package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Scheduler census for one job group: what the `spark` layer did for one
  * query or one crawl.
  */
final class GroupCensus {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val taskNanos = new AtomicLong
  val shuffleBytes = new AtomicLong // read + written
}

/** One traced interval. `parent` is the id of the span that caused it (0 for
  * a root); `layer` is the module the time is charged to.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Harness-owned SparkListener: per-job-group counters, plus job and stage
  * spans parented to the query or explore span that submitted them.
  *
  * Counters are read only after [[fence]]: the listener bus delivers events
  * in the order they were posted, so once the fence job's end event arrives,
  * every event of the work submitted before it has been counted. This is the
  * settled-read rule of `graft.exec.JobCensus`, made exact instead of polled.
  */
final class Census(sc: SparkContext) extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCensus]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStartNs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()
  private val fenceSeq = new AtomicInteger

  /** Span id of the harness span that owns each job group (trace runs only). */
  val groupSpan = new ConcurrentHashMap[String, Integer]()

  sc.addSparkListener(this)

  def census(group: String): GroupCensus = groups.computeIfAbsent(group, _ => new GroupCensus)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobGroup.put(e.jobId, g)
    jobStartNs.put(e.jobId, System.nanoTime())
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    census(g).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "")
    val t0 = jobStartNs.remove(e.jobId)
    if (Tracer.on && t0 != null)
      Tracer.record("spark", s"job ${e.jobId}", Option(groupSpan.get(g)).map(_.intValue).getOrElse(0),
        t0, System.nanoTime())
    Option(fences.get(g)).foreach(_.countDown())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = jobGroup.getOrDefault(stageJob.getOrDefault(info.stageId, -1), "")
    census(g).stages.incrementAndGet()
    if (Tracer.on)
      for (s <- info.submissionTime; c <- info.completionTime) {
        val now = System.nanoTime(); val wallNow = System.currentTimeMillis()
        Tracer.record("spark_stage", s"stage ${info.stageId}",
          Option(groupSpan.get(g)).map(_.intValue).getOrElse(0),
          now - (wallNow - s) * 1000000L, now - (wallNow - c) * 1000000L)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = jobGroup.getOrDefault(stageJob.getOrDefault(e.stageId, -1), "")
    val c = census(g)
    c.tasks.incrementAndGet()
    c.taskNanos.addAndGet(e.taskInfo.duration * 1000000L)
    Option(e.taskMetrics).foreach { m =>
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Runs a one-task job and waits for its end event: afterwards every
    * listener event of earlier work has been delivered.
    */
  def fence(): Unit = {
    val g = s"perfbench-fence-${fenceSeq.incrementAndGet()}"
    val latch = new CountDownLatch(1)
    fences.put(g, latch)
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the fence job within 60 s")
    fences.remove(g)
    groups.remove(g)
  }

  /** Runs `f` under job group `group`; with tracing on, jobs of the group
    * become children of `span`.
    */
  def inGroup[A](group: String, span: Int)(f: => A): A = {
    if (span != 0) groupSpan.put(group, span)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }
}

/** In-memory span recorder. Off in untraced runs, where every call is a
  * single volatile read. Spans are written out when the run ends.
  */
object Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]()

  def record(layer: String, name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, layer, name, startNs, endNs))
    id
  }

  private val open = new ConcurrentHashMap[Int, Span]()

  /** Opens a span now and returns its id (0 when tracing is off); [[end]]
    * finishes it.
    */
  def begin(layer: String, name: String, parent: Int = 0): Int =
    if (!on) 0
    else {
      val id = ids.incrementAndGet()
      open.put(id, Span(id, parent, layer, name, System.nanoTime(), 0L))
      id
    }
  def end(id: Int): Unit = if (id != 0) {
    val s = open.remove(id)
    if (s != null) spans.add(s.copy(endNs = System.nanoTime()))
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }
  def clear(): Unit = { spans.clear(); open.clear() }

  /** Self seconds per layer: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + (b - math.max(a, reach)), b)
          }._1
        (s.endNs - s.startNs - covered).max(0L) / 1e9
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try ss.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
