package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Minimal JSON writing for the result line and the run record. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"\"${esc(k)}\":$v" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + esc(s) + "\""
}

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back: operations attempted and failed, and metrics. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Metric)],
                         notes: Seq[(String, String)] = Nil)

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, out: Path)

/** Entry point. Run through `perfbench/run.py`, which builds the engine and
  * this harness and forwards the last stdout line (the result JSON).
  *
  * Every run is one JVM with `local[nproc]` and `nproc` shuffle partitions.
  * Untraced runs report the end-to-end metrics; traced runs (`--trace 1`)
  * run the same workload with spans on and report the per-layer metrics.
  */
object PerfBench {

  val cores: Int = Runtime.getRuntime.availableProcessors()
  val master: String = s"local[$cores]"

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Set("suite", "crawl_cold", "crawl_warm", "record", "selftest")(workload),
      s"unknown workload '$workload'")
    Args(workload, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), Paths.get(need("out")))
  }

  def session(): SparkSession = {
    val scratch = Paths.get(".bench_build", "spark").toAbsolutePath
    Files.createDirectories(scratch)
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.tune(spark)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Environment canary: `graft.Bench`'s `canaryOnce` workload (a codegen'd
    * hash reduction and a 1000-key shuffle that touch no graft code). It is
    * recorded as a reading of the host only; nothing divides by it.
    */
  def canaryOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1, cores)
      .agg(sum(xxhash64(col("id")) % 1000000)).collect()
    spark.range(0L, 20000000L, 1, cores)
      .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)))
      .agg(sum("count(1)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Whether to start operation number `done + 1`: always until `min` are
    * done, then only while one more of average length still ends within
    * `seconds` of `t0`.
    */
  def another(done: Int, min: Int, t0: Long, seconds: Double): Boolean = {
    val elapsed = (System.nanoTime() - t0) / 1e9
    done < min || elapsed + elapsed / done <= seconds
  }

  /** Set-up repetitions in one run: session start plus input generation. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // Set-up, repeated: the first repetition pays JVM class loading, later
    // ones a warm session restart. `setup_s` is their median plus the
    // workload's one untimed warm-up.
    var spark: SparkSession = null
    var graph: Option[GraphServer] = None
    val reps = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      graph.foreach(_.stop())
      spark = session()
      args.workload match {
        case "suite" => Suite.prepare(spark, args)
        case "crawl_cold" | "crawl_warm" =>
          graph = Some(new GraphServer(new LinkGraph(Crawl.Depth, args.seed), cores))
        case _ =>
      }
      (System.nanoTime() - t0) / 1e9
    }
    val census = new Census(spark.sparkContext)
    val outcome = try args.workload match {
      case "suite"      => Suite.run(spark, census, args, reps)
      case "crawl_cold" => Crawl.run(spark, census, args, reps, graph.get, warm = false)
      case "crawl_warm" => Crawl.run(spark, census, args, reps, graph.get, warm = true)
      case "record"     => Suite.record(spark, census, args)
      case "selftest"   => SelfTest.run(spark, census, args)
    } catch {
      case e: Throwable =>
        spark.stop()
        throw e
    } finally graph.foreach(_.stop())
    val canary = canaryOnce(spark)
    spark.stop()
    val metrics = outcome.metrics :+ ("peak_rss_mb" -> Metric(peakRssMb(), "MB"))
    val env = Seq(
      "nproc" -> cores.toString, "master" -> Json.str(master),
      "canary_s" -> Json.num(canary), "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString, "trace" -> args.trace.toString)
    val json = Json.obj(Seq(
      "correct" -> (outcome.failed == 0).toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      }),
      "env" -> Json.obj(env ++ outcome.notes)))
    Files.createDirectories(args.out.toAbsolutePath.getParent)
    Files.writeString(args.out, json + "\n")
  }
}
