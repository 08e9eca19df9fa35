package graft

import graft.scale.PageRank

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The general PageRank operator ([[graft.scale.PageRank]]) vs driver-side
  * reference simulations: the q62 closed form (uniform outdeg 3, no
  * dangling), a variable-outdeg graph WITH dangling nodes (mass
  * redistribution), convergence stopping, checkpoint-cadence equivalence,
  * random-graph parity, and the job and stage census of the loop.
  */
class PageRankSpec extends AnyFunSuite {

  import SparkFixture._

  /** Reference: scaled PageRank with uniform dangling redistribution —
    * pr'(v) = (1-d) + d*(Σ pr(u)/outdeg(u) + danglingMass/n) over the
    * node universe `nodes`. Multiset edges (parallel edges contribute once
    * per copy). None is a null endpoint: a null-src edge is dropped; a
    * dst outside `nodes` (None included) counts toward its src's outdeg
    * and its share leaks; a src outside `nodes` holds no rank and
    * contributes nothing. A node is dangling iff no edge has it as src.
    * With tol > 0 the run stops at the first iteration whose L1 delta is
    * <= tol. Returns (ranks, iterations, last delta).
    */
  private def reference(nodes: Seq[Long], edges: Seq[(Option[Long], Option[Long])],
                        d: Double, maxIter: Int,
                        tol: Double = 0.0): (Map[Long, Double], Int, Double) = {
    val kept = edges.collect { case (Some(s), dst) => (s, dst) }
    val outdeg = kept.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val n = nodes.size
    var pr = nodes.map(_ -> 1.0).toMap
    var iter = 0
    var delta = Double.NaN
    while (iter < maxIter && !(tol > 0 && delta <= tol)) {
      iter += 1
      val dm = pr.collect { case (v, p) if !outdeg.contains(v) => p }.sum
      val inflow = kept.collect { case (s, Some(dst)) if pr.contains(s) => (dst, pr(s) / outdeg(s)) }
        .groupBy(_._1).map { case (dst, cs) => dst -> cs.map(_._2).sum }
      val next = pr.map { case (v, _) =>
        v -> ((1 - d) + d * (inflow.getOrElse(v, 0.0) + dm / n))
      }
      delta = next.map { case (v, p) => math.abs(p - pr(v)) }.sum
      pr = next
    }
    (pr, iter, delta)
  }

  private def simulate(n: Int, edges: Seq[(Long, Long)], d: Double,
                       iters: Int): Map[Long, Double] =
    reference((0L until n.toLong), edges.map { case (s, t) => (Some(s), Some(t)) },
      d, iters)._1

  private def q62Edges(n: Int): Seq[(Long, Long)] =
    (0L until n.toLong).flatMap(i =>
      Seq((i, (i * 7 + 1) % n), (i, (i * 13 + 3) % n), (i, (i * 31 + 7) % n)))

  private def runOp(n: Int, edges: Seq[(Long, Long)], d: Double = 0.85,
                    tol: Double = 0.0, maxIter: Int = 3,
                    checkpointEvery: Int = 5): (Map[Long, Double], Int, Double) = {
    val spark0 = spark
    import spark0.implicits._
    val nodes = (0L until n.toLong).toDF("id")
    val e = edges.toDF("src", "dst")
    val res = PageRank.run(nodes, e, damping = d, tol = tol,
      maxIter = maxIter, checkpointEvery = checkpointEvery)
    val out = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val it = res.iterations
    val delta = res.delta
    res.release()
    (out, it, delta)
  }

  private def assertClose(got: Map[Long, Double], exp: Map[Long, Double]): Unit = {
    assert(got.keySet == exp.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - exp(k)) < 1e-9, s"node $k: got $v expected ${exp(k)}")
    }
  }

  test("q62 closed form: uniform outdeg 3, no dangling — operator == simulation") {
    val n = 101
    val (got, iters, _) = runOp(n, q62Edges(n), maxIter = 3)
    assert(iters == 3)
    assertClose(got, simulate(n, q62Edges(n), 0.85, 3))
  }

  test("variable out-degree + dangling nodes: mass redistributes, total rank == n") {
    // ids 0..59; ids % 5 == 0 have NO out-edges (dangling); others emit
    // 1-3 edges by formula — outdeg varies per node
    val n = 60
    val edges = (0L until n.toLong).filter(_ % 5 != 0).flatMap { i =>
      val base = Seq((i, (i * 3 + 1) % n))
      val more = if (i % 2 == 0) Seq((i, (i * 11 + 5) % n)) else Nil
      val third = if (i % 3 == 0) Seq((i, (i * 17 + 2) % n)) else Nil
      base ++ more ++ third
    }
    val exp = simulate(n, edges, 0.85, 4)
    val (got, iters, _) = runOp(n, edges, maxIter = 4)
    assert(iters == 4)
    assertClose(got, exp)
    // dangling redistribution conserves mass: Σpr stays n (a leaky
    // implementation decays toward (1-d)*n/(1-d...) — this catches it)
    assert(math.abs(got.values.sum - n) < 1e-6)
  }

  test("parallel edges are a multiset: a doubled link contributes twice") {
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L))
    val exp = simulate(3, edges, 0.85, 2)
    val (got, _, _) = runOp(3, edges, maxIter = 2)
    assertClose(got, exp)
    // outdeg(0) = 3 (multiset): node 1 receives 2/3 of pr0, node 2 only
    // 1/3 — set semantics would make them equal
    assert(got(1L) > got(2L))
  }

  test("convergence: tol stops the loop early with delta <= tol") {
    // a strongly-connected ring converges geometrically; with a loose tol
    // the loop must stop well before maxIter and report the delta it met
    val n = 40
    val edges = (0L until n.toLong).map(i => (i, (i + 1) % n))
    val (got, iters, delta) = runOp(n, edges, tol = 1e-6, maxIter = 50)
    assert(iters < 50, s"did not converge early (ran $iters)")
    assert(delta <= 1e-6 && !delta.isNaN)
    // the ring's stationary ranks are uniform 1.0
    got.values.foreach(v => assert(math.abs(v - 1.0) < 1e-4))
  }

  test("a src outside the node set contributes nothing and hides no dangling node") {
    val spark0 = spark
    import spark0.implicits._
    // node 1 is dangling; 7 -> 0 is an edge from a src that is not a node.
    // Counting dangling nodes as n - distinct(src) reads 2 - 2 = 0 here,
    // switches redistribution off and leaks node 1's mass every iteration
    val nodes = Seq(0L, 1L).toDF("id")
    val e = Seq((0L, 1L), (7L, 0L)).toDF("src", "dst")
    val res = PageRank.run(nodes, e, maxIter = 3)
    val got = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.release()
    assertClose(got, simulate(2, Seq((0L, 1L)), 0.85, 3))
    assert(math.abs(got.values.sum - 2.0) < 1e-9, s"mass leaked: ${got.values.sum}")
  }

  test("random graphs: the RDD loop matches the reference at 1e-9 and at round(4)") {
    val spark0 = spark
    import spark0.implicits._
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val rnd = new scala.util.Random(62)
    (1 to 12).foreach { trial =>
      // node ids: a random subset of 0 until 2n, so edges also hit ids
      // outside the node set (as src and as dst)
      val n = 10 + rnd.nextInt(40)
      val nodeIds = rnd.shuffle((0L until 2L * n).toList).take(n)
      val universe = 2 * n
      // every 4th node emits nothing (dangling), every 5th takes nothing
      // in (sink); parallel edges and self-loops come from the draws
      val emitters = nodeIds.zipWithIndex.filter(_._2 % 4 != 0).map(_._1)
      val targets = (0L until universe.toLong).filterNot(nodeIds.zipWithIndex
        .collect { case (v, i) if i % 5 == 0 => v }.toSet)
      val drawn = Seq.fill(3 * n) {
        val s = if (rnd.nextInt(10) == 0) rnd.nextInt(universe).toLong
                else emitters(rnd.nextInt(emitters.size))
        val t = if (rnd.nextInt(8) == 0) s else targets(rnd.nextInt(targets.size))
        (Option(s), Option(t))
      }
      val doubled = drawn.take(n / 3)
      // every third trial: null endpoints (null src dropped; null dst
      // counts toward outdeg and leaks)
      val nulls: Seq[(Option[Long], Option[Long])] =
        if (trial % 3 != 0) Nil
        else Seq((None, Some(nodeIds.head)), (Some(emitters.head), None), (None, None),
          (Some(nodeIds(1)), None))
      val edges = drawn ++ doubled ++ nulls
      val d = if (trial % 2 == 0) 0.5 else 0.85
      val tol = if (trial % 4 == 1) 0.05 * n else 0.0
      val maxIter = 1 + rnd.nextInt(8)
      val every = Seq(1, 2, 3, 100)(rnd.nextInt(4))
      val (exp, expIter, expDelta) = reference(nodeIds, edges, d, maxIter, tol)

      val res = PageRank.run(nodeIds.toDF("id"), edges.toDF("src", "dst"), damping = d,
        tol = tol, maxIter = maxIter, checkpointEvery = every)
      val got = res.ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ctx = s"trial $trial (n=$n, d=$d, tol=$tol, maxIter=$maxIter, every=$every)"
      assert(res.iterations == expIter, s"$ctx: stopped at ${res.iterations}, expected $expIter")
      if (tol > 0) assert(math.abs(res.delta - expDelta) < 1e-9, s"$ctx: delta ${res.delta} vs $expDelta")
      else assert(res.delta.isNaN, s"$ctx: delta computed with tol = 0")
      res.release()
      assert(got.keySet == exp.keySet, s"$ctx: node sets differ")
      got.foreach { case (k, v) =>
        assert(math.abs(v - exp(k)) < 1e-9, s"$ctx: node $k got $v expected ${exp(k)}")
        assert(r4(v) == r4(exp(k)), s"$ctx: node $k rounds to ${r4(v)}, expected ${r4(exp(k))}")
      }
    }
  }

  test("checkpoint cadence does not change values; pure-lineage == per-iteration") {
    val n = 30
    val edges = q62Edges(n)
    val exp = simulate(n, edges, 0.85, 7)
    // cadence 2: checkpoints at 2,4,6, pure lineage tail at 7
    val (cadenced, _, _) = runOp(n, edges, maxIter = 7, checkpointEvery = 2)
    assertClose(cadenced, exp)
    // cadence 100: all seven iterations stay lineage
    val (pure, _, _) = runOp(n, edges, maxIter = 7, checkpointEvery = 100)
    assertClose(pure, exp)
  }

  test("tol path: ONE Spark job per iteration (delta rides the materializing action)") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = 40
      val nodes = (0L until n.toLong).toDF("id")
      val e = (0L until n.toLong).map(i => (i, (i + 1) % n)).toDF("src", "dst")
      sc.setJobGroup("pr-census", "pr-census", interruptOnCancel = false)
      val res = PageRank.run(nodes, e, tol = 1e-6, maxIter = 50)
      sc.clearJobGroup()
      assert(res.iterations < 50 && res.delta <= 1e-6)
      Thread.sleep(1000) // listener bus drains async
      val jobs = sc.statusTracker.getJobIdsForGroup("pr-census").length
      // fixed setup = 1 job (node and dangling counts, filling the edge
      // index and the node vector); after that the delta aggregate IS each
      // iteration's only job
      assert(jobs == 1 + res.iterations,
        s"tol iteration must launch exactly one job: $jobs jobs for " +
          s"${res.iterations} iterations (+1 setup)")
      res.release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("dangling path: ONE Spark job per iteration (mass rides the materializing action)") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val n = 40
      val nodes = (0L until n.toLong).toDF("id")
      // every 5th node dangles (q64's shape)
      val e = (0L until n.toLong).filter(_ % 5 != 0)
        .map(i => (i, (i * 3 + 1) % n)).toDF("src", "dst")
      sc.setJobGroup("pr-dang-census", "pr-dang-census", interruptOnCancel = false)
      val res = PageRank.run(nodes, e, maxIter = 4)
      res.ranks.count() // consume so the lazy final frame doesn't add jobs later
      sc.clearJobGroup()
      Thread.sleep(1000) // listener bus drains async
      val jobs = sc.statusTracker.getJobIdsForGroup("pr-dang-census").length
      // fixed setup = 1 job (node and dangling counts) + the final
      // consuming count; iterations 1-3 each launch one job, the aggregate
      // whose dangling mass the next iteration redistributes (iteration
      // 1's own mass is nDangling * 1.0 by construction). No iteration
      // needs the last one's mass, so it runs inside the consuming job
      assert(jobs == 1 + 3 + 1,
        s"dangling iteration must launch exactly one job: $jobs jobs for " +
          s"${res.iterations} iterations (+1 setup, +1 consume, last in the consume)")
      res.release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("iterative joins stay shuffle-hash (no SMJ) in pure-lineage mode") {
    val spark0 = spark
    import spark0.implicits._
    val n = 50
    val nodes = (0L until n.toLong).toDF("id")
    val e = q62Edges(n).toDF("src", "dst")
    val res = PageRank.run(nodes, e, maxIter = 3, checkpointEvery = 100)
    // the rank/edge join is a hash-partitioned zipPartitions; nothing in
    // the plan that serves `ranks` may sort-merge
    val plan = res.ranks.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"stat-less iterative join fell back to SMJ:\n$plan")
    assert(res.ranks.count() == n)
    res.release()
  }

  test("pure-lineage mode: exactly one shuffle per iteration (SparkListener stage census)") {
    val spark0 = spark
    import spark0.implicits._
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // shuffle-map stages that RAN (a reused shuffle's stage is skipped
    // and never completes) in jobs of the group. A job's result stage is
    // created after all its parents, so it has the job's highest stage id;
    // every other stage of the job is a shuffle-map stage
    val mapStages = ConcurrentHashMap.newKeySet[Int]()
    val completed = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            Option(js.properties.getProperty("spark.jobGroup.id")).exists(_.startsWith("pr-stages")))
          js.stageIds.filter(_ != js.stageIds.max).foreach(mapStages.add)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        completed.add(sc.stageInfo.stageId)
    }
    sc.addSparkListener(listener)
    try {
      val n = 50
      val nodes = (0L until n.toLong).toDF("id")
      val e = q62Edges(n).toDF("src", "dst")
      def shuffles(iters: Int): Int = {
        mapStages.clear(); completed.clear()
        sc.setJobGroup(s"pr-stages-$iters", "pr-stages", interruptOnCancel = false)
        val res = PageRank.run(nodes, e, maxIter = iters, checkpointEvery = 100)
        res.ranks.collect()
        sc.clearJobGroup()
        Thread.sleep(1000) // listener bus drains async
        res.release()
        mapStages.asScala.count(completed.contains)
      }
      // setup shuffles the node ids and the edge index onto the shared
      // partitioner once; after that each iteration is ONE exchange
      val s3 = shuffles(3)
      val s6 = shuffles(6)
      assert(s3 == 2 + 3, s"3 iterations ran $s3 shuffle stages (expected 2 setup + 3)")
      assert(s6 - s3 == 3, s"3 more iterations added ${s6 - s3} shuffle stages, not 3")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("HITS: star graph hand-computed — path counts exact, alternating auth/hub steps") {
    val spark0 = spark
    import spark0.implicits._
    // 0 -> {1,2,3} (the hub), {1,2,3} -> 4 (the authority)
    val nodes = (0L to 4L).toDF("id")
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val got = graft.queries.SimQ.hits(nodes, e, iters = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // iter1: auth = indeg -> a=(0,1,1,1,3); hub1(u) = Σ auth1(dst):
    //   hub1 = (3, 3, 3, 3, 0)
    // iter2: auth2(v) = Σ hub1(src over in-edges) = (0, 3, 3, 3, 9);
    //   hub2(u) = Σ auth2(dst) = (9, 9, 9, 9, 0)
    val expected = Map(0L -> ((0L, 9L)), 1L -> ((3L, 9L)), 2L -> ((3L, 9L)),
      3L -> ((3L, 9L)), 4L -> ((9L, 0L)))
    assert(got == expected)
  }

  test("HITS: parallel edges are a multiset; regular graphs are provably uniform") {
    val spark0 = spark
    import spark0.implicits._
    val nodes = (0L to 2L).toDF("id")
    // doubled edge 0->1 contributes twice to auth(1) and twice to hub(0)
    val e = Seq((0L, 1L), (0L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = graft.queries.SimQ.hits(nodes, e, iters = 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // auth1 = weighted indeg = (0, 2, 1); hub1 = Σ auth1(dst): 0 -> 2+2=4, 1 -> 1
    assert(got == Map(0L -> ((0L, 4L)), 1L -> ((2L, 1L)), 2L -> ((1L, 0L))))
    // the q62 3-regular formula graph: HITS must be exactly uniform — the
    // reason q149 uses the hierarchy graph instead
    val n = 60
    val rnodes = (0L until n.toLong).toDF("id")
    val re = q62Edges(n).toDF("src", "dst")
    val u = graft.queries.SimQ.hits(rnodes, re, iters = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(u.length == 1, s"regular graph must score uniformly, got ${u.length} classes")
  }
}
