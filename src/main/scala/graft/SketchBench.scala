package graft

import org.apache.spark.sql.functions._

/** Sketch-aggregate scale-stress for q105/q110-q112:
  * exact `count(distinct)` must SHUFFLE every distinct (group, token) pair
  * — at 100 TB that shuffle is the job — while `kmv_sketch` carries k
  * longs of map-side-combined state per (task, group) and `cm_sketch` a
  * fixed depth×width grid, so their exchanges are measured in kilobytes
  * regardless of corpus size. This bench pins that asymmetry as DATA: the
  * per-leg wall clock AND the actual shuffle-write bytes (SparkListener
  * stage metrics), plus the KMV estimate's max relative error against the
  * exact counts — which must sit inside the Bar-Yossef standard-error
  * envelope 1/√(k−2) (≈ 6.3% at k = 256) times a small constant.
  *
  * The rollup leg times `kmv_merge` over PERSISTED per-shard sketches
  * alone — the roll-up-without-rescanning path whose input is
  * |groups|·|shards| sketch rows, independent of corpus size.
  *
  * `GRAFT_SKETCH_N=50000000 sbt "runMain graft.SketchBench"`
  */
object SketchBench {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("GRAFT_SKETCH_N", "50000000").toLong
    val groups = sys.env.getOrElse("GRAFT_SKETCH_GROUPS", "64").toInt
    val universe = sys.env.getOrElse("GRAFT_SKETCH_UNIVERSE", "10000000").toLong
    val k = 256
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)

    // stage-level shuffle-write ledger; reset between legs (the listener
    // bus is async — each drain waits a beat before reading)
    val shuffleW = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def drainMb(): Double = { Thread.sleep(800); shuffleW.getAndSet(0L) / 1e6 }

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // formula-generated token stream: xxhash64 spreads ids over `universe`
    // distinct tokens, round-robin over `groups` languages
    val toks = spark.range(n).select(
      pmod(col("id"), lit(groups.toLong)).as("lang"),
      concat(lit("tok"), pmod(xxhash64(col("id")), lit(universe))).as("tok"))

    toks.limit(1000).count() // session warm-up
    drainMb()

    // leg 1: exact distinct — the full (lang, tok) shuffle
    val (exact, tExact) = time {
      toks.groupBy("lang").agg(countDistinct("tok").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val mbExact = drainMb()

    // leg 2: KMV sketch — k longs of state per (task, group)
    val ((ests, tKmv), mbKmv) = {
      val r = time {
        toks.groupBy("lang")
          .agg(graft.functions.kmv_sketch(col("tok"), k).as("kmv"))
          .select(col("lang"), size(col("kmv.hs")).as("m"),
            expr("element_at(kmv.hs, -1)").as("kth"))
          .collect()
          .map(row => row.getLong(0) ->
            (if (row.getInt(1) < k) row.getInt(1).toDouble
             else (k - 1).toDouble * math.pow(2, 60) / row.getLong(2)))
          .toMap
      }
      (r, drainMb())
    }
    val maxRelErr = exact.map { case (g, ex) =>
      math.abs(ests(g) - ex) / ex
    }.max

    // leg 3: CM sketch — fixed 4x2048 grid per group (element_at forces
    // the full grid; count() alone would let Spark prune the aggregate)
    val (_, tCm) = time {
      toks.groupBy("lang")
        .agg(graft.functions.cm_sketch(col("tok"), 4, 2048).as("cm"))
        .select(max(element_at(col("cm"), 1))).collect()
    }
    val mbCm = drainMb()

    // leg 4: rollup — PERSISTED per-shard sketches re-aggregated without
    // touching raw tokens (input = groups x shards rows, not n)
    val stored = toks
      .withColumn("shard", pmod(xxhash64(col("tok")), lit(64)))
      .groupBy("lang", "shard")
      .agg(graft.functions.kmv_sketch(col("tok"), k).as("kmv"))
      .persist()
    val (_, tStore) = time(stored.count())
    drainMb()
    val (merged, tMerge) = time {
      stored.groupBy("lang")
        .agg(graft.functions.kmv_merge(col("kmv"), k).as("kmv"))
        .select(col("lang"), expr("element_at(kmv.hs, -1)").as("kth"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val mbMerge = drainMb()
    stored.unpersist()

    // rollup lands on the same k-th minimum as the direct sketch
    val directKth = toks.groupBy("lang")
      .agg(graft.functions.kmv_sketch(col("tok"), k).as("kmv"))
      .select(col("lang"), expr("element_at(kmv.hs, -1)").as("kth"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(merged == directKth, "rollup must equal the direct sketch")

    // leg 5: bounded-state SAMPLE (bottomk_pairs) vs the window-rank
    // formulation of the same k-smallest-pairs-per-group answer. Spark
    // 3.5+ bounds the window's exchange too (WindowGroupLimit pushes the
    // rank limit below the shuffle — its shuffle-write is ~constant in n,
    // measured), but the window still FULLY SORTS every map partition
    // below the partial limit; the aggregate's heap is O(n log k) with no
    // sort (measured ~4x wall at 50M rows). Results are required
    // IDENTICAL (order-independent multiset, compared via an xor
    // signature — xxhash64 keys are unique, so nothing self-cancels).
    val kvs = spark.range(n).select(
      pmod(col("id"), lit(groups.toLong)).as("lang"),
      xxhash64(col("id")).as("h"), pmod(col("id"), lit(997L)).as("v"))
    val (aggRes, tSampAgg) = time {
      kvs.groupBy("lang")
        .agg(graft.functions.bottomk_pairs(col("h"), col("v"), k).as("s"))
        .select(col("lang"),
          expr("aggregate(s, 0L, (a, p) -> a ^ p.key ^ p.val)").as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val mbSampAgg = drainMb()
    val (winRes, tSampWin) = time {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("h"), col("v"))
      kvs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .groupBy("lang")
        .agg(expr("bit_xor(h ^ v)").as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val mbSampWin = drainMb()
    require(aggRes == winRes,
      "bounded-state sample must equal the window-rank sample exactly")

    // leg 6: QUANTILES — exact percentile() buffers EVERY value per group
    // (the OOM-at-scale formulation) vs qhist's canonical bounded grid
    // (<= 1888 counters per group, deterministic <= 2^-6 value error).
    // The rollup confluence is also required AT SCALE: per-shard sketches
    // must merge to the bit-identical direct sketch on 50M rows.
    val vals = spark.range(n).select(
      pmod(col("id"), lit(groups.toLong)).as("lang"),
      (pmod(xxhash64(col("id")), lit(1000000L)) + 1L).as("v"))
    val (exactQ, tQexact) = time {
      vals.groupBy("lang")
        .agg(expr("percentile(v, array(0.5, 0.9, 0.99))").as("qs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    }
    val mbQexact = drainMb()
    val ((qh, tQh), mbQh) = {
      val r = time {
        vals.groupBy("lang")
          .agg(graft.functions.qhist_sketch(col("v"), 6).as("sk"))
          .select(col("lang"),
            graft.functions.qhist_value(col("sk"), 500, 6).as("p50"),
            graft.functions.qhist_value(col("sk"), 900, 6).as("p90"),
            graft.functions.qhist_value(col("sk"), 990, 6).as("p99"))
          .collect()
          .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
          .toMap
      }
      (r, drainMb())
    }
    val qhMaxRelErr = exactQ.map { case (g, ex) =>
      ex.zip(qh(g)).map { case (e, q) => math.abs(q - e) / e }.max
    }.max
    require(qhMaxRelErr <= 1.0 / 32,
      s"qhist quantiles must sit inside the 2^-6 value-error envelope: $qhMaxRelErr")
    def skOf(r: org.apache.spark.sql.Row): (Seq[Int], Seq[Long]) = {
      val st = r.getStruct(1); (st.getSeq[Int](1), st.getSeq[Long](2))
    }
    val qhDirect = vals.groupBy("lang")
      .agg(graft.functions.qhist_sketch(col("v"), 6).as("sk"))
      .collect().map(r => r.getLong(0) -> skOf(r)).toMap
    val (qhRolled, tQhMerge) = time {
      vals.withColumn("shard", pmod(col("v"), lit(32L)))
        .groupBy("lang", "shard")
        .agg(graft.functions.qhist_sketch(col("v"), 6).as("sk"))
        .groupBy("lang")
        .agg(graft.functions.qhist_merge(col("sk"), 6).as("sk"))
        .collect().map(r => r.getLong(0) -> skOf(r)).toMap
    }
    drainMb()
    require(qhRolled == qhDirect,
      "qhist rollup must be bit-identical to the direct sketch at scale")

    def f(d: Double): String = f"$d%.3f"
    println(
      s"""{"bench":"sketch","n":$n,"groups":$groups,"universe":$universe,"k":$k,
         |"exact_sec":${f(tExact)},"exact_shuffle_mb":${f(mbExact)},
         |"kmv_sec":${f(tKmv)},"kmv_shuffle_mb":${f(mbKmv)},
         |"kmv_max_rel_err":${f(maxRelErr)},"se_theory":${f(1.0 / math.sqrt(k - 2.0))},
         |"cm_sec":${f(tCm)},"cm_shuffle_mb":${f(mbCm)},
         |"rollup_store_sec":${f(tStore)},"rollup_merge_sec":${f(tMerge)},
         |"rollup_merge_shuffle_mb":${f(mbMerge)},
         |"sample_agg_sec":${f(tSampAgg)},"sample_agg_shuffle_mb":${f(mbSampAgg)},
         |"sample_win_sec":${f(tSampWin)},"sample_win_shuffle_mb":${f(mbSampWin)},
         |"qhist_exact_sec":${f(tQexact)},"qhist_exact_shuffle_mb":${f(mbQexact)},
         |"qhist_sec":${f(tQh)},"qhist_shuffle_mb":${f(mbQh)},
         |"qhist_max_rel_err":${f(qhMaxRelErr)},"qhist_merge_sec":${f(tQhMerge)}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
