package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up probe (r8): the 100-TB claims are design
  * arguments — this measures them. Synthesizes power-law directed
  * graphs at 1× (matching sf0.1's edge volume: V=800k, E=1.2M) and
  * 10× (V=8M, E=12M), runs the six graph headliners at both scales,
  * and prints wall-clock ratios. A scale-safe operator should grow
  * ≲ linearly in E (ratio ≈ 10 at 10× data on fixed cores); anything
  * super-linear gets a named cause in SURVEY §6.
  *
  * The generator is deterministic (xxhash64 of the row id, no RNG
  * state): src follows a pow(u, 2) skew — hub degrees ~E/√V, the
  * hotspot shape a real code graph's god-module produces — and dst is
  * uniform. Ids are "n<k>" strings to match the engine's key shape.
  *
  * Usage: runMain graft.tools.ScaleProbe [algos...]
  * (`diameter` and the `bfsgate` sweep run only when named)
  */
object ScaleProbe {

  def genEdges(spark: SparkSession, nV: Long, nE: Long): DataFrame =
    spark.range(nE).select(
      concat(lit("n"), (pow(
        (abs(xxhash64(col("id"), lit(1))) % 1000000000L) / 1e9, 2.0)
        * nV).cast("long")).as("src"),
      concat(lit("n"),
        (abs(xxhash64(col("id"), lit(2))) % nV).as("d")).as("dst"))
      .filter(col("src") =!= col("dst"))

  def main(args: Array[String]): Unit = {
    // Partition count is a SCALE parameter, not a constant (r12): a
    // 100× probe leg on the bench's fixed 32 partitions puts ~8M und
    // rows in one shuffle partition — the exact partition-sizing
    // mistake a 100-TB deployment must not make (the 1× leg's
    // per-partition volume, held constant, is the honest comparison:
    // a real cluster grows partitions with data). Default stays 32;
    // deep legs pass SPARK_GRAFT_PROBE_PARTS ≈ 32 × scale/10.
    val parts = sys.env.getOrElse("SPARK_GRAFT_PROBE_PARTS", "32")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // deep legs: an iterative algorithm's dereferenced per-round
      // shuffle files and checkpoints are only deleted after a DRIVER
      // GC collects their weak refs — the default 30 min periodic GC
      // let a 100× coloring run accumulate ~80 GB of dead spill and
      // die on disk (r12, measured). One minute bounds dead spill to
      // ~a round's worth; production clusters set exactly this knob
      // for long iterative jobs.
      .config("spark.cleaner.periodicGC.interval", "60s")
      // deep legs, part 2 (r13): the per-round localCheckpoint frames
      // and the _SER stored views are write-once read-once serialized
      // blocks — compressing them (lz4) is pure win for the disk
      // budget that killed the r12 100× leg (79 GB usable), at a CPU
      // cost the probe's own ratios absorb. Applies to every
      // serialized block the block manager spills or stores; reliable
      // checkpoints (none here) get the same via checkpoint.compress.
      .config("spark.rdd.compress", "true")
      .config("spark.checkpoint.compress", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.graph.GraphAnalytics

    val algos: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq("pagerank", "components", "kcore", "bfs", "msf", "ktruss",
        "linkpred", "ra", "stress")

    def run(tag: String, nV: Long, nE: Long): Map[String, Double] = {
      // the stored-index contract: benched consumers probe a persisted,
      // src-partitioned distinct pair view built once at ingest.
      // SERIALIZED cache (r12): at the 100× leg the und view is 240M
      // rows — deserialized row objects inflate that ~4× and the
      // unified memory manager thrashes evicting them under execution
      // pressure (measured: evictBlocksToFreeSpace livelock).
      // Serialized pages are what an E-scale stored view looks like in
      // production caches too.
      val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      val pairs = genEdges(spark, nV, nE).distinct()
        .repartition(col("src"))
        .persist(level)
      val und = pairs.select(col("src"), col("dst"))
        .unionAll(pairs.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().repartition(col("src"))
        .persist(level)
      println(s"[$tag] E=${pairs.count()} undE=${und.count()}")
      // disk evidence per algo (r13): usable space on the spill volume
      // before/after — the observable the 100× post-mortem lacked
      def usableGB: Double = new java.io.File(
        System.getProperty("java.io.tmpdir", "/tmp")).getUsableSpace / 1e9
      def time(name: String)(f: => DataFrame): Option[(String, Double)] =
        if (!algos.contains(name)) None
        else {
          graft.core.Checkpoints.sweepAnonymous(spark)
          System.gc()
          val d0 = usableGB
          val t0 = System.nanoTime()
          f.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[$tag] $name%-12s $dt%8.2f s  disk ${d0 - usableGB}%+6.1f GB (free ${usableGB}%.0f)")
          Some(name -> dt)
        }
      val r = Seq(
        time("pagerank")(GraphAnalytics.pagerankFixedPoint(pairs, iters = 5,
          pairsDistinct = true)),
        time("components")(GraphAnalytics.connectedComponents(und,
          rounds = 6, undirectedPairs = true)),
        time("kcore")(GraphAnalytics.kcore(und, k = 2, rounds = 8,
          undirectedPairs = true)),
        time("bfs") {
          import graft.graph.{Direction, EdgeFilter, Traversal, TraversalSpec}
          import spark.implicits._
          Traversal.bfs(
            pairs.select(col("src"), col("dst"),
              lit("calls").as("edge_type")),
            Seq("n0").toDF("id"), // the hub: worst-case frontier
            TraversalSpec(Direction.Outgoing, 3, 10000, EdgeFilter.All))
        },
        time("msf")(GraphAnalytics.minimumSpanningForest(
          pairs.select(
            expr("CAST(substring(src, 2, 100) AS BIGINT)").as("src"),
            expr("CAST(substring(dst, 2, 100) AS BIGINT)").as("dst"))
            .withColumn("w", lit(1L) + (col("src") + col("dst")) % 7),
          canonicalInput = false)),
        time("ktruss")(GraphAnalytics.ktruss(
          pairs.filter(col("src") < col("dst")), k = 4, rounds = 3,
          canonical = true)),
        // r8 additions: the packed-long candidate machine (both scores)
        // and the two-phase integer stress accumulation — wedge volume
        // is hub-capped (≤ V·C(100,2)), so the expected growth is ~E
        time("linkpred")(GraphAnalytics.linkPredTopK(pairs,
          k = 100, maxDeg = 100)),
        time("ra")(GraphAnalytics.linkPredTopK(pairs,
          k = 100, maxDeg = 100, score = "ra")),
        time("stress")(GraphAnalytics.stressFromSeeds(und,
          seeds = Seq("n0", "n1", "n2", "n3"), maxDepth = 3,
          undirectedPairs = true)),
        // r8d additions: adjacency-intersect clustering (Σdeg² work,
        // max-degree-bounded arrays), winners-only-peel coloring
        // (O(live E) per round × 6), and 2-iter mean propagation
        // (one state⋈index join + V-fold per iter)
        time("clustering")(GraphAnalytics.localClustering(
          pairs.filter(col("src") < col("dst")), canonical = true)),
        time("coloring")(GraphAnalytics.greedyColoring(und,
          rounds = 6, undirectedPairs = true)),
        time("featureprop")(GraphAnalytics.featureProp(und,
          iters = 2, undirectedPairs = true)),
        // r8e: the h-index fixed point — per round one state probe +
        // a neighbor-local rank window; expected ~E growth
        time("coreness")(GraphAnalytics.coreness(und,
          rounds = 4, undirectedPairs = true)),
        // r9: the V<=1M broadcast→shuffle fallback family — at 10×
        // (V=8M) these run their never-before-measured shuffle paths
        time("louvain")(GraphAnalytics.louvainOneLevel(und,
          rounds = 3, undirectedPairs = true)),
        time("mis")(GraphAnalytics.maximalIndependentSet(und,
          rounds = 4, undirectedPairs = true)),
        time("hits")(GraphAnalytics.hitsFixedPoint(pairs,
          iters = 5, pairsDistinct = true)),
        time("lpa")(GraphAnalytics.labelPropagation(und,
          rounds = 4, undirectedPairs = true)),
        // r10: the three r9/r10 headliners that lacked probe rows —
        // the contraction join + weighted meta phase (at 10× the meta
        // graph crosses the 1M-edge driver gate, exercising the
        // distributed fallback), the sampled Brandes accumulation, and
        // the pointer-doubling path assembly (⌈log₂L⌉ O(V) self-joins)
        time("louvain2")(GraphAnalytics.louvainLevels(und,
          rounds1 = 3, roundsMeta = 4, maxLevels = 2,
          undirectedPairs = true)),
        time("betweenness")(GraphAnalytics.betweennessFromSeeds(und,
          seeds = Seq("n0", "n1", "n2", "n3"), maxDepth = 3,
          undirectedPairs = true)),
        time("ssspaths")(graft.graph.GraphAlgos.ssspWithPaths(
          pairs.select(col("src"), col("dst"))
            .withColumn("w", lit(1L) +
              (expr("CAST(substring(src, 2, 100) AS BIGINT)")
                + expr("CAST(substring(dst, 2, 100) AS BIGINT)")) % 7),
          sourceId = "n0")),
        // the uncapped BFS loop end to end: two sweeps over the und
        // index whose frontiers grow past the driver-level gate
        time("diameter")(GraphAnalytics.doubleSweep(und, "n0",
          undirectedPairs = true))
      ).flatten.toMap ++ (
        // where driver-level BFS stops winning: one level from F
        // spread-out seeds with every level distributed (gate 0) and
        // on the driver (no gate), then the first sweep's whole
        // traversal at gate 0 and at the shipped gate; medians of 3
        if (!algos.contains("bfsgate")) Nil
        else {
          import graft.graph.{Direction, Traversal}
          import spark.implicits._
          def median3(f: => Long): (Double, Long) = {
            val runs = (1 to 3).map { _ =>
              val t0 = System.nanoTime()
              val n = f
              ((System.nanoTime() - t0) / 1e9, n)
            }.sortBy(_._1)
            runs(1)
          }
          def bfs(seeds: Seq[String], depth: Int, gate: Long): Long =
            Traversal.bfsLoop(und, seeds.toDF("id"), Direction.Outgoing,
              depth, Long.MaxValue, localRows = gate).count()
          val level = for (f <- Seq(1000L, 3000L, 10000L, 30000L, 100000L, 300000L);
                           g <- Seq(0L, Long.MaxValue)) yield {
            val seeds = (0L until f).map(i => s"n${i * nV / f}")
            val (dt, n) = median3(bfs(seeds, 1, g))
            val gl = if (g == 0L) "0" else "none"
            println(f"[$tag] bfsgate level  seeds=$f%-7d gate=$gl%-6s $dt%8.2f s  ($n rows)")
            s"bfsgate_level_${f}_$gl" -> dt
          }
          val whole = for (g <- Seq(0L, 100000L)) yield {
            val (dt, n) = median3(bfs(Seq("n0"), 12, g))
            println(f"[$tag] bfsgate sweep  gate=$g%-6d $dt%8.2f s  ($n rows)")
            s"bfsgate_sweep_$g" -> dt
          }
          level ++ whole
        })
      pairs.unpersist(); und.unpersist()
      r
    }

    // scales are multipliers of the sf0.1-like base (V=800k, E=1.2M);
    // override with SPARK_GRAFT_PROBE_SCALES="1,30" for deeper probes
    val scales = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALES", "1,10")
      .split(",").map(_.trim.toLong).toSeq
    val runs = scales.map(m =>
      m -> run(s"${m}x", 800000L * m, 1200000L * m))
    val (m0, s0) = runs.head
    println(f"${"algo"}%-12s ${s"${m0}x"}%8s ${s"${runs.last._1}x"}%8s  ratio")
    for (k <- algos if runs.forall(_._2.contains(k)))
      println(f"$k%-12s ${s0(k)}%8.2f ${runs.last._2(k)}%8.2f  " +
        f"${runs.last._2(k) / s0(k)}%5.2f")
    spark.stop()
  }
}
