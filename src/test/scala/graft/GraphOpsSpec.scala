package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** Convergence-gated graph loops (VERDICT r4 #3/#6): the fixed-round
  * oracle queries stay as they are; these specs pin the run-to-convergence
  * variants — exit-gate soundness, equivalence with the fixed-round
  * recurrences where the graph converges early, and the delta-frontier
  * shuffle-volume win on a deep chain. */
class GraphOpsSpec extends SparkSpec {

  import GraphOps.{bfsDeltaFrontier, kcoreConverged, pagerankConverged}

  /** Symmetric (src, dst) edge frame from undirected pairs. */
  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val p = pairs.toDF("a", "b")
    p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
  }

  test("convergent k-core equals the peel fixed point on an early-" +
    "converging graph") {
    // 4-clique (all degrees 3) + a pendant hanging off node 0: one round
    // peels the pendant, round two confirms stability — converges in ≤ 3
    // rounds, so the fixed-3-round peel and the convergent loop agree
    val clique = for {
      i <- 0L until 4L; j <- (i + 1) until 4L
    } yield (i, j)
    val e = sym(clique :+ (0L, 99L))
    val got = kcoreConverged(e, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // survivors: exactly the clique, each with its in-core degree 3
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("convergent k-core terminates on a graph needing > 3 peel rounds") {
    // a 12-node path dissolves under k = 2 one endpoint-pair per round:
    // 6 rounds > the fixed-round queries' budget of 3. The count-gated
    // loop must run it to the (empty) fixed point and stop.
    val chain = (0L until 11L).map(i => (i, i + 1))
    val core = kcoreConverged(sym(chain), k = 2)
    assert(core.count() == 0L)
    // and a fixed-3-round peel would NOT have finished: after 3 rounds
    // the 12-node path still has 12 - 2*3 = 6 nodes of degree >= 1
    // (documented contrast — the convergent variant is the one that
    // reaches the true core)
  }

  test("convergent pagerank with the gate disabled replays the " +
    "fixed-round recurrence exactly") {
    // tolPico = -1 can never be satisfied (deltas are >= 0), so the loop
    // runs exactly maxRounds = Iterations rounds — output must be
    // bit-identical to q_pagerank's integer recurrence on the same data
    val raw = pagerankConverged(spark, sf001, tolPico = -1L,
      maxRounds = GraphOps.Iterations)
    val shaped = raw.select(
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"),
        expr("CAST(node div 2 AS BIGINT)").as("key"),
        col("r").as("rank_pico"))
      .orderBy(desc("rank_pico"), asc("kind"), asc("key"))
      .limit(20)
    val expected = GraphOps.qPagerank.fn(spark, sf001)
    assert(shaped.collect().toSeq == expected.collect().toSeq)
  }

  test("convergent pagerank reaches its tolerance gate and conserves " +
    "rank mass") {
    // a loose gate (0.1% of total mass) must be reached in few rounds;
    // the damping identity bounds total mass near Mass regardless of
    // when the loop exits (floor divisions only lose mass, never add)
    val r = pagerankConverged(spark, sf001, tolPico = GraphOps.Mass / 1000,
      maxRounds = 50)
    val total = r.agg(sum("r")).first().getLong(0)
    assert(total > 0L && total <= GraphOps.Mass,
      s"total rank mass $total outside (0, ${GraphOps.Mass}]")
  }

  private val sf01 = sf001.replace("sf0.001", "sf0.01")

  /** Jobs started by `body`, counted by a listener under a private job
    * group. A marker job in a second group drains the listener first:
    * a listener sees events in the order they were posted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graphops-${java.util.UUID.randomUUID}"
    val marker = s"$group-drain"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => drained.countDown()
          case _ =>
        }
    }
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, TimeUnit.SECONDS), "listener never drained")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("inMass: edges from unranked sources add nothing; the rank " +
    "table goes back to Spark as one slice") {
    // ranked: 0 (degree 3) and 4 (degree 1); 1, 2, 3 and 5 are unranked
    // and must neither add mass nor appear as dst rows of their own
    val e = sym(Seq((0L, 1L), (0L, 2L), (0L, 3L), (4L, 5L), (1L, 2L)))
    val ec = e.join(e.groupBy("src").agg(count(lit(1)).as("d")), "src")
      .repartition(3)
    val ranks = GraphOps.Ranks(Array(0L, 4L), Array(900L, 7L))
    val got = GraphOps.inMass(ec, ranks)
    assert(got.ids.toSeq == Seq(1L, 2L, 3L, 5L))
    assert(got.r.toSeq == Seq(300L, 300L, 300L, 7L))
    val f = ranks.toFrame(spark)
    assert(f.rdd.getNumPartitions == 1)
    assert(f.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(0L -> 900L, 4L -> 7L))
  }

  test("driver-held rank rounds and the DataFrame fallback give " +
    "identical rows at sf0.01") {
    // graphBroadcastNodes = 0 puts every graph above the ceiling, so the
    // second pass runs the DataFrame shuffle rounds
    val key = "spark.graft.graphBroadcastNodes"
    val runs: Seq[(String, () => Seq[Row])] = Seq(
      "q_pagerank" -> (() => GraphOps.qPagerank.fn(spark, sf01)
        .collect().toSeq),
      "q_ppr_seeds" -> (() => GraphOps.qPprSeeds.fn(spark, sf01)
        .collect().toSeq),
      "pagerankConverged" -> (() =>
        pagerankConverged(spark, sf01, tolPico = GraphOps.RankTolPico)
          .orderBy("node").collect().toSeq))
    val fast = runs.map(_._2())
    val fastJobs = jobsOf(GraphOps.qPagerank.fn(spark, sf01).collect())
    val before = spark.conf.getOption(key)
    val conf0 = spark.conf.getAll
    spark.conf.set(key, "0")
    try {
      val slow = runs.map(_._2())
      val slowJobs = jobsOf(GraphOps.qPagerank.fn(spark, sf01).collect())
      // the loops read the ceiling and write no session conf
      assert(spark.conf.getAll == conf0 + (key -> "0"))
      assert(slowJobs > fastJobs,
        s"fallback ran $slowJobs jobs, driver path $fastJobs")
      for (((name, _), f, sl) <- runs.lazyZip(fast).lazyZip(slow)) {
        assert(f.nonEmpty, name)
        assert(f == sl, name)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.conf.getOption(key) == before)
  }

  test("job counts: q_pagerank <= Iterations + 2, q_ppr_seeds <= " +
    "Iterations + 3, pagerankConverged <= rounds + 3") {
    GraphOps.qPagerank.fn(spark, sf01).collect() // memo builds
    val pr = jobsOf(GraphOps.qPagerank.fn(spark, sf01).collect())
    assert(pr <= GraphOps.Iterations + 2, s"q_pagerank ran $pr jobs")
    val ppr = jobsOf(GraphOps.qPprSeeds.fn(spark, sf01).collect())
    assert(ppr <= GraphOps.Iterations + 3, s"q_ppr_seeds ran $ppr jobs")
    // tolPico = -1 is never met, so exactly `rounds` rounds run
    val rounds = 5
    val pc = jobsOf(pagerankConverged(spark, sf01, tolPico = -1L,
      maxRounds = rounds).collect())
    assert(pc <= rounds + 3, s"pagerankConverged ran $pc jobs")
  }

  test("delta-frontier BFS: identical labels, frontier-sized joins on a " +
    "deep chain") {
    import spark.implicits._
    // 20-node path seeded at node 0: depth 19 — far past the fixed-round
    // queries' budget. The full-label loop joins label tables of size
    // 1,2,…,20 (sum 210); the delta loop must join each node exactly once
    val n = 20L
    val e = sym((0L until n - 1).map(i => (i, i + 1)))
    val seeds = Seq((0L, 0)).toDF("node", "hop")
    val (labels, frontierSizes) = bfsDeltaFrontier(e, seeds)
    val got = labels.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == (0L until n).map(i => i -> i.toInt).toMap)
    // shuffle-volume witness: every frontier is exactly one node, and the
    // total rows fed to the expansion join equal |V|, not D·|V|/2
    assert(frontierSizes.sum == n, frontierSizes.toString)
    assert(frontierSizes.max == 1L, frontierSizes.toString)
    // equivalence with the full-label recurrence run to the same depth
    var full: DataFrame = seeds.localCheckpoint(true)
    for (_ <- 0 until (n - 1).toInt) {
      full = full
        .unionByName(e.join(full, e("src") === full("node"))
          .select(e("dst").as("node"), (full("hop") + 1).as("hop")))
        .groupBy("node").agg(min("hop").as("hop"))
        .localCheckpoint(true)
    }
    val fullMap = full.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == fullMap)
  }

  /** Undirected (u, v), u < v edge frame for the triangle specs. */
  private def und(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("u", "v")
  }

  test("degree-ordered triangle counts match brute force on a " +
    "pseudo-random graph") {
    // deterministic edge set on 30 nodes; membership counts from a plain
    // O(n³) closure check must equal the oriented wedge-join counts
    val nodes = 0L until 30L
    val pairs = for {
      i <- nodes; j <- nodes if i < j
      if (i * 31 + j * 17) % 7 == 0
    } yield (i, j)
    val es = pairs.toSet
    val brute = collection.mutable.Map.empty[Long, Long]
    for {
      a <- nodes; b <- nodes if a < b; c <- nodes if b < c
      if es((a, b)) && es((b, c)) && es((a, c))
    } Seq(a, b, c).foreach(v => brute(v) = brute.getOrElse(v, 0L) + 1L)
    val got = GraphOps.trianglePartCounts(und(pairs), degCap = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute.toMap, s"got=$got brute=$brute")
  }

  test("triangle orientation counts each K4 triangle exactly once") {
    // K4: 4 triangles, every vertex on 3 of them; a double-counting bug
    // (wedge not rooted at the unique ord-minimum) would inflate these
    val k4 = for { i <- 0L until 4L; j <- (i + 1) until 4L } yield (i, j)
    val got = GraphOps.trianglePartCounts(und(k4 :+ (3L, 9L)), degCap = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangle orientation stays injective for vertex ids above 1e9") {
    // review fix: the old deg·10⁹+id packing collided once ids crossed
    // 10⁹ (large-SF partkeys), silently dropping wedges via the strict
    // ord inequality; the 2⁴⁰ shift must count this triangle on ids
    // around 1.5·10⁹ exactly once per vertex
    val base = 1500000000L
    val tri = Seq((base, base + 7L), (base + 7L, base + 13L),
      (base, base + 13L))
    val got = GraphOps.trianglePartCounts(und(tri), degCap = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(base -> 1L, (base + 7L) -> 1L, (base + 13L) -> 1L),
      got.toString)
  }

  test("triangle ord packing raises on vertex ids at/above 2^40 " +
    "instead of silently mis-orienting") {
    // ADVICE r5: beyond 2⁴⁰ the packed ord is no longer injective; the
    // raise_error guard inside the packing expression must fire rather
    // than drop/duplicate wedges
    val big = 1L << 40
    val tri = Seq((big, big + 7L), (big + 7L, big + 13L), (big, big + 13L))
    val ex = intercept[Exception] {
      GraphOps.trianglePartCounts(und(tri), degCap = 64).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("2^40")), ex.toString)
  }

  test("triangle degree cap excludes a synthetic hot vertex") {
    // star center with degree 70 > cap, riding on a single leaf triangle:
    // without the cap the center closes 70·69/2-wedge work and joins 3
    // triangles; with it only the leaf triangle {1,2,3} survives
    val star = (1L to 70L).map(leaf => (1000L, leaf))
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val got = GraphOps.trianglePartCounts(und(star ++ tri), degCap = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), got.toString)
  }
}
