package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.Q

/** Graph analytics over relationship tables — here PageRank on the
  * customer↔supplier interaction graph (an order links its customer to
  * each supplier that filled a line item).
  *
  * PageRank is the canonical "iterate joins to a fixed point" workload;
  * the engine's posture for it:
  *   - the per-iteration step is ONE equi-join (edges ⋈ ranks on the
  *     source key) + ONE aggregate (sum of contributions by destination)
  *     — both hash-partitioned on data-scaled keys;
  *   - the edge list (with out-degrees pre-attached) is loop-invariant
  *     and `localCheckpoint`ed once, so no round re-runs the upstream
  *     build (NOTES gotcha: lineage re-execution in iterative plans);
  *   - ranks are scaled INTEGERS (units of 10⁻¹² of total mass) with
  *     floor division everywhere, so three unrolled iterations are
  *     bit-identical to the DuckDB oracle — no cross-engine float drift;
  *   - the graph is symmetrized, so there are no dangling nodes and no
  *     rank-mass leak term.
  *
  * At 100 TB the same loop holds: each round shuffles the rank table
  * (nodes, not edges) and streams the edge side map-side; a damping sum
  * in integers is associative, so partial aggregation applies. Rounds
  * are driver-sequenced like the CC loops (`Dedup.components`).
  */
object GraphOps {

  /** Total rank mass in fixed-point units (10¹²). */
  val Mass = 1000000000000L

  /** Damping factor 0.85 as an exact rational (85/100). */
  val DampNum = 85L

  val Iterations = 3

  /** Symmetrized customer↔supplier edges: node ids are customers at
    * key·2, suppliers at key·2+1 (disjoint id spaces).
    *
    * Session-materialized via [[graft.plans.FrameMemo]] (VERDICT r8
    * next #2): every one of the ~12 graph queries shares this frame,
    * and the distinct orders⋈lineitem + union build was the one derived
    * index the r8 memo pattern did not reach — rebuilt per query it was
    * the single largest bench block. Returned frames are already
    * checkpointed; callers must not re-checkpoint. */
  private def symEdges(s: SparkSession, d: String): DataFrame =
    graft.plans.FrameMemo.memo(s, "symEdges", d) {
      val pairs = Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"),
          (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    }

  /** [[symEdges]] with out-degrees attached, session-materialized for
    * the PageRank-family loops. */
  private def edgesWithDeg(s: SparkSession, d: String): DataFrame =
    graft.plans.FrameMemo.memo(s, "edgesWithDeg", d) {
      val e = symEdges(s, d)
      val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
      e.join(deg, "src")
    }

  /** Distinct node count of the symmetrized graph — the statistic the
    * loop-join dispatch below reads, session-memoized as a 1-row frame
    * (every PageRank/BFS/k-core execution needs it; production keeps
    * graph cardinalities in catalog stats). Value-identical to the
    * `n` scalar the rank recurrences already divide by. The value read
    * off that frame is kept beside it, so only the first call per
    * session runs a job. */
  private def nodeCount(s: SparkSession, d: String): Long = {
    val f = graft.plans.FrameMemo.memo(s, "graphNodeCount", d)(
      symEdges(s, d).select("src").distinct()
        .agg(count(lit(1)).as("n")))
    Option(nodeCounts.synchronized(nodeCounts.get(f))).fold {
      val n = f.head().getLong(0)
      nodeCounts.synchronized(nodeCounts.put(f, n))
      n
    }(_.longValue)
  }

  /** [[nodeCount]]'s values, weakly keyed by their memo frame, so an
    * entry lives exactly as long as the frame it was read from. */
  private val nodeCounts =
    new java.util.WeakHashMap[DataFrame, java.lang.Long]()

  /** Node-row ceiling for the iterative loops' node-keyed side (ranks,
    * labels, frontiers, survivor sets). It has two uses:
    *   - [[nodeSide]]: under it the loops BROADCAST that side instead of
    *     letting the planner shuffle-join it against the edge table
    *     (guide §3.1 "broadcast the side that fits" + §2.4 "a broadcast
    *     join replaces a shuffle of the large side"). Each round joins
    *     the LOOP-INVARIANT edge memo (~1.1 M rows at sf0.1) to a
    *     node-sized frame (~16 K rows), and a checkpointed leaf carries
    *     no partitioning info, so the planner re-shuffled BOTH sides
    *     every round; broadcasting keeps the edge memo unshuffled.
    *   - [[inMass]]: under it the PageRank-recurrence loops
    *     ([[qPagerank]], [[qPprSeeds]], [[pagerankConverged]]) hold the
    *     whole rank table on the driver between rounds. A broadcast
    *     collects that table to the driver every round anyway, so
    *     keeping it there needs no memory the broadcast did not.
    * The dispatch is SCALE-ADAPTIVE, not a blanket hint: a node table at
    * 100 TB graph scale does not fit one JVM, so above the ceiling the
    * loops keep their DataFrame shuffle rounds. 2 M nodes are ≈ 32 MB
    * as [[Ranks]] arrays and ≈ 64 MB as a framed broadcast relation —
    * inside the guide's "a few hundred MB is usually fine",
    * parameterized for bigger drivers. */
  private def graphBroadcastNodes(s: SparkSession): Long =
    s.conf.get("spark.graft.graphBroadcastNodes", "2000000").toLong

  private def underCeiling(s: SparkSession, rows: Long): Boolean =
    rows <= graphBroadcastNodes(s)

  /** The node-keyed loop side under the [[graphBroadcastNodes]]
    * dispatch: `rows` is a driver-known upper bound on `df`'s rows
    * (node count, frontier count, or edge count — whichever scalar the
    * loop already holds). */
  private def nodeSide(s: SparkSession, df: DataFrame,
      rows: Long): DataFrame =
    if (underCeiling(s, rows)) broadcast(df) else df

  /** A rank table held on the driver in two primitive arrays: `ids`
    * ascending and `r(i)` the rank of `ids(i)` — 16 bytes a node, no
    * per-node objects. A node outside `ids` ranks `absent`: −1 (ranks
    * are non-negative) for "no row", or one shared value for the
    * uniform r⁰, which therefore needs no node list and no job. */
  private[graft] final case class Ranks(ids: Array[Long], r: Array[Long],
      absent: Long = -1L) {

    def of(node: Long): Long = {
      val i = java.util.Arrays.binarySearch(ids, node)
      if (i >= 0) r(i) else absent
    }

    def map(f: Long => Long): Ranks = Ranks(ids, r.map(f))

    /** max |r − prev.r| over the nodes both tables rank, 0 if none —
      * what the DataFrame rounds' delta join computes. */
    def maxDelta(prev: Ranks): Long =
      ids.indices.iterator.map(i => (r(i), prev.of(ids(i))))
        .collect { case (a, b) if b >= 0 => math.abs(a - b) }
        .foldLeft(0L)(math.max)

    /** This table as a one-slice (node, r) frame, so a downstream
      * select/orderBy/limit stays one task. The arrays reach the task
      * as a broadcast, never as per-row driver objects. */
    def toFrame(s: SparkSession): DataFrame = {
      import s.implicits._
      val b = s.sparkContext.broadcast(this)
      s.sparkContext.parallelize(Seq(0), 1)
        .flatMap { _ =>
          val t = b.value
          t.ids.indices.iterator.map(i => (t.ids(i), t.r(i)))
        }
        .toDF("node", "r")
    }
  }

  private[graft] object Ranks {
    def uniform(r: Long): Ranks =
      Ranks(Array.emptyLongArray, Array.emptyLongArray, r)

    /** The union of two tables' rows, ranks of shared nodes added. */
    def merge(a: Ranks, b: Ranks): Ranks = {
      val ids = new Array[Long](a.ids.length + b.ids.length)
      val r = new Array[Long](ids.length)
      var i = 0
      var j = 0
      var k = 0
      while (i < a.ids.length || j < b.ids.length) {
        if (j == b.ids.length ||
            (i < a.ids.length && a.ids(i) < b.ids(j))) {
          ids(k) = a.ids(i); r(k) = a.r(i); i += 1
        } else if (i == a.ids.length || b.ids(j) < a.ids(i)) {
          ids(k) = b.ids(j); r(k) = b.r(j); j += 1
        } else {
          ids(k) = a.ids(i); r(k) = a.r(i) + b.r(j); i += 1; j += 1
        }
        k += 1
      }
      Ranks(java.util.Arrays.copyOf(ids, k), java.util.Arrays.copyOf(r, k))
    }
  }

  /** Long sums keyed by node id, for one edge partition of [[inMass]]:
    * open addressing with linear probing over primitive arrays
    * (power-of-two capacity, doubled at half full), so the per-edge
    * loop boxes nothing. */
  private final class NodeSums {
    private var keys = new Array[Long](64)
    private var sums = new Array[Long](64)
    private var used = new Array[Boolean](64)
    private var size = 0

    private def slot(k: Long): Int = {
      val mask = keys.length - 1
      var i = java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }

    def add(k: Long, v: Long): Unit = {
      if (2 * size >= keys.length) {
        val (ks, vs, us) = (keys, sums, used)
        keys = new Array[Long](ks.length * 2)
        sums = new Array[Long](ks.length * 2)
        used = new Array[Boolean](ks.length * 2)
        for (i <- ks.indices if us(i)) {
          val j = slot(ks(i))
          keys(j) = ks(i); sums(j) = vs(i); used(j) = true
        }
      }
      val i = slot(k)
      if (!used(i)) { keys(i) = k; used(i) = true; size += 1 }
      sums(i) += v
    }

    def table: Ranks = {
      val ids = new Array[Long](size)
      var k = 0
      for (i <- keys.indices if used(i)) { ids(k) = keys(i); k += 1 }
      java.util.Arrays.sort(ids)
      Ranks(ids, ids.map(k => sums(slot(k))))
    }
  }

  /** One PageRank round's in-mass: Σ_{u→v} ⌊r(u)/deg(u)⌋ for every dst
    * v with at least one ranked src. Edges whose src has no rank add
    * nothing — the inner join of the DataFrame rounds, which
    * [[qPprSeeds]]' seed-only first round relies on.
    *
    * One job: the driver-held table goes out as a broadcast, one
    * `mapPartitions` pass over the [[edgesWithDeg]] memo keeps per-dst
    * partial sums, and `treeReduce` brings them back — no join
    * shuffle, no AQE stage, no checkpoint. The job is a single stage
    * while the memo has few partitions; over many, `treeReduce` adds a
    * combine level so the driver never receives one partial per
    * partition at the ceiling's 32 MB each. Callers apply their own
    * affine step on the driver. All values are non-negative longs, so
    * Scala's `/` is SQL's `div`, and with total mass 10¹² nothing
    * overflows. Only for tables under [[graphBroadcastNodes]]. */
  private[graft] def inMass(ec: DataFrame, ranks: Ranks): Ranks = {
    val b = ec.sparkSession.sparkContext.broadcast(ranks)
    try ec.select(col("src").cast("long"), col("dst").cast("long"),
        col("d").cast("long"))
      .queryExecution.toRdd
      .mapPartitions { edges =>
        val t = b.value
        val sums = new NodeSums
        edges.foreach { e =>
          val ru = t.of(e.getLong(0))
          if (ru >= 0) sums.add(e.getLong(1), ru / e.getLong(2))
        }
        Iterator.single(sums.table)
      }
      .treeReduce(Ranks.merge)
    finally b.destroy()
  }

  /** One DataFrame PageRank round, for rank frames above the
    * [[graphBroadcastNodes]] ceiling: base + ⌊85·Σ_{u→v}⌊r(u)/deg(u)⌋/100⌋
    * per dst v, by an edge⋈rank shuffle join and a map-side-combinable
    * sum. */
  private def rankRound(ec: DataFrame, r: DataFrame, base: Long)
      : DataFrame =
    ec.join(r, ec("src") === r("node"))
      .groupBy(ec("dst").as("node2"))
      .agg(sum(expr("r div d")).as("s"))
      .select(col("node2").as("node"),
        expr(s"CAST(${base}L + ($DampNum * s) div 100 AS BIGINT)").as("r"))

  /** The top 20 of a (node, r) rank frame as (kind, key, `as`). */
  private def topRanks(r: DataFrame, as: String): DataFrame =
    r.select(
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"),
        expr("CAST(node div 2 AS BIGINT)").as("key"),
        col("r").as(as))
      .orderBy(desc(as), asc("kind"), asc("key"))
      .limit(20)

  /** Fixed-point PageRank, [[Iterations]] rounds, top-20 nodes.
    * r⁰(v) = ⌊Mass/N⌋; rᵏ⁺¹(v) = ⌊15·Mass/(100·N)⌋ +
    * ⌊85·Σ_{u→v}⌊rᵏ(u)/deg(u)⌋/100⌋ — every division is a floor over
    * integers, replicated exactly by the oracle's unrolled CTEs.
    *
    * Under [[graphBroadcastNodes]] the rank table stays on the driver:
    * the uniform r⁰ costs no job, and each round is one [[inMass]] job
    * plus the affine step. Above it each round is a [[rankRound]]
    * shuffle join, checkpointed EAGERLY (measured faster than lazy for
    * this single-reference chain; the history is in NOTES.md). */
  val qPagerank: Q = Q("q_pagerank", {
    val step = (k: Int) =>
      s"""r${k + 1} AS (
         |  SELECT e.dst AS node,
         |    (15 * $Mass) // (100 * n.n)
         |      + ($DampNum * SUM(r$k.r // deg.d)) // 100 AS r
         |  FROM e JOIN r$k ON r$k.node = e.src
         |         JOIN deg ON deg.src = e.src
         |         CROSS JOIN n
         |  GROUP BY e.dst, n.n)"""
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b, a FROM ed),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e
       |        GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT src AS node, $Mass // n.n AS r
       |       FROM deg CROSS JOIN n),
       |${(0 until Iterations).map(step).mkString(",\n")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS kind,
       |       CAST(node // 2 AS BIGINT) AS key,
       |       CAST(r AS BIGINT) AS rank_pico
       |FROM r$Iterations
       |ORDER BY rank_pico DESC, kind, key LIMIT 20""".stripMargin
  }) { (s, d) =>
    val ec = edgesWithDeg(s, d)
    // n as a driver scalar (the memoized node count) instead of a
    // 1-row crossJoin: same integer, and it feeds the ceiling dispatch
    val n = nodeCount(s, d)
    val base = (15L * Mass) / (100L * n)
    val ranks = if (underCeiling(s, n)) {
      var t = Ranks.uniform(Mass / n)
      for (_ <- 0 until Iterations)
        t = inMass(ec, t).map(base + DampNum * _ / 100)
      t.toFrame(s)
    } else {
      var r: DataFrame = ec.select(col("src").as("node")).distinct()
        .select(col("node"), lit(Mass / n).as("r"))
        .localCheckpoint(true)
      for (_ <- 0 until Iterations)
        r = rankRound(ec, r, base).localCheckpoint(true)
      r
    }
    topRanks(ranks, "rank_pico")
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, the deterministic synchronous variant): labels start as node
    * ids; each round every node adopts its neighbors' MAJORITY label
    * (count DESC, then smaller label — fully deterministic, unlike the
    * classical random-order asynchronous sweep). [[Iterations]] rounds
    * over the customer↔supplier graph; output is the top-20 communities
    * by size.
    *
    * Per round: one edge⋈label equi-join, one (node, label) vote count
    * (map-side combined), and a k=1 [[graft.plans.TopKPerKey]] heap for
    * the per-node argmax — no window over a node's full vote list, no
    * driver state; rounds are driver-sequenced over checkpoints like
    * the PageRank loop. The oracle unrolls the rounds as CTEs with the
    * same tie-break. */
  val qLpaCommunities: Q = Q("q_lpa_communities", {
    val step = (k: Int) =>
      s"""v${k + 1} AS (SELECT e.dst AS node, l$k.lbl, COUNT(*) AS c
         |  FROM e JOIN l$k ON l$k.node = e.src GROUP BY 1, 2),
         |l${k + 1} AS (SELECT node, lbl FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY node
         |    ORDER BY c DESC, lbl) AS rn FROM v${k + 1}) WHERE rn = 1)"""
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b, a FROM ed),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |${(0 until Iterations).map(step).mkString(",\n")}
       |SELECT CAST(lbl AS BIGINT) AS community,
       |       COUNT(*)::BIGINT AS n_members
       |FROM l$Iterations GROUP BY 1
       |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }) { (s, d) =>
    val (_, lbl) = lpaLabels(s, d)
    lbl.groupBy(col("lbl").cast("long").as("community"))
      .agg(count(lit(1)).cast("long").as("n_members"))
      .orderBy(desc("n_members"), asc("community"))
      .limit(20)
  }

  /** The [[qLpaCommunities]] loop, shared with [[qLpaModularity]]:
    * (checkpointed symmetric edges, node→label frame after
    * [[Iterations]] synchronous majority rounds). */
  private def lpaLabels(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = symEdges(s, d)
    // the converged labeling is session-memoized (r9): community
    // assignments are a persisted artifact — the communities report and
    // the modularity report consume the IDENTICAL labeling, and
    // production computes it once, not once per report
    val labels = graft.plans.FrameMemo.memo(s, "lpaLabels", d) {
      var lbl = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
        .localCheckpoint(true)
      val n = nodeCount(s, d)
      for (_ <- 0 until Iterations) {
        val votes = e.join(nodeSide(s, lbl, n), e("src") === lbl("node"))
          .groupBy(e("dst").as("node2"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        lbl = graft.plans.TopKPerKey.topKPerKey(votes, Seq("node2"),
            Seq("c" -> false, "lbl" -> true), 1, mapSideCombine = true)
          .select(col("node2").as("node"), col("lbl"))
          .localCheckpoint(true)
      }
      lbl
    }
    (e, labels)
  }

  /** Personalized PageRank (the "related to THESE" variant every
    * recommender reaches for): identical fixed-point arithmetic to
    * [[qPagerank]], but rank mass teleports to a SEED SET (customers
    * 1–5) instead of uniformly — rᵏ⁺¹ = teleport·[v∈S] + damped
    * in-mass. The teleport term rides a UNION with the propagated
    * frame before the per-node sum, so seeds with no incoming mass
    * stay alive (a CASE on the aggregate would drop them) and both
    * engines share one spelling. Integer floors end to end
    * ([[Mass]]-scaled), oracle-exact. Under [[graphBroadcastNodes]]
    * the seed set is collected once and each round is one [[inMass]]
    * job, the teleport union a [[Ranks.merge]] on the driver; above it
    * each round is an edge⋈rank shuffle join + a map-side-combinable
    * sum. */
  val qPprSeeds: Q = Q("q_ppr_seeds", {
    val step = (k: Int) =>
      s"""p${k + 1} AS (
         |  SELECT e.dst AS node, ($DampNum * SUM(r$k.r // deg.d)) // 100
         |           AS r
         |  FROM e JOIN r$k ON r$k.node = e.src
         |         JOIN deg ON deg.src = e.src
         |  GROUP BY e.dst),
         |r${k + 1} AS (
         |  SELECT node, CAST(SUM(r) AS BIGINT) AS r FROM (
         |    SELECT s.node, (15 * $Mass) // (100 * ns.n) AS r
         |    FROM seeds s CROSS JOIN ns
         |    UNION ALL SELECT node, r FROM p${k + 1})
         |  GROUP BY node)"""
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b, a FROM ed),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e
       |        GROUP BY 1),
       |seeds AS (SELECT DISTINCT src AS node FROM e
       |          WHERE src % 2 = 0 AND src // 2 <= 5),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds),
       |r0 AS (SELECT node, $Mass // ns.n AS r
       |       FROM seeds CROSS JOIN ns),
       |${(0 until Iterations).map(step).mkString(",\n")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS kind,
       |       CAST(node // 2 AS BIGINT) AS key,
       |       CAST(r AS BIGINT) AS ppr_pico
       |FROM r$Iterations
       |ORDER BY ppr_pico DESC, kind, key LIMIT 20""".stripMargin
  }) { (s, d) =>
    val ec = edgesWithDeg(s, d)
    val n = nodeCount(s, d)
    val isSeed = pmod(col("node"), lit(2)) === 0 && expr("node div 2") <= 5
    val ranks = if (underCeiling(s, n)) {
      // the seed set, collected once from the seeds' edge rows and
      // deduplicated on the driver (a Spark distinct would add a
      // shuffle stage and a job)
      val seeds = ec.select(col("src").as("node")).filter(isSeed)
        .collect().map(_.getLong(0)).distinct.sorted
      val (r0, tele) = (Mass / seeds.length,
        (15L * Mass) / (100L * seeds.length))
      val teleport = Ranks(seeds, seeds.map(_ => tele))
      var t = Ranks(seeds, seeds.map(_ => r0))
      for (_ <- 0 until Iterations)
        t = Ranks.merge(teleport, inMass(ec, t).map(DampNum * _ / 100))
      t.toFrame(s)
    } else {
      val seeds = ec.select(col("src").as("node")).distinct()
        .filter(isSeed)
        .localCheckpoint(true)
      // seed count as a driver scalar — drops the per-round nsRow
      // crossJoin; the teleport frame is loop-INVARIANT, so it is built
      // and checkpointed once instead of re-derived every round
      val ns = seeds.count()
      var r: DataFrame = seeds
        .select(col("node"), lit(Mass / ns).as("r"))
        .localCheckpoint(true)
      val tele = seeds
        .select(col("node"), lit((15L * Mass) / (100L * ns)).as("r"))
        .localCheckpoint(true)
      for (_ <- 0 until Iterations) {
        r = tele.unionAll(rankRound(ec, r, 0L))
          .groupBy("node")
          .agg(sum("r").cast("long").as("r"))
          .localCheckpoint(true)
      }
      r
    }
    topRanks(ranks, "ppr_pico")
  }

  /** Partition-quality report for the [[qLpaCommunities]] communities:
    * per community its member count, INTERNAL edge count and degree
    * mass, plus the graph's total edge count — the exact integer
    * ingredients of Newman modularity Q = Σ_c (e_c/m − (d_c/2m)²),
    * emitted as numerators so the gate stays bit-exact (the one
    * floating division is the reader's). Internal edges fall out of the
    * symmetric edge list joined to the label frame on BOTH endpoints
    * (each undirected internal edge appears exactly twice — the /2 is
    * exact); degree mass is a labels⋈degrees aggregate. All joins are
    * equi-joins on node ids; community-bounded output rides the top-20
    * heap. */
  val qLpaModularity: Q = Q("q_lpa_modularity", {
    val step = (k: Int) =>
      s"""v${k + 1} AS (SELECT e.dst AS node, l$k.lbl, COUNT(*) AS c
         |  FROM e JOIN l$k ON l$k.node = e.src GROUP BY 1, 2),
         |l${k + 1} AS (SELECT node, lbl FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY node
         |    ORDER BY c DESC, lbl) AS rn FROM v${k + 1}) WHERE rn = 1)"""
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b, a FROM ed),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |${(0 until Iterations).map(step).mkString(",\n")},
       |deg AS (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY 1),
       |inter AS (SELECT la.lbl AS community,
       |            CAST(COUNT(*) // 2 AS BIGINT) AS internal_edges
       |          FROM e
       |          JOIN l$Iterations la ON la.node = e.src
       |          JOIN l$Iterations lb ON lb.node = e.dst
       |          WHERE la.lbl = lb.lbl GROUP BY 1),
       |degs AS (SELECT c.lbl AS community,
       |           COUNT(*)::BIGINT AS n_members,
       |           CAST(SUM(d.d) AS BIGINT) AS degree_sum
       |         FROM l$Iterations c JOIN deg d ON d.src = c.node
       |         GROUP BY 1),
       |m AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS m_edges FROM e)
       |SELECT CAST(dg.community AS BIGINT) AS community, dg.n_members,
       |       CAST(COALESCE(i.internal_edges, 0) AS BIGINT)
       |         AS internal_edges,
       |       dg.degree_sum, m.m_edges
       |FROM degs dg
       |LEFT JOIN inter i ON i.community = dg.community
       |CROSS JOIN m
       |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }) { (s, d) =>
    val (e, lbl) = lpaLabels(s, d)
    // NO nodeSide dispatch here (r15, measured): forcing two broadcast
    // builds of the label frame regressed this query 0.35 → 1.15 s in
    // the same-suite A/B — its single-shot join pair is one AQE already
    // plans well; the dispatch stays on the ITERATIVE loops where the
    // per-round edge re-shuffle is the measured cost.
    val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("d"))
    val la = lbl.select(col("node").as("src"), col("lbl").as("la"))
    val lb = lbl.select(col("node").as("dst"), col("lbl").as("lb"))
    val inter = e.join(la, "src").join(lb, "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(expr("CAST(COUNT(1) div 2 AS BIGINT)").as("internal_edges"))
    val degs = lbl.join(deg, lbl("node") === deg("src"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).cast("long").as("n_members"),
        sum("d").cast("long").as("degree_sum"))
    val m = broadcast(
      e.agg(expr("CAST(COUNT(1) div 2 AS BIGINT)").as("m_edges")))
    degs.join(inter, Seq("community"), "left")
      .crossJoin(m)
      .select(col("community").cast("long").as("community"),
        col("n_members"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"), col("m_edges"))
      .orderBy(desc("n_members"), asc("community"))
      .limit(20)
  }

  /** Butterfly (2×2 biclique) counting on the bipartite part–supplier
    * graph — the bipartite analogue of triangle counting (bipartite
    * graphs have no triangles, so 4-cycles are the clustering motif;
    * Sanei-Mehri et al., "Butterfly Counting in Bipartite Networks",
    * KDD 2018). Edges are the high-quantity supply backbone
    * (l_quantity > 45, distinct pairs); the output is the top-20
    * supplier pairs by butterflies = C(shared_parts, 2).
    *
    * Scale posture: butterflies are counted by WEDGES — join the edge
    * list to itself on the part key and aggregate by supplier pair. The
    * wedge count per part is C(deg, 2), quadratic in a hot part's
    * degree, so parts above a degree cap (64) are EXCLUDED up front —
    * the hot-vertex guard every scale treatment of butterfly counting
    * uses (same role as the shingle df-cap in
    * [[graft.dedup.Dedup]]): with the cap, wedge volume is ≤ 2016 ×
    * #parts — linear. The self-join reuses one exchange via shuffle-hash
    * hints on the SAME plan object (NOTES gotcha: broadcast would
    * compute the subtree twice); the top-20 is a TakeOrderedAndProject
    * heap, never a global sort. */
  val qButterflyCount: Q = Q("q_butterfly_count",
    """WITH e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      |           FROM lineitem WHERE l_quantity > 45),
      |deg AS (SELECT p, COUNT(*)::BIGINT AS d FROM e GROUP BY 1),
      |ec AS (SELECT e.p, e.s FROM e JOIN deg ON deg.p = e.p
      |       WHERE deg.d <= 64),
      |w AS (SELECT a.s AS s1, b.s AS s2, COUNT(*)::BIGINT AS shared_parts
      |      FROM ec a JOIN ec b ON a.p = b.p AND a.s < b.s
      |      GROUP BY 1, 2)
      |SELECT s1, s2, shared_parts,
      |       CAST(shared_parts * (shared_parts - 1) // 2 AS BIGINT)
      |         AS butterflies
      |FROM w
      |ORDER BY butterflies DESC, s1, s2 LIMIT 20""".stripMargin) { (s, d) =>
    butterflyPairs(
      Tables.load(s, d, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
        .distinct(),
      degCap = 64)
      .orderBy(desc("butterflies"), asc("s1"), asc("s2"))
      .limit(20)
  }

  /** Wedge-join butterfly aggregation behind [[qButterflyCount]], on any
    * distinct (p, sup) edge frame: supplier pairs with shared-part counts
    * and their butterfly contribution, parts above `degCap` excluded.
    * Factored out so GraphOpsSpec can prove the hot-vertex guard on a
    * synthetic star. */
  private[graft] def butterflyPairs(
      e: DataFrame, degCap: Int): DataFrame = {
    val deg = e.groupBy("p").agg(count(lit(1)).as("deg"))
    val ec = e.join(deg.filter(col("deg") <= degCap).select("p"), Seq("p"))
    ec.as("a").hint("shuffle_hash")
      .join(ec.as("b").hint("shuffle_hash"),
        col("a.p") === col("b.p") && col("a.sup") < col("b.sup"))
      .groupBy(col("a.sup").as("s1"), col("b.sup").as("s2"))
      .agg(count(lit(1)).cast("long").as("shared_parts"))
      .select(col("s1"), col("s2"), col("shared_parts"),
        expr("CAST(shared_parts * (shared_parts - 1) div 2 AS BIGINT)")
          .as("butterflies"))
  }

  /** Hot-vertex guard for [[qTriangles]] (same role as the butterfly
    * cap): vertices above this co-purchase degree are excluded before
    * wedge generation, bounding per-vertex wedge volume at cap². */
  val TriDegCap = 64

  /** Triangle counting on the co-purchase graph (parts appearing in the
    * same high-quantity order, the [[qButterflyCount]] projection onto
    * one node class): top-10 parts by triangle membership — the local
    * clustering signal recommendation and community pipelines start
    * from.
    *
    * The algorithm is the standard degree-ordered orientation: each
    * undirected edge points from its (degree, id)-smaller endpoint to
    * the larger (encoded as ONE integer ord = deg·2⁴⁰ + id, so the
    * comparison is portable to any engine without row-value syntax;
    * injective while ids < 2⁴⁰ ≈ 1.1·10¹² — two hundred TPC-H sf-10⁵
    * part domains — and deg ≤ the cap keeps ord < 2⁴⁷; a runtime
    * raise_error guard inside the packing expression rejects larger
    * hashed/synthetic ids instead of silently mis-orienting edges).
    * Every triangle then has exactly ONE wedge rooted at its ord-minimum
    * vertex, counted by a wedge equi-join on the root + a semi-join
    * closure check on the (y, z) edge — never an all-pairs product, and
    * per-vertex wedge volume is (out-degree ≤ cap)², the [[TriDegCap]]
    * guard. Membership counts come from exploding each triangle's three
    * vertices into a vertex-domain-bounded aggregate with map-side
    * partials, then a heap top-10 (TakeOrderedAndProject). At 100 TB the
    * shape holds: wedge volume is linear in edges under the cap, both
    * joins are hash joins on integer keys, and no operator state exceeds
    * the capped wedge set. */
  val qTriangles: Q = Q("q_triangles",
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |           FROM lineitem WHERE l_quantity > 40),
       |pp AS (SELECT DISTINCT a.pk AS u, b.pk AS v
       |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |deg AS (SELECT k, COUNT(*)::BIGINT AS dg FROM (
       |          SELECT u AS k FROM pp UNION ALL SELECT v AS k FROM pp)
       |        GROUP BY 1),
       |ec AS (SELECT u, v, du.dg * 1099511627776 + u AS ou,
       |              dv.dg * 1099511627776 + v AS ov
       |       FROM pp JOIN deg du ON du.k = pp.u
       |       JOIN deg dv ON dv.k = pp.v
       |       WHERE du.dg <= $TriDegCap AND dv.dg <= $TriDegCap),
       |dir AS (SELECT CASE WHEN ou < ov THEN u ELSE v END AS s,
       |               CASE WHEN ou < ov THEN v ELSE u END AS t,
       |               greatest(ou, ov) AS ot FROM ec),
       |tri AS (SELECT a.s AS x, a.t AS y, b.t AS z
       |        FROM dir a JOIN dir b ON b.s = a.s AND a.ot < b.ot
       |        WHERE EXISTS (SELECT 1 FROM dir c
       |                      WHERE c.s = a.t AND c.t = b.t)),
       |ex AS (SELECT unnest([x, y, z]) AS p FROM tri)
       |SELECT CAST(p AS BIGINT) AS p, COUNT(*)::BIGINT AS n_tri
       |FROM ex GROUP BY 1
       |ORDER BY n_tri DESC, p LIMIT 10""".stripMargin) { (s, d) =>
    val li = Tables.load(s, d, "lineitem")
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pp = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    trianglePartCounts(pp, TriDegCap)
      .orderBy(desc("n_tri"), asc("p")).limit(10)
  }

  /** Degree-ordered triangle membership counts behind [[qTriangles]],
    * on any distinct (u, v), u < v edge frame. Factored out so
    * GraphOpsSpec can prove the orientation counts each triangle once
    * and the cap excludes a synthetic hot vertex. */
  private[graft] def trianglePartCounts(
      pp: DataFrame, degCap: Int): DataFrame = {
    // ord = deg·2⁴⁰ + id is injective only for ids < 2⁴⁰ (ADVICE r5):
    // beyond that the packed comparison silently mis-orients edges. The
    // guard lives INSIDE the packing expression (a separate assert
    // column would be pruned away); same value on every legal id, a
    // per-row raise_error on the first illegal one.
    def packOrd(dg: Column, id: Column): Column =
      when(id >= lit(1L << 40), raise_error(concat(
        lit("triangle ord packing requires vertex ids < 2^40; got "),
        id.cast("string"))).cast("long"))
        .otherwise(dg * (1L << 40) + id)
    val deg = pp.select(col("u").as("k"))
      .unionByName(pp.select(col("v").as("k")))
      .groupBy("k").agg(count(lit(1)).as("dg"))
    val ec = pp
      .join(deg.as("du"), col("u") === col("du.k"))
      .join(deg.as("dv"), col("v") === col("dv.k"))
      .filter(col("du.dg") <= degCap && col("dv.dg") <= degCap)
      .select(col("u"), col("v"),
        packOrd(col("du.dg"), col("u")).as("ou"),
        packOrd(col("dv.dg"), col("v")).as("ov"))
    val dir = ec.select(
      when(col("ou") < col("ov"), col("u")).otherwise(col("v")).as("s"),
      when(col("ou") < col("ov"), col("v")).otherwise(col("u")).as("t"),
      greatest(col("ou"), col("ov")).as("ot"))
    val wedge = dir.as("a").hint("shuffle_hash")
      .join(dir.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.ot") < col("b.ot"))
      .select(col("a.s").as("x"), col("a.t").as("y"), col("b.t").as("z"))
    wedge
      .join(dir.select(col("s").as("y"), col("t").as("z")),
        Seq("y", "z"), "left_semi")
      .select(explode(array(col("x"), col("y"), col("z"))).as("p"))
      .groupBy(col("p").cast("long").as("p"))
      .agg(count(lit(1)).cast("long").as("n_tri"))
  }

  val BfsRounds = 3

  /** Multi-source BFS (min-hop labels): distance from the nation-0
    * customer cohort through the customer↔supplier graph, [[BfsRounds]]
    * expansion rounds, reported as a hop histogram (≤ rounds+1 rows —
    * bounded output whatever the graph size).
    *
    * Per round: ONE equi-join (frontier ⋈ edges on the source key) +
    * ONE min-aggregate by node, with each round's label table
    * `localCheckpoint`ed so lineage never replays earlier rounds (NOTES
    * gotcha). Joining the full label table (not a delta frontier) keeps
    * every round identical to the oracle's unrolled CTEs; the delta-
    * frontier refinement halves traffic on deep graphs but changes no
    * values. Hop counts are integers end to end.
    *
    * The checkpoints are LAZY (r11, VERDICT r10 next #5): unlike the
    * convergence-gated loops, a fixed-round expansion makes no driver
    * decision between rounds, so there is nothing to synchronize on —
    * an EAGER checkpoint per round inserted 3 driver-blocking
    * materialization barriers whose job-launch latency amplified any
    * concurrent machine load into a multiple (the r10 driver run
    * measured 6.4× on this query while the code was untouched). With
    * `localCheckpoint(false)` each round's labels still materialize to
    * block storage EXACTLY ONCE — both round-k+1 consumers (the union
    * branch and the join probe) read the same cached blocks, which is
    * the property the checkpoint exists for (a plain unmaterialized
    * plan duplicates the subtree per consumer: measured, 0 reused
    * exchanges) — but the materialization happens inside the ONE final
    * job instead of through 3 sequenced barrier jobs (measured ~13 %
    * faster on an idle machine, and strictly fewer scheduling points
    * for a loaded one to stall). */
  val qBfsHops: Q = Q("q_bfs_hops", {
    val step = (k: Int) =>
      s"""d${k + 1} AS (SELECT node, MIN(hop) AS hop FROM (
         |  SELECT node, hop FROM d$k
         |  UNION ALL
         |  SELECT e.dst AS node, d$k.hop + 1 AS hop
         |  FROM e JOIN d$k ON d$k.node = e.src) GROUP BY 1)"""
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b, a FROM ed),
       |d0 AS (SELECT c_custkey * 2 AS node, 0 AS hop FROM customer
       |       WHERE c_nationkey = 0),
       |${(0 until BfsRounds).map(step).mkString(",\n")}
       |SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_nodes
       |FROM d$BfsRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }) { (s, d) =>
    val e = symEdges(s, d)
    var labels: DataFrame = Tables.load(s, d, "customer")
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"), lit(0).as("hop"))
      .localCheckpoint(false)
    // labels ≤ graph nodes + seeds (seeds may include orderless
    // customers outside the graph) — the nodeSide dispatch bound
    val bound = nodeCount(s, d) + labels.count()
    for (_ <- 0 until BfsRounds) {
      labels = labels
        .unionByName(e.join(nodeSide(s, labels, bound),
            e("src") === labels("node"))
          .select(e("dst").as("node"), (labels("hop") + 1).as("hop")))
        .groupBy("node").agg(min("hop").as("hop"))
        .localCheckpoint(false)
    }
    labels.groupBy(col("hop").cast("long").as("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("hop")
  }

  val CoreK = 8
  val PeelRounds = 3

  /** k-core peeling ([[PeelRounds]] rounds, k = [[CoreK]]): repeatedly
    * drop nodes of degree < k and restrict the edge list to survivors —
    * the standard dense-subgraph / spam-backbone extraction. Output is
    * the per-kind census of survivors with their degree range after the
    * last peel (2 rows — bounded regardless of graph size).
    *
    * Per round: one degree aggregate + two semi-joins (src and dst
    * survivorship) — all hash-partitioned on node keys; rounds are
    * driver-sequenced and each round's edge list is checkpointed (the
    * iterative-plan posture shared with CC/PageRank/BFS). A fixed round
    * budget keeps the operator oracle-exact (unrolled CTEs); full
    * convergence is the same loop with a count-gated exit, as
    * `Dedup.components` does. */
  val qKcore: Q = Q("q_kcore", {
    val round = (i: Int) =>
      s"""d${i + 1} AS (SELECT src, COUNT(*) AS dg FROM e$i GROUP BY 1),
         |k${i + 1} AS (SELECT src AS node, dg FROM d${i + 1}
         |        WHERE dg >= $CoreK),
         |e${i + 1} AS (SELECT e.src, e.dst FROM e$i e
         |        JOIN k${i + 1} a ON a.node = e.src
         |        JOIN k${i + 1} b ON b.node = e.dst)"""
    s"""WITH ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e0 AS (SELECT a AS src, b AS dst FROM ed
       |       UNION ALL SELECT b, a FROM ed),
       |${(0 until PeelRounds).map(round).mkString(",\n")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS kind,
       |       COUNT(*) AS n_nodes,
       |       CAST(MIN(dg) AS BIGINT) AS min_deg,
       |       CAST(MAX(dg) AS BIGINT) AS max_deg
       |FROM k$PeelRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }) { (s, d) =>
    var e = symEdges(s, d)
    var keep: DataFrame = null
    // fixed-round peel -> LAZY checkpoints (r11, the qBfsHops hardening
    // measured onto this loop): keep and e are each referenced twice
    // per round, and the lazy checkpoint still materializes each
    // exactly once on first touch inside the final job (the qBfsHops
    // both-consumers-share-blocks property) without the 2 x PeelRounds
    // driver-blocking barrier jobs. Measured ~12 % faster in both
    // re-runs (min 1.78 -> 1.44/1.63 s at sf0.1); the single-reference
    // pagerank/ppr DataFrame rounds measured the OPPOSITE and stay
    // eager (NOTES.md, "PageRank rank table on the driver").
    val n = nodeCount(s, d) // survivor sets are node-bounded
    for (_ <- 0 until PeelRounds) {
      keep = e.groupBy("src").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= CoreK)
        .select(col("src").as("node"), col("dg"))
        .localCheckpoint(false)
      e = e
        .join(nodeSide(s, keep.select(col("node").as("src")), n),
          Seq("src"), "left_semi")
        .join(nodeSide(s, keep.select(col("node").as("dst")), n),
          Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(false)
    }
    keep.groupBy(
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"))
      .agg(count(lit(1)).as("n_nodes"),
        min("dg").cast("long").as("min_deg"),
        max("dg").cast("long").as("max_deg"))
      .orderBy("kind")
  }

  /** Run-to-convergence k-core (VERDICT r4 #3): the [[qKcore]] peel loop
    * with a COUNT-GATED exit instead of a fixed round budget — the
    * `Dedup.components` loop shape. Peels until an entire round removes
    * no edge (the surviving subgraph is then exactly the k-core: every
    * remaining node has degree ≥ k within it), or `maxRounds` fires as a
    * runaway guard.
    *
    * `edges` must be a symmetric (src, dst) frame, as from the
    * customer↔supplier builder. Per round the driver pulls ONE long
    * (the surviving edge count — already needed as the convergence
    * scalar) and every frame is `localCheckpoint`ed, so lineage stays
    * flat however many rounds the graph needs; edge-count equality is a
    * sound exit because degrees are a function of the edge multiset.
    * Returns surviving (node, dg) with the degree from the LAST peel,
    * i.e. the node's degree within the core. `nodes`, when the caller
    * knows the graph's node count, bounds the survivor sets for the
    * [[nodeSide]] dispatch; without it the edge count bounds them. */
  private[graft] def kcoreConverged(edges: DataFrame, k: Int,
      maxRounds: Int = 1000, nodes: Long = Long.MaxValue): DataFrame = {
    // LAZY checkpoints, ONE action per round (r14, the bfsDeltaFrontier
    // one-job-per-round hardening applied here): the round's single
    // `e2.count()` materializes keep's blocks (both semi-join consumers
    // share them) and e2's truncated lineage in the SAME job, replacing
    // the former 3 driver-blocking jobs per round (eager keep, eager e2,
    // then count). The input edge frame is usually the already-
    // checkpointed symEdges memo; a lazy checkpoint materializes a
    // synthetic spec input once on first touch instead of copying an
    // already-checkpointed one eagerly.
    var e = edges.localCheckpoint(false)
    var n = e.count()
    var keep: DataFrame = e.sparkSession.emptyDataFrame
    var converged = n == 0L
    var rounds = 0
    val s = edges.sparkSession
    while (!converged && rounds < maxRounds) {
      keep = e.groupBy("src").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k)
        .select(col("src").as("node"), col("dg"))
        .localCheckpoint(false)
      // survivors ≤ distinct src ≤ min(nodes, n), n being this round's
      // edge count, already collected as the convergence scalar
      val bound = math.min(nodes, n)
      val e2 = e
        .join(nodeSide(s, keep.select(col("node").as("src")), bound),
          Seq("src"), "left_semi")
        .join(nodeSide(s, keep.select(col("node").as("dst")), bound),
          Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(false)
      val n2 = e2.count()
      converged = n2 == n
      e = e2
      n = n2
      rounds += 1
    }
    keep
  }

  /** Run-to-convergence PageRank (VERDICT r4 #3): the [[qPagerank]]
    * recurrence iterated until the largest per-node rank change is
    * ≤ `tolPico` fixed-point units (or `maxRounds` ≥ 1 fires). The
    * convergence scalar is max |Δrank| over consecutive rank tables on
    * the node key — mirroring the `Dedup.components` exit; integer ranks
    * make the test exact (tolPico = 0 demands a literal fixed point).
    * The symmetrized graph has no dangling nodes, so consecutive rank
    * tables share the same node set and the comparison is lossless.
    * Under [[graphBroadcastNodes]] the tables stay on the driver, so a
    * round is one [[inMass]] job and Δ costs none; above it each round
    * is a checkpointed [[rankRound]] plus a delta-join job. */
  private[graft] def pagerankConverged(s: SparkSession, d: String,
      tolPico: Long = 1000L, maxRounds: Int = 100): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val ec = edgesWithDeg(s, d)
    val n = nodeCount(s, d)
    val base = (15L * Mass) / (100L * n)
    var converged = false
    var rounds = 0
    if (underCeiling(s, n)) {
      var t = Ranks.uniform(Mass / n)
      while (!converged && rounds < maxRounds) {
        val t2 = inMass(ec, t).map(base + DampNum * _ / 100)
        converged = t2.maxDelta(t) <= tolPico
        t = t2
        rounds += 1
      }
      t.toFrame(s)
    } else {
      var r: DataFrame = ec.select(col("src").as("node")).distinct()
        .select(col("node"), lit(Mass / n).as("r"))
        .localCheckpoint(true)
      while (!converged && rounds < maxRounds) {
        val r2 = rankRound(ec, r, base).localCheckpoint(true)
        val delta = r2.select(col("node"), col("r").as("r2"))
          .join(r, "node")
          .agg(coalesce(max(abs(col("r2") - col("r"))), lit(0L)))
          .first().getLong(0)
        converged = delta <= tolPico
        r = r2
        rounds += 1
      }
      r
    }
  }

  /** Delta-frontier BFS (VERDICT r4 #6): the [[qBfsHops]] expansion
    * joining only the nodes LABELED LAST ROUND instead of the whole
    * label table. Sound because BFS hops are monotone: the first round
    * that reaches a node assigns its minimal hop, so already-labeled
    * nodes can never improve and re-joining them is pure waste — on a
    * depth-D graph the full-table loop shuffles Σ|labels_i| ≈ D·|V|
    * rows while the frontier loop shuffles each node exactly once.
    * Terminates when a round labels nothing new (frontier count — the
    * one driver scalar per round — hits zero), so depth needs no
    * a-priori bound. Returns (labels with final min hops, per-round
    * frontier sizes — the shuffle-volume witness GraphOpsSpec asserts
    * against the full-table loop's label sizes). */
  private[graft] def bfsDeltaFrontier(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 10000): (DataFrame, Seq[Long]) = {
    val s = edges.sparkSession
    val e = edges.localCheckpoint(true)
    var labels = seeds.select(col("node"), col("hop")).localCheckpoint(true)
    var frontier = labels
    var fn = frontier.count()
    var labelRows = fn // running Σ frontier sizes = labels row count
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var rounds = 0
    while (fn > 0 && rounds < maxRounds) {
      sizes += fn
      // ONE Spark action per round (VERDICT r6 #4 — this loop used to
      // run three: eager next-checkpoint, eager labels-checkpoint, then
      // count). The checkpoints are LAZY: the single `next.count()` both
      // computes the round and materializes next's truncated lineage in
      // the same job, and the lazy labels checkpoint materializes inside
      // the NEXT round's anti-join (whose leaves are all
      // already-checkpointed blocks, so nothing recomputes). Per-job
      // fixed overhead stops multiplying under a contended scheduler;
      // the shuffle volume is unchanged.
      // frontier rows = fn, labels rows = labelRows — both collected
      // already, so the nodeSide dispatch costs no extra action
      val next = e.join(nodeSide(s, frontier, fn),
          e("src") === frontier("node"))
        .select(e("dst").as("node"), (frontier("hop") + 1).as("hop"))
        .groupBy("node").agg(min("hop").as("hop"))
        .join(nodeSide(s, labels.select(col("node").as("seen")), labelRows),
          col("node") === col("seen"), "left_anti")
        .localCheckpoint(false)
      labels = labels.unionByName(next).localCheckpoint(false)
      frontier = next
      fn = next.count()
      labelRows += fn
      rounds += 1
    }
    (labels, sizes.toSeq)
  }

  /** [[kcoreConverged]] as a first-class query (VERDICT r5 #2: a real
    * user reaches for run-to-convergence first; the fixed-round
    * [[qKcore]] stays for the unrolled-CTE oracle form). Same census
    * output shape as q_kcore, but the peel runs until a whole round
    * removes no edge — however many rounds the graph needs.
    *
    * The oracle is a DuckDB COUNT-GATED recursive CTE: each iteration
    * carries the surviving edge set tagged with a round number, and the
    * recursive term emits the next round only while the survivor count
    * still shrinks — at the fixed point it emits nothing and the
    * recursion terminates (a plain UNION-distinct recursion cannot
    * express this: peeled sets are subsets of round 0, so every row
    * would dedup away). The census then applies one more `dg ≥ k`
    * survivor filter to the max-round set, which is exactly the
    * degree frame the Spark loop's final `keep` holds — and keeps the
    * oracle honest even on a graph whose k-core is empty (where the
    * max-round set is the last non-empty peel, not the fixed point). */
  val qKcoreConverged: Q = Q("q_kcore_converged",
    s"""WITH RECURSIVE ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e0 AS (SELECT a AS src, b AS dst FROM ed
       |       UNION ALL SELECT b, a FROM ed),
       |peel AS (
       |  SELECT src, dst, 0 AS round FROM e0
       |  UNION ALL
       |  SELECT s.src, s.dst, s.round + 1
       |  FROM (SELECT e.src, e.dst, e.round
       |        FROM peel e
       |        JOIN (SELECT src AS node FROM peel GROUP BY src
       |              HAVING COUNT(*) >= $CoreK) a ON a.node = e.src
       |        JOIN (SELECT src AS node FROM peel GROUP BY src
       |              HAVING COUNT(*) >= $CoreK) b ON b.node = e.dst) s
       |  WHERE (SELECT COUNT(*) FROM peel e
       |         JOIN (SELECT src AS node FROM peel GROUP BY src
       |               HAVING COUNT(*) >= $CoreK) a ON a.node = e.src
       |         JOIN (SELECT src AS node FROM peel GROUP BY src
       |               HAVING COUNT(*) >= $CoreK) b ON b.node = e.dst)
       |        < (SELECT COUNT(*) FROM peel)),
       |fin AS (SELECT src, dst FROM peel
       |        WHERE round = (SELECT MAX(round)
       |                       FROM (SELECT round FROM peel) q)),
       |kp AS (SELECT src AS node, COUNT(*) AS dg FROM fin GROUP BY 1
       |       HAVING COUNT(*) >= $CoreK)
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS kind,
       |       COUNT(*) AS n_nodes,
       |       CAST(MIN(dg) AS BIGINT) AS min_deg,
       |       CAST(MAX(dg) AS BIGINT) AS max_deg
       |FROM kp GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    kcoreConverged(symEdges(s, d), CoreK, nodes = nodeCount(s, d))
      .groupBy(
        when(pmod(col("node"), lit(2)) === 0, "customer")
          .otherwise("supplier").as("kind"))
      .agg(count(lit(1)).as("n_nodes"),
        min("dg").cast("long").as("min_deg"),
        max("dg").cast("long").as("max_deg"))
      .orderBy("kind")
  }

  /** [[bfsDeltaFrontier]] as a first-class query: BFS run to frontier
    * exhaustion (no a-priori round budget), reporting the same hop
    * histogram as [[qBfsHops]]. The frontier loop shuffles each node
    * exactly once — the 100 TB posture for deep graphs — while the
    * oracle iterates the full label table under a CHANGE-GATED
    * recursive CTE: labels only ever gain nodes or lower hops, so the
    * (COUNT, SUM(hop)) pair is stationary exactly at the BFS fixed
    * point; the gate packs both into one scalar (count·10¹² + sum —
    * collision-free while sum < 10¹², far above the oracle's sf0.01
    * label mass) and stops emitting when it repeats. Both sides
    * compute the unique min-hop labeling, so values agree however
    * the rounds are scheduled. */
  val qBfsConverged: Q = Q("q_bfs_converged",
    """WITH RECURSIVE ed AS (
      |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |e AS (SELECT a AS src, b AS dst FROM ed
      |      UNION ALL SELECT b, a FROM ed),
      |walk AS (
      |  SELECT c_custkey * 2 AS node, 0 AS hop, 0 AS round
      |  FROM customer WHERE c_nationkey = 0
      |  UNION ALL
      |  SELECT nx.node, nx.hop, nx.round FROM (
      |    SELECT node, MIN(hop) AS hop, MIN(round) + 1 AS round FROM (
      |      SELECT node, hop, round FROM walk
      |      UNION ALL
      |      SELECT e.dst AS node, w.hop + 1 AS hop, w.round
      |      FROM e JOIN walk w ON w.node = e.src) GROUP BY node) nx
      |  WHERE (SELECT COUNT(*) * 1000000000000 + SUM(hop) FROM (
      |           SELECT node, MIN(hop) AS hop FROM (
      |             SELECT node, hop FROM walk
      |             UNION ALL
      |             SELECT e.dst, w.hop + 1
      |             FROM e JOIN walk w ON w.node = e.src)
      |           GROUP BY node) q1)
      |        <> (SELECT COUNT(*) * 1000000000000 + SUM(hop) FROM walk))
      |SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_nodes
      |FROM walk
      |WHERE round = (SELECT MAX(round) FROM (SELECT round FROM walk) q)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val e = symEdges(s, d)
    val seeds = Tables.load(s, d, "customer")
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"), lit(0).as("hop"))
    val (labels, _) = bfsDeltaFrontier(e, seeds)
    labels.groupBy(col("hop").cast("long").as("hop"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("hop")
  }

  /** Tolerance for [[qPagerankConverged]], in pico-mass units (10⁻³ of
    * [[Mass]]): rank deltas contract by ~the damping factor per round,
    * so rounds-to-tolerance ≈ log(Δ₁/tol)/log(1/0.85) — data-shape
    * dependent only through Δ₁, not corpus size. 14 rounds at sf0.01. */
  val RankTolPico = 1000000000L

  /** [[pagerankConverged]] as a first-class query: the [[qPagerank]]
    * recurrence iterated until max |Δrank| ≤ [[RankTolPico]], same
    * top-20 output shape. The oracle's recursive CTE carries each
    * round's rank table tagged with the Δ that PRODUCED it (`dlt`);
    * the recursive term only expands rows with dlt above tolerance, so
    * the first post-tolerance table is still emitted and then the
    * recursion stops — exactly the Spark loop, whose final `r` is the
    * first r2 with delta ≤ tol. Integer fixed-point arithmetic end to
    * end keeps both engines bit-identical whatever the round count. */
  val qPagerankConverged: Q = Q("q_pagerank_converged",
    s"""WITH RECURSIVE ed AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM ed
       |      UNION ALL SELECT b, a FROM ed),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM e
       |        GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
       |walk AS (
       |  SELECT src AS node, $Mass // n.n AS r, 0 AS round,
       |         CAST($Mass AS BIGINT) AS dlt
       |  FROM deg CROSS JOIN n
       |  UNION ALL
       |  SELECT nx.node, nx.r, nx.round,
       |         (SELECT MAX(ABS(nx2.r - w2.r)) FROM (
       |            SELECT e.dst AS node,
       |              (15 * $Mass) // (100 * n.n)
       |                + ($DampNum * SUM(w.r // deg.d)) // 100 AS r
       |            FROM e JOIN walk w ON w.node = e.src
       |                   JOIN deg ON deg.src = e.src CROSS JOIN n
       |            WHERE w.dlt > $RankTolPico
       |            GROUP BY e.dst, n.n) nx2
       |          JOIN walk w2 ON w2.node = nx2.node) AS dlt
       |  FROM (
       |    SELECT e.dst AS node,
       |      (15 * $Mass) // (100 * n.n)
       |        + ($DampNum * SUM(w.r // deg.d)) // 100 AS r,
       |      MIN(w.round) + 1 AS round
       |    FROM e JOIN walk w ON w.node = e.src
       |           JOIN deg ON deg.src = e.src CROSS JOIN n
       |    WHERE w.dlt > $RankTolPico
       |    GROUP BY e.dst, n.n) nx)
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |         AS kind,
       |       CAST(node // 2 AS BIGINT) AS key,
       |       CAST(r AS BIGINT) AS rank_pico
       |FROM walk
       |WHERE round = (SELECT MAX(round) FROM (SELECT round FROM walk) q)
       |ORDER BY rank_pico DESC, kind, key LIMIT 20""".stripMargin) {
    (s, d) =>
      topRanks(pagerankConverged(s, d, tolPico = RankTolPico), "rank_pico")
  }

  val all: Seq[Q] = Seq(qPagerank, qButterflyCount, qTriangles, qBfsHops,
    qKcore, qKcoreConverged, qBfsConverged, qPagerankConverged,
    qLpaCommunities, qLpaModularity, qPprSeeds)
}
