package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Graph analytics over relationship tables derived from the warehouse
  * — here the part co-purchase graph: an undirected edge between two
  * parts whenever some order contains both.
  *
  * Triangle counting is the classic "joins done naively explode" graph
  * kernel: enumerating wedges from arbitrary endpoints is Σ deg², which
  * a power-law hub turns quadratic. The scalable form (Suri &
  * Vassilvitskii WWW'11; Cohen's MapReduce graph patterns) orients
  * every edge from its lower-(degree, id) endpoint to its higher one —
  * each node's OUT-degree is then O(√m) — and counts a triangle exactly
  * once from its lowest-rank corner. Both the wedge join and the
  * closing-edge join shuffle on plain node ids; no text or payload
  * rides any exchange.
  */
object GraphOps {

  /** q128 — per-part triangle participation counts (top-20 by count).
    *
    * Pipeline: distinct (order, part) incidence → within-order part
    * pairs (bounded per order by its line count, so edge instances grow
    * linearly with the fact table) → distinct undirected edges →
    * degree-ordered orientation → wedge join on the common lower corner
    * → closing-edge join on the two upper corners → explode the three
    * corners → count per node.
    *
    * The oracle enumerates the same triangles by id-ordered 3-way
    * self-join (a < b < c) — orientation changes WHICH corner finds a
    * triangle, never whether it is found, so the two enumerations agree
    * row-for-row. */
  /** The family's shared derived frames, staged ONCE PER CORPUS
    * VERSION by [[GraphIndex]] (the StagedAsset lifecycle the index
    * subsystems use) and memoized per session on top: the staged
    * parquet is read once per session, re-clustered to the layout the
    * consumers want, and block-cached — six catalog queries share the
    * blocks, and no session ever re-derives the graph from the fact
    * table (before staging, the first graph query of EVERY session
    * paid the lineitem distinct + self-join + distinct). */
  /** shuffle_hash hint on the small (score/frontier) side of the
    * iterative joins. */
  private def shj(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  private def memo(s: SparkSession, name: String, dir: String)
      (build: => DataFrame): DataFrame =
    graft.SessionMemo.materialized(s,
      name + ":" + graft.SessionMemo.versionOf(s, dir, "lineitem"))(build)

  /** Distinct (order, part) incidence pairs — the bipartite base frame.
    * Hash-partitioned by order key before materializing: localCheckpoint
    * preserves outputPartitioning in the LogicalRDD, so the edge-build
    * self-join (on o) and HITS' per-iteration o-joins reuse the layout
    * instead of re-exchanging the big frame each time. */
  private def incidence(s: SparkSession, dir: String): DataFrame =
    memo(s, "incidence", dir) {
      GraphIndex.incidence(s, dir).repartition(col("o"))
    }

  /** Distinct undirected co-purchase edges (u < v), staged offline:
    * within-order part pairs are bounded per order by its line count,
    * so edge instances grow linearly with the fact table. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    memo(s, "edges", dir) {
      GraphIndex.edges(s, dir)
    }

  /** Symmetric (src, dst, outdeg) adjacency, src-partitioned — the
    * traversal frame PageRank and BFS both start from, built ONCE per
    * session instead of once per query. outdeg rides along from the
    * staged degree table (for distinct undirected edges, the symmetric
    * out-degree IS the undirected degree), so neither consumer re-runs
    * the degree aggregation either. */
  private def symEdgesWithDeg(s: SparkSession, dir: String): DataFrame =
    memo(s, "symdeg", dir) {
      val e = GraphIndex.edges(s, dir)
      val deg = GraphIndex.degrees(s, dir)
        .select(col("n").as("src"), col("deg").as("outdeg"))
      e.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
        .join(deg, Seq("src"))
        .repartition(col("src"))
    }

  def triangleCounts(s: SparkSession, dir: String): DataFrame = {
    val deg = GraphIndex.degrees(s, dir)
    // Degree-oriented edges (lower-(deg, id) endpoint → higher), staged
    // offline by GraphIndex: out-degree is bounded at O(√m) (Suri &
    // Vassilvitskii), which bounds the adjacency arrays below.
    // src-partitioned: the adjacency groupBy and the first closure join
    // both cluster on src and reuse the layout.
    val directed = memo(s, "oriented", dir) {
      GraphIndex.oriented(s, dir).repartition(col("src"))
    }
    // Edge-centric closure: a triangle in the orientation DAG is
    // exactly {a→b, a→c, b→c}, so for each directed edge (a,b) its
    // triangles are N⁺(a) ∩ N⁺(b) — each found ONCE, from its two
    // lowest-rank corners. Joining the edge list to the out-neighbor
    // arrays and intersecting per edge does the Σ|N⁺| work of the
    // classic wedge self-join WITHOUT ever materializing (or
    // shuffling) the O(Σ outdeg²) wedge table — at sf0.1 that is a
    // 1.2M-row array join in place of a 41M-row wedge exchange, 5-10×
    // faster, and the asymptotic win grows with density. Arrays are
    // O(√m) long by the orientation bound, so a row is never wide; the
    // two adjacency joins shuffle on plain node ids (AQE broadcasts
    // the adjacency frame while it is small).
    val adj = directed.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val tri = directed
      .join(adj.select(col("src"), col("nbrs").as("na")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nb")), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("n").as("part"), col("deg").as("degree")), Seq("part"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(20)
      .select("part", "degree", "n_triangles")
  }

  /** q129 — PageRank over the co-purchase graph, 5 synchronous
    * iterations at damping 0.85, top-20 parts.
    *
    * Determinism contract (the q95/q127 rule extended to an ITERATIVE
    * float computation): ranks are scaled-integer fixed point — BIGINT
    * multiples of 1e-10. Each edge contribution is ONE double
    * expression, 0.85 · r/outdeg (the 1e10 scale cancels), quantized
    * by the cross-engine midpoint rule ⌊x + 0.5⌋ (Spark round() and
    * DuckDB round() disagree on decimal-tie direction — an actual 1-ulp
    * mismatch surfaced at sf0.01 row 9), so every iteration is
    * order-independent integer arithmetic and the unrolled DuckDB CTE
    * chain reproduces it bit-for-bit. The 1e-10 quantization per step
    * is far below the ranking resolution.
    *
    * Scale shape: the classic iterative join — ranks ⋈ edges on src
    * (one shuffle per iteration, rank frame is |V| narrow rows),
    * aggregated on dst; each iteration's result is materialized
    * (join-derived, the rule from §8.12) to cut the growing lineage;
    * node count and the teleport term are broadcast scalars. Symmetric
    * edges mean no dangling mass: every node has outdeg ≥ 1. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    // Session-shared symmetric adjacency (src-partitioned, outdeg
    // attached): the five rank joins below exchange only the |V|-row
    // rank frame, never the edge list.
    val edgesWithDeg = symEdgesWithDeg(s, dir)
    val nodes = GraphIndex.degrees(s, dir)
      .select(col("n"), col("deg").as("outdeg"))
    val nStats = nodes.agg(count(lit(1)).as("n_nodes"))
    var r = nodes.crossJoin(broadcast(nStats))
      .select(col("n"),
        floor(lit(1.0) / col("n_nodes") * lit(1.0e10) + lit(0.5))
          .cast("long").as("r"))
    // No per-iteration materialization: unlike BFS/HITS (whose loop
    // variable is referenced twice per round, so an unmaterialized plan
    // doubles per level), each rank frame feeds exactly ONE downstream
    // join — the unrolled 5-iteration plan is linear in size, every
    // shuffle is over the |V|-row rank frame keyed by node id, and the
    // edge frame below it is the one materialized leaf. One job, AQE
    // over the whole chain, no per-round scheduling overhead.
    for (_ <- 1 to 5) {
      // shuffle_hash on the rank side (guide §3.1): the default
      // SortMergeJoin re-SORTS the reused |E|-row edge exchange every
      // iteration; hashing the |V|-row rank frame per partition streams
      // the edges unsorted. The build side is the per-partition slice of
      // the rank frame — proportional at any scale (never the edge
      // list), unlike a rank-frame broadcast which dies when |V|
      // outgrows the driver. Measured at sf0.1/32 cores: per-iteration
      // stage taskSum 6.2 s → see plans/r18 + OPTIMIZATION_r18.md.
      val contrib = edgesWithDeg
        .join(shj(r.select(col("n").as("src"), col("r"))), Seq("src"))
        .select(col("dst"),
          floor(lit(0.85) * (col("r") / col("outdeg")) + lit(0.5))
            .cast("long").as("c"))
      r = contrib.groupBy("dst").agg(sum(col("c")).as("csum"))
        .crossJoin(broadcast(nStats))
        .select(col("dst").as("n"),
          (floor(lit(0.15) / col("n_nodes") * lit(1.0e10) + lit(0.5))
            .cast("long") + col("csum")).as("r"))
    }
    r.join(nodes, Seq("n"))
      .orderBy(col("r").desc, col("n"))
      .limit(20)
      .select(col("n").as("part"), col("outdeg").as("degree"),
        (col("r").cast("double") / lit(1.0e10)).as("pagerank"))
  }

  /** q133 — BFS reachability profile: hop-distance histogram within 4
    * hops of the graph's busiest hub (max degree, min id tie-break) —
    * the "how connected is this catalog" diagnostic, and the iterative
    * frontier-join shape every distributed BFS/shortest-path job uses.
    *
    * Plan: each hop is one frontier ⋈ edges shuffle followed by a
    * min-dist aggregation, materialized per the §8.12 rule (join-
    * derived, lineage grows per hop). The frontier filter keeps hop k's
    * join input to NEWLY reached nodes only, so total work is O(edges
    * within the ball), not O(hops · edges). All integer arithmetic; the
    * oracle is a bounded recursive CTE with UNION dedup semantics. */
  def bfsProfile(s: SparkSession, dir: String): DataFrame = {
    // Session-shared symmetric adjacency (src-partitioned): each hop's
    // frontier join exchanges only the (small) frontier, never the
    // symmetric edge list; the degree column comes from the staged
    // table via the same frame.
    val sym = symEdgesWithDeg(s, dir).select("src", "dst")
    val deg = GraphIndex.degrees(s, dir)
      .select(col("n").as("src"), col("deg"))
    val seed = deg
      .orderBy(col("deg").desc, col("src")).limit(1)
      .select(col("src").as("n"), lit(0L).as("dist"))
    var dist = seed
    for (k <- 1 to 4) {
      val frontier = dist.filter(col("dist") === (k - 1))
        .select(col("n").as("src"))
      // shuffle_hash on the frontier (the q129 rationale): no SMJ sort
      // of the symmetric edge frame per hop; the build side is the hop
      // frontier's per-partition slice, bounded by the ball.
      val reached = sym.join(shj(frontier), Seq("src"))
        .select(col("dst").as("n"), lit(k.toLong).as("dist"))
      // stableLazy (optimization r17): the hop frame is |reached-ball|
      // rows of two longs — the eager count() job per hop cost more
      // than any duplicate compute a concurrent double-reference could
      // cause. Blocks pin when the first consumer (the next hop, or
      // the final histogram) computes them; lineage is cut per hop
      // exactly as before.
      dist = graft.Materialize.stableLazy(
        dist.unionByName(reached)
          .groupBy("n").agg(min(col("dist")).as("dist")))
    }
    val total = deg.agg(count(lit(1)).as("n_nodes"))
    val hist = dist.groupBy("dist").agg(count(lit(1)).as("n_parts"))
    hist.crossJoin(broadcast(total))
      .select(col("dist"), col("n_parts"),
        round(col("n_parts").cast("double") / col("n_nodes"), 4)
          .as("share_of_graph"))
      .orderBy("dist")
  }

  /** q146 — market-basket association rules over part co-purchases:
    * for every part pair appearing in ≥2 orders, the pair support, the
    * per-part supports, both directed confidences, and the lift
    * N·supp(ab)/(supp(a)·supp(b)) — the classic support/confidence/lift
    * triple (Agrawal & Srikant, VLDB'94), top-20 by lift. Lift > 1
    * means the pair co-occurs more than independence predicts — the
    * recommender/bundling signal.
    *
    * Determinism: supports are exact integer order counts; each ratio
    * is ONE double division of integers (confidences) or one
    * multiply-then-divide of exact longs (lift), rounded to 6dp, with
    * (pa, pb) tie-break on the rank ordering.
    *
    * Plan: the pair-support aggregation is the q128 incidence self-join
    * (bounded per order by line count); part supports are a narrow
    * re-aggregation of the incidence frame; N is a broadcast 1-row
    * scalar; top-20 plans as TakeOrderedAndProject. Nothing here holds
    * state bigger than the pair-count frame, which grows linearly with
    * the fact table. */
  def associationRules(s: SparkSession, dir: String): DataFrame = {
    val it = incidence(s, dir)
    val pairSupp = it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= 2)
    val partSupp = it.groupBy(col("p")).agg(count(lit(1)).as("supp"))
    val n = it.select(col("o")).distinct().agg(count(lit(1)).as("n_orders"))
    pairSupp
      .join(partSupp.select(col("p").as("pa"), col("supp").as("supp_a")), Seq("pa"))
      .join(partSupp.select(col("p").as("pb"), col("supp").as("supp_b")), Seq("pb"))
      .crossJoin(broadcast(n))
      .select(col("pa"), col("pb"), col("supp_ab"), col("supp_a"), col("supp_b"),
        round(col("supp_ab").cast("double") / col("supp_a"), 6).as("conf_ab"),
        round(col("supp_ab").cast("double") / col("supp_b"), 6).as("conf_ba"),
        round((col("n_orders") * col("supp_ab")).cast("double")
          / (col("supp_a") * col("supp_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("pa"), col("pb"))
      .limit(20)
  }

  /** q151 — degree profile of the co-purchase graph: node counts per
    * 25-degree band with share and cumulative share. The skew report
    * that justifies the q128 orientation bound and sizes any
    * hub-salting decision (q60's rule applied to graph keys): a fat
    * tail here is the early warning that wedge work concentrates.
    *
    * Determinism: integer-division banding (the q149 rule), counts
    * exact, cumulative over the band-ordered window CAST to BIGINT
    * before the share division.
    *
    * Plan: degree aggregation rides the edge frame; everything after is
    * a |bands|-row frame. */
  def degreeProfile(s: SparkSession, dir: String): DataFrame =
    degreeProfileOf(coPurchaseEdges(s, dir))

  /** q151's tail over ANY distinct undirected edge frame (u < v) —
    * shared by the full-corpus form, the add-batch q194, and the
    * streaming graph maintainer's probe, so the three forms can never
    * drift. Everything after the degree aggregation is a |bands|-row
    * frame. */
  private[graft] def degreeProfileOf(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val bands = deg
      .withColumn("band", floor(col("deg") / lit(25.0)).cast("long") * 25)
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
    // n_nodes and cum_share share one unpartitioned band-ordered
    // window: one pass over the |bands| rows, no aggregate to cross-join
    val byBand = Window.orderBy("band")
    val wc = byBand.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = byBand.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bands.withColumn("n_nodes", sum(col("n_parts")).over(wAll))
      .withColumn("share",
        round(col("n_parts").cast("double") / col("n_nodes"), 6))
      .withColumn("cum_share",
        round(sum(col("n_parts")).over(wc).cast("double") / col("n_nodes"), 6))
      .select("band", "n_parts", "min_deg", "max_deg", "share", "cum_share")
      .orderBy("band")
  }

  /** Distinct undirected co-purchase edges of an (o, p) incidence
    * frame — GraphIndex's edge derivation as a reusable function, so
    * the add-batch and streaming forms share the offline build's exact
    * semantics. Within-order pairs only: every edge derives from the
    * rows of ONE order, which is the property that makes the edge set
    * decomposable by order boundary (q194's contract). */
  private[graft] def edgesOf(incidence: DataFrame): DataFrame = {
    val it = incidence.select(col("o"), col("p")).distinct()
    it.as("a").join(it.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  /** q194 — add-batch degree profile: the graph family joins the
    * incremental-maintenance matrix. Every co-purchase edge derives
    * from within ONE order, so the edge set decomposes exactly by an
    * order-boundary split: edges(corpus ∪ batch) = dedup(edges(corpus
    * orders) ∪ edges(batch orders)). The base side plays the staged
    * per-corpus-version edge table (q170's inline staged form —
    * Materialize.stable); per refit only the BATCH orders' incidence
    * is self-joined (O(batch), bounded per order by its line count),
    * and the probe dedups (u, v) keys before the q151 tail — presence
    * algebra at probe time, so a re-delivered order is harmless.
    * Shares q151's oracle BY DESIGN (the q185/q190 pattern): an edge
    * lost or double-kept anywhere in the split/merge is a hash
    * mismatch against the whole-corpus profile. */
  def degreeAddBatch(s: SparkSession, dir: String): DataFrame = {
    val inc = graft.Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val isNewOrder = pmod(col("o"), lit(10)) === 7
    val base = graft.Materialize.stable(edgesOf(inc.filter(!isNewOrder)))
    val batch = edgesOf(inc.filter(isNewOrder))
    degreeProfileOf(graft.Materialize.stable(
      base.unionByName(batch).dropDuplicates("u", "v")))
  }


  /** q154 — HITS hubs & authorities (Kleinberg 1999) on the bipartite
    * order↔part incidence graph, 3 power iterations: an order is a good
    * HUB if it contains authoritative parts; a part is a good AUTHORITY
    * if authoritative-looking baskets contain it. The recommender-side
    * complement of q129's PageRank (which ranks parts by co-purchase
    * connectivity; HITS ranks them by membership in "expert" baskets).
    *
    * Determinism (the q129 rule, different normalizer): scores are
    * BIGINT fixed point scaled 1e6; each half-iteration is an exact
    * integer SUM over the incidence edges followed by MAX-normalization
    * via integer division (x·10⁶ div max) — max-normalization replaces
    * the conventional L2 norm precisely because it needs NO float
    * accumulation (an L2 norm is a corpus-order-sensitive float sum;
    * max is order-independent), and it converges to the same ranking.
    * Every value every iteration is an exact BIGINT in both engines.
    *
    * Plan: each half-iteration is one shuffle of the (order, part)
    * incidence joined with the |V|-row score frame (the q129 iterative
    * shape, materialized per the §8.12 rule); the normalizing max is a
    * broadcast 1-row frame. */
  def hitsRanking(s: SparkSession, dir: String): DataFrame = {
    // DUAL-PARTITIONED incidence: the hub step joins on p, the
    // authority step on o. One session-memoized copy per join key
    // means each of the six per-iteration joins reuses a layout and
    // exchanges only the |O|- or |P|-row rank frame — the alternative
    // re-exchanges the fact-scaled incidence by p every iteration
    // (rank-frame broadcast would also work at fixture scale but not
    // at 100 TB, where orders — and in TPC-H geometry even parts —
    // outgrow a broadcast).
    val itByO = incidence(s, dir)
    val itByP = memo(s, "incidence_byp", dir) {
      GraphIndex.incidence(s, dir).repartition(col("p"))
    }
    var auth = itByP.select(col("p")).distinct()
      .select(col("p"), lit(1000000L).as("a"))
    var hub: DataFrame = null
    for (_ <- 1 to 3) {
      // Materialize the RAW per-half-step sums, not the normalized
      // frames: the max and the normalize both consume the sum frame,
      // so checkpointing after the join+agg runs the incidence join
      // ONCE per half-step where stabilizing the normalized frame ran
      // it twice (once under the max agg's plan, once under the
      // normalize's) — measured 3.97 s → ~2.5 s at sf0.1. The
      // normalize itself stays a lazy projection over the cached sums
      // (+ a broadcast 1-row max), so the next half-step's join input
      // is still lineage-bounded.
      // stableLazy, not stable (optimization r17): the max aggregation
      // on the next line is the first action over the checkpointed
      // frame, so it both pins the blocks and computes the max in ONE
      // job — stable()'s eager count() added a pin job plus a cached
      // re-read per half-step (6 jobs per query at 3 iterations).
      // shuffle_hash on the score side (the q129 rationale): SMJ
      // re-sorted the fact-scaled incidence every half-step; hashing
      // the |O|-/|P|-row score frame per partition streams the
      // incidence unsorted. Build side is the per-partition score
      // slice — bounded at any scale by the partition count, never the
      // incidence.
      val hRaw = graft.Materialize.stableLazy(
        itByP.join(shj(auth), Seq("p"))
          .groupBy("o").agg(sum(col("a")).as("h")))
      val hMax = hRaw.agg(max(col("h")).as("hmax"))
      hub = hRaw.crossJoin(broadcast(hMax))
        .select(col("o"), expr("(h * 1000000) div hmax").as("h"))
      val aRaw = graft.Materialize.stableLazy(
        itByO.join(shj(hub), Seq("o"))
          .groupBy("p").agg(sum(col("h")).as("a")))
      val aMax = aRaw.agg(max(col("a")).as("amax"))
      auth = aRaw.crossJoin(broadcast(aMax))
        .select(col("p"), expr("(a * 1000000) div amax").as("a"))
    }
    val deg = itByP.groupBy("p").agg(count(lit(1)).as("n_orders"))
    auth.join(deg, Seq("p"))
      .orderBy(col("a").desc, col("p"))
      .limit(20)
      .select(col("p").as("part"), col("n_orders"),
        (col("a").cast("double") / 1000000.0).as("authority"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_triangle_counts" -> triangleCounts,
    "q129_pagerank" -> pageRank,
    "q133_bfs_profile" -> bfsProfile,
    "q146_association_rules" -> associationRules,
    "q151_degree_profile" -> degreeProfile,
    "q194_degree_add_batch" -> degreeAddBatch,
    "q154_hits_ranking" -> hitsRanking)

  /** Unrolled 5-iteration PageRank oracle over scaled-integer ranks.
    * Double literals are CAST explicitly — DuckDB parses bare `0.85` as
    * DECIMAL, which would change the arithmetic tree vs Spark's double
    * literals; `1e10` scientific notation is already a double in both.
    * Quantization is the cross-engine midpoint rule ⌊x + 0.5⌋, never
    * round(). */
  private val pageRankOracle: String = {
    val iters = (1 to 5).map { k =>
      s"""r$k AS (SELECT n, base + csum AS r FROM (
         |  SELECT ew.dst AS n,
         |    CAST(SUM(CAST(floor(CAST(0.85 AS DOUBLE)
         |      * (p.r / ew.outdeg) + CAST(0.5 AS DOUBLE)) AS BIGINT))
         |      AS BIGINT) AS csum
         |  FROM ew JOIN r${k - 1} p ON p.n = ew.src GROUP BY 1)
         |CROSS JOIN basec)""".stripMargin
    }.mkString(",\n")
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT DISTINCT a.p AS u, b.p AS v
       |      FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
       |sym AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM sym GROUP BY 1),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
       |basec AS (SELECT CAST(floor(CAST(0.15 AS DOUBLE) / n_nodes * 1e10
       |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS base FROM ns),
       |r0 AS (SELECT src AS n, CAST(floor(CAST(1.0 AS DOUBLE) / n_nodes * 1e10
       |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS r FROM deg CROSS JOIN ns),
       |ew AS (SELECT sym.src, sym.dst, deg.outdeg FROM sym JOIN deg USING (src)),
       |$iters
       |SELECT r5.n AS part, deg.outdeg AS degree,
       |  CAST(r5.r AS DOUBLE) / 1e10 AS pagerank
       |FROM r5 JOIN deg ON deg.src = r5.n
       |ORDER BY r5.r DESC, r5.n LIMIT 20""".stripMargin
  }

  private val q151OracleSql: String =
    """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS u, b.p AS v
      |      FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |  (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |bands AS (SELECT CAST(floor(deg / 25.0) AS BIGINT) * 25 AS band,
      |    CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    MIN(deg) AS min_deg, MAX(deg) AS max_deg
      |  FROM deg GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_parts) AS BIGINT) AS n_nodes FROM bands)
      |SELECT band, n_parts, min_deg, max_deg,
      |  round(CAST(n_parts AS DOUBLE) / n_nodes, 6) AS share,
      |  round(CAST(CAST(SUM(n_parts) OVER (ORDER BY band
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS DOUBLE) / n_nodes, 6) AS cum_share
      |FROM bands CROSS JOIN tot ORDER BY band""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q154_hits_ranking" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |a0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS a FROM it),
        |h1r AS (SELECT o, CAST(SUM(a) AS BIGINT) AS h
        |         FROM it JOIN a0 USING (p) GROUP BY o),
        |h1m AS (SELECT MAX(h) AS hmax FROM h1r),
        |h1 AS (SELECT o, (h * 1000000) // hmax AS h FROM h1r CROSS JOIN h1m),
        |a1r AS (SELECT p, CAST(SUM(h) AS BIGINT) AS a
        |         FROM it JOIN h1 USING (o) GROUP BY p),
        |a1m AS (SELECT MAX(a) AS amax FROM a1r),
        |a1 AS (SELECT p, (a * 1000000) // amax AS a FROM a1r CROSS JOIN a1m),
        |h2r AS (SELECT o, CAST(SUM(a) AS BIGINT) AS h
        |         FROM it JOIN a1 USING (p) GROUP BY o),
        |h2m AS (SELECT MAX(h) AS hmax FROM h2r),
        |h2 AS (SELECT o, (h * 1000000) // hmax AS h FROM h2r CROSS JOIN h2m),
        |a2r AS (SELECT p, CAST(SUM(h) AS BIGINT) AS a
        |         FROM it JOIN h2 USING (o) GROUP BY p),
        |a2m AS (SELECT MAX(a) AS amax FROM a2r),
        |a2 AS (SELECT p, (a * 1000000) // amax AS a FROM a2r CROSS JOIN a2m),
        |h3r AS (SELECT o, CAST(SUM(a) AS BIGINT) AS h
        |         FROM it JOIN a2 USING (p) GROUP BY o),
        |h3m AS (SELECT MAX(h) AS hmax FROM h3r),
        |h3 AS (SELECT o, (h * 1000000) // hmax AS h FROM h3r CROSS JOIN h3m),
        |a3r AS (SELECT p, CAST(SUM(h) AS BIGINT) AS a
        |         FROM it JOIN h3 USING (o) GROUP BY p),
        |a3m AS (SELECT MAX(a) AS amax FROM a3r),
        |a3 AS (SELECT p, (a * 1000000) // amax AS a FROM a3r CROSS JOIN a3m),
        |deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_orders FROM it GROUP BY p)
        |SELECT a3.p AS part, deg.n_orders,
        |  CAST(a3.a AS DOUBLE) / 1000000.0 AS authority
        |FROM a3 JOIN deg USING (p)
        |ORDER BY a3.a DESC, a3.p LIMIT 20""".stripMargin,
    "q151_degree_profile" -> q151OracleSql,
    // q194: add-batch form shares q151's oracle BY DESIGN — the order-
    // boundary split must merge back to exactly the whole-corpus
    // profile (edges decompose by order; the probe dedups (u,v)).
    "q194_degree_add_batch" -> q151OracleSql,
    "q146_association_rules" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ps AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS supp_ab
        |       FROM it a JOIN it b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS supp FROM it GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM it)
        |SELECT pa, pb, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
        |  round(CAST(supp_ab AS DOUBLE) / sa.supp, 6) AS conf_ab,
        |  round(CAST(supp_ab AS DOUBLE) / sb.supp, 6) AS conf_ba,
        |  round(CAST(n_orders * supp_ab AS DOUBLE) / (sa.supp * sb.supp), 6) AS lift
        |FROM ps JOIN sup sa ON sa.p = ps.pa
        |        JOIN sup sb ON sb.p = ps.pb
        |        CROSS JOIN n
        |ORDER BY lift DESC, pa, pb LIMIT 20""".stripMargin,
    "q133_bfs_profile" ->
      """WITH RECURSIVE
        |it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
        |seed AS (SELECT src AS n FROM deg ORDER BY deg DESC, src LIMIT 1),
        |bfs(n, dist) AS (
        |  SELECT n, CAST(0 AS BIGINT) AS dist FROM seed
        |  UNION
        |  SELECT sym.dst AS n, CAST(bfs.dist + 1 AS BIGINT) AS dist
        |  FROM bfs JOIN sym ON sym.src = bfs.n
        |  WHERE bfs.dist < 4),
        |md AS (SELECT n, MIN(dist) AS dist FROM bfs GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
        |hist AS (SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_parts
        |         FROM md GROUP BY 1)
        |SELECT dist, n_parts,
        |  round(CAST(n_parts AS DOUBLE) / n_nodes, 4) AS share_of_graph
        |FROM hist CROSS JOIN tot ORDER BY dist""".stripMargin,
    "q129_pagerank" -> pageRankOracle,
    "q128_triangle_counts" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM it a JOIN it b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS degree FROM
        |        (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |        FROM e e1
        |        JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pn AS (SELECT n AS part, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
        |       (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT part, degree, n_triangles
        |FROM pn JOIN deg ON deg.n = pn.part
        |ORDER BY n_triangles DESC, part LIMIT 20""".stripMargin)
}
