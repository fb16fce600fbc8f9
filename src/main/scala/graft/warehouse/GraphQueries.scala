package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Checkpoints.CutOps
import graft.util.Tables

/** Graph analytics over the co-purchase graph — the third graph face
  * next to `Dedup.components` (connected components) and the pair
  * pipelines: triangle counting and degree statistics, the building
  * blocks of clustering-coefficient / community analyses. Part of the
  * warehouse-analytics surface the reference delegates wholesale to
  * Redshift (reference README.md:3 — "available for analytics"); basket
  * affinity is the canonical retail example of that delegation.
  *
  * The graph: parts are vertices; an edge joins two parts co-occurring
  * in at least `MinCoOccurrence` orders ("frequently co-purchased").
  * Edge generation is bounded by order width (≤ ~13 lineitems → ≤ ~78
  * pairs per order, a map-side explode, never quadratic in the table);
  * the canonical u < v orientation counts every edge and triangle once.
  *
  * Triangle plan: DEGREE-ORIENTED wedge join (each edge points from its
  * lower-degree endpoint, ties by id) then a closure probe against the
  * undirected list — two shuffle joins on vertex keys whose fan-out is
  * bounded by arboricity (O(√E)) instead of max degree, so a degree-d
  * hub contributes zero wedges rather than Θ(d²) (round-6 verdict #3).
  * The triangle COUNT is orientation-invariant, so the oracle SQL keeps
  * the plain id-oriented wedge join; GraphSpec pins the equivalence and
  * the hub-star wedge asymmetry.
  */
object GraphQueries {

  /** Co-occurrence threshold shared with the generated oracle SQL. */
  private val MinCoOccurrence = 2

  /** Per-basket co-occurrence pair counts (u < v, n_ab) with a BASKET-
    * SIZE GUARD: the self-join emits C(width, 2) pairs per basket —
    * quadratic in basket width — so one degenerate mega-basket (a
    * crawler cart, a default/test order id, a bulk-import artifact)
    * fans out a million-item basket into 5·10¹¹ pairs and a single
    * straggler task at 100 TB. Baskets wider than `maxBasketSize` are
    * EXCLUDED up front (one count aggregate + a LeftSemi — the
    * Dedup.capBuckets pattern; round-7 verdict #4), which also bounds
    * the guard's own cost. `Int.MaxValue` disables the guard AND its
    * count shuffle — the oracle-parity configuration (TPC-H baskets are
    * ≤ ~13 wide, so capped ≡ uncapped there; GraphSpec pins the
    * mega-basket adversary on the capped face). */
  private[graft] def basketPairs(
      items: DataFrame, orderCol: String, itemCol: String,
      maxBasketSize: Int = Int.MaxValue): DataFrame = {
    val guarded =
      if (maxBasketSize == Int.MaxValue) items
      else {
        val ok = items.groupBy(col(orderCol))
          .agg(count(lit(1)).as("_bsz"))
          .filter(col("_bsz") <= maxBasketSize)
          .select(col(orderCol))
        items.join(ok, Seq(orderCol), "left_semi")
      }
    guarded.as("a").join(guarded.as("b"),
        col(s"a.$orderCol") === col(s"b.$orderCol") &&
          col(s"a.$itemCol") < col(s"b.$itemCol"))
      .groupBy(col(s"a.$itemCol").as("u"), col(s"b.$itemCol").as("v"))
      .agg(count(lit(1)).as("n_ab"))
  }

  /** Canonical (u < v) thresholded co-purchase edge list, built from
    * scratch — q107's standalone face (the q111 precedent: one query
    * keeps paying the full build so the bench always carries the
    * from-scratch cost of the substrate). */
  private def edges(s: SparkSession, d: String): DataFrame =
    basketPairs(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey")
      .filter(col("n_ab") >= MinCoOccurrence)
      .select(col("u"), col("v"))

  /** MAINTAINED thresholded co-purchase pair table (u, v, n_ab) — the
    * shared substrate of the iterative graph-analytics family (q108
    * degree distribution, q138 PageRank, q150 k-core, q167 BFS probe
    * it), built ONCE per (session, corpus) through the
    * [[graft.util.Maintenance]] registry, persisted and materialized —
    * the dedupLedger/ivfIndex pattern: in production this is a refreshed
    * edge table next to the warehouse, and each analytics query pays its
    * own probe cost, not a rebuild of the graph. q107 deliberately stays
    * on the from-scratch [[edges]] build as the declared standalone-
    * recompute face (the q111 precedent), and q112/q169 keep their own
    * build because they pair DISTINCT (order, part) baskets — a
    * different multiset than the line-level edge multiplicities here. */
  private[graft] def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    graft.util.Maintenance.getOrBuild("coPurchasePairs", s, d) {
      val p = basketPairs(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey")
        .filter(col("n_ab") >= MinCoOccurrence)
        .persist()
      p.count() // materialize at build time (warmAll runs outside timing)
      p
    }

  /** The maintained pair table projected to the canonical edge list. */
  private def maintainedEdges(s: SparkSession, d: String): DataFrame =
    coPurchasePairs(s, d).select(col("u"), col("v"))

  /** Fold a window of NEW basket items into the maintained co-purchase
    * pair-count state — IVM for the graph SUBSTRATE itself (the edge
    * table every graph query probes is refreshed state; rebuilding it
    * per commit re-pairs every basket). A new line in an existing
    * basket creates pairs with that basket's OLD lines and with other
    * new lines — the bilinear expansion again, restricted to inserts:
    *
    *   Δpairs = base ⋈ Δ (same basket, item ≠ item) ∪ C(Δ, 2)
    *
    * Both joins are Δ-sized on one side (the base side probes only the
    * touched baskets — at scale a basket-keyed lookup, here a
    * broadcast of the window's baskets would ride the same contract);
    * the count fold is the broadcast-merge [[graft.cdc.IvmFold]], so
    * the base-sized pair state never shuffles. State keeps ALL counts
    * (a pair at 1 must be able to cross the threshold later); readers
    * apply the `MinCoOccurrence` floor at probe time. Line-level
    * multiplicities match [[basketPairs]] exactly: equal items never
    * pair, cross-slice multiplicity = lines_u × lines_v. */
  def edgeDeltaFold(state: DataFrame, baseItems: DataFrame,
      deltaItems: DataFrame, orderCol: String, itemCol: String): DataFrame =
    // the Δ-counts are eagerly lineage-cut before the broadcast-merge
    // (round 16, measured): mergeCounts references its delta THREE ways
    // (the broadcast build shared by updated/hit, plus the stream side
    // of fresh), so a lazy delta re-ran the bilinear expansion
    // (base ⋈ Δ ∪ C(Δ,2) + its pair shuffle — the fold's whole cost)
    // once per reference. Materialized once, the fold's shuffle is the
    // Δ-aggregate alone. A/B at sf0.1: q239 2.28 -> 1.96 s warm,
    // shuffle-write 30.9 -> 11.0 MB (3.07M -> 1.11M records), summed
    // task time 11.5 -> 6.2 s; same merged counts. The remaining cost
    // is one honest bilinear expansion + the broadcast build of the
    // ~1.1M-row Δ-aggregate — this fixture's window is deliberately
    // giant (43% of lineitem); mergeCounts' own scaladoc already
    // prescribes rebuild-over-fold for windows of that shape.
    graft.cdc.IvmFold.mergeCounts(state,
      graft.util.Checkpoints.cut(
        edgeDelta(baseItems, deltaItems, orderCol, itemCol)),
      Seq("u", "v"), Seq("n_ab" -> "dn"))

  /** The Δ-pair COUNTS alone — [[edgeDeltaFold]]'s bilinear expansion
    * (base ⋈ Δ on touched baskets ∪ C(Δ, 2)) without the merge, so a
    * DELTA-STORE layout ([[GraphStore]]) can append it as an immutable
    * slice instead of rewriting the merged state per fold. */
  private[warehouse] def edgeDelta(baseItems: DataFrame,
      deltaItems: DataFrame, orderCol: String, itemCol: String): DataFrame = {
    val bd = baseItems.as("a")
      .join(broadcast(deltaItems.select(col(orderCol)).distinct()), Seq(orderCol),
        "left_semi")
      .as("a")
      .join(deltaItems.as("b"),
        col(s"a.$orderCol") === col(s"b.$orderCol") &&
          col(s"a.$itemCol") =!= col(s"b.$itemCol"))
      .select(least(col(s"a.$itemCol"), col(s"b.$itemCol")).as("u"),
        greatest(col(s"a.$itemCol"), col(s"b.$itemCol")).as("v"))
    val dd = deltaItems.as("a").join(deltaItems.as("b"),
        col(s"a.$orderCol") === col(s"b.$orderCol") &&
          col(s"a.$itemCol") < col(s"b.$itemCol"))
      .select(col(s"a.$itemCol").as("u"), col(s"b.$itemCol").as("v"))
    bd.unionAll(dd)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("dn"))
  }

  /** q239's maintained base: the pre-window line items and their pair
    * counts, both persisted (the q130 incrementalBase pattern — the
    * previous refresh's state "on disk"; the timed q239 line measures
    * the INCREMENTAL fold against it, which is the operator's claim). */
  final case class EdgeBase(items: DataFrame, pairs: DataFrame)

  private[graft] def edgeBase(s: SparkSession, d: String): EdgeBase =
    graft.util.Maintenance.getOrBuild("edgeBase", s, d) {
      val items = Tables.lineitem(s, d).filter(col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_partkey")).persist()
      val pairs = basketPairs(items, "l_orderkey", "l_partkey").persist()
      items.count(); pairs.count() // materialize (warmAll runs untimed)
      EdgeBase(items, pairs)
    }

  /** The q258 PERSISTED graph store, seeded with the pre-window lines
    * (the ledgerStoreDir pattern for the edge substrate; q239 gates the
    * in-memory fold, q258 gates the fold THROUGH PARQUET plus the
    * delta-store compaction). */
  private[graft] def graphStoreDir(s: SparkSession, d: String): String =
    graft.util.Maintenance.getOrBuild("graphStoreSeed", s, d) {
      val dir = java.nio.file.Files.createTempDirectory("graftgraph").toString
      GraphStore.maintainBatch(
        Tables.lineitem(s, d).filter(col("l_linenumber") <= 3)
          .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"), col("l_partkey"), dir, batchId = 0L)
      dir
    }

  /** q286's warehouse→GRAPH cascade substrate: a merge table whose
    * payload is each order's BASKET (the sorted distinct part set),
    * commit 1 = every order, commit 2 = a basket refresh as warehouse
    * CDC — every %10 order's basket SHRINKS to its two smallest
    * distinct parts (MODIFY), every %17 non-modified order is REMOVEd, every
    * %9 order's twin is INSERTed under a fresh +1e9 id — then
    * a [[graft.util.Cascade.graphFollower]] maintains the co-purchase graph
    * from the table's own feed: one [[GraphStore.upsertOrders]] commit
    * cancels the retired baskets' pairs (negative Δ slice) and lands
    * the refreshed ones. */
  private[graft] def graphCascadeDir(s: SparkSession, d: String): String =
    graft.util.Maintenance.getOrBuild("graphCascadeSeed", s, d) {
      val li = Tables.lineitem(s, d)
      val base = java.nio.file.Files
        .createTempDirectory("graftgraphcasc").toString
      val tableDir = s"$base/table"
      def basketsOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("l_orderkey").as("ord"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      def envOf(df: org.apache.spark.sql.DataFrame, op: String, ver: Long) =
        df.select(lit(op).as("op"), col("ord").as("key"),
          lit(ver).as("ver"),
          (if (op == graft.cdc.Envelope.Remove) lit(null)
           else struct(col("ord"), col("items"))).as("after"))
      val seed = basketsOf(li)
      // TOTAL refresh transform (l_linenumber is uniform-random per
      // line in this corpus, so a linenumber cut would silently skip
      // orders with no matching lines): every %10 basket shrinks to
      // its TWO SMALLEST distinct parts
      val refresh =
        envOf(basketsOf(li.filter(col("l_orderkey") % 10 === 0))
            .select(col("ord"), slice(col("items"), 1, 2).as("items")),
          graft.cdc.Envelope.Modify, 2L)
        .unionByName(envOf(
          basketsOf(li.filter(col("l_orderkey") % 9 === 0))
            .select((col("ord") + lit(1000000000L)).as("ord"),
              col("items")),
          graft.cdc.Envelope.Insert, 2L))
        .unionByName(envOf(
          seed.filter(col("ord") % 17 === 0 && col("ord") % 10 =!= 0),
          graft.cdc.Envelope.Remove, 2L))
      val env1 = envOf(seed, graft.cdc.Envelope.Insert, 1L)
      val schema = env1.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      def mergeOnce(part: String,
          env: org.apache.spark.sql.DataFrame): Unit = {
        val in = s"$base/in_$part"
        env.write.parquet(in)
        val q = graft.cdc.Apply.startMerge(
          s.readStream.schema(env.schema).parquet(in), tableDir,
          checkpointDir = s"$base/ck_$part",
          keyCol = "ord", versionCol = "ver", schema = schema)
        q.processAllAvailable(); q.stop()
      }
      mergeOnce("seed", env1)       // commit 1
      mergeOnce("refresh", refresh) // commit 2
      // hydrate the store from the commit-1 state, follow from there
      val dir = s"$base/graph"
      GraphStore.maintainBatch(
        li.select(col("l_orderkey"), col("l_partkey")).distinct(),
        col("l_orderkey"), col("l_partkey"), dir)
      val q = graft.util.Cascade.follow(s, tableDir, s"$base/fck",
        graft.util.Cascade.graphFollower("graph", dir, col("items")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
      dir
    }

  /** MAINTAINED LPA community labeling over the maintained graph — the
    * coPurchasePairs pattern one level up: community assignments are
    * refreshed state next to the edge table (every downstream report —
    * modularity, per-community rollups — probes the same labeling
    * rather than re-running the fixpoint). q222 deliberately stays on
    * the from-scratch [[labelPropagation]] as the declared
    * standalone-recompute face (the q107/q111 precedent). */
  private[graft] def lpaLabels(s: SparkSession, d: String): DataFrame =
    graft.util.Maintenance.getOrBuild("lpaLabels", s, d) {
      val l = labelPropagation(maintainedEdges(s, d)).persist()
      l.count() // materialize at build time (warmAll runs outside timing)
      l
    }

  /** Fixed-point PageRank over an undirected canonical (u < v) edge
    * list — ranks in units of 1e-12 (`Scale`), damping 0.85, `iters`
    * power-iteration rounds. EVERY arithmetic step is exact integer
    * (`div` truncation ≡ DuckDB `//` floor on the non-negative domain),
    * so the result is engine-bit-stable and the oracle replays the
    * identical recurrence in a recursive CTE — no float summation order
    * to diverge, no libm.
    *
    * Plan: the degree-annotated directed adjacency list is built once,
    * hash-partitioned on `src`, and persisted; each round shuffles ONLY
    * the O(V) rank table into that layout (same discipline as q75's
    * components — the O(E) side never re-shuffles), aggregates
    * `r div deg` contributions map-side-combined on `dst`, and applies
    * the damping affine in integers. Per-round eager Checkpoints.cut (local by default, reliable via spark.graft.reliableCheckpoints)
    * keeps the logical plan O(1) across rounds. An undirected graph has
    * no dangling vertices (every endpoint has degree ≥ 1), so the
    * rank mass lost to truncation is the only leak — bounded by V per
    * round at scale 1e12, immaterial and identical in both engines.
    *
    * The vertex count reaching the driver is ONE scalar from a
    * distributed distinct-count (the same bounded-metadata shape as the
    * basket count in q112) — no per-row collect. */
  def pageRank(e: DataFrame, iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    val de = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adj = de.join(deg, Seq("src")).repartition(col("src")).persist()
    val n = adj.select(col("src")).distinct().count()
    val base = 15L * (scale / n) / 100L
    var ranks = deg.select(col("src").as("v"), lit(scale / n).as("r"))
    (1 to iters).foreach { _ =>
      ranks = adj.join(ranks.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst").as("v"))
        .agg((lit(base) + expr("(85 * sum(r div deg)) div 100")).as("r"))
        .cutLineage()
    }
    adj.unpersist()
    ranks.select(col("v").as("part_id"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("part_id"))
      .limit(25)
  }

  /** Personalized PageRank (random walk with restart) from the `nSeeds`
    * lowest-id vertices — the seeded variant of [[pageRank]] and the
    * data-selection workhorse: "rank everything by proximity to THIS
    * slice" (seed-expansion community detection, related-item retrieval,
    * DSIR-style target-affinity over a graph instead of n-grams). Global
    * PageRank teleports uniformly; PPR teleports ONLY to the seed set,
    * so rank mass decays with distance from the seeds and the top-k is a
    * locality-weighted neighborhood, not the global hub list.
    *
    * Same exact-integer recurrence discipline as [[pageRank]] (scale
    * 1e12, truncating `div` ≡ DuckDB `//` on the non-negative domain,
    * damping 85/100) so the oracle replays it bit-for-bit in a recursive
    * CTE. Iteration state is the FULL O(V) rank table — zero-rank rows
    * included — because the recurrence re-derives every vertex's rank
    * from its in-neighbors each round (a seed with no ranked neighbor
    * must still re-emit its restart mass, and the oracle's single
    * working-table reference can't anti-join the dropped rows back).
    * Per-round shuffle is O(V) ranks into the persisted, src-partitioned
    * O(E) adjacency — the q75/q138 discipline; the restart mass rides a
    * broadcast IN-filter over the tiny seed list, never a join.
    *
    * The walk restarts from a UNIFORM distribution over the seeds
    * (mass scale/nSeeds each); non-seeds start at zero. */
  def personalizedPageRank(e: DataFrame, nSeeds: Int = 5, iters: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    val de = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val adj = de.join(deg, Seq("src")).repartition(col("src")).persist()
    val verts = adj.select(col("src").as("v"))
    // bounded driver-side metadata: nSeeds ids (the bfsHops pattern)
    val seedIds = verts.distinct().orderBy(col("v")).limit(nSeeds)
      .collect().map(_.getLong(0)).toSeq
    val restart = scale / seedIds.length
    val base = 15L * restart / 100L
    var ranks = verts.distinct()
      .select(col("v"),
        when(col("v").isin(seedIds: _*), lit(restart)).otherwise(lit(0L)).as("r"))
    (1 to iters).foreach { _ =>
      ranks = adj.join(ranks.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(expr("(85 * sum(r div deg)) div 100").as("c"))
        .select(col("dst").as("v"),
          (when(col("dst").isin(seedIds: _*), lit(base)).otherwise(lit(0L)) +
            col("c")).as("r"))
        .cutLineage()
    }
    adj.unpersist()
    ranks.filter(col("r") > 0)
      .select(col("v").as("part_id"), col("r").as("ppr_fp"))
      .orderBy(col("ppr_fp").desc, col("part_id"))
      .limit(25)
  }

  /** k-core decomposition by iterative peeling: drop every vertex of
    * degree < k, repeat until stable — the standard community/spam
    * filter (a vertex survives iff it has k neighbors that also
    * survive). Each round is one degree aggregate + two LeftSemi joins
    * on the (shrinking) edge list; the frame is eagerly
    * lineage-cut per round (Checkpoints.cut) because every round references it
    * THREE times (the q118 componentsStars lesson — multi-reference
    * rounds grow the plan exponentially without truncation). The loop
    * stops at the true fixpoint — peeling is monotone decreasing, so an
    * unchanged edge COUNT proves an unchanged edge SET — with a
    * `maxRounds` cap the generated oracle unrolls to; degeneracy-order
    * peeling (bucket queues) is the single-machine trick, round-
    * synchronous peeling is its distributed form and converges in the
    * same worst-case O(V) rounds, ~10 here. */
  def kCore(e: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    var edges = e.select(col("u"), col("v")).cutLineage()
    var n = edges.count()
    var round = 0
    var done = n == 0
    while (!done && round < maxRounds) {
      val deg = edges.select(col("u").as("p")).unionAll(edges.select(col("v").as("p")))
        .groupBy(col("p")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("p"))
      val next = edges
        .join(deg.withColumnRenamed("p", "u"), Seq("u"), "left_semi")
        .join(deg.withColumnRenamed("p", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .cutLineage()
      val m = next.count()
      done = m == n
      n = m
      edges = next
      round += 1
    }
    edges.select(col("u").as("p")).unionAll(edges.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("core_degree"))
      .select(col("p").as("part_id"), col("core_degree"))
      .orderBy(col("part_id"))
  }

  /** Multi-source BFS hop distances: the `nSeeds` lowest-id vertices are
    * distance 0; every vertex within `maxHops` hops gets its minimum hop
    * count. Unreached vertices are absent (distance = ∞). The
    * reachability/geodesic face of the graph suite — k-hop neighborhood
    * expansion is the candidate-generation step of graph-based
    * recommendation and influence audits.
    *
    * Plan: the directed adjacency list is built once, hash-partitioned
    * on `src`, and persisted; each round LeftSemi-probes it with the
    * O(frontier) new-vertex set, distincts the neighbor set, and
    * anti-joins the O(V) visited table — per-round shuffle is frontier +
    * labels, never the O(E) edge side (q75/q138 discipline). Rounds are
    * bounded by `maxHops`, and each round's frame is eagerly
    * lineage-cut (Checkpoints.cut) so plan growth stays O(1) (the q118 lesson).
    * Frontier BFS beats the recursive-CTE form the oracle replays
    * precisely because the anti-join stops re-expanding visited
    * vertices — the CTE enumerates every ≤maxHops path, exponential on
    * dense graphs; the frontier form is O(E) total per hop level. */
  def bfsHops(e: DataFrame, nSeeds: Int = 3, maxHops: Int = 3): DataFrame = {
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")).persist()
    val seeds = adj.select(col("src").as("v")).distinct()
      .orderBy(col("v")).limit(nSeeds)
    var dist = seeds.select(col("v"), lit(0L).as("hops")).cutLineage()
    var frontier = dist.select(col("v"))
    (1 to maxHops).foreach { h =>
      val next = adj
        .join(frontier.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .select(col("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(h.toLong).as("hops"))
        .cutLineage()
      dist = dist.unionAll(next).cutLineage()
      frontier = next.select(col("v"))
    }
    adj.unpersist()
    dist.select(col("v").as("part_id"), col("hops"))
      .orderBy(col("hops"), col("part_id"))
  }

  /** Re-orient a canonical (u < v) edge list from each edge's
    * lower-DEGREE endpoint, ties broken by id — i.e. from the minimum
    * endpoint under the total order (degree, id). Output columns (s, t).
    *
    * This is the standard hub-taming refinement for wedge generation:
    * out-degree under this orientation is O(√E) on any graph (arboricity
    * bound), so a degree-d hub contributes ZERO wedges — its incident
    * edges all point INTO it — where id orientation can generate Θ(d²)
    * wedges at a low-id hub. Costs one degree aggregate plus two
    * vertex-keyed joins, all on the (small) edge list, and makes the
    * wedge join's fan-out skew-proof at 100×. */
  def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("u").as("p")).unionAll(e.select(col("v").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("p").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("p").as("v"), col("deg").as("dv")), Seq("v"))
      // u < v already, so equal degrees keep u first (lower id)
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("s"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("t"))
  }

  /** Wedge candidates the closure probe would scan for an oriented
    * (s, t) edge list: Σ_s C(outdeg(s), 2), in exact integers. The
    * join-size diagnostic GraphSpec uses to show degree orientation
    * stays linear on hub graphs where id orientation is quadratic. */
  def wedgeCount(oriented: DataFrame): Long =
    oriented.groupBy(col("s")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)))
      .head().getLong(0)

  /** Triangle count over a canonically-oriented (u < v) edge list.
    * Returns one row (n_edges, n_triangles). Exposed on the edge DF so
    * GraphSpec can pin the closure on hand-built graphs (K4 = 4,
    * chains/stars = 0) — oracle gates alone can't exercise degenerate
    * shapes.
    *
    * Plan: [[orientByDegree]], then wedges are ordered pairs of
    * out-neighbors (e1.t < e2.t keeps the pair canonical), closed by a
    * probe against the UNDIRECTED canonical list. Every triangle is
    * counted exactly once — at its minimum vertex under the (degree, id)
    * order, whose two out-edges form the wedge; the closing edge between
    * the other two endpoints is (lower id, higher id), exactly the e3
    * probe key. The count is identical to the id-oriented wedge join
    * (GraphSpec pins the equivalence), but the fan-out is arboricity-
    * bounded instead of max-degree-bounded. */
  def triangleCount(e: DataFrame): DataFrame = {
    val o = orientByDegree(e)
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.t") && col("e3.v") === col("e2.t"))
      .agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(tri))
  }

  /** Degree histogram of a canonically-oriented edge list: undirected
    * degree = out + in under the u < v orientation. */
  def degreeDistribution(e: DataFrame): DataFrame =
    e.select(col("u").as("p")).unionAll(e.select(col("v").as("p")))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("degree"))

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * made deterministic: every vertex starts labeled with its own id;
    * each round, every vertex adopts the label MOST FREQUENT among its
    * neighbours PLUS ITSELF (the self-vote damps the label-swap
    * oscillation plain synchronous LPA exhibits on bipartite motifs —
    * e.g. a single edge flips labels forever without it), ties broken
    * by smallest label; `iters` fixed rounds (asynchronous LPA
    * converges faster but is order-dependent — the synchronous
    * fixed-round form is the one two engines can replay bit-
    * identically, the q138 determinism convention).
    *
    * Plan: the directed adjacency is built once, hash-partitioned on
    * `src`, persisted; each round shuffles ONLY the O(V) label table
    * into that layout (q75/q138 discipline), counts (dst, label) votes
    * map-side-combined, and takes the per-vertex argmax as ONE
    * `max(struct(c, -label))` aggregate — max c, then min label, no
    * window. Per-round Checkpoints.cut keeps the plan O(1).
    *
    * Unlike min-label components (q75), LPA finds DENSE groups: a
    * bridge edge between two cliques does not merge them, because votes
    * across the bridge are outnumbered by votes within each clique. */
  def labelPropagation(e: DataFrame, iters: Int = 3): DataFrame = {
    val de = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")).persist()
    var labels = de.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab")).cutLineage()
    (1 to iters).foreach { _ =>
      labels = de
        .join(labels.select(col("id").as("src"), col("lab")), Seq("src"))
        .select(col("dst"), col("lab"))
        .unionAll(labels.select(col("id").as("dst"), col("lab")))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lab")).as("neg"))).as("m"))
        .select(col("dst").as("id"), (-col("m.neg")).as("lab"))
        .cutLineage()
    }
    de.unpersist()
    labels.select(col("id").as("part_id"), col("lab").as("community"))
      .orderBy(col("part_id"))
  }

  /** Degree assortativity of the co-purchase graph: Pearson correlation
    * of endpoint degrees over the DIRECTED edge list (each undirected
    * edge counted both ways — the standard Newman 2002 formulation, and
    * symmetric so Sx = Sy). All five moment sums are exact BIGINTs (one
    * map-side-combined aggregate over the degree-annotated edges, the
    * q82 exact-moment discipline); the correlation is a fixed tree of
    * correctly-rounded IEEE ops over those integers, so both engines
    * produce the identical double. BIGINT headroom: n·Sxx ≤ E²·d_max²
    * — fine to ~10⁹ edges; past that the q129 DECIMAL(38,0) widening
    * applies. A positive value means hub parts co-purchase with other
    * hubs (catalog core); negative means hubs pair with leaves. */
  def degreeAssortativity(e: DataFrame): DataFrame = {
    val de = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val sums = de
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
    // zero degree variance (a regular graph) leaves r undefined — emit
    // NaN explicitly rather than trip ANSI mode's 0/0 error
    val denom =
      sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
        sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    sums.select(col("n").as("n_directed_edges"),
      when(denom === 0.0, lit(Double.NaN))
        .otherwise(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") / denom)
        .as("assortativity"))
  }

  /** Newman modularity of a community labeling (part_id, community —
    * typically [[labelPropagation]]'s, maintained or standalone) — the
    * standard "was the community detection worth it" scalar (Q > 0.3 ≈
    * real structure; Q ≈ 0 ≈ random). For a partition C of an
    * undirected graph with m edges, Q = Σ_c [ l_c/m − (D_c/(2m))² ]
    * (l_c intra-community edges, D_c degree mass of c). Summing those
    * per-community doubles would make the result depend on addition
    * order, so the sum is CLEARED to one exact-integer ratio first:
    *
    *   Q = (4m·Σl_c − ΣD_c²) / (4m²)
    *
    * — both sides exact BIGINTs (headroom to ~10⁹ edges; past that the
    * q129 DECIMAL(38,0) widening applies), ONE IEEE division, engine-
    * bit-stable. Plan: the labeling is the q222 fixpoint; intra-edges =
    * the edge list joined to labels on each endpoint (two vertex-keyed
    * joins); degree mass = one label-keyed aggregate; the three 1-row
    * totals broadcast-combine (the q112 scalar pattern). */
  def modularity(e: DataFrame, labeling: DataFrame): DataFrame = {
    val labels = labeling
      .select(col("part_id").as("id"), col("community").as("lab"))
    val intra = e
      .join(labels.select(col("id").as("u"), col("lab").as("lu")), Seq("u"))
      .join(labels.select(col("id").as("v"), col("lab").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .agg(count(lit(1)).as("ie"))
    val de = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val deg = de.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val degc = deg.join(labels.select(col("id").as("src"), col("lab")), Seq("src"))
      .groupBy(col("lab")).agg(sum(col("deg")).as("dsum"))
    val stats = degc.agg(count(lit(1)).as("n_communities"),
      sum(col("dsum") * col("dsum")).as("sq"))
    val m = e.agg(count(lit(1)).as("m"))
    stats.crossJoin(broadcast(intra)).crossJoin(broadcast(m))
      .select(col("n_communities"), col("m").as("n_edges"),
        col("ie").as("intra_edges"),
        ((lit(4L) * col("m") * col("ie") - col("sq")).cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double")).as("modularity"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the from-scratch edge build is lineage-cut ONCE inside the timed
    // query (round 16, measured): triangleCount references its edge
    // list ~6 ways (degree union ×2, orient join, e1/e2/e3, the edge
    // count) and ReuseExchange cannot collapse them — each reference
    // re-ran the lineitem self-join + pair aggregate (summed task time
    // 42.7 s for a 6-7 s subtree). Cut, the build runs once and the
    // standalone-recompute claim (q111 precedent) still holds: the
    // build cost stays inside the timed window. A/B at sf0.1 (R16Probe,
    // warmed, pass 2): wall 1.98 -> 0.76 s, summed task 42.7 -> 9.3 s.
    "q107_triangles" -> { (s, d) =>
      triangleCount(graft.util.Checkpoints.cut(edges(s, d)))
    },

    "q108_degree_dist" -> { (s, d) => degreeDistribution(maintainedEdges(s, d)) },

    "q138_pagerank" -> { (s, d) => pageRank(maintainedEdges(s, d)) },

    // -- seeded proximity ranking over the same maintained graph.
    "q227_ppr" -> { (s, d) => personalizedPageRank(maintainedEdges(s, d)) },

    "q150_kcore" -> { (s, d) => kCore(maintainedEdges(s, d), k = 3) },

    "q167_bfs_hops" -> { (s, d) => bfsHops(maintainedEdges(s, d)) },

    // -- community detection over the maintained co-purchase graph.
    "q222_label_prop" -> { (s, d) =>
      labelPropagation(maintainedEdges(s, d))
    },

    // -- incremental maintenance of the co-purchase pair counts: the
    //    first 3 lines of every order are the base state, later lines
    //    arrive as the append window — a WITHIN-order split, so the
    //    base ⋈ Δ cross-pair half of the bilinear expansion does real
    //    work. The base items + pair state are MAINTAINED (memoized,
    //    Bench-warmed — the q130 standard: the timed line measures the
    //    INCREMENTAL fold, not a disguised rebuild); the oracle
    //    rebuilds the thresholded edge list from scratch:
    //    incremental ≡ full is the maintenance invariant.
    "q239_incremental_edges" -> { (s, d) =>
      val b = edgeBase(s, d)
      val delta = Tables.lineitem(s, d)
        .filter(col("l_linenumber") > 3)
        .select(col("l_orderkey"), col("l_partkey"))
      edgeDeltaFold(b.pairs, b.items, delta, "l_orderkey", "l_partkey")
        .filter(col("n_ab") >= MinCoOccurrence)
        .orderBy(col("u"), col("v"))
    },

    // -- q239 THROUGH THE PERSISTED DELTA-STORE (round 10 — the graph
    //    substrate's q248): the store seeds on the pre-window lines
    //    ([[graphStoreDir]] memo), this query folds the window through
    //    the disk path (Δ-pair slice + items slice, one atomic commit;
    //    replay no-op on repeat), COMPACTS the window into a
    //    pre-aggregated slice, and reads the merged thresholded edge
    //    list. Oracle = q239's full rebuild: incremental-through-
    //    parquet-then-compacted ≡ full.
    // -- round 13: the warehouse→GRAPH cascade — a basket refresh flows
    //    as warehouse CDC and the followed co-purchase graph must read
    //    as the full pair recompute over the POST-state baskets: %10
    //    baskets shrunk to their ln≤2 parts (their lost pairs CANCELLED
    //    by the upsert's negative Δ slice), %17 baskets removed, %9
    //    twins added. Summing the differential pairs feed stays exact
    //    through updates — nothing new for consumers.
    "q286_graph_cascade" -> { (s, d) =>
      val dir = graphCascadeDir(s, d)
      GraphStore.load(s, dir)._2
        .filter(col("n_ab") >= MinCoOccurrence)
        .orderBy(col("u"), col("v"))
    },

    "q258_graph_store_fold" -> { (s, d) =>
      val dir = graphStoreDir(s, d)
      GraphStore.maintainBatch(
        Tables.lineitem(s, d).filter(col("l_linenumber") > 3)
          .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"), col("l_partkey"), dir, batchId = 1L)
      GraphStore.compact(s, dir)
      GraphStore.load(s, dir)._2
        .filter(col("n_ab") >= MinCoOccurrence)
        .orderBy(col("u"), col("v"))
    },

    // -- TIME-TRAVEL on the graph substrate (q258 ∘ q261's pattern):
    //    after the store has folded the post-window lines and
    //    compacted, read the thresholded edge list AS OF the SEED
    //    commit through the archived manifest — the co-occurrence
    //    counts exactly as committed then. Oracle = the full rebuild
    //    restricted to the seed lines (l_linenumber <= 3): snapshot
    //    read ≡ as-it-was recompute. Fail-closed retention is pinned
    //    by TimeTravelSpec; fold/compact replays are no-ops, so this
    //    is order-independent with q258.
    "q265_graph_asof" -> { (s, d) =>
      val dir = graphStoreDir(s, d)
      GraphStore.maintainBatch(
        Tables.lineitem(s, d).filter(col("l_linenumber") > 3)
          .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"), col("l_partkey"), dir, batchId = 1L)
      GraphStore.compact(s, dir)
      GraphStore.loadAt(s, dir, 0L)._2
        .filter(col("n_ab") >= MinCoOccurrence)
        .orderBy(col("u"), col("v"))
    },

    // -- round 12: the graph substrate's CHANGE DATA FEED
    //    ([[graft.sources.ChangeFeedTable]] over
    //    [[graft.util.SliceManifest.changeDirs]]) — a DIFFERENTIAL stream: the
    //    delta-store's slices carry signed Δ-counts, so the feed since
    //    the seed commit, SUMMED, is exactly the edge-weight change
    //    the delta lines caused (base⋈Δ ∪ C(Δ,2)); the compact commit
    //    (a physical pre-aggregation of already-flowed rows)
    //    contributes nothing. Oracle = full pair counts MINUS
    //    seed-only pair counts. Fold/compact replays are no-ops, so
    //    this is order-independent with q258/q265.
    "q274_graph_change_feed" -> { (s, d) =>
      val dir = graphStoreDir(s, d)
      GraphStore.maintainBatch(
        Tables.lineitem(s, d).filter(col("l_linenumber") > 3)
          .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey"), col("l_partkey"), dir, batchId = 1L)
      GraphStore.compact(s, dir)
      s.read.format("graft").option("path", dir)
        .option("table", "changes.graph.pairs")
        .option("sinceCommit", "0").load()
        .groupBy(col("u"), col("v")).agg(sum(col("dn")).as("dn"))
        .filter(col("dn") =!= 0L)
        .orderBy(col("u"), col("v"))
    },

    // -- modularity of the q222 communities (partition-quality scalar),
    //    probing the MAINTAINED labeling (community assignments are
    //    refreshed state, like the edge table itself).
    "q234_modularity" -> { (s, d) =>
      modularity(maintainedEdges(s, d), lpaLabels(s, d))
    },

    // -- degree assortativity (graph-health scalar) over the same graph.
    "q223_assortativity" -> { (s, d) =>
      degreeAssortativity(maintainedEdges(s, d))
    },

    // -- association-rule mining face: top co-purchased pairs by LIFT =
    //    P(A,B) / (P(A)·P(B)) over order baskets. Pair and item supports
    //    come from two map-side-combined aggregates over the same
    //    order-level projection; the 1-row basket count broadcasts; the
    //    lift is ONE IEEE division of exact integer products —
    //    `(n_ab·N) / (n_a·n_b)` — so the ranking is engine-stable.
    //    Support floor MinCoOccurrence keeps the pair list the same
    //    bounded set the graph queries use.
    "q112_basket_lift" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      // guard disabled at oracle parity (basketPairs doc): TPC-H baskets
      // are order-width-bounded, so capped ≡ uncapped here
      val pairs = basketPairs(li, "l_orderkey", "l_partkey")
        .filter(col("n_ab") >= MinCoOccurrence)
      val items = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
      val baskets = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      pairs
        .join(items.select(col("l_partkey").as("u"), col("n_i").as("n_a")), Seq("u"))
        .join(items.select(col("l_partkey").as("v"), col("n_i").as("n_b")), Seq("v"))
        .crossJoin(broadcast(baskets))
        .withColumn("lift",
          (col("n_ab") * col("n_baskets")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
        .select(col("u"), col("v"), col("n_ab"), col("n_a"), col("n_b"), col("lift"))
        .orderBy(col("lift").desc, col("u"), col("v"))
        .limit(25)
    },

    // -- item-item collaborative filtering: top-3 nearest neighbors per
    //    part by co-occurrence COSINE n_ab/√(n_a·n_b) — the "customers
    //    also bought" rollup, and the per-item window-ranked face next
    //    to q112's global lift top-25. The cosine is √ then ÷ of exact
    //    integers, both correctly-rounded IEEE ops, so scores are
    //    engine-bit-identical and the (cosine DESC, id) rank is total.
    //    Plan: the order-width-bounded pair table mirrored to both
    //    directions, two vertex-keyed count joins, then a row_number
    //    window on part_id — a high-cardinality partition key, never a
    //    global sort. At 100 TB the fan-out per item is its neighbor
    //    count in the THRESHOLDED pair list, already bounded by the
    //    same support floor the graph queries share.
    "q169_item_neighbors" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      // thresholded pairs lineage-cut ONCE (round 16, measured): the
      // symmetric union below references `pairs` twice and each
      // reference re-ran the whole distinct + self-join + pair
      // aggregate. The cut table is the SMALL thresholded edge list;
      // the build still runs (once) inside the timed query. A/B at
      // sf0.1 (R16Probe, warmed): wall 2.62 -> 2.23 s, summed task
      // 12.5 -> 6.7 s (shuffle volume unchanged — ReuseExchange was
      // already deduplicating the pair aggregate's exchange; the saved
      // work is everything above it). Identical neighbors.
      val pairs = graft.util.Checkpoints.cut(
        basketPairs(li, "l_orderkey", "l_partkey")
          .filter(col("n_ab") >= MinCoOccurrence))
      val items = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
      val sym = pairs.select(col("u").as("i"), col("v").as("j"), col("n_ab"))
        .unionAll(pairs.select(col("v").as("i"), col("u").as("j"), col("n_ab")))
      val scored = sym
        .join(items.select(col("l_partkey").as("i"), col("n_i").as("n_a")), Seq("i"))
        .join(items.select(col("l_partkey").as("j"), col("n_i").as("n_b")), Seq("j"))
        .withColumn("cosine",
          col("n_ab").cast("double") / sqrt((col("n_a") * col("n_b")).cast("double")))
      val w = Window.partitionBy(col("i")).orderBy(col("cosine").desc, col("j"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("i").as("part_id"), col("rk"), col("j").as("neighbor_id"),
          col("n_ab").as("co_count"), col("cosine"))
        .orderBy(col("part_id"), col("rk"))
    }
  )

  private val edgesSql =
    s"""SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a
      |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence""".stripMargin

  /** The K synchronous LPA rounds unrolled (the q150 pattern; the
    * per-vertex argmax is the same (c DESC, lab) order Spark's
    * max(struct(c, −lab)) computes) — shared by q222 and q234 so the
    * labeling the modularity scores can never drift from the labeling
    * q222 gates. Produces CTEs e, de, l0..l`iters` (no leading WITH). */
  private def lpaCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (
        |  SELECT dst, lab, COUNT(*) AS c FROM (
        |    SELECT de.dst, l.lab FROM de JOIN l${k - 1} l ON de.src = l.id
        |    UNION ALL SELECT id AS dst, lab FROM l${k - 1})
        |  GROUP BY 1, 2),
        |l$k AS MATERIALIZED (
        |  SELECT dst AS id, lab FROM (
        |    SELECT dst, lab,
        |      ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, lab) AS rk
        |    FROM s$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (
      |  $edgesSql),
      |de AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
      |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM de),
      |$steps""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q107_triangles" ->
      s"""WITH e AS (
        |  $edgesSql)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT COUNT(*) FROM e e1
        |     JOIN e e2 ON e1.v = e2.u
        |     JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin,

    "q108_degree_dist" ->
      s"""WITH e AS (
        |  $edgesSql),
        |deg AS (
        |  SELECT p, COUNT(*) AS degree FROM (
        |    SELECT u AS p FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY p)
        |SELECT degree, COUNT(*) AS n_parts FROM deg
        |GROUP BY degree ORDER BY degree""".stripMargin,

    // Replays pageRank's integer recurrence exactly: same scale, same
    // truncating division at every step, same 5 rounds. `//` floor ≡
    // Spark `div` truncation because every operand is non-negative.
    "q138_pagerank" ->
      s"""WITH RECURSIVE
        |e AS (
        |  $edgesSql),
        |de AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT src AS v, COUNT(*) AS deg FROM de GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM deg),
        |pr AS (
        |  SELECT v, 1000000000000 // n.n AS r, 0 AS it FROM deg, n
        |  UNION ALL
        |  SELECT de.dst AS v,
        |    (15 * (1000000000000 // (SELECT n FROM n))) // 100
        |      + (85 * SUM(p.r // dg.deg)) // 100 AS r,
        |    p.it + 1 AS it
        |  FROM pr p JOIN de ON de.src = p.v JOIN deg dg ON dg.v = p.v
        |  WHERE p.it < 5
        |  GROUP BY de.dst, p.it)
        |SELECT v AS part_id, CAST(r AS BIGINT) AS rank_fp
        |FROM pr WHERE it = 5
        |ORDER BY rank_fp DESC, part_id LIMIT 25""".stripMargin,

    // The full-rebuild pair counts — incremental ≡ rebuild is the gate.
    "q239_incremental_edges" ->
      s"""SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
        |FROM lineitem a
        |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence
        |ORDER BY u, v""".stripMargin,

    // The followed graph ≡ the basket-pair recompute over the
    // POST-refresh baskets (distinct part sets): %10 shrunk to their
    // two smallest parts, %17 non-modified removed, %9 twins added
    // under +1e9 ids.
    "q286_graph_cascade" ->
      s"""WITH seedb AS (
        |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS item
        |  FROM lineitem
        |  WHERE l_orderkey % 10 <> 0
        |    AND NOT (l_orderkey % 17 = 0 AND l_orderkey % 10 <> 0)),
        |modb AS (
        |  SELECT ord, item FROM (
        |    SELECT ord, item,
        |      ROW_NUMBER() OVER (PARTITION BY ord ORDER BY item) AS rk
        |    FROM (SELECT DISTINCT l_orderkey AS ord, l_partkey AS item
        |          FROM lineitem WHERE l_orderkey % 10 = 0))
        |  WHERE rk <= 2),
        |twin AS (
        |  SELECT DISTINCT l_orderkey + 1000000000 AS ord, l_partkey AS item
        |  FROM lineitem WHERE l_orderkey % 9 = 0),
        |basket AS (
        |  SELECT * FROM seedb
        |  UNION ALL SELECT * FROM modb
        |  UNION ALL SELECT * FROM twin)
        |SELECT a.item AS u, b.item AS v, CAST(COUNT(*) AS BIGINT) AS n_ab
        |FROM basket a JOIN basket b
        |  ON a.ord = b.ord AND a.item < b.item
        |GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence
        |ORDER BY u, v""".stripMargin,

    // The same full rebuild: the disk fold + compact must be invisible.
    "q258_graph_store_fold" ->
      s"""SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
        |FROM lineitem a
        |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence
        |ORDER BY u, v""".stripMargin,

    // The snapshot read must land on the rebuild over the SEED lines
    // only — the corpus as it was at commit 0.
    "q265_graph_asof" ->
      s"""SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
        |FROM lineitem a
        |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        |WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3
        |GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence
        |ORDER BY u, v""".stripMargin,

    // The differential feed summed must equal full-minus-seed pair
    // counts — the fold's Δ slice is exactly the change its lines
    // caused, and the compact contributes nothing.
    "q274_graph_change_feed" ->
      s"""WITH allp AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |seed AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3
        |  GROUP BY 1, 2)
        |SELECT u, v, CAST(allp.n - COALESCE(seed.n, 0) AS BIGINT) AS dn
        |FROM allp LEFT JOIN seed USING (u, v)
        |WHERE allp.n - COALESCE(seed.n, 0) <> 0
        |ORDER BY u, v""".stripMargin,

    // q138's recursive replay with the seeded teleport: restart mass
    // only on the 5 lowest-id vertices, zero elsewhere; identical
    // integer recurrence (`//` floor ≡ Spark `div` on non-negatives).
    "q227_ppr" ->
      s"""WITH RECURSIVE
        |e AS (
        |  $edgesSql),
        |de AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT src AS v, COUNT(*) AS deg FROM de GROUP BY 1),
        |seeds AS (SELECT v FROM deg ORDER BY v LIMIT 5),
        |ns AS (SELECT COUNT(*) AS k FROM seeds),
        |pr AS (
        |  SELECT d.v,
        |    CASE WHEN d.v IN (SELECT v FROM seeds)
        |         THEN 1000000000000 // ns.k ELSE 0 END AS r,
        |    0 AS it
        |  FROM deg d, ns
        |  UNION ALL
        |  SELECT de.dst AS v,
        |    CASE WHEN de.dst IN (SELECT v FROM seeds)
        |         THEN (15 * (1000000000000 // (SELECT k FROM ns))) // 100
        |         ELSE 0 END
        |      + (85 * SUM(p.r // dg.deg)) // 100 AS r,
        |    p.it + 1 AS it
        |  FROM pr p JOIN de ON de.src = p.v JOIN deg dg ON dg.v = p.v
        |  WHERE p.it < 5
        |  GROUP BY de.dst, p.it)
        |SELECT v AS part_id, CAST(r AS BIGINT) AS ppr_fp
        |FROM pr WHERE it = 5 AND r > 0
        |ORDER BY ppr_fp DESC, part_id LIMIT 25""".stripMargin,

    // 12 unrolled peel rounds (the loop's maxRounds), MATERIALIZED so
    // the chained CTE references don't inline exponentially; fixpoint is
    // reached by round ~9 at verify scale, so the fixed unroll and the
    // fixpoint loop agree exactly.
    "q150_kcore" -> {
      val k = 3
      val rounds = 12
      val steps = (0 until rounds).map { i =>
        s"""d$i AS MATERIALIZED (
          |  SELECT p FROM (SELECT u AS p FROM e$i UNION ALL SELECT v FROM e$i)
          |  GROUP BY p HAVING COUNT(*) >= $k),
          |e${i + 1} AS MATERIALIZED (
          |  SELECT u, v FROM e$i
          |  WHERE u IN (SELECT p FROM d$i) AND v IN (SELECT p FROM d$i))""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
        |  $edgesSql),
        |$steps
        |SELECT p AS part_id, COUNT(*) AS core_degree
        |FROM (SELECT u AS p FROM e$rounds UNION ALL SELECT v FROM e$rounds)
        |GROUP BY p ORDER BY part_id""".stripMargin
    },

    // The K synchronous LPA rounds unrolled (the q150 pattern); the
    // per-vertex argmax is the same (c DESC, lab) order Spark's
    // max(struct(c, -lab)) computes.
    "q222_label_prop" ->
      s"""WITH ${lpaCtes(3)}
        |SELECT id AS part_id, CAST(lab AS BIGINT) AS community
        |FROM l3 ORDER BY part_id""".stripMargin,

    // Shared LPA CTE chain (no drift vs q222), then the cleared-integer
    // modularity ratio: Q = (4m·Σl_c − ΣD_c²) / (4m²) — the one IEEE
    // division both engines compute on identical BIGINTs.
    "q234_modularity" ->
      s"""WITH ${lpaCtes(3)},
        |deg AS (SELECT src AS p, COUNT(*) AS deg FROM de GROUP BY 1),
        |intra AS (
        |  SELECT COUNT(*) AS ie FROM e
        |  JOIN l3 a ON e.u = a.id JOIN l3 b ON e.v = b.id
        |  WHERE a.lab = b.lab),
        |degc AS (
        |  SELECT l.lab, CAST(SUM(dg.deg) AS BIGINT) AS dsum
        |  FROM deg dg JOIN l3 l ON dg.p = l.id GROUP BY 1),
        |st AS (
        |  SELECT COUNT(*) AS n_communities,
        |    CAST(SUM(dsum * dsum) AS BIGINT) AS sq
        |  FROM degc),
        |mm AS (SELECT COUNT(*) AS m FROM e)
        |SELECT n_communities, mm.m AS n_edges, ie AS intra_edges,
        |  CAST(4 * mm.m * ie - sq AS DOUBLE) /
        |    CAST(4 * mm.m * mm.m AS DOUBLE) AS modularity
        |FROM st, mm, intra""".stripMargin,

    // Identical exact-integer moment sums and the identical fixed IEEE
    // expression tree (CAST each operand, same associativity).
    "q223_assortativity" ->
      s"""WITH e AS (
        |  $edgesSql),
        |de AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT src AS p, COUNT(*) AS deg FROM de GROUP BY 1),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dx.deg) AS BIGINT) AS sx,
        |    CAST(SUM(dy.deg) AS BIGINT) AS sy,
        |    CAST(SUM(dx.deg * dx.deg) AS BIGINT) AS sxx,
        |    CAST(SUM(dy.deg * dy.deg) AS BIGINT) AS syy,
        |    CAST(SUM(dx.deg * dy.deg) AS BIGINT) AS sxy
        |  FROM de JOIN deg dx ON de.src = dx.p JOIN deg dy ON de.dst = dy.p)
        |SELECT n AS n_directed_edges,
        |  CASE WHEN SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |            SQRT(CAST(n * syy - sy * sy AS DOUBLE)) = 0.0
        |    THEN CAST('NaN' AS DOUBLE)
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       SQRT(CAST(n * syy - sy * sy AS DOUBLE))) END AS assortativity
        |FROM s""".stripMargin,

    // q167: recursive CTE with UNION (not UNION ALL) so (v, hops) pairs
    // dedup across iterations — bounds the fixpoint at V·(maxHops+1)
    // rows where path enumeration would be exponential.
    "q167_bfs_hops" ->
      s"""WITH RECURSIVE e AS (
        |  $edgesSql),
        |adj AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |seeds AS (SELECT src AS v FROM adj GROUP BY 1 ORDER BY v LIMIT 3),
        |bfs(v, hops) AS (
        |  SELECT v, CAST(0 AS BIGINT) FROM seeds
        |  UNION
        |  SELECT adj.dst, bfs.hops + 1 FROM bfs JOIN adj ON adj.src = bfs.v
        |  WHERE bfs.hops < 3)
        |SELECT v AS part_id, MIN(hops) AS hops FROM bfs
        |GROUP BY v ORDER BY hops, part_id""".stripMargin,

    "q112_basket_lift" ->
      s"""WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence),
        |items AS (
        |  SELECT l_partkey, COUNT(*) AS n_i FROM li GROUP BY 1),
        |baskets AS (
        |  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li)
        |SELECT u, v, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
        |  CAST(n_ab * n_baskets AS DOUBLE) / CAST(ia.n_i * ib.n_i AS DOUBLE) AS lift
        |FROM pairs
        |JOIN items ia ON ia.l_partkey = u
        |JOIN items ib ON ib.l_partkey = v
        |CROSS JOIN baskets
        |ORDER BY lift DESC, u, v LIMIT 25""".stripMargin,

    "q169_item_neighbors" ->
      s"""WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinCoOccurrence),
        |items AS (
        |  SELECT l_partkey, COUNT(*) AS n_i FROM li GROUP BY 1),
        |sym AS (
        |  SELECT u AS i, v AS j, n_ab FROM pairs
        |  UNION ALL SELECT v AS i, u AS j, n_ab FROM pairs),
        |scored AS (
        |  SELECT i, j, n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
        |    CAST(n_ab AS DOUBLE) / sqrt(CAST(ia.n_i * ib.n_i AS DOUBLE)) AS cosine
        |  FROM sym
        |  JOIN items ia ON ia.l_partkey = i
        |  JOIN items ib ON ib.l_partkey = j),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY i ORDER BY cosine DESC, j) AS rk
        |  FROM scored)
        |SELECT i AS part_id, rk, j AS neighbor_id, n_ab AS co_count, cosine
        |FROM rk WHERE rk <= 3
        |ORDER BY part_id, rk""".stripMargin
  )
}
