package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge-list DataFrames — the second member of the
  * family started by [[Dedup.dedupClusters]] (connected components).
  *
  * Everything is expressed as keyed joins and aggregations on the edge
  * list, so the shuffle key is the vertex id and the plans scale the
  * same way any fact-table aggregation does. No GraphX, no RDDs.
  */
object Graph {

  /** Fixed-point PageRank: `iters` synchronous power-iteration rounds
    * with ALL arithmetic in scaled 64-bit integers (mass `massScale`
    * split by integer division, damping as the exact ratio
    * `dampNum/dampDen`), so the result is bit-identical across engines
    * and partitionings — integer sums commute, and every division is
    * `div` on longs. This is deliberately NOT float PageRank: the goal
    * is a deterministic, oracle-replayable ranking, and rank ORDER is
    * what analytics consumes (the ~1e-12 quantization is far below any
    * meaningful rank gap).
    *
    * The graph is treated as DIRECTED; callers wanting undirected
    * semantics union both edge directions first (then every node has
    * out-degree ≥ 1 and no dangling-mass correction is needed — the
    * configuration the gated query uses). Nodes are all edge sources;
    * with both directions present that is every node in the graph.
    *
    * Shape at 100 TB: per iteration, ONE shuffle — contributions
    * equi-join ranks to edge sources (both sides hash-partitioned by
    * vertex id; a pre-bucketed edge table makes this exchange-free on
    * the edge side) and aggregate by destination with map-side partial
    * sums. The rank vector is |V| rows, edges |E| rows; nothing larger
    * is ever materialized. Lineage is flattened by a localCheckpoint
    * every 4 rounds (not every round — short runs then execute as a
    * single job; same pattern as [[Dedup.dedupClusters]], lighter
    * cadence).
    *
    * @return (node, rank) — scaled-integer ranks summing to ≈ massScale
    */
  def pageRankFixed(
      edges: DataFrame,
      iters: Int,
      dampNum: Long = 85,
      dampDen: Long = 100,
      massScale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    // the edge cache is HASH-PARTITIONED on src AND SORTED within
    // partitions ONCE: every round's rank join then reads both the
    // partitioning and the ordering from the cache (InMemoryRelation
    // preserves both), so the per-round sort-merge join neither
    // exchanges nor re-sorts the |E|-sized side — only the |V|-sized
    // rank vector moves (and sorts) per round. Degrees and nodes
    // derive from the cached layout exchange-free (groupBy(src) is
    // satisfied by hash(src)), where the previous shape paid four
    // |E|-sized exchanges at setup and an |E| sort per round.
    val e = Caches.persisted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
        .repartition(col("src")).sortWithinPartitions("src"))
    val deg = Caches.persisted(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg")))
    val nodes = Caches.persisted(deg.select(col("node")))
    // out-degree rides ON the edge row (one join at setup, not one per
    // round) — each round is then exactly one join + one aggregation
    val eDeg = Caches.persisted(
      e.join(deg.withColumnRenamed("node", "src"), "src"))
    // one O(1) action: the node count is a scalar in every rank formula
    val n = nodes.count()
    require(n > 0, "graph has no edges")
    val base = massScale / n // uniform share, integer-floored
    var ranks = nodes.select(col("node"), lit(base).as("rank"))
    var lastCkpt: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .withColumn("share", expr("rank div outdeg"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("contrib"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base * (dampDen - dampNum) / dampDen) +
            expr(s"$dampNum * coalesce(contrib, 0L) div $dampDen")).as("rank"))
      // flatten lineage every few rounds, not every round: short runs
      // (the common 3-5 iteration configs) then execute as ONE job,
      // while long runs still get bounded plans. Results are identical
      // either way — integer arithmetic is materialization-invariant.
      // Once a newer checkpoint materializes, the older one's blocks
      // are unreferenced — free them (long runs would otherwise leak a
      // rank vector per checkpoint for the session's lifetime).
      if ((i + 1) % 4 == 0 && i != iters - 1) {
        ranks = ranks.localCheckpoint(true)
        lastCkpt.foreach(_.unpersist(false))
        lastCkpt = Some(ranks)
      }
    }
    ranks
  }

  /** Personalized PageRank: [[pageRankFixed]] with the teleport mass
    * restricted to a SEED set — "influence as seen from these nodes"
    * (trust propagation from verified accounts, related-item scores
    * from a query set, contamination influence from flagged docs).
    * Identical scaled-integer discipline: the uniform teleport
    * `massScale/|seeds∩graph|` flows only to in-graph seed nodes, every
    * division is a floor on non-negative longs, so the iteration
    * replays bit-for-bit in the oracle. Seeds outside the graph are
    * ignored (they can neither receive nor emit mass).
    *
    * Shape at 100 TB: identical to [[pageRankFixed]] — one keyed
    * join + one combinable aggregation per round; the seed flag rides
    * the node spine (one extra join at setup, not per round).
    */
  def pageRankPersonalized(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      dampNum: Long = 85,
      dampDen: Long = 100,
      massScale: Long = 1000000000000L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen)
    // same once-partitioned, once-sorted edge cache as pageRankFixed:
    // per round only the rank vector exchanges and sorts
    val e = Caches.persisted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
        .repartition(col("src")).sortWithinPartitions("src"))
    val deg = Caches.persisted(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg")))
    val sd = seeds.select(col(seeds.columns.head).as("node")).distinct()
    // seed flag on the node spine: 1 for in-graph seeds, else 0
    val nodes = Caches.persisted(
      deg.select(col("node"))
        .join(sd.withColumn("__is", lit(1L)), Seq("node"), "left")
        .select(col("node"), coalesce(col("__is"), lit(0L)).as("__seed")))
    val eDeg = Caches.persisted(
      e.join(deg.withColumnRenamed("node", "src"), "src"))
    val nSeeds = nodes.agg(sum(col("__seed"))).head().getLong(0)
    require(nSeeds > 0, "no seed node appears in the graph")
    val base = massScale / nSeeds
    val teleport = base * (dampDen - dampNum) / dampDen
    var ranks = nodes.select(col("node"), (col("__seed") * base).as("rank"))
    var lastCkpt: Option[DataFrame] = None
    for (i <- 0 until iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .withColumn("share", expr("rank div outdeg"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("contrib"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("__seed") * teleport +
            expr(s"$dampNum * coalesce(contrib, 0L) div $dampDen")).as("rank"))
      if ((i + 1) % 4 == 0 && i != iters - 1) {
        ranks = ranks.localCheckpoint(true)
        lastCkpt.foreach(_.unpersist(false))
        lastCkpt = Some(ranks)
      }
    }
    ranks
  }

  /** Clamped label propagation: semi-supervised node classification —
    * seed nodes keep their label forever; every other node adopts, each
    * synchronous round, the MOST FREQUENT label among its in-neighbors
    * (ties to the smallest label; no labeled neighbor yet → stays
    * unlabeled). The auto-labeling workhorse: classify millions of
    * items from thousands of seeds through a similarity/co-occurrence
    * graph (the graph analog of [[graft.SparkEntry]]'s kNN label vote).
    *
    * Deterministic by construction — counts are integers and the
    * argmax order is total — so a fixed `iters` run replays
    * bit-for-bit in the oracle, like [[pageRankFixed]].
    *
    * Shape at 100 TB: per round, one vertex-keyed join of the label
    * vector to the edge list and one (node,label) count shuffle with
    * map-side partials; the argmax window partitions by node over each
    * node's ≤ degree candidate labels. Label vector is |V| rows,
    * localCheckpointed per round to keep lineage flat.
    *
    * @param seeds (node, label) — the clamped supervision set
    * @return (node, label) for every node labeled after `iters` rounds
    */
  def labelPropagation(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 0)
    // partitioned by src and sorted ONCE: each round's label join was
    // previously exchanging AND sorting the full |E| edge cache (the
    // distinct-produced hash(src,dst) layout does not satisfy a join
    // on src) — now only the |V|-sized label vector moves per round
    val e = Caches.persisted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
        .repartition(col("src")).sortWithinPartitions("src"))
    // every round's relabel references the node spine twice — persist it
    val nodes = Caches.persisted(e.select(col("src").as("node")).distinct())
    val seed = seeds.toDF("node", "__seed")
    var labels = nodes.join(seed, Seq("node"), "left")
      .select(col("node"), col("__seed").as("label"))
    var lastCkpt: Option[DataFrame] = None
    for (i <- 0 until iters) {
      // argmax as an aggregation, not a window: min_by over the total
      // order (-n, label) picks highest count, ties to the smallest
      // label — identical semantics to the row_number formulation but
      // hash-aggregated (no per-round sort of the candidate table)
      val majority = e
        .join(labels.withColumnRenamed("node", "src"), "src")
        .where(col("label").isNotNull)
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy("node")
        .agg(min_by(col("label"),
          struct((-col("n")).as("a"), col("label").as("b"))).as("__maj"))
      labels = nodes
        .join(seed, Seq("node"), "left")
        .join(majority, Seq("node"), "left")
        .select(col("node"), coalesce(col("__seed"), col("__maj")).as("label"))
      // same every-4-rounds flattening (and old-block freeing) as
      // pageRankFixed: short runs execute as one job, results unchanged
      if ((i + 1) % 4 == 0 && i != iters - 1) {
        labels = labels.localCheckpoint(true)
        lastCkpt.foreach(_.unpersist(false))
        lastCkpt = Some(labels)
      }
    }
    labels.where(col("label").isNotNull)
  }

  /** Multi-source BFS: the minimum hop distance from any seed node,
    * up to `maxHops` — reachability radius, influence horizon,
    * contamination spread ("every doc within 2 similarity hops of a
    * flagged doc"), and the distance feature behind graph-proximity
    * labels. Unreached nodes are absent from the output.
    *
    * Frontier iteration: round h joins ONLY the previous frontier
    * (nodes first reached at h−1) to the edge list and anti-joins the
    * visited set — work per round is frontier-sized, not graph-sized,
    * and the whole run touches each edge at most twice (once per
    * endpoint's first reach). Distances are exact small integers;
    * rounds = min(diameter, maxHops). Each frontier is
    * localCheckpointed: lineage stays flat and `isEmpty` (the
    * early-exit probe) reads a materialized block instead of re-running
    * the round.
    *
    * Shape at 100 TB: per round one equi-join keyed by vertex id
    * (broadcast when the frontier is small — AQE decides) plus one
    * anti-join against the visited set (≤ |V| rows); the visited set
    * doubles as the result. Same keyed-shuffle scaling as
    * [[pageRankFixed]], but with frontier-bounded instead of
    * graph-bounded rounds.
    *
    * @param seeds one-column DataFrame of seed node ids (dist 0)
    * @return (node, dist) for every node within `maxHops` of a seed
    */
  def bfsDistances(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 0)
    // partitioned by src and sorted once, like labelPropagation: the
    // per-hop frontier join reads layout from the cache instead of
    // re-exchanging the edge table each hop
    val e = Caches.persisted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
        .repartition(col("src")).sortWithinPartitions("src"))
    var dist = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist
    var h = 1
    var continue = maxHops >= 1
    while (continue) {
      val next = frontier.select(col("node").as("src"))
        .join(e, "src").select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .localCheckpoint(true)
      if (next.isEmpty) continue = false
      else {
        dist = dist.unionAll(next)
        frontier = next
        if (h == maxHops) continue = false
        h += 1
      }
    }
    dist
  }

  /** TRANSITIVE ANCESTOR CLOSURE of a forest/DAG — the recursive-CTE
    * capability Spark SQL lacks (`WITH RECURSIVE`), as an operator:
    * for every node, every ancestor reachable through `edges`
    * (child → parent) with its hop distance, plus the depth-0 self
    * row. The primitive under bill-of-materials explosions, org-chart
    * and category-tree rollups, and path-to-root queries; compose with
    * a value join + group-by-ancestor for subtree aggregates
    * (`q_hierarchy_rollup`).
    *
    * Iterated frontier joins, the [[bfsDistances]] discipline with
    * levels BATCHED: `batch` successive parent-joins build as ONE lazy
    * plan per materialization (each join keyed on the parent id,
    * broadcast when the frontier is small — AQE decides), so a
    * depth-18 hierarchy pays 3 checkpoint/probe rounds instead of 18 —
    * per-level job overhead, not join work, dominates metadata-sized
    * hierarchies. Levels are bounded by the hierarchy's DEPTH (≈ log
    * of its size for balanced trees; `maxDepth` caps degenerate chains
    * loudly rather than looping). Total closure size is Σ node depths
    * — |V|·depth worst case, the well-known cost of materialized
    * transitive closure; at 100 TB hierarchies are metadata-sized next
    * to facts, which is exactly why the closure is worth materializing
    * once and joining facts against it. DAG multi-parent nodes keep
    * one closure row PER PATH (UNION ALL semantics — what subtree
    * aggregates over a DAG need to weight shared descendants).
    *
    * Cycles: a cycle would never converge by itself; the `maxDepth`
    * bound turns it into a loud require failure instead of an infinite
    * loop (a closure over a cyclic graph is a components question, not
    * an ancestry one).
    */
  def ancestorClosure(
      edges: DataFrame,
      nodes: DataFrame,
      maxDepth: Int = 64,
      batch: Int = 6,
      childCol: String = "child",
      parentCol: String = "parent"): DataFrame = {
    require(batch >= 1)
    val e = Caches.persisted(
      edges.select(col(childCol).as("child"), col(parentCol).as("parent")).distinct())
    def up(f: DataFrame): DataFrame = f
      .select(col("node"), col("anc").as("child"), col("depth"))
      .join(e, "child")
      .select(col("node"), col("parent").as("anc"), (col("depth") + 1L).as("depth"))
    var acc = nodes.select(col(nodes.columns.head).as("node"))
      .distinct()
      .select(col("node"), col("node").as("anc"), lit(0L).as("depth"))
      .localCheckpoint(true)
    var frontier = e
      .select(col("child").as("node"), col("parent").as("anc"), lit(1L).as("depth"))
      .localCheckpoint(true)
    var d = 1
    while (!frontier.isEmpty) {
      require(d <= maxDepth,
        s"hierarchy deeper than maxDepth=$maxDepth — degenerate chain or cycle")
      // `batch` levels as one lazy plan off the materialized frontier;
      // only the batch's LAST level materializes for the next probe
      val levels = Iterator.iterate(frontier)(up).take(batch).toSeq
      acc = acc.unionAll(levels.reduce(_ unionAll _))
      frontier = up(levels.last).localCheckpoint(true)
      d += batch
    }
    acc
  }

  /** O(delta) MAINTENANCE of a materialized [[ancestorClosure]] under
    * SUBTREE INSERTS — the common hierarchy mutation (new categories,
    * new org reports, new BOM components attach beneath existing
    * nodes): the delta's internal closure is computed on the
    * DELTA-sized subforest only, and paths that exit into the existing
    * hierarchy compose with the old closure by ONE keyed join — the
    * old closure rows are reused verbatim, never recomputed
    * (`incr_hierarchy_maintain` gates maintain == full rebuild
    * exactly). Contract: `newEdges`' children are exactly `newNodes`
    * (REQUIRED — re-parenting an existing node invalidates old closure
    * rows and needs a rebuild of the affected subtree).
    */
  def extendAncestorClosure(
      closure: DataFrame,
      newEdges: DataFrame,
      newNodes: DataFrame,
      maxDepth: Int = 64,
      childCol: String = "child",
      parentCol: String = "parent"): DataFrame = {
    // persisted: the new-node set is referenced three times (the
    // re-parenting probe, the internal semi-join, the boundary
    // anti-join) and the delta closure twice (internal + boundary) —
    // without the caches each reference re-derives the caller's whole
    // delta subplan (incl. any window/rank upstream) from scratch
    val nn = Caches.persisted(
      newNodes.select(col(newNodes.columns.head).as("__nn")).distinct())
    require(newEdges.select(col(childCol).as("__nn"))
      .join(nn, Seq("__nn"), "left_anti").isEmpty,
      "extendAncestorClosure: every new edge's child must be a NEW node " +
        "(re-parenting existing nodes requires a rebuild)")
    val dcl = Caches.persisted(ancestorClosure(newEdges, newNodes, maxDepth,
      childCol = childCol, parentCol = parentCol))
    val internal = dcl.join(nn.withColumnRenamed("__nn", "anc"), Seq("anc"), "left_semi")
      .select("node", "anc", "depth")
    val boundary = dcl.join(nn.withColumnRenamed("__nn", "anc"), Seq("anc"), "left_anti")
    val composed = boundary
      .select(col("node"), col("anc").as("__p"), col("depth").as("__d"))
      .join(closure.select(col("node").as("__p"), col("anc"),
        col("depth").as("__d2")), "__p")
      .select(col("node"), col("anc"), (col("__d") + col("__d2")).as("depth"))
    closure.unionByName(internal).unionByName(composed)
  }

  /** SUBTREE MOVE maintenance of a materialized [[ancestorClosure]] —
    * the second-most-common hierarchy mutation after inserts (a
    * category re-files, a team re-orgs, a BOM assembly moves):
    * `movedNode` detaches from ALL its current parents and re-attaches
    * beneath `newParent`, and the closure updates at SUBTREE cost, not
    * rebuild cost. Internal rows (both ends inside the moved subtree)
    * and rows not touching the subtree are reused verbatim; the only
    * deleted rows are subtree-node → outside-ancestor paths (≤ subtree
    * size × depth of them), and the replacements compose each
    * subtree-node → movedNode path with each newParent → ancestor path
    * — a (subtree size × new-parent depth)-bounded product, both sides
    * metadata-sized, per-path DAG multiplicity preserved on both
    * factors.
    *
    * Loud preconditions (each a metadata-sized probe): `movedNode` and
    * `newParent` must exist in the closure; `newParent` must be OUTSIDE
    * the moved subtree (attaching beneath a descendant is a cycle); and
    * no subtree node other than `movedNode` may have an edge to a
    * parent outside the subtree — such a path does not route through
    * `movedNode`, the closure stores no per-path provenance to
    * reassign it, and the move degrades to a rebuild of the affected
    * region (the same contract boundary as [[extendAncestorClosure]]'s
    * no-re-parenting rule). Multi-parent nodes INSIDE the subtree are
    * fine. The caller owns the edge table and applies the matching
    * edge rewrite (`incr_hierarchy_move` gates maintain == full
    * rebuild on the rewritten edges exactly).
    */
  def moveSubtree(
      closure: DataFrame,
      edges: DataFrame,
      movedNode: Any,
      newParent: Any,
      childCol: String = "child",
      parentCol: String = "parent"): DataFrame = {
    val m = lit(movedNode)
    val np = lit(newParent)
    val sub = Caches.persisted(
      closure.where(col("anc") === m).select(col("node")).distinct())
    require(!closure.where(col("node") === m && col("depth") === 0L).isEmpty,
      s"moveSubtree: moved node $movedNode is not in the closure")
    require(!closure.where(col("node") === np && col("depth") === 0L).isEmpty,
      s"moveSubtree: new parent $newParent is not in the closure")
    require(sub.where(col("node") === np).isEmpty,
      s"moveSubtree: new parent $newParent is inside the moved subtree — a cycle")
    val e = edges.select(col(childCol).as("child"), col(parentCol).as("parent"))
    require(e.join(sub.withColumnRenamed("node", "child"), Seq("child"), "left_semi")
      .where(col("child") =!= m)
      .join(sub.withColumnRenamed("node", "parent"), Seq("parent"), "left_anti")
      .isEmpty,
      "moveSubtree: a subtree node other than the moved root has a parent " +
        "outside the subtree — its paths do not route through the moved node; " +
        "rebuild the affected region instead")
    // keep: rows whose node is outside the subtree, plus fully-internal
    // subtree rows; drop only subtree-node -> outside-ancestor paths
    val cols = Seq("node", "anc", "depth").map(col)
    val kept = closure.join(sub, Seq("node"), "left_anti").select(cols: _*)
      .unionByName(closure.join(sub, Seq("node"), "left_semi")
        .join(sub.withColumnRenamed("node", "anc"), Seq("anc"), "left_semi")
        .select(cols: _*))
    // re-extend: (node -> movedNode paths) x (newParent -> anc paths),
    // +1 for the new edge; an explicit bounded product of two
    // metadata-sized sets (subtree rows to m, new parent's ancestry).
    // The ancestry, one row per ancestor path, is broadcast: the
    // product then runs one task per partition of the subtree side,
    // where a cartesian of two closure filters runs one per partition
    // PAIR
    val toM = closure.where(col("anc") === m)
      .select(col("node"), col("depth").as("__d"))
    val up = closure.where(col("node") === np)
      .select(col("anc"), col("depth").as("__d2"))
    val rerouted = toM.crossJoin(broadcast(up))
      .select(col("node"), col("anc"), (col("__d") + 1L + col("__d2")).as("depth"))
    kept.unionByName(rerouted)
  }

  /** SUBTREE DELETE maintenance of a materialized [[ancestorClosure]]
    * — the third hierarchy mutation (a category retires, an org
    * dissolves, a BOM assembly is discontinued): `removedNode` and its
    * whole subtree leave, and the closure updates by ONE anti-join —
    * every closure row whose `node` is in the subtree disappears, and
    * no other row can reference the subtree (an ancestor path from a
    * surviving node through a deleted one would make that survivor a
    * subtree member — contradiction), so nothing else changes.
    *
    * Loud precondition (metadata-sized probe, DAG case): no subtree
    * node other than the removed root may have a parent OUTSIDE the
    * subtree — such a multi-parent node would survive a true edge
    * delete through its outside parent, but the closure stores no
    * per-path provenance to keep only those rows; re-parent it first
    * ([[moveSubtree]]) or rebuild. Same contract boundary as the move.
    * Callers own the matching edge/node deletions.
    */
  def removeSubtree(
      closure: DataFrame,
      edges: DataFrame,
      removedNode: Any,
      childCol: String = "child",
      parentCol: String = "parent"): DataFrame = {
    val m = lit(removedNode)
    val sub = Caches.persisted(
      closure.where(col("anc") === m).select(col("node")).distinct())
    require(!closure.where(col("node") === m && col("depth") === 0L).isEmpty,
      s"removeSubtree: node $removedNode is not in the closure")
    val e = edges.select(col(childCol).as("child"), col(parentCol).as("parent"))
    require(e.join(sub.withColumnRenamed("node", "child"), Seq("child"), "left_semi")
      .where(col("child") =!= m)
      .join(sub.withColumnRenamed("node", "parent"), Seq("parent"), "left_anti")
      .isEmpty,
      "removeSubtree: a subtree node other than the removed root has a parent " +
        "outside the subtree — it would survive a true edge delete; re-parent it " +
        "(moveSubtree) or rebuild instead")
    closure.join(sub, Seq("node"), "left_anti")
      .select(col("node"), col("anc"), col("depth"))
  }

  /** k-core: the maximal subgraph where every node keeps degree ≥ k —
    * the standard density filter (spam/bot rings, community cores,
    * "drop the long tail of barely-connected pages before expensive
    * graph features"). Computed by iterative peeling: drop nodes with
    * degree < k, recompute, repeat until stable. Peeling is SET-BASED
    * and order-free, so the fixpoint is unique and deterministic on any
    * partitioning — and idempotent, which is what lets the oracle
    * unroll a fixed round count (extra rounds at the fixpoint remove
    * nothing).
    *
    * Shape at 100 TB: per round one combinable degree count + two
    * anti-joins keyed by vertex (the dropped-node set, usually small
    * after round 1, broadcasts — AQE decides). Peel rounds are BATCHED:
    * `batch` rounds build as one lazy plan per materialization (the
    * identical degree subtrees inside a batch reuse one exchange), so
    * the driver round-trips are ceil(depth / batch) instead of one per
    * peel level — peeling is idempotent at the fixpoint, so overshooting
    * inside a batch removes nothing. Stability rides the checkpoint job
    * as an observed edge count (peeling only ever removes edges, so an
    * unchanged count across a whole batch IS the fixpoint) — zero extra
    * actions.
    *
    * @return (node, core_degree) for every surviving node, with its
    *         degree inside the k-core (≥ k)
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      maxRounds: Int = 50,
      batch: Int = 2,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(k >= 1 && maxRounds >= 1 && batch >= 1)
    def checkpointWithCount(ed: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = ed.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
      (ck, obs.get("n").asInstanceOf[Long])
    }
    def peel(ed: DataFrame): DataFrame = {
      val drop = ed.groupBy("src").agg(count(lit(1)).as("__n"))
        .where(col("__n") < k).select(col("src").as("__bad"))
      ed.join(drop.withColumnRenamed("__bad", "src"), Seq("src"), "left_anti")
        .join(drop.withColumnRenamed("__bad", "dst"), Seq("dst"), "left_anti")
    }
    var (e, n) = checkpointWithCount(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    var rounds = 0
    var stable = n == 0L
    while (!stable && rounds < maxRounds) {
      val steps = math.min(batch, maxRounds - rounds)
      val (next, nNext) = checkpointWithCount(
        (0 until steps).foldLeft(e)((cur, _) => peel(cur)))
      e.unpersist(false)
      stable = nNext == n
      e = next
      n = nNext
      rounds += steps
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction — provably O(log n) rounds on ANY graph topology
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14), where plain min-label propagation
    * ([[Dedup.dedupClusters]]) needs O(diameter) rounds: a 10⁶-node
    * path graph is 10⁶ propagation rounds but ~20 star contractions.
    * dedupClusters stays the right tool for near-dup clusters (dense,
    * diameter ≤ 2, cheaper per round); THIS is the general-graph tier.
    *
    * Each round rewires edges toward component minima:
    *  - large-star: every node attaches its strictly LARGER neighbors
    *    to the minimum of its closed neighborhood — each undirected
    *    edge is rewritten exactly once (at its smaller endpoint's
    *    grouping), so no round ever grows the edge set;
    *  - small-star: every node attaches its smaller neighbors and
    *    itself to the minimum of that set.
    * The fixed point of the alternation is a disjoint union of stars
    * centered on component minima; labels then read off as one
    * neighborhood-min aggregation.
    *
    * Shape at 100 TB: each half-round is ONE explode (the
    * bidirectional view), one vertex-keyed aggregation for the
    * neighborhood min, and one equi-join back — all shuffled on the
    * vertex id with map-side partials, nothing ever larger than the
    * current edge set. Edge sets are localCheckpointed per half-round
    * (flat lineage); convergence rides the checkpoint job as an
    * Observation fingerprint (count + order-free bit_xor of row
    * hashes), zero extra actions.
    *
    * @param pairs edge list (one row per undirected edge, any
    *              orderable id type)
    * @return (node, component_id) for every node with ≥ 1 edge;
    *         component_id is the component's minimum node id
    */
  def connectedComponents(
      pairs: DataFrame,
      maxRounds: Int = 50,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    connectedComponentsWithRounds(pairs, maxRounds, srcCol, dstCol)._1

  /** [[connectedComponents]] plus the number of large+small star
    * alternation cycles it ran — the observable the O(log n) spec
    * pins. */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      maxRounds: Int = 50,
      srcCol: String = "src",
      dstCol: String = "dst"): (DataFrame, Int) = {
    require(maxRounds >= 1)
    // canonical undirected edge set (a < b), self-loops dropped
    var e = pairs
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
      .distinct().localCheckpoint(true)

    // both directions in one pass (explode, not a double-scan union)
    def bidir(ed: DataFrame): DataFrame = ed
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

    // materialize a candidate edge set and fingerprint it in the same
    // job: (row count, order-free xor of row hashes) — equal
    // fingerprints on consecutive half-rounds mean the set is stable
    def checkpointWithFp(ed: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val ck = ed.observe(obs,
        count(lit(1)).as("n"),
        bit_xor(xxhash64(col("a"), col("b"))).as("h")).localCheckpoint(true)
      val n = obs.get("n").asInstanceOf[Long]
      val h = if (n == 0L) 0L else obs.get("h").asInstanceOf[Long]
      (ck, (n, h))
    }

    // large-star: for each center u, m = min(Γ(u) ∪ {u}); every
    // neighbor v > u re-attaches as (m, v). m ≤ u < v keeps the output
    // canonical with no re-sort.
    def largeStar(ed: DataFrame): DataFrame = {
      val nbr = bidir(ed)
      val m = nbr.groupBy("u")
        .agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("__mv"), col("u")).as("m"))
      nbr.where(col("v") > col("u"))
        .join(m, "u")
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
    }

    // small-star: for each center u with smaller neighbors Γ<(u),
    // m = min(Γ<(u)); each v ∈ Γ<(u) \ {m} re-attaches as (m, v), and
    // the center keeps (m, u). Centers with only larger neighbors stay
    // connected through those neighbors' own groupings.
    def smallStar(ed: DataFrame): DataFrame = {
      val nbrLt = bidir(ed).where(col("v") < col("u"))
      val m = nbrLt.groupBy("u").agg(min(col("v")).as("m"))
      val rewired = nbrLt.join(m, "u")
        .where(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
      val center = m.select(col("m").as("a"), col("u").as("b"))
      rewired.unionAll(center).distinct()
    }

    // one materialization per HALF-round is deliberate: both star ops
    // read their input twice (neighbor-min aggregate + join back), so
    // an unmaterialized upstream would re-execute inside the join —
    // composing the halves into one lazy job was measured SLOWER
    var fp = (-1L, 0L)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val (afterL, fpL) = checkpointWithFp(largeStar(e))
      e.unpersist(false)
      val (afterS, fpS) = checkpointWithFp(smallStar(afterL))
      afterL.unpersist(false)
      e = afterS
      // stable across BOTH halves of the cycle → fixed point of the
      // alternation → stars
      converged = fpL == fp && fpS == fp
      fp = fpS
      rounds += 1
    }
    val labels = bidir(e)
      .groupBy(col("u").as("node"))
      .agg(least(min(col("v")), col("u")).as("component_id"))
    (labels, rounds)
  }

  /** O(delta) maintenance of [[connectedComponents]] labels under EDGE
    * INSERTS — the incremental-view-maintenance shape for graphs: new
    * edges contract onto the CURRENT labels (each endpoint maps to its
    * component id; unseen nodes stand for themselves), components run
    * on that super-graph — whose size is bounded by the DELTA's
    * touched components, never the corpus — and old labels re-map
    * through the super-labels in one join.
    *
    * Exactness (not approximation): labels are component-MINIMUM node
    * ids, and min composes — the merged component's final label is the
    * min over its old labels and new node ids, which is exactly what
    * the full rebuild computes. Gated (`incr_components_maintain`)
    * against the full-rebuild recursive-closure oracle.
    *
    * Deletes are out of scope by construction (removing an edge can
    * SPLIT a component, which needs connectivity information the label
    * table does not retain — the standard IVM asymmetry; re-run the
    * full contraction on the affected component instead).
    */
  def maintainComponents(labels: DataFrame, deltaEdges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val ls = labels.select(col("node").as("__ns"), col("component_id").as("__ls"))
    val ld = labels.select(col("node").as("__nd"), col("component_id").as("__ld"))
    val superEdges = deltaEdges
      .join(ls, col(srcCol) === col("__ns"), "left")
      .join(ld, col(dstCol) === col("__nd"), "left")
      .select(coalesce(col("__ls"), col(srcCol)).as("src"),
        coalesce(col("__ld"), col(dstCol)).as("dst"))
    val superLabels = connectedComponents(superEdges)
      .select(col("node").as("__sn"), col("component_id").as("__sc"))
    // old nodes re-map through their label's super-label (untouched
    // components miss the join and keep their id); delta-only nodes
    // come straight from the super-graph
    val remapped = labels
      .join(superLabels, col("component_id") === col("__sn"), "left")
      .select(col("node"), coalesce(col("__sc"), col("component_id")).as("component_id"))
    // every old label IS an old node (labels are component-min node
    // ids), so one anti-join against the node set isolates delta-new
    val newNodes = superLabels
      .join(labels.select(col("node").as("__old")),
        col("__sn") === col("__old"), "left_anti")
      .select(col("__sn").as("node"), col("__sc").as("component_id"))
    remapped.unionByName(newNodes)
  }

  /** Per-node triangle counts — the clustering-coefficient numerator
    * and the standard cohesion signal for community/spam detection.
    *
    * Algorithm: degree-ordered orientation (Latapy). Each undirected
    * edge is directed from its (degree, id)-smaller endpoint to the
    * larger; every triangle then has exactly ONE wedge whose two edges
    * leave its minimum vertex, so counting = one self-join of the
    * oriented adjacency on the wedge apex plus one equi-join closing
    * the third edge. No triangle is seen twice, and out-degrees are
    * bounded by O(√|E|) REGARDLESS of raw degree skew — a celebrity
    * node with 10⁸ neighbors contributes wedges only through its
    * (few) higher-ordered neighbors, so the wedge expansion stays
    * ~|E|^1.5 total instead of deg² on the hot vertex. That bound is
    * why this shape survives 100 TB where the naive three-way join
    * dies on the first power-law vertex.
    *
    * The (degree, id) order is encoded as one long `deg·2³² + id`
    * (ids must fit in 32 bits) so the orientation is a single integer
    * compare; ties on degree break by id, making the orientation — and
    * the count — deterministic on any partitioning.
    *
    * @return (node, n_triangles) for every vertex of the graph,
    *         including zero rows
    */
  /** Hop-bounded weighted single-source shortest paths — frontier
    * Bellman-Ford: after round h, `dist(v)` is EXACTLY the cheapest
    * path using ≤ h edges (the textbook invariant), so a fixed
    * `maxHops` gives well-defined, engine-portable semantics — the
    * oracle can replay it as a bounded recursive walk with min-fold,
    * no convergence race. Integer weights keep every distance exact.
    *
    * Scale shape: per round, ONE equi-join of the frontier against the
    * edge list (keyed shuffle), a vertex-keyed min, and an improvement
    * anti-check against the settled table; only IMPROVED vertices form
    * the next frontier, so rounds shrink toward the unsettled rim
    * rather than rescanning all vertices. Rounds end early when a
    * frontier settles nothing ([[bfsDistances]]' discipline). Driver
    * sync is one isEmpty per round on the (small) improvement set.
    *
    * @param seeds one-column DataFrame of source node ids (dist 0)
    * @param weightCol non-negative integer edge weight column
    * @return (node, dist): min path cost over ≤ maxHops edges
    */
  def ssspBounded(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w"): DataFrame = {
    require(maxHops >= 0)
    // same once-partitioned, once-sorted edge cache as the other
    // iterative operators: per-hop joins read layout from the cache
    val e = Caches.persisted(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w")).distinct()
        .repartition(col("src")).sortWithinPartitions("src"))
    val seed0 = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    // the settled table stays a LAZY union of per-round improvement
    // sets (each checkpointed — flat lineage); min-folding it inside
    // the improvement job costs one aggregation, but avoids a second
    // full-table materialization per round (improvements only ever
    // shrink a node's dist, so the terminal min-fold is exact)
    var parts = Vector(seed0)
    def best = parts.reduce(_ unionAll _)
      .groupBy("node").agg(min("dist").as("dist"))
    var frontier = seed0
    var h = 1
    var continue = maxHops >= 1
    while (continue) {
      val cand = frontier.select(col("node").as("src"), col("dist"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("dist"))
      if (h == maxHops) {
        // last hop: no next frontier to prune for — the candidates
        // fold into the terminal min as-is (overestimates lose the
        // min), skipping the improvement join and its checkpoint
        parts :+= cand
        continue = false
      } else {
        val improved = cand
          .join(best.withColumnRenamed("dist", "__old"), Seq("node"), "left")
          .where(col("__old").isNull || col("dist") < col("__old"))
          .select(col("node"), col("dist"))
          .localCheckpoint(true)
        if (improved.isEmpty) continue = false
        else {
          parts :+= improved
          frontier = improved
          h += 1
        }
      }
    }
    best
  }

  /** Local clustering coefficient — how clique-like each vertex's
    * neighborhood is: cc = 2·T / (deg·(deg−1)), the fraction of a
    * node's neighbor pairs that are themselves connected. The
    * community-vs-hub discriminator (spam rings score ~1, organic
    * hubs ~0) that rides directly on [[triangleCounts]]' oriented
    * wedge counting — the O(√E) per-vertex work bound carries over and
    * the degree reads back out of the orientation key for free.
    *
    * Emitted on the exact ppm grid (`2·10⁶·T div deg·(deg−1)`, floor
    * division on non-negatives — both engines agree); deg < 2 emits
    * NULL (no neighbor pairs to close). Int64 headroom: 2·10⁶·T wraps
    * only past T ≈ 4.6·10¹² triangles on ONE vertex — a >3M-clique,
    * beyond any real corpus; documented rather than paid for in
    * decimal width (the [[Affinity]] discipline).
    */
  def clusteringCoefficient(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    triangleCountsWithDeg(edges, srcCol, dstCol)
      .select(col("node"), col("deg"), col("n_triangles"),
        when(col("deg") >= 2,
          expr("2000000 * n_triangles div (deg * (deg - 1))")).as("cc_ppm"))

  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    triangleCountsWithDeg(edges, srcCol, dstCol)
      .select(col("node"), col("n_triangles"))

  /** Common-neighbor link prediction: for NON-adjacent node pairs,
    * count shared neighbors — the classic "people you may know" /
    * "parts bought together elsewhere" candidate scorer. Top-k by
    * evidence count, ties broken by the pair ids so the cut is
    * deterministic.
    *
    * Scale honesty: exact all-pairs common-neighbor counting costs
    * Σ deg(u)² — quadratic at every hub, unsalvageable at 100 TB. This
    * operator therefore counts evidence THROUGH CENTERS OF DEGREE ≤
    * `maxCenterDegree` only (wedge work capped at cap·|E|), which is
    * also statistically standard: a mega-hub neighbor is shared by
    * everyone and carries no signal (the same reasoning that has
    * Adamic–Adar down-weight high-degree commons to ~0). The cap is
    * part of the operator's CONTRACT, replayed verbatim in the oracle
    * — not a silent approximation.
    */
  def commonNeighborCandidates(
      edges: DataFrame,
      maxCenterDegree: Int = 64,
      topK: Int = 100,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val canon = Caches.persisted(
      edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .where(col("a") =!= col("b") && col("a").isNotNull)
        .distinct())
    val bidir = canon.select(col("a").as("u"), col("b").as("v"))
      .unionAll(canon.select(col("b").as("u"), col("a").as("v")))
    val low = bidir.groupBy("u").agg(count(lit(1)).as("__dg"))
      .where(col("__dg") <= maxCenterDegree).select(col("u"))
    val lb = Caches.persisted(bidir.join(low, "u"))
    val cn = lb.select(col("u"), col("v").as("v1"))
      .join(lb.select(col("u"), col("v").as("v2")), "u")
      .where(col("v1") < col("v2"))
      .groupBy("v1", "v2").agg(count(lit(1)).as("n_common"))
    cn.join(canon.select(col("a").as("v1"), col("b").as("v2")),
        Seq("v1", "v2"), "left_anti")
      .orderBy(col("n_common").desc, col("v1"), col("v2"))
      .limit(topK)
  }

  /** Shared body of [[triangleCounts]] / [[clusteringCoefficient]]:
    * the degree needed for the orientation rides along in the keyed
    * table (k = deg·2³² + id), so the coefficient costs ZERO extra
    * passes over the orientation's — deg is just k >> 32 read back.
    */
  private def triangleCountsWithDeg(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val canon = Caches.persisted(
      edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .where(col("a") =!= col("b") && col("a").isNotNull)
        .distinct())
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val key = (shiftleft(col("deg"), 32) + col("node")).as("k")
    val keyed = Caches.persisted(deg.select(col("node"), key))
    // orient each edge toward the (deg, id)-larger endpoint
    val oe = Caches.persisted(
      canon
        .join(keyed.select(col("node").as("a"), col("k").as("ka")), "a")
        .join(keyed.select(col("node").as("b"), col("k").as("kb")), "b")
        .select(
          when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("u"),
          when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("v"),
          greatest(col("ka"), col("kb")).as("kv")))
    // wedges at the minimum vertex, closed by the third oriented edge
    val tri = oe.select(col("u"), col("v").as("v1"), col("kv").as("kv1"))
      .join(oe.select(col("u"), col("v").as("v2"), col("kv").as("kv2")), "u")
      .where(col("kv1") < col("kv2"))
      .join(oe.select(col("v").as("v2"), col("u").as("v1")), Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val counts = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    keyed.select(col("node"), shiftright(col("k"), 32).as("deg"))
      .join(counts, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }
}
