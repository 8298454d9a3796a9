package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Duplicate-cluster resolution: the step between pair FINDING (Dedup's
  * inverted-index / LSH joins emit near-dup PAIRS) and actual corpus
  * dedup, which needs one canonical document per transitive cluster —
  * A~B and B~C must purge to a single representative even when A and C
  * were never compared. (The reference engine has no graph step at all;
  * this is the training-data-pipeline completion of its DISTINCT,
  * src/qp/operators/Distinct.java, done at corpus scale.)
  *
  * Algorithm: Boruvka-style min-label CONTRACTION with pointer jumping.
  * Each round, on the current super-graph:
  *
  *   1. merge map  s(u) = min(u, min neighbor of u)   — one aggregation
  *   2. labels     comp <- s(comp), then one pointer jump
  *                 comp <- comp(comp)                  — two narrow joins
  *   3. contract   edges <- (comp(u), comp(v)), self-loops dropped,
  *                 distinct                            — the decisive step
  *
  * Contraction makes per-round cost proportional to the CURRENT edge
  * count, which collapses geometrically: a supercritical random graph
  * loses the vast majority of its edges in round one (every edge inside
  * a min-funnel becomes a self-loop), and a pathological path graph
  * halves per round thanks to the jump — O(log n) rounds either way.
  * (The r4 scale probe caught the previous non-contracting
  * propagate+jump loop re-joining the full 10M-row edge list every one
  * of ~9 rounds: 505 s for 2M nodes / 5M random edges; contraction runs
  * the same graph in 108 s.) Every round materializes via eager
  * localCheckpoint —
  * iterative DataFrame loops otherwise accumulate lineage and re-plan
  * the whole history each action. All shuffled rows are (long, long).
  *
  * Small graphs never enter the loop: the first edge list is read with
  * one bounded job, and when it fits `driverFinishEdges` the driver's
  * union-find returns FINAL labels as a local frame — no label table,
  * no relabel join, no label fixpoint. The fixpoint runs only after at
  * least one distributed round, because rounds let labels lag one hop.
  *
  * At 100 TB the edge list (near-dup pairs) is orders of magnitude
  * smaller than the corpus; past that bounded read the driver sees only
  * one count per round (the remaining-edges loop condition), never data.
  */
object Clusters {

  /** Connected components of the undirected graph given as an edge list.
    * Returns (id, cluster_id): every node that appears in `edges`, labeled
    * with the MINIMUM id reachable from it — a deterministic, portable
    * cluster id. Nodes not mentioned in any edge are absent (a singleton
    * is its own trivial cluster; callers left-anti-join if they need the
    * full corpus labeled).
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    connectedComponents(edges, srcCol, dstCol, driverFinishEdges = 100000)

  /** As [[connectedComponents]], with the driver finish exposed: once
    * the (contracted) edge list fits under `driverFinishEdges`, the
    * remaining rounds collapse into ONE collect + min-label union-find.
    * Each distributed round costs ~6 scheduled jobs regardless of size —
    * on a contracted graph of a few thousand rows that is pure scheduling
    * overhead. The driver holds ≤ 2·driverFinishEdges longs (sub-MB at
    * the default). Pass 0 to keep every round distributed.
    *
    * The first edge list is read with ONE bounded job (`limit(
    * driverFinishEdges + 1)`). When it fits, the union-find labels are
    * final and come back as a local frame of `(id, cluster_id)` for every
    * node: no label table, relabel join or fixpoint runs. Otherwise the
    * list is counted and the distributed loop starts; its rounds let
    * labels lag one hop behind the contraction, so those graphs finish
    * with the label fixpoint below.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      driverFinishEdges: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val finishCap = driverFinishEdges.max(0).min(Int.MaxValue - 1)
    val e0 = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    // undirected: keep both directions; distinct so parallel edges don't
    // multiply join rows
    var e = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    val head = e.limit(finishCap + 1).collect()
    if (head.length <= finishCap) {
      freeCheckpoint(e)
      return minRoots(head).toSeq.toDF("id", "cluster_id")
    }

    // labels: original node -> current representative (starts at itself;
    // the u side of the bidirected list covers every node)
    var labels = e.select(col("u").as("id"), col("u").as("comp"))
      .distinct().localCheckpoint()

    var remaining = e.count()
    var rounds = 0
    while (remaining > finishCap) {
      rounds += 1
      require(rounds <= 64, "connectedComponents failed to converge") // 2^64 ids
      // 1. merge map over the current super-graph
      val s = e.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("t"), least(col("u"), col("mn")).as("st"))
      // 2. advance labels one merge step, then one pointer jump (comp
      // values are node ids, so they are keys of `labels` itself)
      val stepped = labels.join(s, labels("comp") === s("t"), "left")
        .select(col("id"), coalesce(col("st"), col("comp")).as("comp"))
        .localCheckpoint()
      val oldLabels = labels
      labels = stepped.as("x")
        .join(stepped.select(col("id").as("t"), col("comp").as("tc")).as("y"),
          col("x.comp") === col("y.t"))
        .select(col("x.id").as("id"), col("y.tc").as("comp"))
        .localCheckpoint()
      // each localCheckpoint is eager, so once a round's frames have
      // materialized their inputs' cached blocks are dead — free them NOW
      // instead of waiting on GC/ContextCleaner: in a long-lived JVM the
      // deferred cleanup showed up as a 72 s bench spread on this op (r4)
      freeCheckpoint(stepped)
      freeCheckpoint(oldLabels)
      // 3. contract: remap edge endpoints through the advanced labels
      val byId = labels.select(col("id"), col("comp"))
      val oldE = e
      e = e.join(byId.select(col("id").as("u"), col("comp").as("cu")), "u")
        .join(byId.select(col("id").as("v"), col("comp").as("cv")), "v")
        .select(col("cu").as("u"), col("cv").as("v"))
        .filter(col("u") =!= col("v")).distinct().localCheckpoint()
      freeCheckpoint(oldE)
      remaining = e.count()
    }
    if (remaining > 0) {
      // small-remnant finish: one union-find over the collected contracted
      // graph replaces the remaining O(log) distributed rounds
      val relabel = minRoots(e.collect()).filter { case (k, r) => k != r }
      if (relabel.nonEmpty) {
        val m = broadcast(relabel.toSeq.toDF("t", "tc"))
        val oldLabels = labels
        labels = labels.join(m, labels("comp") === m("t"), "left")
          .select(col("id"), coalesce(col("tc"), col("comp")).as("comp"))
          .localCheckpoint()
        freeCheckpoint(oldLabels)
      }
    }
    freeCheckpoint(e) // drained (or driver-finished); drop its blocks
    // The single jump per round lets labels lag one hop behind the
    // contraction (a comp can name a node that itself merged later), so
    // edges hitting zero does NOT mean labels are final: jump to fixpoint.
    // comp strictly decreases while any pointer moves, so the label SUM is
    // a join-free convergence probe; chains are at most ~rounds long and
    // halve per jump, so this tail is O(log rounds) label-only self-joins.
    var sum = labelSum(labels)
    var prev = sum + 1
    while (sum != prev) {
      prev = sum
      val oldLabels = labels
      labels = labels.as("x")
        .join(labels.select(col("id").as("t"), col("comp").as("tc")).as("y"),
          col("x.comp") === col("y.t"))
        .select(col("x.id").as("id"), col("y.tc").as("comp"))
        .localCheckpoint()
      freeCheckpoint(oldLabels)
      sum = labelSum(labels)
    }
    labels.select(col("id"), col("comp").as("cluster_id"))
  }

  /** Incremental connected components: fold a batch of NEW edges into an
    * existing min-id labeling without re-running the contraction loop
    * over the standing corpus — the continuous-ingest companion of
    * [[connectedComponents]] (the graph analog of d06/d09's incremental
    * dedup).
    *
    * Plan: new-edge endpoints are remapped through their old labels
    * (one narrow join), so the loop runs on the CONTRACTED graph whose
    * nodes are touched old-cluster representatives plus brand-new ids —
    * proportional to the BATCH, never the corpus. Old labels then
    * compose through the supernode labeling with one more join.
    *
    * Exactness (asserted in ClustersSpec and by d11 sharing d08's full
    * recompute oracle): every old cluster id is the MIN of its cluster,
    * so the min supernode id of a merged super-component IS the global
    * min doc id of the merged component — min-id labels compose.
    * Output covers every node in `labels` or `newEdges`.
    */
  def incrementalComponents(
      labels: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val lab = labels.select(col("id").cast("long").as("id"),
      col("cluster_id").cast("long").as("comp"))
    val remapped = newEdges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .join(lab.select(col("id").as("u"), col("comp").as("cu")), Seq("u"), "left")
      .join(lab.select(col("id").as("v"), col("comp").as("cv")), Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("u"),
        coalesce(col("cv"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val superCC = connectedComponents(remapped, "u", "v")
      .select(col("id").as("snode"), col("cluster_id").as("scomp"))
    // old nodes: follow the cluster representative's new label, if any
    val updatedOld = lab
      .join(superCC.withColumnRenamed("snode", "comp"), Seq("comp"), "left")
      .select(col("id"), coalesce(col("scomp"), col("comp")).as("cluster_id"))
    // brand-new nodes: supernodes that never had a label (old cluster
    // representatives always label themselves, so they ARE in `labels`)
    val newNodes = superCC
      .join(lab, superCC("snode") === lab("id"), "left_anti")
      .select(col("snode").as("id"), col("scomp").as("cluster_id"))
    updatedOld.unionByName(newNodes)
  }

  /** Unpersist the cached blocks behind a `localCheckpoint`ed frame.
    * `Dataset.unpersist` only touches cache-manager entries; a local
    * checkpoint's storage lives on the checkpointed RDD inside the
    * resulting LogicalRDD plan, and is otherwise only reclaimed when the
    * ContextCleaner notices the RDD got GC'd.
    */
  private[ops] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Bridge.freeBlocks(lr.rdd)
      case _ => ()
    }

  /** Min-label union-find over collected (u, v) edge rows: every node
    * that appears in `edges` mapped to the minimum node of its component.
    */
  private def minRoots(
      edges: Array[org.apache.spark.sql.Row]): scala.collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val u = row.getLong(0); val v = row.getLong(1)
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) { // min root wins -> root stays the component minimum
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def labelSum(labels: DataFrame): Long =
    labels.agg(sum("comp")).head().getAs[Any](0) match {
      case null => 0L
      case l: Long => l
      case d: java.math.BigDecimal => d.longValueExact()
    }

  /** Near-dup cluster assignment from a pair list (id_a, id_b):
    * (doc_id, cluster_id, keep) where cluster_id is the cluster's minimum
    * doc id and keep marks the canonical representative — the purge list
    * is `keep = 0`. Output covers only docs that occur in a pair;
    * untouched docs are implicitly kept.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("doc_id"), col("cluster_id"),
        when(col("id") === col("cluster_id"), 1).otherwise(0).as("keep"))

  /** Canonical pick by QUALITY: production near-dup pipelines keep each
    * cluster's best-scoring member, not its min id (the duplicates of a
    * good page are often truncated/mangled variants). `scored` maps
    * `idCol` to a totally-ordered `scoreCol`; ties break to the min id.
    *
    * Scale shape: cluster labels join to (id, score) narrow rows, then
    * ONE aggregation computes the per-cluster argmax via
    * `max(struct(score, -id))` (lowered to a two-level SortAggregate:
    * partial_max below the exchange means each cluster crosses the wire
    * as one fixed-width row per map partition) — never a per-cluster
    * sort or window over the members (the d10 lesson applied).
    */
  def keepBestPerCluster(pairs: DataFrame, aCol: String, bCol: String,
      scored: DataFrame, idCol: String, scoreCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("cluster_id"))
      .join(scored.select(col(idCol), col(scoreCol)), idCol)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol), negate(col(idCol)).as("nid"))).as("m"))
      .select(col("cluster_id"),
        negate(col("m.nid")).as("keep_doc"),
        col("m." + scoreCol).as("keep_score"),
        col("n_members"))

  /** PageRank centrality over an undirected pair graph (Page et al.
    * 1999, damping 0.85), in SCALED INTEGER arithmetic: ranks live in
    * units of 1/`scale`, every division is a floor (`div`), so the
    * fixed `iters`-round iteration is bit-deterministic and the DuckDB
    * oracle can replay it CTE-for-CTE — no float accumulation order to
    * disagree on. (Floors leak a little probability mass per round;
    * that's deterministic and identical in both engines, and ranking —
    * the product — is unaffected.)
    *
    * Product use: the third canonical-pick signal beside min-id
    * ([[connectedComponents]] + keep-min) and quality
    * ([[keepBestPerCluster]]) — the most-CONNECTED variant of a
    * near-dup neighborhood is the one the most other variants derive
    * from (the web-graph authority argument applied to duplicate
    * neighborhoods; Common Crawl ships the same idea as per-domain
    * harmonic-centrality ranks). Unlike CC it needs no transitive
    * closure: scores flow only along observed pair edges.
    *
    * Scale shape: per round, ONE fixed-width (src,dst,deg,rank) equi
    * join + one hash-agg on dst — work ∝ edges, rounds fixed; the edge
    * list comes from the bounded pair finders (inverted index / LSH),
    * never all-pairs. Node count `n` is one count job up front; ranks
    * never exceed `scale` (damped mass is non-increasing), so long
    * arithmetic holds for any graph with scale = 1e12. Each round
    * materializes via eager localCheckpoint and frees its predecessor
    * (the [[connectedComponents]] discipline) — without it round k's
    * plan nests rounds 1..k−1 and the fixed iteration count turns into
    * quadratic re-execution.
    */
  def graphRank(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 5, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale >= 1000L, s"bad shape: $iters/$scale")
    // sym materializes FIRST: deg and edges both consume it, and the
    // upstream pair finder (inverted-index join) is the expensive part
    // — without this it runs once per consumer
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val edges = sym.join(deg, "src").localCheckpoint()
    freeCheckpoint(sym) // deg/edges carry everything the rounds need
    val n = deg.count()
    if (n == 0) {
      return pairs.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            pairs.schema(aCol).dataType),
          org.apache.spark.sql.types.StructField("deg",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.LongType))))
    }
    val teleport = 15L * scale / (100L * n)
    var ranks = deg.select(col("src").as("id"),
      lit(scale / n).as("rank"))
    // rounds do NOT checkpoint (r15 — the t47/textRank discipline applied
    // here): each round's frame is referenced exactly once by the next
    // round, there is no driver action between rounds, and deg/edges are
    // already materialized — so the fixed iteration compiles into ONE
    // linear plan and executes as a single job instead of `iters`
    // sequential materialization jobs (each a full scheduler round-trip;
    // measured ~45 one-task 30–50 ms stages per graph query at sf0.1 on a
    // host with 82 ms/job latency). The former per-round localCheckpoint
    // guarded against quadratic re-execution, which only arises when a
    // round is consumed more than once — not the case in this loop.
    //
    // r15b: no per-round spine join. `sym` holds BOTH orientations of
    // every pair, so its dst-set equals its src-set equals deg's key set
    // — every node receives >= 1 contribution each round, contrib's key
    // set is exactly the node set, and the former
    // `deg LEFT JOIN contrib` (one extra join + exchange per round, and
    // its coalesce(sum_c, 0) arm) was dead code: round values and key
    // sets are bit-identical without it (ClustersSpec's scalar replay
    // pins the values; the d26 oracle unrolls the same rounds).
    (1 to iters).foreach { _ =>
      ranks = edges.join(ranks, edges("src") === ranks("id"))
        .select(col("dst").as("id"), expr("rank div deg").as("c"))
        .groupBy("id").agg(sum("c").as("sum_c"))
        .select(col("id"),
          (lit(teleport) + expr("(sum_c * 85) div 100")).as("rank"))
    }
    deg.select(col("src").as("id"), col("deg"))
      .join(ranks, "id")
      .orderBy(col("rank").desc, col("id").asc)
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected pair graph — the cohesion signal beside
    * [[connectedComponents]] (membership) and [[graphRank]]
    * (centrality): a high-coefficient near-dup neighborhood is a
    * true template cluster, a low one is a hub doc stitching
    * unrelated texts (the d02 inverted-index false-positive shape).
    *
    * Degree-ordered counting (Suri & Vassilvitskii, WWW 2011): orient
    * every edge from its lower to its higher endpoint under the total
    * order (deg, id) — each triangle {a≺b≺c} then appears EXACTLY once
    * as the wedge (a→b, a→c) closed by the oriented edge (b→c), and a
    * node's oriented out-degree is O(√m), so the wedge join emits
    * Σ outdeg² = O(m^1.5) rows worst-case instead of the Σ deg² a hub
    * node forces on the naive join. All arithmetic exact longs; the
    * coefficient `2·tri/(deg·(deg−1))` is ONE IEEE division of exact
    * longs (NULL when deg < 2 — undefined, never 0/0).
    *
    * Shape: dedupe pairs → degree rollup → two broadcast-size equi
    * joins to attach endpoint degrees → wedge self-join on the shared
    * lower endpoint → one semi join against the closing edge → explode
    * the 3 corners → count per node. Edge lists come from the bounded
    * pair finders; nothing here is all-pairs.
    */
  def triangleStats(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient u→v when (deg(u), u) ≺ (deg(v), v)
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("src"), col("v").as("dst"),
          col("dv").as("ddeg")))
        .otherwise(struct(col("v").as("src"), col("u").as("dst"),
          col("du").as("ddeg"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddeg").as("ddeg"))
    val x = oriented.select(col("src"), col("dst").as("b"),
      col("ddeg").as("db"))
    val y = oriented.select(col("src"), col("dst").as("c"),
      col("ddeg").as("dc"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val tris = wedges
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
      .select(col("src").as("a"), col("b"), col("c"))
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(null))
          .otherwise((lit(2L) * coalesce(col("tri"), lit(0L)))
            .cast("double") /
            (col("deg") * (col("deg") - 1L)).cast("double"))
          .as("coef"))
  }

  /** The k-core of an undirected pair graph (Seidman 1983): the
    * maximal subgraph where every node keeps degree ≥ k — the DEPTH
    * signal beside [[connectedComponents]] (membership),
    * [[graphRank]] (centrality), and [[triangleStats]] (cohesion): a
    * doc surviving the 2-core sits inside a duplication STRUCTURE,
    * while pendant near-dup edges (one-off boilerplate hits) peel
    * away. Returns the surviving nodes with their within-core degree.
    *
    * Bounded-round peel: exactly `rounds` filter passes (drop nodes
    * under k, keep edges with both endpoints alive), each ONE
    * fixed-width degree rollup + two semi joins — work ∝ surviving
    * edges, monotonically shrinking. A FIXED round count keeps the
    * loop bit-deterministic and lets the DuckDB oracle unroll it
    * CTE-for-CTE (the d26 discipline); the spec asserts the probe
    * graphs reach their fixpoint inside the bound (one more round
    * changes nothing), so the emitted set IS the true k-core there.
    * Each round materializes via eager localCheckpoint and frees its
    * predecessor (the [[graphRank]] lesson — without it round r's
    * plan nests rounds 1..r−1).
    */
  /** Soft dedup: keep EVERY document, down-weight duplicates — the
    * sampling-weight alternative to hard cluster dedup (d08/d18 drop
    * all but a canonical; the data-constrained regime — Muennighoff et
    * al. 2023 — keeps near-dups but discounts repeated content so a
    * cluster of k copies contributes ~one document's worth of
    * training signal). weight = 1/cluster_size; docs outside the pair
    * graph are singletons at weight 1. `eff_tok = n_tok / csize` is
    * the per-doc expected token contribution under one weighted epoch
    * — summing it gives the DEDUPLICATED token budget without
    * deleting anything.
    *
    * Shape: the d08 contraction-CC chain on the pair frame, one
    * label-cardinality size rollup, two equi joins back onto the doc
    * frame (left: non-paired docs fall through to singleton defaults).
    * Integer sizes; weight and eff_tok are one IEEE division each.
    */
  def softDedupWeights(pairs: DataFrame, aCol: String, bCol: String,
      docs: DataFrame, idCol: String, tokCol: String): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("doc_id"), col("cluster_id").as("cl"))
    val sizes = comp.groupBy("cl").agg(count(lit(1)).as("sz"))
    docs.select(col(idCol).as("doc_id"),
        col(tokCol).cast("long").as("n_tok"))
      .join(comp, Seq("doc_id"), "left")
      .join(sizes, Seq("cl"), "left")
      .select(col("doc_id"),
        coalesce(col("cl"), col("doc_id")).as("cluster_id"),
        coalesce(col("sz"), lit(1L)).as("csize"),
        col("n_tok"),
        (lit(1.0) / coalesce(col("sz"), lit(1L))).as("weight"),
        (col("n_tok").cast("double") / coalesce(col("sz"), lit(1L)))
          .as("eff_tok"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007): COMMUNITY
    * detection over the near-dup pair graph — the densitometric rung
    * between connected components (min-label closure: one bridge edge
    * merges two dense groups) and [[graphRank]]'s per-node centrality.
    * Each round every node adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label — fully deterministic (the
    * published algorithm breaks ties randomly; a seeded deterministic
    * rule is what makes the run reproducible and the oracle mirrorable).
    * Labels start as node ids; after `rounds` synchronous sweeps, the
    * label IS the community. Bounded rounds, not convergence-tested:
    * synchronous LPA can 2-cycle on bipartite structure, and a fixed
    * round count replays identically in the unrolled oracle either way.
    *
    * Shape per round: one fixed-width (edge ⋈ label) join + a
    * (node, label) count rollup + a struct-min argmax — work tracks
    * EDGE count, never n². Eager checkpoint per round + freeing the
    * predecessor (the d26/graphRank lesson) keeps the plan flat; sym
    * materializes once so the expensive upstream pair finder runs once.
    */
  def labelProp(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"bad shape: rounds=$rounds")
    val sym = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
    // rounds do NOT checkpoint (r15): each round's labels are consumed
    // exactly once by the next round's edge join and there is no action
    // between rounds — the graphRank/textRank single-job argument; sym is
    // already materialized so nothing upstream re-executes.
    (1 to rounds).foreach { _ =>
      val cnt = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst"), col("lab"))
        .groupBy("dst", "lab").agg(count(lit(1)).as("c"))
      labels = cnt
        .groupBy("dst")
        .agg(min(struct((lit(0L) - col("c")).as("nc"),
          col("lab").as("l"))).as("m"))
        .select(col("dst").as("id"), col("m.l").as("lab"))
    }
    labels
  }

  def kCoreNodes(pairs: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad shape: k=$k rounds=$rounds")
    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    def degOf(e: DataFrame): DataFrame =
      e.select(col("u").as("id"))
        .unionByName(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
    (1 to rounds).foreach { _ =>
      val keep = degOf(edges).filter(col("deg") >= k)
      val old = edges
      edges = edges
        .join(keep.select(col("id").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("id").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint()
      freeCheckpoint(old)
    }
    degOf(edges).filter(col("deg") >= k)
  }

  /** Degree assortativity (Newman 2002, "Assortative Mixing in
    * Networks") over the undirected pair graph: the Pearson
    * correlation of the degrees at the two ends of an edge.
    * Positive = hubs link hubs (social shape); negative = hubs link
    * leaves — for a near-dup graph, strongly negative assortativity
    * is the template-hub signature (one boilerplate doc pairing with
    * thousands of singletons), a release-card diagnostic beside the
    * clustering coefficient (d28) and community structure (d32).
    *
    * Exactness: summing over BOTH orientations of every undirected
    * edge makes the x- and y-marginals identical, so Pearson r
    * collapses to `(M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)` — every term
    * an exact long from integer degrees, r ONE IEEE division (no
    * sqrt). Returns a single row (m_ends, sx, sxy, sx2, num, den, r);
    * r is NULL for a degenerate graph (all degrees equal, den = 0).
    *
    * Shape: distinct undirected edges → symmetrize → one (node → deg)
    * rollup → two equi-joins to attach end degrees → ONE global agg.
    * Work tracks edge count; nothing is n². The long products cap at
    * M²·maxdeg² — switch the three sums to DECIMAL(38,0) past ~10⁹
    * edge ends (the moment sums are the only overflow surface).
    */
  def assortativity(
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // r16: EAGER localCheckpoint — `und`'s subtree is the caller's pair
    // pipeline (d35 passes the full tau=1/4 nGramJaccard index+verify),
    // and it appears TWICE in the orientation union, whose result again
    // has two consumers (deg rollup, the ends join). Without the
    // checkpoint the pair finder re-executes per derivation; the
    // checkpointed frame is just the fixed-width distinct (u, v) pairs.
    val und = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")),
        Seq("dst"))
      .agg(count(lit(1)).as("m_ends"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sx2"))
      .select(col("m_ends"), col("sx"), col("sxy"), col("sx2"),
        (col("m_ends") * col("sxy") - col("sx") * col("sx")).as("num"),
        (col("m_ends") * col("sx2") - col("sx") * col("sx")).as("den"))
      .withColumn("r",
        when(col("den") === 0, lit(null).cast("double"))
          .otherwise(col("num").cast("double") / col("den")))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): per-
    * document PageRank over the adjacent-word co-occurrence graph, top-k
    * words by rank — the GRAPH rung above tf-idf keywords (t24): tf-idf
    * scores a word by corpus rarity, TextRank by how central it sits in
    * THIS document's co-occurrence structure, which surfaces multi-hub
    * connector terms tf-idf misses.
    *
    * Same scaled-integer discipline as [[graphRank]] (ranks in units of
    * 1/`scale`, every division a floor `div`) so the fixed `iters`-round
    * iteration is bit-deterministic and a DuckDB oracle replays it
    * CTE-for-CTE — but keyed by (doc, word): every document's graph
    * iterates independently inside the same five DataFrame rounds, and
    * the per-doc node count `n_d` (not a global n) feeds teleport and
    * the uniform start. Edges are DISTINCT undirected adjacent pairs
    * (window w=2, the published default); self-loops (`w w`) dropped.
    * Docs with no non-self adjacency contribute no rows.
    *
    * Scale shape: edge generation is a PURE MAP — the fused
    * [[graft.functions.AdjacentPairSetExpr]] emits each doc's distinct
    * undirected adjacent pairs straight from the raw text in the scan
    * stage (r13, replacing a posexplode + lead window that exchanged
    * and per-doc-sorted every corpus token, plus a global DISTINCT —
    * two exchanges removed ahead of the rounds; per-doc dedup in the
    * expression makes the global distinct redundant because callers
    * pass one text row per id, the documents-table contract). Then per
    * round ONE (doc, word)-keyed equi-join + one (doc, word) hash-agg —
    * work tracks token volume × iters, never all-pairs. Final top-k is
    * a per-doc row_number window over node-count rows.
    */
  def textRank(df: DataFrame, idCol: String, textCol: String,
      iters: Int = 5, topK: Int = 5,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && topK >= 1 && scale >= 1000L,
      s"bad shape: $iters/$topK/$scale")
    // sym/nodes/edges materialize ONCE (the d26 shape): nodes and edges
    // are each consumed by all 5 rounds, and the token explode upstream
    // is the expensive part — without these checkpoints the round chain
    // re-executes it per reference (measured 3x slower at sf0.1).
    // r15: both edge orientations come from ONE explode pass — the former
    // `und.select(u,v) unionByName und.select(v,u)` duplicated the whole
    // scan + adjacentPairSet + explode subtree (measured as two ~12 s
    // task-time stages at sf0.1); a second explode over a 2-element
    // struct array emits (u,v) and (v,u) from the same generated row.
    val sym = df
      .select(col(idCol),
        explode(TextOps.adjacentPairSet(col(textCol))).as("p"))
      .select(col(idCol), explode(array(
        struct(col("p.u").as("src"), col("p.v").as("dst")),
        struct(col("p.v").as("src"), col("p.u").as("dst")))).as("e"))
      .select(col(idCol), col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // r15: the ITERATION runs on xxhash64 word keys (guide §2.3 — shuffle
    // keys, not payloads): every round sorts/joins the edge frame, and
    // string keys paid UTF8 compare + string row width ×5 rounds. Word
    // strings live only in `nodes` and re-attach once after the rounds;
    // within one document two distinct words colliding in 64 bits is the
    // same ~|doc|²/2⁶⁴ tolerance the gram kernel documents.
    val deg = sym.groupBy(col(idCol), col("src"))
      .agg(count(lit(1)).as("deg"))
    val nd = deg.groupBy(col(idCol)).agg(count(lit(1)).as("n_d"))
    // nodes carries the uniform start (floor-exact in scale units) and
    // the word string for the one post-round re-attach; the per-doc
    // teleport rides on EDGES (r15b, below), not here
    val nodes = deg.join(nd, Seq(idCol))
      .select(col(idCol), col("src").as("word"),
        xxhash64(col("src")).as("wh"),
        expr(s"${scale}L div n_d").as("r0"))
      .localCheckpoint()
    // r15b: each edge carries the DST doc-constant teleport
    // (15*scale div (100*n_d) — a function of the doc alone), so a round
    // is join -> group -> project with NO nodes spine join: sym holds
    // both orientations, hence every node receives >= 1 contribution
    // per round and the former `nodes LEFT JOIN contrib` (one join plus
    // a ~contrib-sized broadcast/exchange per round, coalesce arm dead)
    // added nothing. Values are bit-identical (ClustersSpec scalar
    // replay; t47 oracle unrolls the rounds CTE-for-CTE).
    val edges = sym.join(
        deg.select(col(idCol), col("src"), col("deg")), Seq(idCol, "src"))
      .join(nd, Seq(idCol))
      .select(col(idCol), xxhash64(col("src")).as("srcH"),
        xxhash64(col("dst")).as("dstH"), col("deg"),
        expr(s"(15 * ${scale}L) div (100 * n_d)").as("tele"))
      .localCheckpoint()
    freeCheckpoint(sym)
    // rounds do NOT checkpoint (unlike graphRank): each round's frame is
    // referenced exactly once by the next round, there is no count
    // action between rounds, and edges/nodes are already materialized —
    // so the 5 rounds compile into ONE linear-size plan and execute as a
    // single job (checkpointing here was measured 3x slower at sf0.1:
    // 10+ sequential materialization jobs for no reuse — the t37 lesson)
    var ranks = nodes.select(col(idCol), col("wh"), col("r0").as("rank"))
    (1 to iters).foreach { _ =>
      // tele is constant within a (doc, dst) group (doc-level constant);
      // max() is a deterministic way to carry it through the rollup
      ranks = edges
        .join(ranks, edges(idCol) === ranks(idCol) &&
          edges("srcH") === ranks("wh"))
        .select(edges(idCol).as(idCol), col("dstH").as("wh"),
          expr("rank div deg").as("c"), col("tele"))
        .groupBy(col(idCol), col("wh"))
        .agg(sum("c").as("sum_c"), max("tele").as("tele"))
        .select(col(idCol), col("wh"),
          (col("tele") + expr("(sum_c * 85) div 100")).as("rank"))
    }
    val named = ranks.join(
      nodes.select(col(idCol), col("wh"), col("word")), Seq(idCol, "wh"))
    val byRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("rank").desc, col("word").asc)
    named.withColumn("rn", row_number().over(byRank))
      .filter(col("rn") <= topK)
      .select(col(idCol), col("word"), col("rank"),
        col("rn").cast("long").as("rn"))
      .orderBy(col(idCol), col("rn"))
  }
}
