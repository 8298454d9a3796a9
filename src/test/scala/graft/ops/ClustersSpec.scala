package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  // every case runs the pure distributed loop (driverFinishEdges=0), the
  // hybrid (=2: at least one distributed round, then the driver finish
  // and the label fixpoint) and the default (the whole graph on the
  // driver), and they must agree exactly
  private def cc(edges: (Long, Long)*): Map[Long, Long] = {
    val df = edges.toDF("a", "b")
    def run(finish: Int) = Clusters.connectedComponents(df, "a", "b",
      driverFinishEdges = finish).as[(Long, Long)].collect().toMap
    val dist = run(0)
    val hybrid = run(2)
    val driver = Clusters.connectedComponents(df, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(dist == hybrid, s"driver finish diverged: dist=$dist hybrid=$hybrid")
    assert(dist == driver, s"driver labels diverged: dist=$dist driver=$driver")
    driver
  }

  test("two disjoint clusters resolve to their min ids") {
    val got = cc((1L, 2L), (2L, 3L), (10L, 11L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a long chain converges to one cluster (pointer jumping)") {
    // worst case for pure propagation: a path graph; jumping keeps the
    // round count logarithmic, and correctness must be unaffected
    val chain = (1L until 64L).map(i => (i, i + 1))
    val got = cc(chain: _*)
    assert(got.keySet == (1L to 64L).toSet && got.values.forall(_ == 1L))
  }

  test("edge direction and duplication don't matter") {
    assert(cc((5L, 2L), (2L, 5L), (5L, 2L), (2L, 9L)) ==
      Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("an empty edge list yields an empty typed frame on every path") {
    assert(cc().isEmpty)
    val got = Clusters.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(got.columns.toSeq == Seq("id", "cluster_id"))
    assert(got.schema.map(_.dataType.typeName) == Seq("long", "long"))
  }

  test("a small graph is read with one bounded job and finished on the " +
    "driver: no count, no label-sum fixpoint") {
    val df = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    var labels = Map.empty[Long, Long]
    val small = jobActions {
      labels = Clusters.connectedComponents(df, "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    def at(sites: Seq[String], action: String) =
      sites.filter(_.startsWith(s"$action at Clusters.scala"))
    assert(at(small, "head").isEmpty && at(small, "count").isEmpty,
      s"small graph: $small")
    assert(at(small, "collect").size == 1, s"small graph: $small")
    // the distributed loop still counts and runs the fixpoint
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var out = df
    val dist = jobActions {
      out = Clusters.connectedComponents(df, "a", "b", driverFinishEdges = 0)
      out.collect()
    }
    assert(at(dist, "head").nonEmpty && at(dist, "count").nonEmpty,
      s"distributed: $dist")
    // every round's checkpoint is freed; only the returned labels' stays
    val kept = out.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(kept.size == 1 && sc.getPersistentRDDs.keySet -- before == kept.toSet,
      s"persisted ${sc.getPersistentRDDs.keySet -- before}, returned $kept")
  }

  test("incrementalComponents == full recompute across adversarial batches") {
    // old graph: {1,2,3}, {10,11}, singleton-free node 20 via (20,21)
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    // new batch: merges the two big clusters through non-representative
    // members (3-11), attaches a brand-new node to an old cluster (11-40),
    // adds a purely-new cluster (50-51), an intra-cluster no-op edge
    // (1-3), and a new node bridging to the third cluster (21-45)
    val newEdges = Seq((3L, 11L), (11L, 40L), (50L, 51L), (1L, 3L), (21L, 45L))
    val labels0 = Clusters.connectedComponents(
      oldEdges.toDF("a", "b"), "a", "b")
    val inc = Clusters.incrementalComponents(
        labels0, newEdges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val full = cc(oldEdges ++ newEdges: _*)
    assert(inc == full, s"inc=$inc full=$full")
    assert(full(40L) == 1L && full(11L) == 1L && full(50L) == 50L &&
      full(45L) == 20L)
    // empty batch: labeling unchanged
    val same = Clusters.incrementalComponents(labels0,
        Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(same == labels0.as[(Long, Long)].collect().toMap)
  }

  test("dedupClusters marks exactly one canonical doc per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = Clusters.dedupClusters(pairs, "id_a", "id_b")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0),
      (7L, 7L, 1), (8L, 7L, 0)))
  }

  test("keepBestPerCluster picks max score, ties to min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L))
      .toDF("id_a", "id_b")
    // cluster {1,2,3}: 2 wins on score; {7,8}: tie -> 7; {10,11}: 11 wins
    val scored = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9 - 1e-12),
      (7L, 0.4), (8L, 0.4), (10L, 0.1), (11L, 0.2))
      .toDF("doc_id", "quality")
    val got = Clusters.keepBestPerCluster(pairs, "id_a", "id_b",
        scored, "doc_id", "quality")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0.9, 3L), (7L, 7L, 0.4, 2L),
      (10L, 11L, 0.2, 2L)))
  }

  test("graphRank matches a floor-exact scalar reference on a star + " +
    "path; hub outranks leaves; triangle symmetric") {
    // star 1-{2,3,4} plus path 10-11: two components, ranked jointly
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val scale = 1000000L
    val iters = 3
    // scalar replay of the exact integer recurrence
    val adj = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L), 3L -> Seq(1L),
      4L -> Seq(1L), 10L -> Seq(11L), 11L -> Seq(10L))
    val n = adj.size
    val teleport = 15L * scale / (100L * n)
    var r = adj.keys.map(_ -> scale / n).toMap
    (1 to iters).foreach { _ =>
      r = adj.map { case (u, nbrs) =>
        val s = nbrs.map(v => r(v) / adj(v).length).sum
        u -> (teleport + s * 85L / 100L)
      }
    }
    val got = Clusters.graphRank(pairs, "id_a", "id_b", iters, scale)
      .as[(Long, Long, Long)].collect()
    assert(got.map(x => x._1 -> x._3).toMap == r)
    assert(got.head._1 == 1L, "hub must rank first")
    assert(got.map(_._1).toSeq ==
      got.sortBy(x => (-x._3, x._1)).map(_._1).toSeq, "output ordering")

    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val t = Clusters.graphRank(tri, "id_a", "id_b", 4, scale)
      .as[(Long, Long, Long)].collect()
    assert(t.map(_._3).distinct.length == 1, "triangle ranks equal")
  }

  test("graphRank: empty pair graph yields an empty typed frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Clusters.graphRank(empty, "id_a", "id_b")
    assert(got.columns.toSeq == Seq("id", "deg", "rank"))
    assert(got.count() == 0)
  }

  test("triangleStats: K3, K4, path, star, and a stitched hub") {
    // K3: every node in 1 triangle, coefficient 1
    val k3 = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("id_a", "id_b")
    val g3 = Clusters.triangleStats(k3, "id_a", "id_b")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(g3.toSeq == Seq((1L, 2L, 1L, Some(1.0)),
      (2L, 2L, 1L, Some(1.0)), (3L, 2L, 1L, Some(1.0))))

    // K4: each node in C(3,2) = 3 triangles, coefficient 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("id_a", "id_b")
    val g4 = Clusters.triangleStats(k4, "id_a", "id_b")
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(g4.forall(r => r._2 == 3L && r._3 == 3L &&
      r._4.contains(1.0)))

    // path 1-2-3: no triangle; middle node coef 0, leaves NULL (deg 1)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val gp = Clusters.triangleStats(path, "id_a", "id_b")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(gp.toSeq == Seq((1L, 1L, 0L, None),
      (2L, 2L, 0L, Some(0.0)), (3L, 1L, 0L, None)))

    // star: hub of 4 spokes — no triangles, hub coef 0
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
      .toDF("id_a", "id_b")
    val gs = Clusters.triangleStats(star, "id_a", "id_b")
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(gs.forall(_._3 == 0L))
    assert(gs.find(_._1 == 0L).get._4.contains(0.0))

    // stitched hub: node 0 joins two K3s it belongs to — hub tri = 2
    // but coef = 2*2/(4*3) = 1/3 < 1 (the template-vs-hub separation)
    val hub = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (0L, 3L), (0L, 4L), (3L, 4L)).toDF("id_a", "id_b")
    val gh = Clusters.triangleStats(hub, "id_a", "id_b")
      .as[(Long, Long, Long, Option[Double])].collect()
    val h = gh.find(_._1 == 0L).get
    assert(h._2 == 4L && h._3 == 2L && h._4.contains(1.0 / 3))
    assert(gh.filter(_._1 != 0L).forall(r => r._3 == 1L &&
      r._4.contains(1.0)))
  }

  test("triangleStats: duplicated / reversed / self pairs dedupe") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L)).toDF("id_a", "id_b")
    val got = Clusters.triangleStats(messy, "id_a", "id_b")
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L, 1L, Some(1.0)),
      (2L, 2L, 1L, Some(1.0)), (3L, 2L, 1L, Some(1.0))))
  }

  test("kCoreNodes: pendant and chain peel away in cascading rounds, " +
    "the triangle core survives with within-core degrees") {
    // triangle 1-2-3 with a chain 3-4-5-6: the 2-core is the triangle,
    // and the chain needs THREE peel rounds (6, then 5, then 4)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L)).toDF("id_a", "id_b")
    val got = Clusters.kCoreNodes(g, "id_a", "id_b", k = 2)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))

    // fixpoint inside the bound: one more round changes nothing
    val more = Clusters.kCoreNodes(g, "id_a", "id_b", k = 2, rounds = 7)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(more.toSeq == got.toSeq)

    // K4 at k=3: everything survives at degree 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("id_a", "id_b")
    val g4 = Clusters.kCoreNodes(k4, "id_a", "id_b", k = 3)
      .as[(Long, Long)].collect()
    assert(g4.length == 4 && g4.forall(_._2 == 3L))

    // a bare path has no 2-core at all
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    assert(Clusters.kCoreNodes(path, "id_a", "id_b", k = 2).count() == 0)

    // empty input stays empty and typed
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val e = Clusters.kCoreNodes(empty, "id_a", "id_b", k = 2)
    assert(e.columns.toSeq == Seq("id", "deg") && e.count() == 0)
  }

  test("kCoreNodes: the default bound reaches the fixpoint on the real " +
    "near-dup pair graph (sf0.001)") {
    val pairs = Dedup.nGramJaccard(
      graft.Tables.load(spark, "/root/testdata/sf0.001", "documents"),
      "text", "doc_id", tauNum = 1, tauDen = 4)
      .select(col("id_a"), col("id_b"))
    def run(r: Int) = Clusters.kCoreNodes(pairs, "id_a", "id_b",
        k = 2, rounds = r)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(6) == run(7), "6 peel rounds must reach the fixpoint")
  }

  test("triangleStats: empty graph yields an empty typed frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Clusters.triangleStats(empty, "id_a", "id_b")
    assert(got.columns.toSeq == Seq("id", "deg", "tri", "coef"))
    assert(got.count() == 0)
  }

  test("softDedupWeights: cluster members weight 1/k, singletons keep " +
    "weight 1, and eff_tok sums to the deduplicated budget") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L), (9L, 7L))
      .toDF("doc_id", "n_tok")
    val got = Clusters.softDedupWeights(pairs, "id_a", "id_b",
        docs, "doc_id", "n_tok")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got(1L) == ((1L, 3L, 1.0 / 3, 10.0 / 3)))
    assert(got(2L) == ((1L, 3L, 1.0 / 3, 20.0 / 3)))
    assert(got(3L) == ((1L, 3L, 1.0 / 3, 30.0 / 3)))
    assert(got(9L) == ((9L, 1L, 1.0, 7.0)), "singleton untouched")
    // deduplicated budget: one cluster's worth (20) + the singleton (7)
    assert(math.abs(got.values.map(_._4).sum - 27.0) < 1e-9)
  }

  test("labelProp: a bridge edge between two triangles does NOT merge " +
    "them (the split connected components cannot make)") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the single bridge 3-4
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val lab = Clusters.labelProp(pairs, "id_a", "id_b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab.size == 6)
    assert(lab(1L) == lab(2L) && lab(2L) == lab(3L))
    assert(lab(4L) == lab(5L) && lab(5L) == lab(6L))
    assert(lab(1L) != lab(4L), "majority vote keeps the triangles apart")
    // CC on the same graph collapses everything across the bridge
    assert(Clusters.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().map(_._2).distinct.length == 1)
  }

  test("assortativity: star -1, 4-path -1/2, regular graph NULL; " +
    "duplicates, reversals and self-loops collapse") {
    import spark.implicits._
    def r(edges: (Long, Long)*): (Long, Option[Double]) = {
      val row = Clusters
        .assortativity(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect()(0)
      (row.getLong(0), Option(row.get(6)).map(_.asInstanceOf[Double]))
    }
    // star K1,3: M=6, Σx=12, Σxy=18, Σx²=30 → r = (108−144)/(180−144)
    assert(r((0L, 1L), (0L, 2L), (0L, 3L)) == ((6L, Some(-1.0))))
    // path 1-2-3-4: degs (1,2,2,1) → r = (96−100)/(108−100) = −1/2
    assert(r((1L, 2L), (2L, 3L), (3L, 4L)) == ((6L, Some(-0.5))))
    // K3: every degree equal → den = 0 → NULL (degenerate by contract)
    assert(r((1L, 2L), (2L, 3L), (1L, 3L)) == ((6L, None)))
    // duplicate + reversed edges and a self-loop reduce to the star
    assert(r((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L), (0L, 2L), (0L, 3L))
      == ((6L, Some(-1.0))))
  }

  test("textRank: scalar replay on a star doc; uniform 2-node doc is a " +
    "fixed point at scale/2; self-repeat and empty docs emit nothing") {
    val docs = Seq(
      (1L, "h a h b h c"), // co-occurrence star: h is the hub
      (2L, "a b a b"),     // one undirected edge: symmetric ranks
      (3L, "x x x"),       // self-adjacency only: no non-self edges
      (4L, "")             // empty text
    ).toDF("doc_id", "text")
    val scale = 1000000L
    val got = Clusters
      .textRank(docs, "doc_id", "text", iters = 5, topK = 5, scale = scale)
      .as[(Long, String, Long, Long)].collect()

    // scalar replay of the exact integer recurrence for doc 1
    val adj = Map("h" -> Seq("a", "b", "c"), "a" -> Seq("h"),
      "b" -> Seq("h"), "c" -> Seq("h"))
    val tele = 15L * scale / (100L * adj.size)
    var r = adj.keys.map(_ -> scale / adj.size).toMap
    (1 to 5).foreach { _ =>
      r = adj.map { case (u, nbrs) =>
        u -> (tele + nbrs.map(v => r(v) / adj(v).length).sum * 85L / 100L)
      }
    }
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(x => x._2 -> x._3).toMap == r, "doc-1 scalar replay")
    assert(d1.minBy(_._4)._2 == "h", "hub keyword must rank first")

    // doc 2: uniform rank is a PageRank fixed point — exactly scale/2,
    // tie broken by word: a before b
    val d2 = got.filter(_._1 == 2L).sortBy(_._4)
    assert(d2.map(x => (x._2, x._3)).toSeq ==
      Seq(("a", scale / 2), ("b", scale / 2)))

    // docs 3 and 4 contribute no rows at all
    assert(!got.exists(x => x._1 == 3L || x._1 == 4L))
    // global ordering: (doc_id, rn)
    assert(got.map(x => (x._1, x._4)).toSeq ==
      got.map(x => (x._1, x._4)).sortBy(identity).toSeq)
  }

  test("textRank: topK bounds the per-doc output and ranks are " +
    "deterministic across runs") {
    val doc = Seq((7L, "a b c d e f g a c e g b d f")).toDF("doc_id", "text")
    val top2 = Clusters.textRank(doc, "doc_id", "text", topK = 2)
      .as[(Long, String, Long, Long)].collect()
    assert(top2.length == 2 && top2.map(_._4).toSeq == Seq(1L, 2L))
    val again = Clusters.textRank(doc, "doc_id", "text", topK = 2)
      .as[(Long, String, Long, Long)].collect()
    assert(top2.toSeq == again.toSeq, "deterministic")
  }
}
