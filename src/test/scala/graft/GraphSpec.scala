package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._

/** Connected-components invariants: known component structure, chain
  * convergence past several rounds, and the end-to-end minhash→cluster
  * pipeline on an identical-document flood. */
class GraphSpec extends GraftSpec {

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val spark0 = spark
    import spark0.implicits._
    Graph.connectedComponents(edges.toDF("a_id", "b_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two components resolve to their min ids") {
    val got = components(Seq((1L, 2L), (2L, 3L), (5L, 4L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("a chain longer than a few rounds still converges to one label") {
    // path graph 10-11-...-19: min-label needs ~diameter rounds
    val got = components((10L until 19L).map(i => (i, i + 1)))
    assert(got.values.toSet === Set(10L))
    assert(got.size === 10)
  }

  test("reliable-storage checkpoint path yields the same components") {
    // with a checkpoint directory set, Checkpoint.truncate writes a
    // reliable `checkpoint` (survives executor loss on a real cluster)
    // instead of a localCheckpoint; the labels must be identical and
    // the checkpoint dir actually used
    val dir = java.nio.file.Files.createTempDirectory("graph-ckpt").toString
    try {
      val got = withCheckpointDir(dir)(components(Seq((1L, 2L), (2L, 3L), (5L, 4L))))
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
      assert(fileCount(new java.io.File(dir)) > 0,
        s"no checkpoint files written under $dir")
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "the fixture must unset the checkpoint directory")
    } finally deleteTree(new java.io.File(dir))
  }

  test("a capped non-converged run throws instead of returning split labels") {
    val spark0 = spark
    import spark0.implicits._
    // path graph of diameter 9 cannot settle in 3 rounds; silently
    // returning would split one component across several labels
    val chain = (10L until 19L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(chain, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("maxIter"), e.getMessage)
  }

  test("local union-find matches distributed connectedComponents") {
    // dedupClusters' answer-sized driver path and the distributed loop
    // must agree on min-label components for the same edge list
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 7L), (9L, 8L), (8L, 4L))
    assert(Graph.unionFindLocal(edges) === components(edges))
  }

  /** Driver-side recount of the EXACT pagerank integer contract
    * (init 1e9/N, per-edge r·85·w div (ow·100) with 128-bit
    * intermediates, base 0.15e9/N) — independent of the DataFrame
    * loop, so a frame-side arithmetic bug cannot self-confirm. */
  private def localPagerank(edges: Seq[(Long, Long, Long)],
                            iters: Int): Map[Long, Long] = {
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = edges.map(_._1).distinct
    val n = nodes.size
    var r = nodes.map(_ -> 1000000000L / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(_.map {
        case (s, _, w) =>
          (BigInt(r(s)) * 85 * w / (BigInt(outw(s)) * 100)).toLong
      }.sum).toMap
      r = nodes.map(nd => nd -> (150000000L / n + contrib.getOrElse(nd, 0L)))
        .toMap
    }
    r
  }

  private def ranksOf(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val spark0 = spark
    import spark0.implicits._
    Graph.pagerankRanks(edges.toDF("s", "t", "w"), iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("edge memo: reliable-checkpoint mode matches local mode; eviction drops both") {
    // the memoized co-purchase edge frame must be buildable through the
    // RELIABLE checkpoint (blocks survive executor loss) when the
    // deployment sets a checkpoint directory, yield the same edges as
    // the local mode, hit in either mode, and evict on request
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ckptDir = java.nio.file.Files.createTempDirectory("edge-ckpt").toString
    try {
      Graph.edgeMemo.evict(spark, sf)
      val local = edgeSet(Graph.copurchaseEdges(spark, sf))
      // memoized: same instance back on a second call
      assert(Graph.copurchaseEdges(spark, sf)
        eq Graph.copurchaseEdges(spark, sf))
      val reliable = withCheckpointDir(ckptDir) {
        Graph.edgeMemo.evict(spark, sf)
        val frame = Graph.copurchaseEdges(spark, sf)
        assert(fileCount(new java.io.File(ckptDir)) > 0,
          s"no checkpoint files written under $ckptDir")
        assert(Graph.copurchaseEdges(spark, sf) eq frame)
        edgeSet(frame)
      }
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "the fixture must unset the checkpoint directory")
      assert(reliable === local, "modes must produce identical edge sets")
      // eviction: the next call rebuilds (a fresh DataFrame instance),
      // back in local mode
      val before = Graph.copurchaseEdges(spark, sf)
      Graph.edgeMemo.evict(spark, sf)
      val after = Graph.copurchaseEdges(spark, sf)
      assert(!(before eq after), "evict must force a rebuild")
      assert(edgeSet(after) === local)
    } finally {
      // never leave a memoized frame whose checkpoint files are deleted
      Graph.edgeMemo.evict(spark, sf)
      deleteTree(new java.io.File(ckptDir))
    }
  }

  test("pagerank: a symmetric two-node graph is an exact fixed point") {
    // each node holds exactly half the mass forever: 5e8·85·1 div 100
    // = 425000000, + base 75000000 = 500000000 — zero truncation loss
    val got = ranksOf(Seq((1L, 2L, 1L), (2L, 1L, 1L)), iters = 4)
    assert(got === Map(1L -> 500000000L, 2L -> 500000000L))
  }

  test("pagerank: distributed ranks match the driver-side integer recount") {
    val edges = Seq(
      (1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 2L), (3L, 1L, 1L),
      (3L, 4L, 5L), (4L, 5L, 1L), (5L, 1L, 2L), (4L, 1L, 1L), (1L, 3L, 1L))
    val got = ranksOf(edges, iters = 8)
    assert(got === localPagerank(edges, iters = 8))
    // truncation may only LOSE mass, never create it
    assert(got.values.sum <= 1000000000L)
    assert(got.values.forall(_ > 0))
  }

  test("pagerank: gated-long and decimal contribution paths land identical integers") {
    // the round-20 allocation gate routes the contribution through
    // primitive longs when the measured caps allow; the 128-bit
    // spelling stays the over-cap path — both must walk the SAME
    // integer trajectory (div is IntegralDivide -> LONG either way)
    val edges = Seq(
      (1L, 2L, 3L), (2L, 1L, 1L), (2L, 3L, 2L), (3L, 1L, 1L),
      (3L, 4L, 5L), (4L, 5L, 1L), (5L, 1L, 2L), (4L, 1L, 1L), (1L, 3L, 1L))
    val spark0 = spark
    import spark0.implicits._
    val df = edges.toDF("s", "t", "w")
    val fast = Graph.pagerankRanks(df, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dec = Graph.pagerankRanks(df, iters = 8, forceDecimal = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === dec)
  }

  test("pagerank harness op: top-20 frame shape and presentation contract") {
    val rows = Graph.pagerankParts(spark, sf).collect()
    assert(rows.length === 20)
    val ppb = rows.map(_.getLong(1))
    assert(ppb.zip(ppb.tail).forall { case (a, b) => a >= b },
      "rank_ppb must be non-increasing")
    assert(rows.forall(r => r.getDouble(2) ==
      math.round(r.getLong(1) / 1e9 * 1e6) / 1e6),
      "rank is exactly the 6-dp presentation of rank_ppb")
  }

  test("copurchase components: census matches a driver union-find recount") {
    // the sf fixture's strong co-purchase pair list is small enough to
    // collect; union-find is an independent algorithm, so agreement
    // checks the whole distributed loop, not just its arithmetic
    val pairs = Graph.copurchaseEdges(spark, sf)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select("s", "t").collect().map(r => (r.getLong(0), r.getLong(1)))
    val census = Graph.unionFindLocal(pairs).groupBy(_._2)
      .map { case (lbl, m) => (m.size.toLong, lbl) }.toSeq
      .groupBy(_._1).map { case (cs, xs) =>
        (cs, xs.size.toLong, xs.map(_._2).min)
      }.toSeq.sortBy { case (cs, _, mc) => (-cs, mc) }
    val got = Graph.copurchaseComponents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === census)
  }

  test("dedup savings: planted identical clusters save every non-canonical char") {
    val spark0 = spark
    import spark0.implicits._
    // disjoint vocabularies → cross-cluster est-jaccard 0; identical
    // docs cluster at est 1.0
    val ta = "alpha beta gamma delta epsilon zeta eta theta iota"
    val tb = "one two three four five six seven eight nine ten"
    val tc = "completely different singleton document text here"
    val dir = s"$tmpDir/savings"
    Seq((1L, ta), (2L, ta), (3L, ta), (4L, tb), (5L, tb), (6L, tc))
      .map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Graph.dedupSavings(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expect = Seq(
      (1L, 3L, 3L * ta.length, 2L * ta.length),
      (4L, 2L, 2L * tb.length, tb.length.toLong))
      .sortBy { case (c, _, _, saved) => (-saved, c) }
    assert(got.toSeq === expect)
  }

  test("triangles: planted K4 plus a pendant edge counts exactly") {
    val spark0 = spark
    import spark0.implicits._
    // two orders holding parts 1–4 (every pair w=2 → K4: 4 triangles,
    // 12 wedges) plus two orders holding {1,5} (pendant edge 1–5:
    // +3 wedges at node 1, no triangle) → transitivity 12/15 = 0.8
    val dir = s"$tmpDir/tri"
    val rows = (for (o <- 1L to 2L; p <- 1L to 4L) yield (o, p)) ++
      Seq((3L, 1L), (3L, 5L), (4L, 1L), (4L, 5L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Graph.copurchaseTriangles(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((5L, 7L, 4L, 15L)))
    assert(r.getDouble(4) === 0.8)
  }

  test("node jaccard: K4 plus pendant gives the hand-computed neighborhood ratios") {
    val spark0 = spark
    import spark0.implicits._
    // K4 over parts 1–4 (w=2 each pair) + pendant edge 1–5 (w=2):
    // N(1)={2,3,4,5}, N(2..4) = the other K4 nodes + 1, N(5)={1}
    val dir = s"$tmpDir/njacc"
    val rows = (for (o <- 1L to 2L; p <- 1L to 4L) yield (o, p)) ++
      Seq((3L, 1L), (3L, 5L), (4L, 1L), (4L, 5L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Graph.nodeJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      // K4-internal edges among deg-3 nodes: common 2, union 4 → 0.5
      (2L, 3L, 3L, 3L, 2L, 0.5), (2L, 4L, 3L, 3L, 2L, 0.5),
      (3L, 4L, 3L, 3L, 2L, 0.5),
      // hub edges: common 2, union 4+3−2=5 → 0.4
      (1L, 2L, 4L, 3L, 2L, 0.4), (1L, 3L, 4L, 3L, 2L, 0.4),
      (1L, 4L, 4L, 3L, 2L, 0.4),
      // pendant: no common neighbor → 0.0
      (1L, 5L, 4L, 1L, 0L, 0.0)))
  }

  test("kcore: cascade peel (pendant, then its anchor) leaves exactly the K4") {
    val spark0 = spark
    import spark0.implicits._
    // K4 over 1–4; node 5 tied to 1, 2 and 6 (deg 3); node 6 only to 5
    // (deg 1). Round 1 peels 6 → deg(5) drops to 2; round 2 peels 5 →
    // the K4 survives with min degree 3. The cascade is the point: no
    // single degree histogram finds node 5.
    val dir = s"$tmpDir/kcore1"
    val rows = (for (o <- 1L to 2L; p <- 1L to 4L) yield (o, p)) ++
      (for (o <- 3L to 4L; p <- Seq(1L, 2L, 5L)) yield (o, p)) ++
      Seq((5L, 5L), (5L, 6L), (6L, 5L), (6L, 6L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Graph.kcoreSummary(spark, dir).collect().head
    assert((r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3, 2L, 4L, 6L, 3L)))
  }

  test("kcore: a pure cycle peels away entirely (empty core, NULL min degree)") {
    val spark0 = spark
    import spark0.implicits._
    // 5-cycle, every node degree 2 < 3: one peel round empties the graph
    val dir = s"$tmpDir/kcore2"
    val rows = (0L until 5L).flatMap(i =>
      Seq((10 + 2 * i, i + 1), (10 + 2 * i, (i + 1) % 5 + 1),
          (11 + 2 * i, i + 1), (11 + 2 * i, (i + 1) % 5 + 1)))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Graph.kcoreSummary(spark, dir).collect().head
    assert((r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3, 1L, 0L, 0L)))
    assert(r.isNullAt(4), "empty core has no min degree")
  }

  test("assortativity: a star is exactly −1; a regular graph is NULL (zero variance)") {
    val spark0 = spark
    import spark0.implicits._
    // star: center 1 ⟷ leaves 2,3,4 (each edge w=2 via a {1,leaf}
    // basket twice) — Newman r = −1 exactly; the integer closed form
    // must land on it with no float anywhere
    val dir = s"$tmpDir/assort1"
    val star = (2L to 4L).flatMap(leaf => Seq(
      (leaf * 10, 1L), (leaf * 10, leaf), (leaf * 10 + 1, 1L), (leaf * 10 + 1, leaf)))
    star.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Graph.assortativity(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1)) === ((4L, 3L)))
    assert(r.getDouble(2) === -1.0)
    // K4: every degree 3 → den = 0 → NULL on both engines
    val dir2 = s"$tmpDir/assort2"
    (for (o <- 1L to 2L; p <- 1L to 4L) yield (o, p))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir2/lineitem.parquet")
    val r2 = Graph.assortativity(spark, dir2).collect().head
    assert((r2.getLong(0), r2.getLong(1)) === ((4L, 6L)))
    assert(r2.isNullAt(2), "degree-regular graph has no assortativity")
  }

  test("basket cap: an over-cap basket keeps the smallest part ids, within-cap untouched") {
    val spark0 = spark
    import spark0.implicits._
    // order 1: MaxBasketParts + 10 parts (over cap) — only pairs among
    // the cap smallest ids may survive; order 2+3: {1,2} twice (w=2,
    // within cap, must be untouched by the guard)
    val cap = Graph.MaxBasketParts
    val dir = s"$tmpDir/basketcap"
    val rows = (1L to (cap + 10L)).map(p => (1L, p)) ++
      Seq((2L, 1L), (2L, 2L), (3L, 1L), (3L, 2L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val edges = Graph.copurchaseEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // deterministic keep: parts 1..cap of order 1; parts cap+1..cap+10
    // appear in NO pair
    assert(!edges.exists { case (s, t, _) => s > cap || t > cap })
    // all kept pairs of order 1 present: cap*(cap-1) directed pairs,
    // plus the within-cap basket's edge at w=2 on top of order 1's w=1
    assert(edges.length === cap * (cap - 1))
    assert(edges.count(_._3 == 3L) === 2, "pair (1,2)/(2,1): w = 1+2 = 3")
    assert(edges.count(_._3 == 1L) === cap * (cap - 1) - 2)
  }

  test("triangles: census recomputes from driver-side adjacency sets") {
    val edges = Graph.copurchaseEdges(spark, sf)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select("s", "t").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val tri = edges.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b)
    }.sum.toLong
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val r = Graph.copurchaseTriangles(spark, sf).collect().head
    assert(r.getLong(0) === adj.size.toLong, "n_nodes")
    assert(r.getLong(1) === edges.length.toLong, "n_edges")
    assert(r.getLong(2) === tri, "triangles")
    assert(r.getLong(3) === wedges, "wedges")
  }

  test("degree distribution: K4 + pendant gives the exact histogram") {
    val spark0 = spark
    import spark0.implicits._
    // same planted graph as the triangle spec: K4 on parts 1–4 plus a
    // strong pendant edge 1–5 → degrees (4,3,3,3,1): histogram
    // 1→1 node, 3→3 nodes, 4→1 node; shares /5
    val dir = s"$tmpDir/degdist"
    val rows = (for (o <- 1L to 2L; p <- 1L to 4L) yield (o, p)) ++
      Seq((3L, 1L), (3L, 5L), (4L, 1L), (4L, 5L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Graph.degreeDistribution(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 1L, 0.2), (3L, 3L, 0.6), (4L, 1L, 0.2)))
    // independent recount at sf from the collected edge list
    val edges = Graph.copurchaseEdges(spark, sf)
      .filter(col("w") >= 2 && col("s") < col("t"))
      .select("s", "t").collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length).toMap
    val hist = deg.values.groupBy(identity).view.mapValues(_.size).toMap
    val sfGot = Graph.degreeDistribution(spark, sf).collect()
    assert(sfGot.length === hist.size)
    sfGot.foreach { r =>
      assert(r.getLong(1) === hist(r.getLong(0).toInt).toLong,
        s"degree ${r.getLong(0)}")
    }
  }

  test("flood fixture: minhash pairs collapse into a single cluster") {
    val floodDir = TextFixture.writeFlood(spark, s"$tmpDir/g")
    val rows = Graph.dedupClusters(spark, floodDir).collect()
    assert(rows.length === 1, rows.mkString(","))
    assert(rows.head.getLong(0) === 1L, "canonical id is the minimum doc id")
    // every doc that appeared in a candidate pair is in the one cluster
    val paired = graft.ops.Text.dedupMinhash(spark, floodDir)
      .filter(col("est_jaccard") >= 0.8)
      .select(explode(array(col("a_id"), col("b_id")))).distinct().count()
    assert(rows.head.getLong(1) === paired)
  }
  test("dedup clusters/savings: pair list memoizes per relation identity, output unchanged") {
    // round-21 eager-construction memo: the minhash top-100 collect
    // runs once per (session, dir, relation identity) and is shared by
    // both cluster ops; dedup_minhash itself never reads the memo (its
    // output is where the list derives from - the bpe_merges
    // discipline), and both consumers' outputs recompute per call
    val cl1 = Graph.dedupClusters(spark, sf).collect().toSeq
    val m1 = Graph.minhashPairsMemo.peek((spark, sf))
      .getOrElse(fail("first call must populate the pairs memo"))
    val sv1 = Graph.dedupSavings(spark, sf).collect().toSeq
    assert(Graph.minhashPairsMemo.peek((spark, sf)).get eq m1,
      "savings must reuse the same collected pair list")
    assert(Graph.dedupClusters(spark, sf).collect().toSeq === cl1)
    assert(Graph.dedupSavings(spark, sf).collect().toSeq === sv1)
    // the memoized list equals a fresh uncached build
    assert(Graph.minhashClusterPairsBuild(spark, sf) === m1)
  }
}
