package graft

import graft.ops.Vectors
import org.apache.spark.sql.functions._

/** Vector ops against a clustered fixture where true neighbors are known
  * by construction — the verification story for ann_lsh_topk (no oracle)
  * — plus exactness checks for centroids on real data. */
class VectorsSpec extends GraftSpec {
  import VectorsFixture._

  lazy val fixtureDir: String = writeFixture(spark, tmpDir)

  test("cosine_knn: every neighbor comes from the same cluster") {
    val rows = Vectors.cosineKnn(spark, fixtureDir).collect()
    assert(rows.length === 50)
    rows.foreach { r =>
      val (id, nn, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      // the op scans the upper triangle (nn > id), so the highest id in a
      // cluster has no same-cluster candidate left — skip those five
      if (id % 10 != 9) {
        assert(cluster(id) === cluster(nn), s"vec $id paired with $nn")
        assert(sim > 0.9 && sim <= 1.0)
      }
    }
  }

  test("ann_lsh_topk: recall vs brute force on clustered data") {
    val got = Vectors.annLshTopk(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "LSH must return candidates")
    // brute-force true NN per vector (any direction, ties to lowest id,
    // sim rounded to 4 dp — mirroring the op's determinism rules)
    val vecs = embeddingRows.map(e => e.vec_id -> e.embedding.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.rint(d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum) * 1e4) / 1e4
    }
    val trueNn = vecs.keys.map { id =>
      id -> vecs.keys.filter(_ != id)
        .map(o => (o, cos(vecs(id), vecs(o))))
        .minBy { case (o, s) => (-s, o) }._1
    }.toMap
    val hits = got.count { case (id, nn) => trueNn(id) == nn }
    val recall = hits.toDouble / got.size
    assert(recall >= 0.7, s"recall $recall (${hits}/${got.size})")
  }

  test("ann_ivf_topk: recall vs brute force on clustered data") {
    val got = Vectors.annIvfTopk(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "IVF must return candidates")
    val sameCluster = got.count { case (id, nn) => cluster(id) == cluster(nn) }
    assert(sameCluster.toDouble / got.size >= 0.8,
      s"IVF neighbor in true cluster: $sameCluster/${got.size}")
  }

  test("knn_label_accuracy: planted clusters score perfectly, guard fires") {
    // 10 tight clusters labeled by cluster id: all 5 nearest neighbors
    // of every vector share its label, so the majority vote must be
    // exact for every label class
    val rows = Vectors.knnLabelAccuracy(spark, fixtureDir).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(1) === 10L, s"label ${r.getInt(0)} n=${r.getLong(1)}")
      assert(r.getLong(2) === 10L && r.getDouble(3) === 1.0,
        s"label ${r.getInt(0)} acc=${r.getDouble(3)}")
    }
    // same fail-fast contract as cosine_knn: refuse past the row guard
    val e = intercept[IllegalArgumentException] {
      Vectors.knnLabelAccuracy(spark, fixtureDir, maxRows = 10L)
    }
    assert(e.getMessage.contains("brute force"), e.getMessage)
  }

  test("dedup_embedding flags planted near-dupes, only real ones") {
    val rows = Vectors.dedupEmbedding(spark, fixtureDir, 0.95).collect()
    val dups = rows.filter(_.getBoolean(3))
    assert(dups.nonEmpty, "clustered fixture must contain cosine near-dupes")
    dups.foreach { r =>
      assert(cluster(r.getLong(0)) === cluster(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) crosses clusters")
      assert(r.getDouble(2) >= 0.95)
    }
  }

  test("cosine_knn refuses brute force past maxRows, pointing at the ANN ops") {
    val e = intercept[IllegalArgumentException] {
      Vectors.cosineKnn(spark, fixtureDir, maxRows = 10)
    }
    assert(e.getMessage.contains("annLshTopk"), e.getMessage)
    // at-or-under the bound still runs (100-vector fixture)
    assert(Vectors.cosineKnn(spark, fixtureDir, maxRows = 100).count() === 50)
  }

  test("embed_centroids equals a driver-side mean to 1e-6") {
    val got = Vectors.embedCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val raw = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val expected = raw.groupBy(_._1).flatMap { case (label, rows) =>
      (1 to 64).map { pos =>
        (label, pos) -> rows.map(_._2(pos - 1).toDouble).sum / rows.length
      }
    }
    expected.foreach { case (key, c) =>
      assert(math.abs(got(key) - c) < 1e-6, s"centroid $key")
    }
  }

  test("quantize stats: driver recompute per label, cosine near 1, counts conserve") {
    val got = Vectors.quantizeStats(spark, sf).collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val raw = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(got.values.map(_._1).sum === raw.length.toLong)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = raw.groupBy(_._1).map { case (label, rows) =>
      val per = rows.map { case (_, v) =>
        val scale = v.map(math.abs).max
        // HALF_UP like the engines' round(); rint would half-even
        val q = v.map { x =>
          BigDecimal(127 * x / scale)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble * scale / 127
        }
        def dot(a: Array[Double], b: Array[Double]) =
          a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
        val mse = (dot(v, v) - 2 * dot(v, q) + dot(q, q)) / v.length * 1e6
        val cos = dot(v, q) / (math.sqrt(dot(v, v)) * math.sqrt(dot(q, q)))
        (r6(scale), r6(mse), r6(cos))
      }
      label -> (per.length.toLong,
        r6(per.map(p => math.rint(p._1 * 1e6).toLong).sum / 1e6 / per.length),
        r6(per.map(p => math.rint(p._2 * 1e6).toLong).sum / 1e6 / per.length),
        r6(per.map(p => math.rint(p._3 * 1e6).toLong).sum / 1e6 / per.length))
    }
    expect.foreach { case (label, (n, sc, mse, cos)) =>
      val g = got(label)
      assert(g._1 === n, s"label $label n")
      assert(math.abs(g._2 - sc) < 2e-6, s"label $label scale")
      assert(math.abs(g._3 - mse) < 2e-6, s"label $label mse")
      assert(math.abs(g._4 - cos) < 2e-6, s"label $label cos")
      assert(g._4 > 0.999 && g._4 <= 1.0, s"label $label cosine sanity")
    }
  }

  test("dim stats: driver recompute per dimension on real data") {
    val got = Vectors.dimStats(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toMap
    val raw = Tables.embeddings(spark, sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    assert(got.size === 64)
    def d9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (1 to 64).foreach { pos =>
      val xs = raw.map(_(pos - 1))
      val n = xs.length
      // the op's exact-decimal spelling: each double rounds to 9 dp, the
      // sums are exact, variance derives once in double
      val s1 = xs.map(d9).sum.toDouble
      val s2 = xs.map(x => d9(x * x)).sum.toDouble
      val mean = s1 / n
      val varp = s2 / n - mean * mean
      val g = got(pos)
      assert(g._1 === n.toLong, s"pos $pos n")
      assert(math.abs(g._2 - r6(mean)) < 1e-9, s"pos $pos mean")
      assert(math.abs(g._3 - r6(varp)) < 1e-9, s"pos $pos var")
      assert(g._4 === r6(xs.min) && g._5 === r6(xs.max), s"pos $pos min/max")
      assert(g._6 === (varp < 1e-6), s"pos $pos dead flag")
      assert(!g._6, s"pos $pos: real data has no dead dims")
    }
  }

  test("dim stats: dead / collapsed dimension flags fire, live dims don't") {
    import spark.implicits._
    val dir = s"$tmpDir/dimstats"
    // dim 3 constant (a stuck unit: variance exactly 0), dim 7 nearly
    // constant (collapsed: tiny jitter below the 1e-6 floor), the rest
    // live; 40 vectors so every live dim clears the threshold
    val rows = (0 until 40).map { i =>
      val v = Array.tabulate(8) {
        case 2 => 0.5f
        case 6 => 0.25f + (if (i % 2 == 0) 1e-5f else -1e-5f) * 0.01f
        case j => ((i * 31 + j * 17) % 13 - 6).toFloat / 7f
      }
      VectorsFixture.Emb(i.toLong, v, i % 2)
    }
    rows.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Vectors.dimStats(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3), r.getBoolean(6))).toMap
    assert(got.size === 8)
    assert(got(3) === ((0.5, 0.0, true)), "constant dim: mean 0.5, var 0, dead")
    assert(got(7)._3, "collapsed dim flagged dead")
    ((1 to 8).toSet -- Set(3, 7)).foreach { pos =>
      assert(!got(pos)._3, s"live dim $pos wrongly flagged")
      assert(got(pos)._2 > 1e-6, s"live dim $pos variance")
    }
  }

  test("label separability: planted clusters give textbook margins, zero-intra guards") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/separability"
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // label 0: two IDENTICAL vectors → intra 0, separation NULL (guard);
    // label 1: (0,1,..) and (0,3,..) → centroid (0,2,..), intra d2 = 1
    // for both members; inter d2 between (1,0,..) and (0,2,..) = 5
    Seq(
      VectorsFixture.Emb(1L, v(1, 0, 0, 0), 0),
      VectorsFixture.Emb(2L, v(1, 0, 0, 0), 0),
      VectorsFixture.Emb(3L, v(0, 1, 0, 0), 1),
      VectorsFixture.Emb(4L, v(0, 3, 0, 0), 1))
      .toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Vectors.labelSeparability(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)), r.getDouble(4), Option(r.get(5))))
    assert(got.toSeq === Seq(
      (0, 2L, 0.0, Some(1), 5.0, None),
      (1, 2L, 1.0, Some(0), 5.0, Some(5.0))))
  }

  test("ivf recall: all four counters recompute from a driver-side fold") {
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // exact side: full O(n²) argmax over collected unit vectors —
    // completely independent of the frame pipeline
    val unit = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (r.getLong(0), v.map(_ / math.sqrt(s)), s)
      }
      .filter { case (_, _, s) => s > 0 }
      .map { case (id, u, _) => (id, u) }
    def d(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val exact = unit.map { case (id, u) =>
      id -> unit.filter(_._1 != id)
        .map { case (nid, nu) => (nid, r4(d(u, nu))) }
        .minBy { case (nid, sim) => (-sim, nid) }
    }.toMap
    // approx side: the op's own candidate stream, argmax folded here
    val approx = Vectors.ivfCandidates(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(cs =>
        cs.map(c => (c._2, c._3)).minBy { case (nid, sim) => (-sim, nid) })
      .toMap
    val idM = exact.count { case (id, (enn, _)) =>
      approx.get(id).exists(_._1 == enn) }
    val tieM = exact.count { case (id, (_, esim)) =>
      approx.get(id).exists(_._2 == esim) }
    val row = Vectors.annIvfRecall(spark, sf).collect().head
    assert(row.getLong(0) === exact.size.toLong, "n_vectors")
    assert(row.getLong(1) === exact.keys.count(approx.contains).toLong, "n_found")
    assert(row.getLong(2) === idM.toLong, "n_id_match")
    assert(row.getLong(3) === tieM.toLong, "n_tie_match")
    assert(row.getDouble(4) ===
      BigDecimal(idM.toDouble / exact.size).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, "recall_id")
    assert(row.getDouble(5) ===
      BigDecimal(tieM.toDouble / exact.size).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, "recall_tie")
    assert(row.getLong(3) >= row.getLong(2), "ties can only add matches")
  }

  test("pqCodebook: self-coding fixture gives zero distortion everywhere") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/pq"
    // 8 DISTINCT constant vectors (9-dp- and binary-exact values):
    // whatever the md5 sample order, every subvector seeds its own
    // centroid and the Lloyd mean of a singleton reproduces the value
    // EXACTLY, so all 64 cells quantize losslessly with population 1
    val rows = (0 until 8).map(k =>
      VectorsFixture.Emb(k.toLong, Array.fill(64)(k * 0.5f), 0))
    rows.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Vectors.pqCodebook(spark, dir).collect()
    assert(got.length === 64, "8 subspaces x 8 non-empty cells")
    (0 until 8).foreach { m =>
      val cells = got.filter(_.getInt(0) == m)
      assert(cells.map(_.getLong(2)).toSeq === Seq.fill(8)(1L),
        s"subspace $m populations")
      cells.foreach(r => assert(r.getDouble(3) === 0.0,
        s"lossless cell (${r.getInt(0)}, ${r.getInt(1)})"))
    }
    // sf invariants: populations cover every vector in every subspace,
    // distortion is non-negative and finite
    val n = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull).count()
    val sfGot = Vectors.pqCodebook(spark, sf).collect()
    (0 until 8).foreach { m =>
      val cells = sfGot.filter(_.getInt(0) == m)
      assert(cells.map(_.getLong(2)).sum === n, s"subspace $m covers corpus")
      cells.foreach(r => assert(r.getDouble(3) >= 0.0 &&
        !r.getDouble(3).isNaN, "distortion sane"))
    }
  }

  test("dimCorrelation: planted copies/negations hit ±1; constant dim drops") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/dimcorr"
    // dim2 = dim1 (corr +1), dim3 = −dim1 (corr −1), dim4 constant
    // (zero variance → every pair touching it drops via den > 0)
    val rows = Seq(1f, 2f, 4f).zipWithIndex.map { case (x, i) =>
      VectorsFixture.Emb(i.toLong, Array(x, x, -x, 5f), 0)
    }
    rows.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Vectors.dimCorrelation(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size === 3, "only the three live-dim pairs survive")
    assert(got((1L, 2L)) === 1.0)
    assert(got((1L, 3L)) === -1.0 && got((2L, 3L)) === -1.0)
    // independent recount at sf: exact BigInt moments over micro longs
    val raw = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v => BigDecimal(v.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .underlying.movePointRight(6).longValueExact()).toArray)
    val d = raw.head.length
    val n = BigInt(raw.length)
    val si = Array.tabulate(d)(i => raw.map(r => BigInt(r(i))).sum)
    val sii = Array.tabulate(d)(i => raw.map(r => BigInt(r(i)) * r(i)).sum)
    val all = (for {
      i <- 0 until d; j <- (i + 1) until d
      sij = raw.map(r => BigInt(r(i)) * r(j)).sum
      num = n * sij - si(i) * si(j)
      dx = n * sii(i) - si(i) * si(i)
      dy = n * sii(j) - si(j) * si(j)
      if dx > 0 && dy > 0
      corr = BigDecimal(num.toDouble /
        (math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    } yield ((i + 1).toLong, (j + 1).toLong, corr))
      .sortBy { case (i, j, c) => (-math.abs(c), i, j) }.take(20)
    val sfGot = Vectors.dimCorrelation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(sfGot.toSeq === all)
  }

  test("spearmanRedundancy: monotone nonlinear coupling hits 1, ties average, constant dim drops") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/spearman"
    // dim1 = (1,2,2,4) with a TIE (avg ranks 1, 2.5, 2.5, 4 → r2 =
    // 2,5,5,8); dim2 = dim1² (monotone nonlinear: identical ranks →
    // rho exactly 1 where Pearson would be < 1); dim3 strictly
    // reversed (r2 = 8,6,4,2 → hand Pearson-on-ranks −72/√(72·80) =
    // −0.948683); dim4 constant (all ranks tie, zero variance →
    // drops); dim5 = 10·dim1 (same ranks as dim1)
    val rows = Seq(
      VectorsFixture.Emb(1L, Array(1f, 1f, 4f, 7f, 10f), 0),
      VectorsFixture.Emb(2L, Array(2f, 4f, 3f, 7f, 20f), 0),
      VectorsFixture.Emb(3L, Array(2f, 4f, 2f, 7f, 20f), 0),
      VectorsFixture.Emb(4L, Array(4f, 16f, 1f, 7f, 40f), 0))
    rows.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Vectors.spearmanRedundancy(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size === 6, "pairs touching the constant dim drop")
    assert(got((1L, 2L)) === 1.0 && got((1L, 5L)) === 1.0 &&
      got((2L, 5L)) === 1.0)
    assert(got((1L, 3L)) === -0.948683 && got((2L, 3L)) === -0.948683 &&
      got((3L, 5L)) === -0.948683)
  }

  test("pcaPower: a planted single-axis cloud recovers the axis, unit share, exact lambda") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/pca"
    // all variance lives on dim 3 (values 1, 2, 4 — DISTINCT, the
    // k-means fixture rule); other dims constant → C has the single
    // nonzero entry C(3,3), so the eigenvector is e₃ with a positive
    // loading (all-ones start), the share is exactly 1, and
    // λ = C(3,3)/(n²·10¹²) in value² units... presented as the
    // half-away 6-dp of (vᵀCv)/(vᵀv·10¹²) with v = 1000·e₃
    val rows = Seq(1f, 2f, 4f).zipWithIndex.map { case (x, i) =>
      VectorsFixture.Emb(i.toLong, Array(7f, x, 5f, 5f), 0)
    }
    rows.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Vectors.pcaPower(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    // C(2,2) = n·Σx² − (Σx)² in micro² = 3·21e12 − 49e12 = 14e12
    // → λ = 14e12·10⁶/(10⁶·1e12) = 14·... exact: vᵀCv/(vᵀv·1e12) =
    // 14e12·1e6/(1e6·1e12) = 14.0; wait v = 1000·e₂: vᵀCv =
    // 1000²·14e12, vᵀv = 1e6 → 14e12/1e12 = 14.0
    assert(got.head === ((1, 2, 1.0, 14.0, 1.0)))
    assert(got.map(_._1).toSeq === (1 to 4), "one row per dim up to d")
    assert(got.tail.forall(r => r._3 == 0.0 && r._5 == 1.0),
      "constant dims carry zero loading")
    // degenerate cloud (all-constant) answers EMPTY, not an error
    val dir2 = s"$tmpDir/pca_const"
    Seq(VectorsFixture.Emb(0L, Array(1f, 1f), 0),
        VectorsFixture.Emb(1L, Array(1f, 1f), 0))
      .toDF().write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    assert(Vectors.pcaPower(spark, dir2).count() === 0)
    // sf recount: the op's own BigInt trajectory is the oracle's; here
    // just pin the invariants that hold for ANY corpus — PSD λ ≥ 0,
    // share ∈ [0, 1], loadings in [-1, 1] with |top| = 1
    val sfRows = Vectors.pcaPower(spark, sf).collect()
    assert(sfRows.length === 8)
    val lam = sfRows.head.getDouble(3); val sh = sfRows.head.getDouble(4)
    assert(lam >= 0 && sh >= 0 && sh <= 1)
    assert(math.abs(sfRows.head.getDouble(2)) === 1.0)
    assert(sfRows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("label separability / pq codebook: trainer memos per relation identity, output unchanged") {
    // round-21 eager-construction memos: the collected centroid rows
    // (labelSeparability) and the trained PQ codebook re-use the SAME
    // instance on a repeat call over the same relation identity, and
    // both ops' outputs — still computed per call by the distributed
    // vector passes — are identical; embed_centroids itself always
    // recomputes (its output IS the memoized artifact)
    val sep1 = Vectors.labelSeparability(spark, sf).collect().toSeq
    val c1 = Vectors.centroidRowsMemo.peek((spark, sf))
      .getOrElse(fail("first call must populate the centroid memo"))
    val sep2 = Vectors.labelSeparability(spark, sf).collect().toSeq
    assert(Vectors.centroidRowsMemo.peek((spark, sf)).get eq c1,
      "repeat call must reuse the collected centroid rows")
    assert(sep2 === sep1)
    // the memoized rows equal a fresh embed_centroids collect (the op
    // that owns the artifact never reads the memo)
    val fresh = Vectors.embedCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(fresh.toSeq === c1.toSeq)
    val pq1 = Vectors.pqCodebook(spark, sf).collect().toSeq
    val b1 = Vectors.pqBooksMemo.peek((spark, sf))
      .getOrElse(fail("first call must populate the codebook memo"))
    val pq2 = Vectors.pqCodebook(spark, sf).collect().toSeq
    assert(Vectors.pqBooksMemo.peek((spark, sf)).get eq b1,
      "repeat call must reuse the trained codebook")
    assert(pq2 === pq1)
  }

  test("pca power: gram state memoizes per relation identity, output unchanged") {
    // round-21 eager-construction memo: the one-pass GramAgg collapse
    // collect runs once per (session, dir, relation identity); a repeat
    // call reuses the SAME flat state and the full BigInt power
    // iteration — the op's output — recomputes from it per call
    val out1 = Vectors.pcaPower(spark, sf).collect().toSeq
    val g1 = Vectors.gramStateMemo.peek((spark, sf))
      .getOrElse(fail("first call must populate the gram-state memo"))
    assert(g1.nonEmpty, "sf corpus has a non-degenerate gram state")
    val out2 = Vectors.pcaPower(spark, sf).collect().toSeq
    assert(Vectors.gramStateMemo.peek((spark, sf)).get eq g1,
      "repeat call must reuse the memoized state")
    assert(out2 === out1)
  }
}

object VectorsFixture {
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** 10 clusters × 10 vectors: unit base direction + 5% noise, so each
    * vector's true nearest neighbor is inside its cluster. Deterministic
    * (fixed seed). */
  val embeddingRows: Seq[Emb] = {
    val rnd = new scala.util.Random(7)
    (0 until 10).flatMap { c =>
      val base = Array.fill(64)(rnd.nextGaussian())
      (0 until 10).map { i =>
        val v = base.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
        Emb(c * 10L + i, v, c)
      }
    }
  }

  def cluster(id: Long): Long = id / 10

  def writeFixture(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    embeddingRows.toDF().write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }
}
