package graft

import graft.ops.Text
import org.apache.spark.sql.functions._

/** Dedup family against crafted near-duplicates — the verification story
  * for the no-oracle ops (minhash, simhash, langid) plus the scale
  * assertions (fingerprint plan shape, LSH bucket cap). */
class TextSpec extends GraftSpec {
  import TextFixture._

  lazy val fixtureDir: String = writeFixture(spark, tmpDir)

  test("minhash LSH surfaces crafted near-dupes with sane estimates") {
    val rows = Text.dedupMinhash(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 4 is an exact copy of doc 1 -> estimate must be exactly 1
    assert(rows((1L, 4L)) === 1.0)
    // doc 2 shares 95 of 105 distinct tokens with doc 1 (J = 0.905)
    assert(rows.contains((1L, 2L)), "near-dup pair (1,2) must be a candidate")
    assert(math.abs(rows((1L, 2L)) - 0.905) <= 0.3)
    // doc 3 is token-disjoint from doc 1 — if LSH even proposes the pair,
    // the estimate must be low
    rows.get((1L, 3L)).foreach(est => assert(est <= 0.3))
  }

  test("lsh calibration: fixture extremes and driver recompute per decile") {
    // fixture: docs 1/4 identical (est 1.0, exact 1.0 -> decile 10 with
    // zero error); any other surfaced pair is a near-dup or noise whose
    // exact Jaccard the driver recomputes below
    val fix = Text.lshCalibration(spark, fixtureDir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    val ten = fix(10)
    assert(ten._2 === 1.0 && ten._3 === 1.0 && ten._4 === 0.0,
      "identical docs must calibrate perfectly in decile 10")
    // real data: recompute every decile from the op's own candidate
    // frame + raw token sets, replicating the micro-unit rounding
    val got = Text.lshCalibration(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toMap
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val pairs = Text.minhashPairs(spark, sf)
      .select("a_id", "b_id", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty && got.nonEmpty)
    def m6(x: Double) = math.rint(
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6).toLong
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = pairs.map { case (a, b, est) =>
      val (ta, tb) = (toks(a), toks(b))
      val icnt = (ta & tb).size
      val exact = icnt.toDouble / (ta.size + tb.size - icnt)
      (math.floor(est * 10).toInt, m6(est), m6(exact), m6(math.abs(est - exact)))
    }.groupBy(_._1).map { case (dec, xs) =>
      dec -> (xs.length.toLong, r6(xs.map(_._2).sum / 1e6 / xs.length),
        r6(xs.map(_._3).sum / 1e6 / xs.length), r6(xs.map(_._4).sum / 1e6 / xs.length))
    }
    assert(got.keySet === expect.keySet)
    expect.foreach { case (dec, (n, e, x, d)) =>
      val g = got(dec)
      assert(g._1 === n, s"decile $dec n_pairs")
      assert(math.abs(g._2 - e) < 2e-6, s"decile $dec mean_est")
      assert(math.abs(g._3 - x) < 2e-6, s"decile $dec mean_exact")
      assert(math.abs(g._4 - d) < 2e-6, s"decile $dec mean_abs_err")
    }
  }

  test("filter funnel: one planted doc per reject rule, keepers survive") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/funnelfix"
    def doc(id: Long, toks: Seq[String]) = {
      val text = toks.mkString(" ")
      TextFixture.Doc(id, text, "en", "fx", text.length.toLong)
    }
    // d1: 10 tokens -> stage 1 (too short)
    // d2: 40 × 20-char tokens -> cpt ≈ 20.5 -> stage 2
    // d3: "a b a b ..." -> 2 distinct of 39 bigrams, dup2 ≈ 0.95 -> stage 3
    // d4: 28×"x" + 12 singles interleaved -> entropy 1.9568 < 2 while
    //     24/39 distinct bigrams keep dup2 at 0.3846 ≤ 0.5 -> stage 4
    // d5/d6: 40 distinct medium tokens -> keep
    val letters = "abcdefghijkl".map(_.toString)
    val d4 = letters.flatMap(l => Seq(l, "x")) ++ Seq.fill(16)("x")
    val docs = Seq(
      doc(1, (1 to 10).map(i => s"t$i")),
      doc(2, (1 to 40).map(i => f"verylongtoken$i%07d")),
      doc(3, Seq.fill(20)(Seq("a", "b")).flatten),
      doc(4, d4),
      doc(5, (1 to 40).map(i => s"alpha$i")),
      doc(6, (100 to 139).map(i => s"beta$i")))
    docs.toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.filterFunnel(spark, d).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === Map(
      1 -> (("min_tokens_32", 1L, 5L)),
      2 -> (("chars_per_token_12", 1L, 4L)),
      3 -> (("bigram_dup_0.5", 1L, 3L)),
      4 -> (("entropy_2.0", 1L, 2L))))
  }

  test("dedup_normalized collapses case/whitespace variants, keeps min doc_id") {
    val dir = writeNormFixture(spark, tmpDir)
    val got = Text.dedupNormalized(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1/2/3 normalize identically; keeper is doc 1 (srcA), so srcB
    // contributes 2 docs and keeps none; doc 4 is unique and survives
    assert(got === Map("srcA" -> ((2L, 2L)), "srcB" -> ((2L, 0L))))
  }

  test("simhash: identical docs at Hamming 0, near-dupes nearby") {
    val rows = Text.dedupSimhash(spark, fixtureDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(rows((1L, 4L)) === 0)
    rows.get((1L, 2L)).foreach(h => assert(h <= 16))
  }

  test("fingerprint: identical docs share it; plan is a pure scan projection") {
    val fp = Text.fingerprint(spark, fixtureDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(4L))
    assert(fp(1L) !== fp(3L))
    // the min-over-shingles is row-local: no aggregate anywhere in the
    // plan; the only exchanges are the single-split scan's fan-out and
    // the final ORDER BY sort
    val plan = Text.fingerprint(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Generate"),
      "fingerprint must not explode+aggregate")
    assert(plan.contains("RoundRobinPartitioning"),
      "single-split scan must fan out across the cores")
  }

  test("FanOut is identity once the input has enough splits") {
    val path = s"$tmpDir/docs_split"
    Tables.documents(spark, sf).repartition(8).write.mode("overwrite")
      .parquet(s"$path/documents.parquet")
    val plan = Text.fingerprint(spark, path).queryExecution.executedPlan.toString
    assert(!plan.contains("RoundRobinPartitioning"),
      "well-split input must not pay a fan-out exchange")
  }

  test("LSH bucket cap bounds an identical-document flood") {
    import spark.implicits._
    // 1000 docs all hashing to one (band, bucket) pair
    val banded = (1 to 1000).map(i => (i.toLong, 0, 42L)).toDF("doc_id", "band", "bh")
    val capped = Text.capBuckets(banded, Seq("band", "bh"))
    assert(capped.count() === Text.MaxBucketDocs)
    // and the capped minhash pipeline completes on a 120-identical-doc flood
    val floodDir = writeFlood(spark, tmpDir)
    val flood = Text.dedupMinhash(spark, floodDir).collect()
    assert(flood.nonEmpty && flood.forall(_.getDouble(2) === 1.0))
  }

  test("decontaminateNgram scores train docs by distinct eval-trigram hits") {
    val dir = DecontFixture.write(spark, tmpDir)
    val got = Text.decontaminateNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exact copy = all 3 trigrams, partial = 2, single-overlap = 1;
    // the disjoint doc and the eval doc itself must not appear
    assert(got === Seq((13L, 3L), (11L, 2L), (10L, 1L)))
    // the eval gram set must BROADCAST — shuffling the corpus-sized
    // train gram stream by gram is the 100 TB failure mode
    val plan = Text.decontaminateNgram(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ngramJaccard refuses all-pairs past maxDocs, pointing at dedupMinhash") {
    val e = intercept[IllegalArgumentException] {
      Text.ngramJaccard(spark, fixtureDir, maxDocs = 3)
    }
    assert(e.getMessage.contains("dedupMinhash"), e.getMessage)
    // at-or-under the bound still runs (4-doc fixture)
    assert(Text.ngramJaccard(spark, fixtureDir, maxDocs = 4).count() > 0)
  }

  test("ngramJaccard hashed-token form matches exact string Jaccard, zero collisions") {
    // independent exact recomputation over STRING token sets — the form
    // the op used before tokens were pre-hashed to 64-bit
    val t = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val a = t.select(col("doc_id").as("a_id"), col("source"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("b_id"), col("source"), col("toks").as("tb"))
    val expect = a.join(b, "source").filter(col("a_id") < col("b_id"))
      .withColumn("icnt", size(array_intersect(col("ta"), col("tb"))))
      .select(col("a_id"), col("b_id"), (col("icnt").cast("double") /
        (size(col("ta")) + size(col("tb")) - col("icnt"))).as("jac"))
      .orderBy(col("jac").desc, col("a_id"), col("b_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = Text.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expect)
    // and the corpus vocabulary must be collision-free under xxhash64
    val Array(nTok, nHash) = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t")), countDistinct(xxhash64(col("t"))))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(nTok === nHash, s"xxhash64 token collision: $nTok tokens -> $nHash hashes")
  }

  test("langid: diagonally dominant on separable languages; total-preserving on real data") {
    // The sf corpus's lang labels are uncorrelated with its text (all five
    // "languages" share 100% of their vocabulary — measured), so accuracy
    // there is unlearnable noise. Dominance is asserted on a fixture whose
    // languages have disjoint character distributions.
    val langDir = writeLangFixture(spark, tmpDir)
    val m = Text.langidNgram(spark, langDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    Seq("aa", "bb", "cc").foreach { lang =>
      val diag = m.getOrElse((lang, lang), 0L)
      val offMax = m.collect { case ((l, p), n) if l == lang && p != l => n }
        .maxOption.getOrElse(0L)
      assert(diag > offMax, s"$lang: diagonal $diag vs best confusion $offMax")
    }
    // real corpus: every doc classified exactly once, preds drawn from langs
    val real = Text.langidNgram(spark, sf).collect()
    assert(real.map(_.getLong(2)).sum === 500L)
    val langs = Set("de", "en", "es", "fr", "zh")
    assert(real.forall(r => langs(r.getString(0)) && langs(r.getString(1))))
  }

  test("substring spans: planted boilerplate merges islands and counts chars exactly") {
    val spark0 = spark
    import spark0.implicits._
    def d(id: Long, text: String) =
      TextFixture.Doc(id, text, "en", "fixture", text.length.toLong)
    // character sets are disjoint across the planted runs so the ONLY
    // >= 2-occurrence 16-grams are the designed ones
    val sh = "0123456789ABCDEFGHIJKLMN" // 24-char run shared by docs 1+2
    val s2 = "zyxwvutsrqponmlk"         // 16-char run: twice in doc 5, once in doc 6
    val dir = s"$tmpDir/dupspans"
    Seq(
      d(1L, "abcde" + sh + "fghij"),   // dup positions 6..14 → one 24-char span
      d(2L, "klmno" + sh + "pqrst"),
      d(3L, "The quick brown fox jumps over it"), // no repeated 16-gram → absent
      d(4L, "Z" * 40),                 // self-repetition: all 25 positions, one span
      d(5L, s2 + "!@#$%^&*()-=_+[]{};:" + s2), // gap 36 > L → TWO islands
      d(6L, "0a1b2c3d4e" + s2 + "5f6g7h8i9j"))
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Text.dupSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === Seq(
      (4L, 25L, 1L, 40L, 1.0),        // 25-1+16 = 40 chars, ratio 40/40
      (5L, 2L, 2L, 32L, 0.615385),    // 16+16 chars over len 52
      (1L, 9L, 1L, 24L, 0.705882),    // 14-6+16 = 24 = |sh| over len 34
      (2L, 9L, 1L, 24L, 0.705882),
      (6L, 1L, 1L, 16L, 0.444444)))   // one 16-char span over len 36
  }

  test("novelty curve: first-seen types per doc recount by hand, decile math exact") {
    val spark0 = spark
    import spark0.implicits._
    def d(id: Long, text: String, source: String) =
      TextFixture.Doc(id, text, "en", source, text.length.toLong)
    val dir = s"$tmpDir/novelty"
    Seq(
      d(1L, "x x y z", "srca"), // 3 distinct types, all first-seen → 1.0
      d(2L, "x y w", "srca"),   // only w is new → 1/3
      d(3L, "p q", "srcb"))     // second source: its own stream
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Text.noveltyCurve(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // srca: nd=2 → doc 1 decile (1-1)*10 div 2 = 0, doc 2 (2-1)*10 div 2 = 5
    assert(got.toSeq === Seq(
      ("srca", 0L, 1L, 3L, 1.0),
      ("srca", 5L, 1L, 1L, 0.333333),
      ("srcb", 0L, 1L, 2L, 1.0)))
  }

  test("substring decontamination: planted benchmark leak spans count exactly") {
    val spark0 = spark
    import spark0.implicits._
    def d(id: Long, text: String, source: String) =
      TextFixture.Doc(id, text, "en", source, text.length.toLong)
    val bench = "EVALBENCHMARKSECRET!" // 20-char eval run → grams at pos 1..5
    val dir = s"$tmpDir/deconsub"
    Seq(
      d(1L, bench, "src0"),                     // the eval source itself
      d(2L, "abcd" + bench + "wxyz", "src1"),   // embedded leak, len 28
      d(3L, bench, "src2"),                     // verbatim leak, len 20
      d(4L, "The quick brown fox jumps", "src1")) // clean → absent
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Text.decontaminateSubstring(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // both leaks cover exactly the 20 benchmark chars (one island:
    // positions 5..9 / 1..5); eval doc excluded; tie broken by doc_id
    assert(got.toSeq === Seq(
      (2L, 5L, 1L, 20L, 0.714286),
      (3L, 5L, 1L, 20L, 1.0)))
  }

  test("textRepetition: duplicate-n-gram fractions recompute by hand") {
    val spark0 = spark
    import spark0.implicits._
    def d(id: Long, text: String) =
      TextFixture.Doc(id, text, "en", "fixture", text.length.toLong)
    Seq(
      d(1L, "a a a a"),        // 3 bigrams, 1 distinct; 2 trigrams, 1 distinct
      d(2L, "a b c d"),        // all grams distinct
      d(3L, "a b a b a"),      // bigrams {a b, b a} over 4; trigrams {aba, bab} over 3
      d(4L, "x"),              // too short for any gram
      d(5L, "x y"))            // 1 bigram, no trigram
      .toDF().write.mode("overwrite").parquet(s"$tmpDir/rep/documents.parquet")
    val got = Text.textRepetition(spark, s"$tmpDir/rep").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), Option(r.get(3)),
        r.getLong(4), r.getLong(5), Option(r.get(6)))).toMap
    assert(got(1L) === ((3L, 1L, Some(0.6667), 2L, 1L, Some(0.5))))
    assert(got(2L) === ((3L, 3L, Some(0.0), 2L, 2L, Some(0.0))))
    assert(got(3L) === ((4L, 2L, Some(0.5), 3L, 2L, Some(0.3333))))
    assert(got(4L) === ((0L, 0L, None, 0L, 0L, None)))
    assert(got(5L) === ((1L, 1L, Some(0.0), 0L, 0L, None)))
    // row-local projection: no exchange before the presentation sort
    val plan = Text.textRepetition(spark, s"$tmpDir/rep")
      .queryExecution.executedPlan.toString
    assert(!plan.replaceFirst("TakeOrderedAndProject", "").contains("Exchange"), plan)
  }

  test("token entropy: uniform docs hit log2(n), repeated docs hit 0") {
    val spark0 = spark
    import spark0.implicits._
    val path = s"$tmpDir/entropy/documents.parquet"
    Seq(
      TextFixture.Doc(1L, (1 to 16).map(i => s"w$i").mkString(" "), "en", "f", 0L),
      TextFixture.Doc(2L, Seq.fill(16)("spam").mkString(" "), "en", "f", 0L))
      .toDF().write.mode("overwrite").parquet(path)
    val got = Text.tokenEntropy(spark, s"$tmpDir/entropy").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got(1L) === ((4.0, 16L)), "16 distinct tokens = 4 bits")
    assert(got(2L) === ((0.0, 16L)), "pure repetition = 0 bits")
  }

  test("sequence packing matches a driver-side greedy recomputation") {
    val budget = 100L
    val got = Text.sequencePack(spark, sf, budget).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val docsRows = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).length.toLong))
    val expected = docsRows.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._1).map { case (_, _, t) =>
        val pack = cum / budget // window of the doc's FIRST token
        cum += t
        (src, pack, t)
      }
    }.groupBy(r => (r._1, r._2))
      .map { case (k, v) => k -> ((v.size.toLong, v.map(_._3).sum)) }
    assert(got === expected)
    assert(got.size > docsRows.map(_._2).distinct.size, "multiple packs per source")
  }

  test("quality score: ratios recompute from the text") {
    val doc = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(1).collect().head
    val row = Text.qualityScore(spark, sf).filter(col("doc_id") === doc.getLong(0))
      .collect().head
    val toks = doc.getString(1).split(" ", -1)
    assert(row.getLong(2) === toks.length.toLong)
    assert(row.getDouble(3) === doc.getString(1).length.toDouble / toks.length)
  }

  test("collocations: PMI recomputes by hand on a tiny corpus") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/collocfix"
    // unigrams a:3 b:3 c:3 (tu=9); bigrams (a,b):3 (b,a):1 (b,c):1 (c,c):1
    // (tg=6) → PMI(a b)=ln((3/6)/((3/9)(3/9)))=ln(4.5), others ln(1.5)
    Seq(
      TextFixture.Doc(1, "a b a b", "en", "s", 7),
      TextFixture.Doc(2, "a b c", "en", "s", 5),
      TextFixture.Doc(3, "c c", "en", "s", 3))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.collocations(spark, d, minCount = 1, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got === Array(
      ("a b", 3L, 1.5041), ("b a", 1L, 0.4055),
      ("b c", 1L, 0.4055), ("c c", 1L, 0.4055)))
  }

  test("keyword rake: planted phrases score deg/freq exactly; long runs drop") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/rake"
    // doc 1: islands {big data} ×2 and {speed} → freq(big)=2 deg(big)=4
    // → word scores big=data=2.0, speed=1.0; phrase "big data" = 4.0 ×2.
    // doc 2: one stopword-free run of 5 > RakeMaxLen → dropped entirely
    // (its words must not leak into the score table either)
    Seq(
      TextFixture.Doc(1, "big data the big data of speed", "en", "s", 31),
      TextFixture.Doc(2, "v w x y z", "en", "s", 9))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.keywordRake(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(("big data", 2L, 4.0), ("speed", 1L, 1.0)))
    // independent recount at sf: full RAKE replication on collected docs
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keep = texts.flatMap { case (id, t) =>
      val toks = t.split(" ", -1).zipWithIndex
        .map { case (w, i) => (w, i + 1) }
        .filter { case (w, _) => w.nonEmpty && !Text.RakeStops.contains(w) }
      val islands = toks.zipWithIndex
        .groupBy { case ((_, pos), rn) => pos - (rn + 1) }
        .values.map(_.map(_._1)).filter(_.length <= Text.RakeMaxLen)
      islands.map(ph => (id, ph.map(_._2).min, ph.map(_._1).toSeq))
    }
    val allWords = keep.flatMap(_._3)
    val freq = allWords.groupBy(identity).view.mapValues(_.size).toMap
    val deg = keep.flatMap(p => p._3.map(w => (w, p._3.length)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val scoreMicro = freq.keys.map { w =>
      w -> math.round(BigDecimal(deg(w).toDouble / freq(w))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
    }.toMap
    val phrases = keep.map(p => (p._3.mkString(" "), p._3.map(scoreMicro).sum))
      .groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.head._2)).toMap
    val top = phrases.toSeq.map { case (ph, (n, s)) => (ph, n, s) }
      .sortBy { case (ph, _, s) => (-s, ph) }.take(20)
      .map { case (ph, n, s) => (ph, n, BigDecimal(s / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val sfGot = Text.keywordRake(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(sfGot.toSeq === top)
  }

  test("containment: a quoted subset scores 1.0 where jaccard stays low") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/contain"
    // doc 2 is a strict token subset of doc 1 (the quote-inclusion
    // case): containment(2→1) = 1.0 while jaccard = 3/10; doc 3 shares
    // nothing and must not pair above it
    Seq(
      TextFixture.Doc(1, "q w e r t y u i o p", "en", "s", 19),
      TextFixture.Doc(2, "q w e", "en", "s", 5),
      TextFixture.Doc(3, "z x c", "en", "s", 5))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.dedupContainment(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got((1L, 2L)) === ((3L, 0.3, 1.0, 1.0)),
      "subset doc: containment 1.0, jaccard-side 0.3")
    assert(!got.contains((2L, 3L)) || got((2L, 3L))._1 === 0L)
    // parity with the jaccard pair frame at sf: same pairs, same icnt
    val jacPairs = Text.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val contTop = Text.dedupContainment(spark, sf).collect()
    assert(contTop.nonEmpty)
    contTop.foreach { r =>
      assert(r.getDouble(5) >= r.getDouble(3) && r.getDouble(5) >= r.getDouble(4))
      assert(r.getDouble(5) === math.max(r.getDouble(3), r.getDouble(4)))
    }
    assert(jacPairs.nonEmpty, "jaccard frame sanity")
  }

  test("langid eval: a planted mislabel yields the textbook P/R/F1 split") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/langideval"
    // doc 4 is labeled bb but textually identical to the aa docs; its
    // grams sit in BOTH profiles so its hit counts tie exactly and the
    // (hits DESC, p_lang ASC) tie-break predicts aa → confusion
    // (aa,aa)=2, (bb,aa)=1, (bb,bb)=1
    Seq(
      TextFixture.Doc(1, "xaxa xaxa", "aa", "s", 9),
      TextFixture.Doc(2, "xaxa xaxa", "aa", "s", 9),
      TextFixture.Doc(3, "ybyb ybyb", "bb", "s", 9),
      TextFixture.Doc(4, "xaxa xaxa", "bb", "s", 9))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.langidEval(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("aa")
    assert((a.getLong(1), a.getLong(2), a.getLong(3)) === ((2L, 3L, 2L)))
    assert(a.getDouble(4) === 0.666667 && a.getDouble(5) === 1.0)
    assert(a.getDouble(6) === 0.8, "F1 = 2·2/(2+3)")
    val b = got("bb")
    assert((b.getLong(1), b.getLong(2), b.getLong(3)) === ((2L, 1L, 1L)))
    assert(b.getDouble(4) === 1.0 && b.getDouble(5) === 0.5)
    assert(b.getDouble(6) === 0.666667)
    assert(a.getDouble(7) === 0.75 && b.getDouble(7) === 0.75, "micro acc 3/4")
    // sf recount: fold the confusion cells into metrics independently
    val cells = Text.langidNgram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nt = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val np = cells.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val tp = cells.collect { case (l, p, n) if l == p => l -> n }.toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Text.langidEval(spark, sf).collect().foreach { r =>
      val l = r.getString(0)
      assert(r.getLong(1) === nt.getOrElse(l, 0L))
      assert(r.getLong(2) === np.getOrElse(l, 0L))
      assert(r.getLong(3) === tp.getOrElse(l, 0L))
      if (r.getLong(2) > 0)
        assert(r.getDouble(4) === r6(tp.getOrElse(l, 0L).toDouble / r.getLong(2)))
      if (r.getLong(1) > 0)
        assert(r.getDouble(5) === r6(tp.getOrElse(l, 0L).toDouble / r.getLong(1)))
    }
  }

  test("vocab: ids follow (cnt DESC, tok) with the top-k cutoff") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/vocabfix"
    Seq(
      TextFixture.Doc(1, "b b b a a c", "en", "s", 11),
      TextFixture.Doc(2, "a c", "en", "s", 3))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.vocabTopTokens(spark, d, k = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // a and b tie at 3; tok tiebreak puts a first, c (cnt 2) is cut
    assert(got === Array((1, "a", 3L), (2, "b", 3L)))
  }

  test("vocab richness: hand-computed types, hapaxes and TTR") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/richfix"
    // en: tokens (b,b,b,a,a,c) + (a,c) → types {a:3, b:3, c:2}, no hapax;
    // fr: (x, y, y) → types {x:1, y:2}, hapax {x}
    Seq(
      TextFixture.Doc(1, "b b b a a c", "en", "s", 11),
      TextFixture.Doc(2, "a c", "en", "s", 3),
      TextFixture.Doc(3, "x y y", "fr", "s", 5))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.vocabRichness(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got === Array(
      ("en", 3L, 8L, 0L, 0.375, 0.0),
      ("fr", 2L, 3L, 1L, 0.666667, 0.5)))
  }

  test("source overlap: hand-computed vocab Jaccard on a 3-source fixture") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/ovlfix"
    // s1 vocab {a,b,c}; s2 {b,c,d}; s3 {x} → J(s1,s2)=2/4, J(*,s3)=0 and
    // zero-shared pairs emit NO row (inner join semantics, documented)
    Seq(
      TextFixture.Doc(1, "a b c", "en", "s1", 5),
      TextFixture.Doc(2, "b c d", "en", "s2", 5),
      TextFixture.Doc(3, "x", "en", "s3", 1))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.sourceOverlap(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === Map(("s1", "s2") -> ((2L, 0.5))))
  }

  test("dup size distribution: synthesized families land in the right classes") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/dupfix"
    // 3 singletons, one size-2 family, one size-3 family → 8 docs
    val docs = Seq("a", "b", "c", "dd", "dd", "eee", "eee", "eee")
      .zipWithIndex.map { case (t, i) => TextFixture.Doc(i.toLong, t, "en", "s", t.length.toLong) }
    docs.toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.dupSizeDistribution(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got === Map(
      1L -> ((3L, 3L, 0.375)),
      2L -> ((1L, 2L, 0.25)),
      3L -> ((1L, 3L, 0.375))))
  }

  test("simpson diversity: hand-computed repeat probability per source") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/simpsonfix"
    // s1: tokens a,a,b (N=3, rep=2) → D = 2/6, inv = 3; s2: x,y (N=2,
    // rep=0) → D = 0, inv NULL (no repeated type); s3: one token → both
    // NULL (N ≤ 1)
    val docs = Seq((1L, "a a", "s1"), (2L, "b", "s1"),
        (3L, "x y", "s2"), (4L, "z", "s3"))
      .map { case (id, t, src) => TextFixture.Doc(id, t, "en", src, t.length.toLong) }
    docs.toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.simpsonDiversity(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(got.toSeq === Seq(
      ("s1", 3L, 2L, 2L, Some(0.333333), Some(3.0)),
      ("s2", 2L, 2L, 0L, Some(0.0), None),
      ("s3", 1L, 1L, 0L, None, None)))
  }

  test("char class profile: codepoint-exact class counts incl. non-BMP") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/charclassfix"
    // s1: "Ab1 !" (2 letters, 1 digit, 1 space, 1 other) + an empty doc;
    // s2: two non-BMP emoji — length must count 2 CODEPOINTS (not 4
    // UTF-16 units), all landing in `other`
    val docs = Seq((1L, "Ab1 !", "s1"), (2L, "", "s1"), (3L, "😀😀", "s2"))
      .map { case (id, t, src) => TextFixture.Doc(id, t, "en", src, t.length.toLong) }
    docs.toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.charClassProfile(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)),
        if (r.isNullAt(8)) None else Some(r.getDouble(8)),
        if (r.isNullAt(9)) None else Some(r.getDouble(9)),
        r.getDouble(10)))
    assert(got.toSeq === Seq(
      ("s1", 2L, 5L, 2L, 1L, 1L, 1L, Some(0.4), Some(0.2), Some(0.2), 2.5),
      ("s2", 1L, 2L, 0L, 0L, 0L, 2L, Some(0.0), Some(0.0), Some(1.0), 2.0)))
  }

  test("vocab coverage curve: top-10 cut covers the planted head exactly") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/coveragefix"
    // 15 types: t01 × 100 occurrences + t02..t15 × 1 → total 114.
    // top-10 (t01 + nine singletons by token order) covers 109/114;
    // every larger threshold covers everything.
    val text = (Seq.fill(100)("t01") ++ (2 to 15).map(i => f"t$i%02d"))
      .mkString(" ")
    Seq(TextFixture.Doc(1L, text, "en", "s", text.length.toLong))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.vocabCoverageCurve(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (10, 10L, 109L, 0.95614),
      (100, 15L, 114L, 1.0),
      (1000, 15L, 114L, 1.0),
      (10000, 15L, 114L, 1.0)))
  }

  test("zipf slope: an exact power law recovers its exponent") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/zipffix"
    // true Zipf with s = 1: freq(rank r) = floor(1000/r) — ln-ln is
    // linear with slope -1 up to floor noise
    val words = (1 to 8).flatMap(r => Seq.fill(1000 / r)(s"w$r"))
    Seq(TextFixture.Doc(1, words.mkString(" "), "en", "s", 1))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = Text.zipfSlope(spark, d, k = 8).collect().head
    assert(r.getLong(0) === 8L)
    // freq = 1000/r floored; slope ≈ -1 with high r²
    assert(math.abs(r.getDouble(1) - (-1.0)) < 0.01, s"slope ${r.getDouble(1)}")
    assert(r.getDouble(2) > 0.999, s"r2 ${r.getDouble(2)}")
  }

  test("dedup_incremental: only the newest batch is checked, against the index only") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/incrfix"
    // ids 1..10 → batch = ids >= ceil(10*0.9) = {9, 10}. Doc 10 copies
    // index doc 1 (must flag with est 1.0 against match 1); doc 9 is
    // novel; docs 2 and 3 are identical INDEX docs — an index×index
    // pair the incremental op must NOT surface.
    val toks = (1 to 40).map(i => s"w$i")
    val novel = (1 to 40).map(i => s"z$i")
    def doc(id: Long, ts: Seq[String]) =
      TextFixture.Doc(id, ts.mkString(" "), "en", "s", 1)
    (Seq(doc(1, toks), doc(2, toks.reverse), doc(3, toks.reverse),
      doc(10, toks), doc(9, novel)) ++
      (4 to 8).map(i => doc(i.toLong, (1 to 40).map(j => s"u${i}_$j"))))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Text.dedupIncremental(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows.contains(10L), s"copy in the batch must flag: $rows")
    assert(rows(10L) === ((1L, 1.0, true)))
    // no index doc may appear as a scored "new" doc
    assert(rows.keySet.forall(_ >= 9L), rows.toString)
  }

  test("dedup_audit: per-source counts recompute by hand on a planted fixture") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/auditfix"
    // srcA: an exact-duplicate pair (1,2) plus an unrelated doc; srcB:
    // a lone doc. The (1,2) pair must count once for srcA (a_id side)
    // under every detector; nothing else crosses any threshold.
    Seq(
      TextFixture.Doc(1, "alpha beta gamma delta", "en", "srcA", 22),
      TextFixture.Doc(2, "alpha beta gamma delta", "en", "srcA", 22),
      TextFixture.Doc(3, "omicron pi rho sigma", "en", "srcA", 20),
      TextFixture.Doc(4, "unrelated wholly other text", "en", "srcB", 27))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = Text.dedupAudit(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === Map(
      "srcA" -> ((3L, 1L, 1L, 1L)),
      "srcB" -> ((1L, 0L, 0L, 0L))), got.toString)
  }

  test("lm score: template text scores fewer bits than diverse text") {
    val spark0 = spark
    import spark0.implicits._
    val d = s"$tmpDir/lmfix"
    // tmpl repeats one bigram pattern (high corpus probability per
    // bigram → low surprisal); mix cycles a wide alphabet (each bigram
    // rare → high surprisal). Per-source avg_bits must order them.
    Seq(
      TextFixture.Doc(1, "ab" * 50, "en", "tmpl", 100),
      TextFixture.Doc(2, "ba" * 50, "en", "tmpl", 100),
      TextFixture.Doc(3, ('a' to 'z').mkString * 4, "en", "mix", 104),
      TextFixture.Doc(4, "zyxwvutsrqponmlkjihgfedcba" * 4, "en", "mix", 104))
      .toDF().write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rows = Text.lmScore(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rows.keySet === Set("tmpl", "mix"))
    assert(rows("tmpl") < rows("mix"),
      s"template bits ${rows("tmpl")} must undercut diverse bits ${rows("mix")}")
    // surprisal is a mean of -log2 p over p<=1 → strictly positive
    rows.values.foreach(b => assert(b > 0))
  }

  test("bpe merges: hand-traced trajectory on a planted corpus") {
    import org.apache.spark.sql.SparkSession
    def write(spark: SparkSession, dir: String): String = {
      import spark.implicits._
      // word counts: "abab" ×3, "ab" ×2, "cd" ×1 (per doc row below)
      Seq(Doc(1, "abab ab cd", "en", "s", 10),
          Doc(2, "abab abab ab", "en", "s", 12))
        .toDF().write.mode("overwrite").parquet(s"$dir/bpefix/documents.parquet")
      s"$dir/bpefix"
    }
    val rows = Text.bpeMerges(spark, write(spark, tmpDir)).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // pair counts from the char sequences, weighted by word frequency:
    //   abab×3: (a,b)×2, (b,a)×1 per copy; ab×2: (a,b); cd×1: (c,d)
    //   → (a,b)=8, (b,a)=3, (c,d)=1 → merge 1 = (a,b) @ 8
    assert(rows(0) === ((1, "a", "b", 8L)))
    // after merging: abab→[ab,ab]×3, ab→[ab]×2, cd→[c,d]
    //   → (ab,ab)=3, (c,d)=1 → merge 2 = (ab,ab) @ 3
    assert(rows(1) === ((2, "ab", "ab", 3L)))
    // then abab→[abab], nothing adjacent but (c,d)=1 → merge 3
    assert(rows(2) === ((3, "c", "d", 1L)))
    // pair store exhausted — no further merges emit
    assert(rows.length === 3)
  }

  test("bpe merges on real data: 16 steps, composable symbols, exact recount") {
    val rows = Text.bpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (1 to Text.BpeIterations))
    rows.foreach { case (_, l, r, c) =>
      assert(l.nonEmpty && r.nonEmpty && c > 0)
    }
    // every non-initial symbol must be buildable from earlier merges:
    // the merged token lhs+rhs of step i may appear as lhs/rhs only at
    // steps > i (trainer consistency)
    val born = rows.map { case (i, l, r, _) => (l + r) -> i }.toMap
    rows.foreach { case (i, l, r, _) =>
      for (s <- Seq(l, r); b <- born.get(s)) assert(b < i,
        s"step $i uses symbol '$s' born at step $b")
    }
  }

  test("bpe segment: totals recompute from an independent per-doc walk") {
    val rows = Text.bpeSegment(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // independent recount: train via bpeTrain (property-tested against
    // a naive reference), then segment each doc with a direct
    // array-walk merge application instead of the replace chain
    val docsRows = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val wc = docsRows.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val merges = Text.bpeTrain(
      wc.sortBy { case (w, c) => (-c, w) }.take(Text.BpeWordCap))
      .map { case (_, l, r, _) => (l, r) }
    def segment(word: String): Int = {
      var syms = word.codePoints().toArray.toSeq.map(Character.toString)
      merges.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += l + r; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toSeq
      }
      syms.length
    }
    val expect = docsRows.groupBy(_._1).map { case (src, ds) =>
      val words = ds.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      src -> (ds.length.toLong, words.length.toLong,
        words.map(w => w.codePointCount(0, w.length).toLong).sum,
        words.map(segment(_).toLong).sum)
    }
    expect.foreach { case (src, (nd, ws, sym, sub)) =>
      val got = rows(src)
      assert((got._1, got._2, got._3, got._4) === ((nd, ws, sym, sub)), src)
      assert(got._5 === BigDecimal(sub.toDouble / sym)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, src)
    }
    assert(rows.keySet === expect.keySet)
  }

  test("bpe segment: literal wrapper codepoints in text cannot forge the marker counts") {
    // U+0001/U+0002 are the segmentation markers; a corpus containing
    // them literally must not inflate the subword count or shift the
    // replace chain (round-13 advice) -- they are stripped before
    // wrapping, mirroring the training-side word exclusion. Expected
    // counts derived by hand on the CLEANED text: doc 1 "ab \u0001ab
    // \u0002\u0002" cleans to "ab ab " (ws 2, sym 4, sub 2 after the
    // (a,b) merge), doc 2 "ab ab cd" (3/6/3), doc 3 "\u0001\u0002"
    // cleans to "" (0/0/0).
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/bpe_dirty"
    Seq((1L, "ab \u0001ab \u0002\u0002", "en", "web", 10L),
        (2L, "ab ab cd", "en", "web", 8L),
        (3L, "\u0001\u0002", "en", "web", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.bpeSegment(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) === (("web", 3L, 5L, 10L, 5L, 0.5)))
  }

  test("lm score: vocab cap truncates deterministically, OOV grams score zero but count") {
    // wide-alphabet guard (round-13 advice): the driver collect is
    // bounded by LmVocabCap, not alphabet squared. Fixture has > cap
    // distinct bigrams; expected profile recomputed independently with
    // the same capped-vocab convention (top-k by count desc, gram byte
    // order; t sums the CAPPED dictionary; OOV contributes 0 micro-bits
    // to sm but counts in n).
    val spark0 = spark
    import spark0.implicits._
    val texts = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz", "en", "web", 26L),
      (2L, "abababababab", "en", "web", 12L),
      (3L, "0123456789012345678901234", "en", "wiki", 25L),
      (4L, "zzzzyyyyxxxxwwwwvvvvuuuu", "en", "wiki", 24L))
    val dir = s"$tmpDir/lm_wide"
    texts.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cap = 16
    def bigrams(t: String): Seq[String] = t.sliding(2).toSeq
    val allCounts = texts.flatMap(d => bigrams(d._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    assert(allCounts.size > cap, "fixture must exceed the cap")
    def r(x: Double, d: Int): Double = java.math.BigDecimal.valueOf(x)
      .setScale(d, java.math.RoundingMode.HALF_UP).doubleValue()
    val vocab = allCounts.sortWith { case ((g1, c1), (g2, c2)) =>
      if (c1 != c2) c1 > c2 else g1 < g2 }.take(cap)  // ASCII: String order == byte order
    val t = vocab.map(_._2).sum.toDouble
    val micro = vocab.map { case (g, c) =>
      val lp6 = r(StrictMath.log(c / t) / StrictMath.log(2.0), 6)
      g -> java.math.BigDecimal.valueOf(lp6 * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    }.toMap
    val perDoc = texts.map { case (_, txt, _, src, _) =>
      val gs = bigrams(txt)
      val sm = gs.map(micro.getOrElse(_, 0L)).sum
      (src, -(sm / 1e6) / gs.size)
    }
    // presentation recount mirrors the op's round-16 exact-integer
    // tail: per-doc micro-bits longs, then ratioRound half-away
    def rhalf(num: BigInt, den: BigInt, s: Int): Double = {
      val p = BigInt(10).pow(s)
      val mag = (num.abs * p * 2 + den) / (den * 2)
      (if (num.signum >= 0) mag else -mag).toDouble / p.toDouble
    }
    val expect = perDoc.groupBy(_._1).map { case (src, ds) =>
      val mb = ds.map(d => java.math.BigDecimal.valueOf(d._2 * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong)
      src -> (ds.size.toLong,
        rhalf(BigInt(mb.sum), BigInt(ds.size) * 1000000, 4),
        rhalf(BigInt(mb.min), BigInt(1000000), 4),
        rhalf(BigInt(mb.max), BigInt(1000000), 4))
    }
    val got = Text.lmScoreCapped(spark, dir, cap).collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(got === expect)
  }

  test("tfidf: top-k per source, scores recompute from tf·ln(n/df)") {
    val rows = Text.tfidfTopTerms(spark, sf, k = 5).collect()
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val byRank = rs.sortBy(_.getInt(5))
      assert(byRank.map(_.getInt(5)).toSeq === (1 to byRank.length))
      // ranked score is non-increasing and matches the formula at 4 dp
      val scores = byRank.map { r =>
        val expect = r.getLong(2) * math.log(nSrc.toDouble / r.getLong(3))
        assert(math.abs(r.getDouble(4) - math.rint(expect * 1e4) / 1e4) < 1e-9)
        expect
      }
      scores.sliding(2).foreach {
        case Array(a, b) => assert(a >= b - 1e-12)
        case _ =>
      }
      assert(rs.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= nSrc))
    }
  }

  test("boilerplate: document frequencies recompute from an independent per-doc walk") {
    val rows = Text.boilerplateNgrams(spark, sf).collect()
    // independent recount: plain Scala sliding-window over the collected
    // corpus, one vote per (doc, distinct gram)
    val docsRows = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    val nd = docsRows.length.toDouble
    val df = scala.collection.mutable.Map.empty[String, Long]
    docsRows.foreach { r =>
      val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
      toks.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
        .foreach { g: String => df(g) = df.getOrElse(g, 0L) + 1L }
    }
    val expect = df.toSeq.sortBy { case (g, n) => (-n, g) }.take(20)
    assert(rows.length === expect.length)
    rows.zip(expect).zipWithIndex.foreach { case ((r, (g, n)), i) =>
      assert(r.getInt(0) === i + 1)
      assert(r.getString(1) === g, s"rank ${i + 1}")
      assert(r.getLong(2) === n)
      assert(math.abs(r.getDouble(3) - math.rint(n / nd * 1e6) / 1e6) < 1e-12)
    }
    // short documents (< n tokens) must contribute nothing, not crash:
    // the guarded sequence() branch
    assert(rows.forall(_.getString(1).split(" ").length === 5))
  }

  test("boilerplate: planted fixture — one vote per doc, short docs skipped, multi-space collapsed") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/boiler"
    val banner = "x1 x2 x3 x4 x5"
    Seq(
      // three docs share the banner gram; doc 1 contains it TWICE
      // (prefix and suffix) but must vote once (array_distinct)
      TextFixture.Doc(1L, s"$banner a b c $banner", "en", "s0", 0L),
      TextFixture.Doc(2L, s"pre $banner post1 post2", "en", "s0", 0L),
      // multi-space runs collapse to the same tokens (empty filter)
      TextFixture.Doc(3L, s"x1  x2   x3 x4  x5", "en", "s1", 0L),
      // exactly 4 tokens: below n, contributes nothing
      TextFixture.Doc(4L, "u1 u2 u3 u4", "en", "s1", 0L),
      // exactly 5 tokens: exactly one gram
      TextFixture.Doc(5L, "v1 v2 v3 v4 v5", "en", "s1", 0L)
    ).toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Text.boilerplateNgrams(spark, dir).collect()
    val byGram = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(byGram(banner) === 3L)      // docs 1 (once), 2, 3
    assert(byGram("v1 v2 v3 v4 v5") === 1L)
    assert(!byGram.keys.exists(_.startsWith("u1")))
    assert(rows.head.getString(1) === banner)  // top by n_docs
    assert(rows.head.getInt(0) === 1)
    // doc_share uses the FULL doc count (5), including the short doc
    assert(math.abs(rows.head.getDouble(3) - 0.6) < 1e-12)
  }

  test("jsd envelope: ANSI mode keeps BIGINT sums fail-loud, not wrapping") {
    // jsDivergence's round-20 aggregate sums BIGINT per-row products
    // with a documented exactness envelope (na ≤ ~4.6e12 tokens/source)
    // and claims overflow THROWS rather than wraps — that claim is
    // Spark's ANSI mode, pinned here so a future session-config change
    // cannot silently turn the envelope into silent corruption
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val thrown = intercept[Throwable] {
      spark.sql("SELECT sum(x) FROM VALUES (9223372036854775807), (1) AS t(x)")
        .collect()
    }
    val msgs = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.toLowerCase.contains("overflow"), msgs)
  }

  test("jsd: identical source distributions diverge by exactly zero") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/jsd0"
    // both sources carry the same token multiset → every present term
    // has p = q (zero) and no absent mass → jsd exactly 0.0
    Seq(TextFixture.Doc(1, "alpha beta beta gamma", "en", "sA", 21),
        TextFixture.Doc(2, "alpha beta beta gamma", "en", "sB", 21))
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Text.jsDivergence(spark, dir).collect()
    assert(got.length === 2)
    got.foreach { r =>
      assert(r.getLong(3) === 0L, s"source ${r.getString(0)}")
      assert(r.getLong(1) === 4L && r.getLong(2) === 3L)
    }
  }

  test("jsd: sf values recompute via an independent integer-lattice fold") {
    // BigInt re-implementation of the round-18 contract (shared
    // literal log₂ lattice + unrolled exponent search + linear
    // interpolation + half-away folds, exact micro-long output) —
    // independent of the Column spelling, so a Spark-side
    // decimal-precision or indexing slip shows up as a value diff
    // here, and ALSO a ±2·10⁻⁷ accuracy cross-check of the lattice
    // against true log₂. The same fold also re-derives the two
    // round-18 bisection probes' stage sums (grid indices, shifts,
    // micro-log₂s), so all three registry rows share one witness.
    val T = Text.JsLog2TableNano
    // (micro-log₂, grid index, shift) of num/den on the lattice
    def log2micro(num: BigInt, den: BigInt): (Long, Long, Long) = {
      var k = 0; var m = BigInt(1)
      for (st <- Text.JsLog2Steps)
        if (num * m * (BigInt(1) << st) <= den) { m <<= st; k += st }
      val (shift, mm) =
        if (num >= den) (0L, BigInt(1)) else ((k + 1).toLong, m * 2)
      val u = num * mm * 1000
      val i = (u / den).toLong
      val rem = u - BigInt(i) * den
      val t0 = T((i - 1000).toInt); val t1 = T((i - 999).toInt)
      val nano = t0 + ((rem * (t1 - t0) * 2 + den) / (den * 2)).toLong
      val lpn = nano - shift * 1000000000L
      // the lattice value must sit within interp error of true log₂
      val truth = math.log(num.toDouble / den.toDouble) / math.log(2.0)
      assert(math.abs(lpn / 1e9 - truth) < 3e-7,
        s"lattice log2($num/$den): $lpn nano vs true $truth")
      val mag = (2L * math.abs(lpn) + 1000L) / 2000L
      (if (lpn >= 0) mag else -mag, i, shift)
    }
    def halfAway(num: BigInt, den: BigInt): Long = {
      val mag = ((num.abs * 2 + den) / (den * 2)).toLong
      if (num.signum >= 0) mag else -mag
    }
    // probe_term's row weight: the dedup_minhash house md5 slice
    def tokW(tok: String): BigInt = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      BigInt(hex, 16) % 1009
    }
    val sc = Tables.documents(spark, sf)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val gc = sc.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val na = sc.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ng = BigInt(gc.values.sum)
    case class Tok(t6u: Long, ip: Long, iq: Long, sp: Long, sq: Long,
                   lp: Long, lq: Long, w: BigInt)
    case class Src(jsd: Long, sip: Long, siq: Long, ssp: Long, ssq: Long,
                   slp: Long, slq: Long, vocab: Long, st6u: Long,
                   cgp: BigInt, wt6u: BigInt, wlp: BigInt, wlq: BigInt,
                   srp: BigInt, srq: BigInt)
    val expect = sc.groupBy(_._1).map { case (s, rows) =>
      val nA = BigInt(na(s))
      val folded = rows.map { case (_, tok, cs) =>
        val cS = BigInt(cs); val cG = BigInt(gc(tok))
        val den = cS * ng + cG * nA
        val (lp, ipI, spS) = log2micro(cS * ng * 2, den)
        val (lq, iqI, sqS) = log2micro(cG * nA * 2, den)
        Tok(halfAway(cS * lp * ng + cG * lq * nA, nA * ng * 2),
          ipI, iqI, spS, sqS, lp, lq, tokW(tok))
      }
      val cgp = rows.map(x => BigInt(gc(x._2))).sum
      // round-19 tail: exact nonnegative sums, ONE half-away division
      val srp = rows.zip(folded)
        .map { case ((_, _, cs), f) => BigInt(cs) * (1000000L - f.lp) }.sum
      val srq = rows.zip(folded)
        .map { case ((_, tok, _), f) => BigInt(gc(tok)) * (1000000L - f.lq) }.sum
      val present = halfAway(
        nA * (ng + cgp) * 1000000 - (ng * srp + nA * srq), nA * ng * 2)
      val absent = halfAway((ng - cgp) * 1000000, ng * 2)
      s -> Src(present + absent, folded.map(_.ip).sum, folded.map(_.iq).sum,
        folded.map(_.sp).sum, folded.map(_.sq).sum,
        folded.map(_.lp).sum, folded.map(_.lq).sum, folded.size.toLong,
        folded.map(_.t6u).sum, cgp,
        folded.map(f => BigInt(f.t6u) * f.w).sum,
        folded.map(f => BigInt(f.lp) * f.w).sum,
        folded.map(f => BigInt(f.lq) * f.w).sum, srp, srq)
    }
    Text.jsDivergence(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) === expect(r.getString(0)).jsd,
        s"jsd_micro for ${r.getString(0)}")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
    Text.jsProbeNorm(spark, sf).collect().foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) === ((e.vocab, e.sip, e.siq, e.ssp, e.ssq)),
        s"probe_norm for ${r.getString(0)}")
    }
    Text.jsProbeInterp(spark, sf).collect().foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) ===
        ((e.vocab, e.slp, e.slq)), s"probe_interp for ${r.getString(0)}")
    }
    Text.jsProbeTerm(spark, sf).collect().foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)) ===
        ((e.vocab, e.st6u, e.cgp.toLong, ng.toLong,
          e.wt6u.toLong, e.wlp.toLong, e.wlq.toLong)),
        s"probe_term for ${r.getString(0)}")
    }
    // round-20 sum-type A/B probe: both sum domains must land on the
    // SAME integers the BigInt fold produces (the probe's whole point
    // is that a split can only come from a broken engine build)
    Text.jsProbeAgg(spark, sf).collect().foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) ===
        ((e.vocab, e.srp.toLong, e.srp.toLong, e.srq.toLong, e.srq.toLong)),
        s"probe_agg for ${r.getString(0)}")
    }
  }

  test("readability: counts recompute via independent Scala regexes") {
    val raw = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Text.readability(spark, sf).limit(50).collect().foreach { r =>
      val text = raw(r.getLong(0))
      val w = text.split(" ", -1).length.toLong
      val sp = "[.!?]+".r.findAllIn(text).length.toLong
      val syl = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
      val lw = "[^ ]{7,}".r.findAllIn(text).length.toLong
      val s = math.max(sp, (w + 15) / 16)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
        ((w, s, syl, lw)), s"counts for doc ${r.getLong(0)}")
      val fre = 206.835 - 1.015 * (w.toDouble / s) - 84.6 * (syl.toDouble / w)
      assert(math.abs(r.getDouble(5) - fre) < 5e-7, s"fre for doc ${r.getLong(0)}")
    }
  }

  test("readability: real punctuation overrides the 16-token fallback") {
    val spark0 = spark
    import spark0.implicits._
    val dir = s"$tmpDir/readab"
    // 20 one-syllable-ish words, 4 sentences — punctuation (4) beats
    // ceil(20/16) = 2; second doc punctuation-free falls back
    val t1 = "the cat sat. it ran! did it? yes. and then some more pad pad pad pad pad pad pad"
    val t2 = "plain words with no stops at all just tokens " * 1
    Seq(TextFixture.Doc(1, t1, "en", "f", t1.length.toLong),
        TextFixture.Doc(2, t2, "en", "f", t2.length.toLong))
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Text.readability(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._2 === 4L, "punctuated doc must use its real sentence runs")
    val w2 = got(2L)._1
    assert(got(2L)._2 === (w2 + 15) / 16, "punctuation-free doc falls back")
  }

  test("decontaminate bloom: eval-split filter memoizes per relation identity, output unchanged") {
    // round-21 eager-construction memo: the sizing agg + treeAggregate
    // Bloom build run once per (session, dir, evalSource, n, fpp); a
    // repeat call reuses the SAME bitmap instance, both Bloom ops'
    // outputs — still computed per call over the train split — are
    // identical, and the shared build serves flags AND the oracled op
    val out1 = Text.decontaminateBloom(spark, sf).collect().toSeq
    val key = (spark, sf, "src0", 3, 0.001)
    val b1 = Text.bloomMemo.peek(key)
      .getOrElse(fail("first call must populate the bloom memo"))
    val out2 = Text.decontaminateBloom(spark, sf).collect().toSeq
    assert(Text.bloomMemo.peek(key).get eq b1,
      "repeat call must reuse the built filter")
    assert(out2 === out1)
    val flags = Text.decontaminateBloomFlags(spark, sf).collect()
    assert(Text.bloomMemo.peek(key).get eq b1,
      "the flags op must share the same built filter")
    assert(flags.nonEmpty)
  }

  test("decontaminate substring: span-gram filter memoizes per relation identity, output unchanged") {
    // round-21 eager-construction memo: the sizing agg + span-gram
    // Bloom build run once per (session, dir, evalSource); the exact
    // semi-join + span collapse — the op's output — recomputes per call
    val out1 = Text.decontaminateSubstring(spark, sf).collect().toSeq
    val key = (spark, sf, "src0")
    val b1 = Text.spanBloomMemo.peek(key)
      .getOrElse(fail("first call must populate the span-bloom memo"))
    val out2 = Text.decontaminateSubstring(spark, sf).collect().toSeq
    assert(Text.spanBloomMemo.peek(key).get eq b1,
      "repeat call must reuse the built filter")
    assert(out2 === out1)
  }

  test("dedup audit: pair frames memoize per relation identity, output unchanged") {
    // round-21 continuation: the minhash and simhash candidate-pair
    // frames (consumed by audit/incremental/calibration) materialize
    // once per (session, dir) + documents relation identity; a repeat
    // call reuses the SAME checkpointed frames, the memoized content
    // equals a fresh uncached build, and dedup_minhash/dedup_simhash —
    // the ops whose outputs ARE these frames — never read the memos
    val out1 = Text.dedupAudit(spark, sf).collect().toSeq
    val key = (spark, sf)
    val (mh1, sh1) = (Text.mhPairFrameMemo.peek(key), Text.shPairFrameMemo.peek(key)) match {
      case (Some(mh), Some(sh)) => (mh, sh)
      case _ => fail("first audit call must populate both pair-frame memos")
    }
    val out2 = Text.dedupAudit(spark, sf).collect().toSeq
    assert((Text.mhPairFrameMemo.peek(key).get eq mh1) &&
      (Text.shPairFrameMemo.peek(key).get eq sh1),
      "repeat call must reuse the materialized pair frames")
    assert(out2 === out1)
    // memoized frame content == fresh uncached build (order-free)
    val memo = mh1.select("a_id", "b_id", "a_source", "est_jaccard")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    val fresh = Text.minhashPairs(spark, sf)
      .select("a_id", "b_id", "a_source", "est_jaccard")
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    assert(memo === fresh, "memoized pair frame must equal a fresh build")
    // the presentation ops recompute per call (bpe_merges discipline):
    // their plans contain the band-bucket / chunk-bucket self-joins
    val mhPlan = Text.dedupMinhash(spark, sf)
      .queryExecution.executedPlan.toString
    assert(mhPlan.contains("band"),
      s"dedup_minhash must re-run the band self-join, not read the memo:\n$mhPlan")
    val shPlan = Text.dedupSimhash(spark, sf)
      .queryExecution.executedPlan.toString
    assert(shPlan.contains("chunk"),
      s"dedup_simhash must re-run the chunk self-join, not read the memo:\n$shPlan")
  }
}

object DecontFixture {
  /** Eval split (src0): one doc with trigrams {a b c, b c d, c d e}.
    * Train split (src1): doc 13 an exact copy (3 hits), doc 11 a partial
    * overlap (2), doc 10 one shared trigram (1), doc 12 disjoint (0 —
    * must be absent, not reported as 0). */
  def write(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    def d(id: Long, text: String, source: String) =
      TextFixture.Doc(id, text, "en", source, text.length.toLong)
    Seq(
      d(1L, "a b c d e", "src0"),
      d(10L, "a b c x y", "src1"),
      d(11L, "b c d e f g", "src1"),
      d(12L, "z z z z", "src1"),
      d(13L, "a b c d e", "src1"))
      .toDF().write.mode("overwrite").parquet(s"$dir/decont/documents.parquet")
    s"$dir/decont"
  }
}

object TextFixture {
  /** Case/whitespace variants that must collapse under normalization,
    * plus a unique doc, across two sources. */
  def writeNormFixture(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    Seq(
      Doc(1, "Hello  World", "en", "srcA", 12),
      Doc(2, " hello world ", "en", "srcB", 13),
      Doc(3, "HELLO\tWORLD", "en", "srcB", 11),
      Doc(4, "something else", "en", "srcA", 14))
      .toDF().write.mode("overwrite").parquet(s"$dir/normfix/documents.parquet")
    s"$dir/normfix"
  }
  case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private def doc(id: Long, toks: Seq[String]) = {
    val text = toks.mkString(" ")
    Doc(id, text, "en", "fixture", text.length.toLong)
  }

  /** 1 and 4 identical; 2 a 95%-overlap near-dupe of 1; 3 disjoint. */
  def writeFixture(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    val a = (1 to 100).map(i => s"w$i")
    val b = (1 to 95).map(i => s"w$i") ++ (96 to 100).map(i => s"x$i")
    val c = (1 to 100).map(i => s"y$i")
    Seq(doc(1, a), doc(2, b), doc(3, c), doc(4, a))
      .toDF().write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Three "languages" with disjoint letter ranges — bigram profiles are
    * separable, unlike the sf corpus whose lang labels are noise. */
  def writeLangFixture(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def word(letters: String) =
      (0 until 2 + rnd.nextInt(5)).map(_ => letters(rnd.nextInt(letters.length))).mkString
    val langs = Seq("aa" -> "abcdef", "bb" -> "ghijkl", "cc" -> "mnopqr")
    val docs = langs.zipWithIndex.flatMap { case ((lang, letters), li) =>
      (0 until 30).map { i =>
        val text = (0 until 40).map(_ => word(letters)).mkString(" ")
        Doc(li * 100L + i, text, lang, "langfix", text.length.toLong)
      }
    }
    docs.toDF().write.mode("overwrite").parquet(s"$dir/langfix/documents.parquet")
    s"$dir/langfix"
  }

  /** 120 identical docs — more than one bucket cap's worth. */
  def writeFlood(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    import spark.implicits._
    val toks = (1 to 50).map(i => s"f$i")
    (1 to 120).map(i => doc(i.toLong, toks)).toDF()
      .write.mode("overwrite").parquet(s"$dir/flood/documents.parquet")
    s"$dir/flood"
  }
}
