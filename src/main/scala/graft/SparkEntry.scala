package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Asof, Changes, Events, Graph, Multimodal, Privacy, Recon, Relational, Sampling, Text, Vectors}

/** Driver contract (SURVEY.md §2 is the inventory; Appendix A + §7.4 are
  * the determinism rules every oracle below follows: DECIMAL-exact money
  * sums surfaced as double, µs-identical timestamps, total ORDER BY with
  * unique tiebreaks, dialect forks documented per query).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One registry row: a query path's op, its DuckDB oracle and whether
    * [[Bench]] times it. The SQL is by-name: building the table (and so
    * [[queries]]) renders no oracle string; only [[oracleSql]] does. */
  private[graft] final class Query(val name: String,
      val op: (SparkSession, String) => DataFrame, sql: => String,
      val benched: Boolean = true) {
    def oracle: String = sql
  }

  /** Every query path by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map(q => q.name -> q.op).toMap

  /** The BASELINE.md headline queries timed by [[Bench]], in table order. */
  lazy val benchQueries: Seq[String] = table.filter(_.benched).map(_.name)

  /** DuckDB-dialect oracle per query (driver runs these on the same parquet
    * files and hash-compares). Dialect forks: get_json_object↔
    * json_extract_string, split↔string_split, size↔len, filter↔list_filter,
    * posexplode↔generate_subscripts/unnest, QUALIFY only on DuckDB side. */
  def oracleSql: Map[String, String] =
    table.map(q => q.name -> q.oracle).toMap

  /** DuckDB re-derivation of the ENTIRE [[graft.ops.Vectors.pcaPower]]
    * pipeline: the exact Gram sums (the dim_correlation CTEs), the
    * cleared-denominator covariance C = n·G − s·sᵀ, and
    * [[graft.ops.Vectors.PcaIters]] UNROLLED integer power-iteration
    * rounds — w = C·v as exact HUGEINT, then the engine-neutral
    * rescale v ← (w·1000) // max|w| with sign-normalized truncation —
    * from the same all-ones start. λ and the explained share present
    * through the ratioRound `//` twin (vᵀCv ≥ 0 — PSD); loadings are
    * exact v/1000. The d2 > 0 guard empties the result on a degenerate
    * (constant/empty) cloud exactly like the Spark side. */
  private def pcaPowerSql: String = {
    val k = graft.ops.Vectors.PcaIters
    // every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs
    // per REFERENCE, and the w→m→v triple references each level twice,
    // so an un-materialized 8-round chain re-evaluates the whole
    // prefix ~2⁸ times (measured 45 s → 0.6 s at sf0.1 — the playbook
    // CTE rule, iteration edition)
    val iters = (1 to k).map { it =>
      s"""w$it AS MATERIALIZED (SELECT cm.i, sum(c * v${it - 1}.v) w
         |  FROM cm JOIN v${it - 1} ON v${it - 1}.i = cm.j GROUP BY 1),
         |m$it AS MATERIALIZED (SELECT max(abs(w)) m FROM w$it),
         |v$it AS MATERIALIZED (SELECT i, CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)
         |    WHEN w >= 0 THEN (w * 1000) // m
         |    ELSE -((-w * 1000) // m) END v
         |  FROM w$it CROSS JOIN m$it)""".stripMargin
    }.mkString(",\n")
    s"""WITH em AS MATERIALIZED (
       |  SELECT list_transform(embedding,
       |    v -> CAST(round(round(v, 6) * 1e6) AS BIGINT)) e
       |  FROM embeddings WHERE embedding IS NOT NULL
       |    AND len(list_filter(embedding, v -> v IS NULL)) = 0),
       |n0 AS (SELECT count(*) n FROM em),
       |dims AS MATERIALIZED (
       |  SELECT i, sum(v) si
       |  FROM (SELECT unnest(e) v, generate_subscripts(e, 1) i FROM em)
       |  GROUP BY 1),
       |pe AS (
       |  SELECT unnest(flatten(list_transform(range(1, len(e) + 1), i ->
       |    list_transform(range(i, len(e) + 1), j ->
       |      {'i': i, 'j': j, 'p': e[i] * e[j]})))) u
       |  FROM em),
       |gup AS MATERIALIZED (SELECT u.i i, u.j j, sum(CAST(u.p AS HUGEINT)) g
       |  FROM pe GROUP BY 1, 2),
       |gf AS (SELECT i, j, g FROM gup
       |  UNION ALL SELECT j, i, g FROM gup WHERE i <> j),
       |cm AS MATERIALIZED (
       |  SELECT gf.i, gf.j,
       |    CAST(n AS HUGEINT) * g - CAST(di.si AS HUGEINT) * dj.si c
       |  FROM gf JOIN dims di ON di.i = gf.i JOIN dims dj ON dj.i = gf.j
       |  CROSS JOIN n0),
       |v0 AS (SELECT i, CAST(1000 AS HUGEINT) v FROM dims),
       |$iters,
       |dn AS (SELECT sum(v * v) d2 FROM v$k),
       |nm AS (SELECT sum(va.v * c * vb.v) q
       |  FROM cm JOIN v$k va ON va.i = cm.i JOIN v$k vb ON vb.i = cm.j),
       |tr AS (SELECT sum(c) t FROM cm WHERE i = j),
       |top AS (SELECT i, v, row_number() OVER (ORDER BY abs(v) DESC, i) rk
       |  FROM v$k)
       |SELECT CAST(rk AS INT) rk, CAST(i AS INT) dim,
       |  CAST(v AS DOUBLE) / 1000 loading,
       |  CAST((CASE WHEN q >= 0 THEN 1 ELSE -1 END)
       |    * ((2 * abs(q) * 1000000 + d2 * CAST(1000000000000 AS HUGEINT))
       |      // (2 * d2 * CAST(1000000000000 AS HUGEINT))) AS DOUBLE) / 1e6
       |    lambda,
       |  CAST((CASE WHEN q >= 0 THEN 1 ELSE -1 END)
       |    * ((2 * abs(q) * 1000000 + d2 * t) // (2 * d2 * t)) AS DOUBLE) / 1e6
       |    explained_share
       |FROM top CROSS JOIN dn CROSS JOIN nm CROSS JOIN tr
       |WHERE rk <= 8 AND d2 > 0
       |ORDER BY rk""".stripMargin
  }

  /** DuckDB spelling of [[graft.ops.Vectors.lshBucket]]: the 8 sign bits
    * against the SAME hyperplane doubles, interpolated from
    * `Vectors.planes` when the oracle map is built — `Double.toString`
    * round-trips exactly, so the constants cannot drift from the Spark
    * plan's `typedlit` copies. */
  private def lshBucketSql: String =
    "(" + (0 until 8).map { j =>
      val plane = graft.ops.Vectors.planes(j).mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product(v, $plane) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ") + ")"

  /** DuckDB re-derivation of the ENTIRE [[graft.ops.Vectors.annIvfTopk]]
    * pipeline — seeds, three unrolled Lloyd rounds, probe assignment,
    * and the final argmax. Reproducible cross-engine because the Spark
    * side was made deterministic for it (round 12): seeds order by the
    * portable md5(vec_id) instead of xxhash64; cluster means are exact
    * DECIMAL(18,9) sums (the embed_centroids float→decimal rule), so no
    * partial-agg order leaks in; and every dot product is the
    * sequential-accumulation native expression, bit-identical to
    * DuckDB's `list_inner_product` (the contract ann_lsh_topk /
    * cosine_knn already pin). Iteration count/k/probes interpolate from
    * `Vectors`' own constants so the two engines cannot drift, and the
    * training CTE applies the SAME smallest-md5 `IvfTrainCap` sample
    * the Spark quantizer collects (round-13 advice) — parity holds at
    * any corpus size, not just below the cap. */
  /** The shared IVF WITH-body through the candidate pair frame `p` —
    * [[ivfTopkSql]] and [[ivfRecallSql]] both compose over it. */
  private def ivfCandidateCtes: String = {
    val k = graft.ops.Vectors.IvfClusters
    val iters = graft.ops.Vectors.IvfIterations
    val probes = graft.ops.Vectors.IvfProbes
    val cap = graft.ops.Vectors.IvfTrainCap
    val iterCtes = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, u, cid FROM (
         |    SELECT q.vec_id, q.u, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_inner_product(q.u, c.cvec) DESC, c.cid) rn
         |    FROM tr q CROSS JOIN c${i - 1} c) WHERE rn = 1),
         |m$i AS (SELECT cid, pos,
         |    CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*) m
         |  FROM (SELECT cid, generate_subscripts(u,1) pos, unnest(u) x FROM a$i)
         |  GROUP BY cid, pos),
         |g$i AS (SELECT cid, list(m ORDER BY pos) m FROM m$i GROUP BY cid),
         |c$i AS (SELECT cid,
         |    list_transform(m, x -> x / sqrt(list_inner_product(m, m))) cvec
         |  FROM g$i)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
       |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
       |          CAST(embedding AS DOUBLE[])) > 0),
       |u AS (SELECT vec_id,
       |    list_transform(v, x -> x / sqrt(list_inner_product(v, v))) u FROM v0),
       |tr AS (SELECT vec_id, u, md5(CAST(vec_id AS VARCHAR)) h FROM u
       |  ORDER BY h, vec_id LIMIT $cap),
       |c0 AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 cid, u cvec
       |  FROM tr ORDER BY h, vec_id LIMIT $k),
       |$iterCtes,
       |sc AS (SELECT q.vec_id, q.u, c.cid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_inner_product(q.u, c.cvec) DESC, c.cid) rk
       |  FROM u q CROSS JOIN c$iters c),
       |pr AS (SELECT vec_id, u, cid, rk FROM sc WHERE rk <= $probes),
       |mem AS (SELECT cid, vec_id nn, u un FROM pr WHERE rk = 1),
       |p AS (SELECT pr.vec_id, mem.nn,
       |    round(list_inner_product(pr.u, mem.un), 4) sim
       |  FROM pr JOIN mem USING (cid) WHERE pr.vec_id <> mem.nn)""".stripMargin
  }

  private def ivfTopkSql: String =
    s"""WITH $ivfCandidateCtes
       |SELECT vec_id, nn, sim FROM p
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn) = 1
       |ORDER BY vec_id LIMIT 50""".stripMargin

  /** DuckDB twin of [[graft.ops.Vectors.annIvfRecall]]: IVF argmax vs
    * the exact unit-vector-dot argmax over the full non-self pair set,
    * identical (sim DESC, nn) tie rule, strict-id and 4-dp-sim-tie
    * recall in one row. */
  private def ivfRecallSql: String =
    s"""WITH $ivfCandidateCtes,
       |ab AS (SELECT vec_id, nn ann, sim asim FROM p
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn) = 1),
       |ex AS (SELECT a.vec_id, b.vec_id nn,
       |    round(list_inner_product(a.u, b.u), 4) sim
       |  FROM u a JOIN u b ON a.vec_id <> b.vec_id),
       |eb AS (SELECT vec_id, nn enn, sim esim FROM ex
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn) = 1)
       |SELECT CAST(count(*) AS BIGINT) n_vectors,
       |  CAST(sum(CASE WHEN ann IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_found,
       |  CAST(sum(CASE WHEN ann = enn THEN 1 ELSE 0 END) AS BIGINT) n_id_match,
       |  CAST(sum(CASE WHEN asim = esim THEN 1 ELSE 0 END) AS BIGINT) n_tie_match,
       |  CAST((2 * sum(CASE WHEN ann = enn THEN 1 ELSE 0 END) * 1000000
       |    + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS recall_id,
       |  CAST((2 * sum(CASE WHEN asim = esim THEN 1 ELSE 0 END) * 1000000
       |    + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS recall_tie
       |FROM eb LEFT JOIN ab USING (vec_id)""".stripMargin

  /** DuckDB re-derivation of the ENTIRE [[graft.ops.Text.bpeMerges]]
    * trajectory — the ann_ivf_topk full-reproduction precedent applied
    * to BPE training: the same capped (count DESC, word) dictionary
    * (binary collation == Spark's UTF8String byte order), then
    * [[graft.ops.Text.BpeIterations]] unrolled merge rounds. Symbol
    * sequences are spelled as chr(1)‖sym‖chr(2)-wrapped strings so that
    * one non-overlapping `replace` of `⟨l⟩⟨r⟩` with `⟨lr⟩` IS the
    * greedy left-to-right merge application (wrappers anchor both
    * symbol boundaries, so a pattern can never match mid-symbol, and
    * matches consume no shared delimiter, so adjacent occurrences all
    * merge); pair counts re-split the wrapped string and lead() over
    * position. MATERIALIZED pins each round's frame — without it the
    * recursive CTE chain re-inlines every prior round. chr(3) is the
    * never-matching replace pattern for rounds past pair exhaustion. */
  /** The shared BPE training WITH-body: word counts → capped
    * dictionary → wrapped symbol strings → `BpeIterations` unrolled
    * (pair count, top-1, replace-apply) rounds. Both BPE oracles
    * compose over it. */
  private def bpeTrainCtes: String = {
    val cap = graft.ops.Text.BpeWordCap
    val iters = graft.ops.Text.BpeIterations
    val iterCtes = (1 to iters).map { i =>
      s"""p$i AS (SELECT l, r, CAST(sum(c) AS BIGINT) cnt FROM (
         |    SELECT w, c, sym l, lead(sym) OVER (PARTITION BY w ORDER BY pos) r
         |    FROM (SELECT w, c, generate_subscripts(syms, 1) pos, unnest(syms) sym
         |          FROM (SELECT w, c, string_split(trim(s, chr(1) || chr(2)),
         |                  chr(2) || chr(1)) syms FROM s${i - 1})))
         |  WHERE r IS NOT NULL GROUP BY l, r),
         |t$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (SELECT w, c, replace(s,
         |    coalesce((SELECT chr(1) || l || chr(2) || chr(1) || r || chr(2)
         |      FROM t$i), chr(3)),
         |    coalesce((SELECT chr(1) || l || r || chr(2) FROM t$i), chr(3))) s
         |  FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""wc AS (SELECT w, count(*) c FROM (
       |    SELECT unnest(string_split(text, ' ')) w FROM documents)
       |  WHERE len(w) > 0 AND w NOT LIKE '%' || chr(1) || '%'
       |    AND w NOT LIKE '%' || chr(2) || '%'
       |  GROUP BY w),
       |wcap AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT $cap),
       |s0 AS MATERIALIZED (SELECT w, c,
       |    regexp_replace(w, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g') s
       |  FROM wcap),
       |$iterCtes""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Graph.pagerankParts]]: the 8 power
    * iterations unroll into a MATERIALIZED CTE chain (pr0..pr8 — the
    * bpeMerges trajectory precedent; without MATERIALIZED DuckDB
    * re-inlines each pr into the next and the plan grows
    * exponentially). Arithmetic is the identical integer contract:
    * HUGEINT ≡ DECIMAL(38,0) products, `//` ≡ `div`, exact long sums —
    * so rank_ppb matches Spark bit-for-bit at every iteration. */
  private def pagerankSql: String = {
    // the basket cap mirrors Graph.MaxBasketParts so the two engines
    // compute the SAME graph on any corpus, not just within-cap ones
    val head =
      s"""ob0 AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ob AS MATERIALIZED (SELECT l_orderkey, l_partkey FROM ob0
        |  QUALIFY row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_partkey) <= ${graft.ops.Graph.MaxBasketParts}),
        |pairs AS MATERIALIZED (
        |  SELECT a.l_partkey s, b.l_partkey t, count(*) w
        |  FROM ob a JOIN ob b USING (l_orderkey)
        |  WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
        |outw AS MATERIALIZED (SELECT s, sum(w) ow FROM pairs GROUP BY 1),
        |nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM pairs),
        |n AS MATERIALIZED (SELECT count(*) cnt FROM nodes),
        |pr0 AS MATERIALIZED (
        |  SELECT node, CAST(1000000000 // cnt AS BIGINT) r FROM nodes CROSS JOIN n)""".stripMargin
    val iters = (1 to graft.ops.Graph.PagerankIters).map { i =>
      s"""pr$i AS MATERIALIZED (SELECT nodes.node,
         |  CAST(150000000 // cnt AS BIGINT) + coalesce(c.sm, 0) r
         |  FROM nodes CROSS JOIN n LEFT JOIN (
         |    SELECT t node, CAST(sum(CAST(r AS HUGEINT) * 85 * w
         |      // (CAST(ow AS HUGEINT) * 100)) AS BIGINT) sm
         |    FROM pr${i - 1} JOIN pairs ON pr${i - 1}.node = pairs.s
         |    JOIN outw USING (s) GROUP BY t) c
         |  ON nodes.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $head,
       |$iters
       |SELECT node AS l_partkey, r AS rank_ppb,
       |  CAST((2 * CAST(r AS HUGEINT) * 1000000 + 1000000000)
       |    // 2000000000 AS DOUBLE) / 1e6 AS rank
       |FROM pr${graft.ops.Graph.PagerankIters}
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Graph.copurchaseComponents]]: exactly
    * [[graft.ops.Graph.ComponentsIters]] unrolled MATERIALIZED
    * min-label rounds. Spark passes the same constant as `maxIter` and
    * THROWS on non-convergence — the loud coupling that keeps a
    * fixed-depth oracle honest; converged min-label fixpoints are
    * canonical, so the census matches exactly. */
  private def componentsSql: String = {
    // basket cap mirrored from Graph.MaxBasketParts (see pagerankSql)
    val head =
      s"""ob0 AS MATERIALIZED (SELECT DISTINCT l_orderkey k, l_partkey p FROM lineitem),
        |ob AS MATERIALIZED (SELECT k, p FROM ob0
        |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY p)
        |    <= ${graft.ops.Graph.MaxBasketParts}),
        |e0 AS MATERIALIZED (SELECT a.p s, b.p t FROM ob a JOIN ob b USING (k)
        |  WHERE a.p <> b.p GROUP BY 1, 2 HAVING count(*) >= 2),
        |l0 AS MATERIALIZED (SELECT DISTINCT s node, s lbl FROM e0)""".stripMargin
    val iters = (1 to graft.ops.Graph.ComponentsIters).map { i =>
      s"""l$i AS MATERIALIZED (SELECT l.node, least(l.lbl, coalesce(m.ml, l.lbl)) lbl
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT e0.t node, min(l${i - 1}.lbl) ml
         |    FROM l${i - 1} JOIN e0 ON l${i - 1}.node = e0.s
         |    GROUP BY 1) m ON l.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $head,
       |$iters
       |SELECT cs AS cluster_size, CAST(count(*) AS BIGINT) n_clusters,
       |  min(lbl) AS min_canonical
       |FROM (SELECT lbl, CAST(count(*) AS BIGINT) cs
       |      FROM l${graft.ops.Graph.ComponentsIters} GROUP BY 1)
       |GROUP BY cs ORDER BY cs DESC, min_canonical""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Graph.kcoreSummary]]: the strong-edge
    * frame, then [[graft.ops.Graph.KcoreIters]] unrolled MATERIALIZED
    * peel rounds (degree → sub-k set → edge filter); peeling is
    * confluent, so once the Spark loop converges within the depth the
    * extra rounds are no-ops and fixed-depth equality is exact.
    * `rounds` = number of rounds whose sub-k set was non-empty — the
    * Spark loop counter's definition verbatim. */
  /** Shared MATERIALIZED CTE prefix for every DuckDB oracle over the
    * STRONG (w >= 2, a < b) co-purchase edge set — ONE spelling of the
    * basket cap + edge contract (review catch: it had drifted into
    * five literal copies; a cap or threshold change now reaches every
    * twin). `edge` names the edge CTE. */
  private def strongEdgeCtes(edge: String): String =
    s"""ob0 AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey k, l_partkey p FROM lineitem),
       |ob AS MATERIALIZED (SELECT k, p FROM ob0
       |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY p)
       |    <= ${graft.ops.Graph.MaxBasketParts}),
       |$edge AS MATERIALIZED (SELECT a.p a, b.p b FROM ob a JOIN ob b USING (k)
       |  WHERE a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  private def kcoreSql: String = {
    val r = graft.ops.Graph.KcoreIters
    val k = graft.ops.Graph.KcoreK
    val head = strongEdgeCtes("e0")
    val iters = (1 to r).map { i =>
      s"""d$i AS (SELECT v, count(*) d FROM (
         |    SELECT a v FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
         |  GROUP BY 1),
         |bad$i AS MATERIALIZED (SELECT v FROM d$i WHERE d < $k),
         |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
         |  WHERE a NOT IN (SELECT v FROM bad$i)
         |    AND b NOT IN (SELECT v FROM bad$i))""".stripMargin
    }.mkString(",\n")
    val roundSum = (1 to r).map(i =>
      s"(CASE WHEN (SELECT count(*) FROM bad$i) > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $head,
       |$iters,
       |df AS (SELECT v, count(*) d FROM (
       |    SELECT a v FROM e$r UNION ALL SELECT b FROM e$r) GROUP BY 1)
       |SELECT $k k, CAST($roundSum AS BIGINT) rounds,
       |  CAST((SELECT count(*) FROM df) AS BIGINT) core_nodes,
       |  CAST((SELECT count(*) FROM e$r) AS BIGINT) core_edges,
       |  (SELECT CAST(min(d) AS BIGINT) FROM df) min_core_degree""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Events.markovStationary]]: the capped
    * state space, the restricted stochastic matrix and the 12 integer
    * power iterations all re-derived verbatim (unrolled MATERIALIZED
    * rounds — the pagerank arithmetic without damping). */
  private def markovSql: String = {
    val cap = graft.ops.Events.MarkovTypeCap
    val head =
      s"""seq AS (SELECT user_id, event_type f,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) t
         |  FROM events),
         |tcount AS (SELECT event_type, count(*) n FROM events GROUP BY 1),
         |cap AS MATERIALIZED (SELECT event_type FROM tcount
         |  ORDER BY n DESC, event_type LIMIT $cap),
         |tr0 AS MATERIALIZED (SELECT f, t, count(*) w FROM seq
         |  WHERE t IS NOT NULL AND f IN (SELECT event_type FROM cap)
         |    AND t IN (SELECT event_type FROM cap) GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT DISTINCT f AS node FROM tr0),
         |tr AS MATERIALIZED (
         |  SELECT f, t, w FROM tr0 WHERE t IN (SELECT node FROM nodes)
         |  UNION ALL
         |  -- unit self-loop for states whose every target dropped out of
         |  -- the space: mass holds instead of evaporating at round 1
         |  SELECT node, node, 1 FROM nodes WHERE node NOT IN (
         |    SELECT f FROM tr0 WHERE t IN (SELECT node FROM nodes))),
         |ow AS MATERIALIZED (SELECT f, sum(w) ow FROM tr GROUP BY 1),
         |k AS (SELECT count(*) cnt FROM nodes),
         |p0 AS MATERIALIZED (
         |  SELECT node, CAST(1000000000 // cnt AS BIGINT) r FROM nodes CROSS JOIN k)""".stripMargin
    val iters = (1 to graft.ops.Events.MarkovIters).map { i =>
      s"""p$i AS MATERIALIZED (SELECT nodes.node, coalesce(c.sm, 0) r
         |  FROM nodes LEFT JOIN (
         |    SELECT t node, CAST(sum(CAST(r AS HUGEINT) * w
         |      // CAST(ow AS HUGEINT)) AS BIGINT) sm
         |    FROM p${i - 1} JOIN tr ON p${i - 1}.node = tr.f
         |    JOIN ow USING (f) GROUP BY t) c ON nodes.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $head,
       |$iters,
       |obs AS (SELECT event_type, count(*) n FROM events
       |  WHERE event_type IN (SELECT node FROM nodes) GROUP BY 1),
       |ot AS (SELECT sum(n) nt FROM obs)
       |SELECT node AS event_type, r AS pi_ppb,
       |  CAST((2 * CAST(r AS HUGEINT) * 1000000 + 1000000000)
       |    // 2000000000 AS DOUBLE) / 1e6 AS pi,
       |  CAST((2 * n * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1e6
       |    AS obs_share
       |FROM p${graft.ops.Events.MarkovIters} JOIN obs ON node = event_type
       |CROSS JOIN ot ORDER BY event_type""".stripMargin
  }

  private def bpeMergesSql: String = {
    val iters = graft.ops.Text.BpeIterations
    val unions = (1 to iters).map { i =>
      if (i == 1) "SELECT 1 step, l lhs, r rhs, cnt pair_count FROM t1"
      else s"SELECT $i, l, r, cnt FROM t$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT * FROM ($unions) ORDER BY step""".stripMargin
  }

  /** DuckDB twin of [[graft.ops.Text.bpeSegment]]: the training CTEs
    * re-derive the merge trajectory, then every document wraps each
    * non-space codepoint and runs the SAME 16-deep non-overlapping
    * replace chain (patterns as uncorrelated scalar subqueries over
    * t1..t16, chr(3) no-op past pair exhaustion); subword tokens =
    * surviving chr(1) markers. */
  private def bpeSegmentSql: String = {
    val iters = graft.ops.Text.BpeIterations
    val applied = (1 to iters).foldLeft(
      "regexp_replace(ctext, '([^ ])', chr(1) || '\\1' || chr(2), 'g')") {
      (acc, i) =>
        s"""replace($acc,
           |  coalesce((SELECT chr(1) || l || chr(2) || chr(1) || r || chr(2)
           |    FROM t$i), chr(3)),
           |  coalesce((SELECT chr(1) || l || r || chr(2) FROM t$i), chr(3)))"""
          .stripMargin
    }
    // cl strips literal U+0001/U+0002 before wrapping -- mirrors
    // Text.bpeSegment's forged-marker guard (round-13 advice)
    s"""WITH $bpeTrainCtes,
       |cl AS (SELECT source,
       |    replace(replace(text, chr(1), ''), chr(2), '') ctext
       |  FROM documents),
       |apm AS (SELECT source, ctext, $applied a FROM cl),
       |ap AS (SELECT source,
       |    len(list_filter(string_split(ctext, ' '), x -> x <> '')) ws,
       |    length(replace(ctext, ' ', '')) sym,
       |    length(a) - length(replace(a, chr(1), '')) sub
       |  FROM apm)
       |SELECT source, CAST(count(*) AS BIGINT) n_docs,
       |  CAST(sum(ws) AS BIGINT) ws_tokens,
       |  CAST(sum(sym) AS BIGINT) symbols,
       |  CAST(sum(sub) AS BIGINT) subword_tokens,
       |  CAST((2 * sum(sub) * 1000000 + sum(sym)) // (2 * sum(sym))
       |    AS DOUBLE) / 1e6 AS subword_per_symbol
       |FROM ap GROUP BY source ORDER BY source""".stripMargin
  }

  /** [[graft.ops.Text.jsDivergence]]'s oracle CTE prefix, through the
    * exponent-search + grid-quantization stage (`iv`) — GENERATED,
    * not hand-spelled: the lattice VALUES relation and the chained
    * CASE levels render from the SAME Scala constants
    * ([[graft.ops.Text.JsLog2TableNano]],
    * [[graft.ops.Text.JsLog2Steps]]) the Spark plan embeds, so no
    * runtime libm call exists on either engine. Round-18 spelling
    * change (round-17 verdict prescription): the 1002-element list
    * literal cross-joined and indexed per row — the one construct no
    * green oracle exercised, and the prime suspect for the four-round
    * driver-build disagreement — is replaced by `lat`, a 1001-row
    * VALUES relation carrying (grid index i, T[i], T[i+1]) that the
    * lookup stage plain equi-joins on the quantized index (every
    * ip/iq ∈ [1000, 2000] exists in `lat`, so the inner join is
    * row-preserving). kp/mp (kq/mq) accumulate the mantissa exponent
    * exactly as Text.withLog2Micro's when-chain does (each level
    * reads the previous level's m); `up`/`uq` put the mantissa on
    * the 1/1000 grid. */
  private def jsCtesThroughIv: String = jsCtesThroughIv(withTok = false)

  /** `withTok = true` additionally threads the raw token string through
    * every CTE level — ONLY [[jsProbeTermSql]]'s row-sensitive checksum
    * columns need it; the other three oracle texts render with
    * `withTok = false` and stay byte-identical to the round-18 texts
    * the driver has already adjudicated (probe hygiene: never perturb a
    * green row's SQL while bisecting a red one). */
  private def jsCtesThroughIv(withTok: Boolean): String = {
    val tk = if (withTok) "tok, " else ""
    val lat = graft.ops.Text.JsLog2TableNano.sliding(2).zipWithIndex
      .map { case (w, k) => s"(${1000 + k},${w(0)},${w(1)})" }
      .mkString(", ")
    val s0 = s"""SELECT source, ${tk}cs, cg, na, ng, den, np, nq,
        CAST(0 AS HUGEINT) kp, CAST(1 AS HUGEINT) mp,
        CAST(0 AS HUGEINT) kq, CAST(1 AS HUGEINT) mq
      FROM base"""
    val chain = graft.ops.Text.JsLog2Steps.foldLeft(s0) { (inner, st) =>
      val p2 = 1L << st
      s"""SELECT source, ${tk}cs, cg, na, ng, den, np, nq,
        CASE WHEN np * mp * $p2 <= den THEN kp + $st ELSE kp END kp,
        CASE WHEN np * mp * $p2 <= den THEN mp * $p2 ELSE mp END mp,
        CASE WHEN nq * mq * $p2 <= den THEN kq + $st ELSE kq END kq,
        CASE WHEN nq * mq * $p2 <= den THEN mq * $p2 ELSE mq END mq
      FROM ($inner)"""
    }
    s"""toks AS (SELECT source, tok FROM (
       |    SELECT source, unnest(string_split(lower(text), ' ')) tok
       |    FROM documents) WHERE tok <> ''),
       |sc AS MATERIALIZED (SELECT source, tok, count(*) cs FROM toks GROUP BY 1, 2),
       |gc AS MATERIALIZED (SELECT tok, sum(cs) cg FROM sc GROUP BY 1),
       |na AS (SELECT source, sum(cs) na FROM sc GROUP BY 1),
       |ng AS (SELECT sum(cg) ng FROM gc),
       |base AS (SELECT sc.source, ${if (withTok) "sc.tok, " else ""}sc.cs, gc.cg, na.na, ng.ng,
       |    CAST(sc.cs AS HUGEINT) * ng + CAST(gc.cg AS HUGEINT) * na AS den,
       |    CAST(sc.cs AS HUGEINT) * ng * 2 AS np,
       |    CAST(gc.cg AS HUGEINT) * na * 2 AS nq
       |  FROM sc JOIN gc USING (tok) JOIN na USING (source) CROSS JOIN ng),
       |lat AS (SELECT CAST(i AS HUGEINT) i, CAST(t0 AS BIGINT) t0,
       |    CAST(t1 AS BIGINT) t1 FROM (VALUES $lat) v(i, t0, t1)),
       |lg AS (SELECT *,
       |    CASE WHEN np >= den THEN CAST(0 AS HUGEINT) ELSE kp + 1 END sp,
       |    CASE WHEN np >= den THEN np * 1000 ELSE np * mp * 2000 END up,
       |    CASE WHEN nq >= den THEN CAST(0 AS HUGEINT) ELSE kq + 1 END sq,
       |    CASE WHEN nq >= den THEN nq * 1000 ELSE nq * mq * 2000 END uq
       |  FROM ($chain)),
       |iv AS (SELECT source, ${tk}cs, cg, na, ng, den, sp, sq, up, uq,
       |    up // den ip, uq // den iq FROM lg)""".stripMargin
  }

  /** [[jsCtesThroughIv]] extended through the lattice-join +
    * interpolation + nano→micro fold stage (`m6`) — the half-away
    * integer divisions are the house spellings. */
  private def jsCtesThroughM6: String = jsCtesThroughM6(withTok = false)

  private def jsCtesThroughM6(withTok: Boolean): String = {
    val tk = if (withTok) "tok, " else ""
    s"""${jsCtesThroughIv(withTok)},
       |tv AS (SELECT iv.*, lp.t0 tp0, lp.t1 tp1, lq.t0 tq0, lq.t1 tq1
       |  FROM iv JOIN lat lp ON lp.i = iv.ip JOIN lat lq ON lq.i = iv.iq),
       |nn AS (SELECT source, ${tk}cs, cg, na, ng,
       |    tp0 + (2 * (up - ip * den) * (tp1 - tp0) + den) // (2 * den)
       |      - sp * 1000000000 lpn,
       |    tq0 + (2 * (uq - iq * den) * (tq1 - tq0) + den) // (2 * den)
       |      - sq * 1000000000 lqn
       |  FROM tv),
       |m6 AS (SELECT source, ${tk}cs, cg, na, ng,
       |    CASE WHEN lpn >= 0 THEN (2 * lpn + 1000) // 2000
       |         ELSE -((2 * (-lpn) + 1000) // 2000) END lp6u,
       |    CASE WHEN lqn >= 0 THEN (2 * lqn + 1000) // 2000
       |         ELSE -((2 * (-lqn) + 1000) // 2000) END lq6u
       |  FROM nn)""".stripMargin
  }

  /** [[graft.ops.Text.jsDivergence]]'s oracle — round-19 tail: the
    * round-18 driver verdicts bracketed the five-round divergence to
    * the term tail (both stage probes green, op red), so every
    * construct class the driver's build has never proven green leaves
    * this text entirely. The aggregation sums ONLY nonnegative
    * HUGEINTs (`cs·(10⁶−lp6µ)`, `cg·(10⁶−lq6µ)`, `cg` — both L′
    * factors are ≥ 0 because p/m < 2 strictly ⇒ lp6µ ≤ 10⁶); the
    * present mass folds exactly as 10⁶·na·(ng+cgp) − (ng·srp + na·srq)
    * (Σden = na·(ng+cgp) is an identity: Σ_vocab(s) cs = na); ONE
    * half-away division per source replaces the per-token signed fold
    * (the denominator 2·na·ng is token-independent); the sign is one
    * comparison of two nonnegative integers on the 5 output rows, and
    * the negative branch is dead on any corpus whose present-mass JSD
    * exceeds ~10⁻⁶. No signed HUGEINT product, no abs(), no signed
    * sum anywhere. [[jsProbeTermSql]] preserves the OLD signed tail
    * verbatim so the bisection completes regardless of this row's
    * round-19 verdict.
    *
    * Round 20 (the verdict's prescribed endgame): the round-19
    * verdicts — op red, all three probes green including the
    * signed-tail-verbatim probe_term — leave exactly two constructs
    * never proven green, both unique to this op: per-row
    * HUGEINT-cast products summed INSIDE the groupBy, and the 5-row
    * combine. The aggregate below now sums ONLY BIGINT: the per-row
    * products stay `cs * (1000000 - lp6u)` in the BIGINT domain
    * (exact to na ≈ 4.6·10¹² tokens/source — Σ cs·(10⁶−lp6µ) ≤
    * 2·10⁶·na because KL(P‖M) ≤ 1 bit — and DuckDB's BIGINT multiply
    * throws on overflow rather than wrapping, matching Spark's ANSI
    * sum), and every HUGEINT cast moves to the 5-row `j` CTE.
    * Identical integers, narrower carrier; [[jsProbeAggSql]] A/Bs
    * the two sum domains directly if this row is somehow still red. */
  private def jsDivergenceSql: String =
    s"""WITH $jsCtesThroughM6,
       |g AS (SELECT source, max(na) na, count(*) vocab, max(ng) ng,
       |    sum(cs * (1000000 - lp6u)) srp,
       |    sum(cg * (1000000 - lq6u)) srq,
       |    sum(cg) cgp
       |  FROM m6 GROUP BY source),
       |j AS (SELECT source, na, vocab, ng, cgp,
       |    CAST(na AS HUGEINT) * (ng + cgp) * 1000000 aa,
       |    CAST(ng AS HUGEINT) * srp + CAST(na AS HUGEINT) * srq bb,
       |    2 * CAST(na AS HUGEINT) * ng tden
       |  FROM g)
       |SELECT source, na AS n_tokens, CAST(vocab AS BIGINT) AS vocab,
       |  CAST(CASE WHEN aa >= bb THEN (2 * (aa - bb) + tden) // (2 * tden)
       |            ELSE -((2 * (bb - aa) + tden) // (2 * tden)) END
       |    + (2 * CAST(ng - cgp AS HUGEINT) * 1000000 + 2 * ng)
       |      // (4 * CAST(ng AS HUGEINT)) AS BIGINT) AS jsd_micro
       |FROM j ORDER BY source""".stripMargin

  /** [[graft.ops.Text.jsProbeTerm]]'s oracle — the OLD (round-16..18)
    * signed term tail, preserved verbatim for the bisection, plus the
    * md5-weighted row-sensitive checksums (house slice: the
    * dedup_minhash `('0x'||substr(md5(t),1,15))::BIGINT`, mod 1009).
    * Renders the CTE prefix with the token threaded through
    * (`withTok` — the only oracle that needs it). */
  private def jsProbeTermSql: String =
    s"""WITH ${jsCtesThroughM6(withTok = true)},
       |w9 AS (SELECT source, cg, ng, lp6u, lq6u,
       |    CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1009 w,
       |    CAST((CASE WHEN tnum >= 0 THEN 1 ELSE -1 END)
       |      * ((2 * abs(tnum) + tden) // (2 * tden)) AS BIGINT) t6u
       |  FROM (SELECT *,
       |      CAST(cs AS HUGEINT) * lp6u * ng
       |        + CAST(cg AS HUGEINT) * lq6u * na tnum,
       |      2 * CAST(na AS HUGEINT) * ng tden
       |    FROM m6))
       |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(t6u) AS BIGINT) AS st6u,
       |  CAST(sum(cg) AS BIGINT) AS scg,
       |  CAST(max(ng) AS BIGINT) AS ng,
       |  CAST(sum(t6u * w) AS BIGINT) AS wt6u,
       |  CAST(sum(lp6u * w) AS BIGINT) AS wlp6u,
       |  CAST(sum(lq6u * w) AS BIGINT) AS wlq6u
       |FROM w9 GROUP BY source ORDER BY source""".stripMargin

  /** [[graft.ops.Text.jsProbeAgg]]'s oracle — the round-20 sum-type
    * A/B: the op's exact per-row BIGINT products summed once plain
    * (`*_big`, sum over BIGINT inputs) and once routed through an
    * explicit HUGEINT cast (`*_dec`, the construct class the
    * round-19 op was red on). Equal integers by construction; a
    * split verdict names the divergent sum domain. */
  private def jsProbeAggSql: String =
    s"""WITH $jsCtesThroughM6,
       |r AS (SELECT source, cs * (1000000 - lp6u) rp,
       |    cg * (1000000 - lq6u) rq FROM m6)
       |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(rp) AS BIGINT) AS srp_big,
       |  CAST(sum(CAST(rp AS HUGEINT)) AS BIGINT) AS srp_dec,
       |  CAST(sum(rq) AS BIGINT) AS srq_big,
       |  CAST(sum(CAST(rq AS HUGEINT)) AS BIGINT) AS srq_dec
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** [[graft.ops.Text.jsProbeCombine]]'s oracle — the round-21 5-row
    * combine bisection: [[jsDivergenceSql]]'s `g`/`j` CTEs verbatim,
    * with every intermediate of the combine surfaced as its own BIGINT
    * column pre-rounding (the two HUGEINT products, the present-mass
    * division's raw numerator/denominator, each half-away division's
    * result, and the final sum). Stage-for-stage mirror of the Spark
    * probe so a red cell names the exact diverging construct. */
  private def jsProbeCombineSql: String =
    s"""WITH $jsCtesThroughM6,
       |g AS (SELECT source, max(na) na, count(*) vocab, max(ng) ng,
       |    sum(cs * (1000000 - lp6u)) srp,
       |    sum(cg * (1000000 - lq6u)) srq,
       |    sum(cg) cgp
       |  FROM m6 GROUP BY source),
       |j AS (SELECT source, na, vocab, ng, cgp, srp, srq,
       |    CAST(na AS HUGEINT) * (ng + cgp) * 1000000 aa,
       |    CAST(ng AS HUGEINT) * srp + CAST(na AS HUGEINT) * srq bb,
       |    2 * CAST(na AS HUGEINT) * ng tden
       |  FROM g)
       |SELECT source, CAST(na AS BIGINT) AS n_tokens,
       |  CAST(vocab AS BIGINT) AS vocab, CAST(ng AS BIGINT) AS ng,
       |  CAST(cgp AS BIGINT) AS cgp, CAST(srp AS BIGINT) AS srp,
       |  CAST(srq AS BIGINT) AS srq, CAST(aa AS BIGINT) AS aa,
       |  CAST(bb AS BIGINT) AS bb, CAST(aa - bb AS BIGINT) AS pnum,
       |  CAST(tden AS BIGINT) AS tden,
       |  CAST(CASE WHEN aa >= bb THEN (2 * (aa - bb) + tden) // (2 * tden)
       |            ELSE -((2 * (bb - aa) + tden) // (2 * tden)) END
       |    AS BIGINT) AS pres6u,
       |  CAST((2 * CAST(ng - cgp AS HUGEINT) * 1000000 + 2 * ng)
       |      // (4 * CAST(ng AS HUGEINT)) AS BIGINT) AS abs6u,
       |  CAST(CASE WHEN aa >= bb THEN (2 * (aa - bb) + tden) // (2 * tden)
       |            ELSE -((2 * (bb - aa) + tden) // (2 * tden)) END
       |    + (2 * CAST(ng - cgp AS HUGEINT) * 1000000 + 2 * ng)
       |      // (4 * CAST(ng AS HUGEINT)) AS BIGINT) AS jsd_micro
       |FROM j ORDER BY source""".stripMargin

  /** [[graft.ops.Text.jsProbeNorm]]'s oracle — the shared CTE prefix
    * cut at `iv`: integer sums of the grid indices and exponent
    * shifts, before any lattice access. */
  private def jsProbeNormSql: String =
    s"""WITH $jsCtesThroughIv
       |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(ip) AS BIGINT) AS sip, CAST(sum(iq) AS BIGINT) AS siq,
       |  CAST(sum(sp) AS BIGINT) AS ssp, CAST(sum(sq) AS BIGINT) AS ssq
       |FROM iv GROUP BY source ORDER BY source""".stripMargin

  /** [[graft.ops.Text.jsProbeInterp]]'s oracle — the shared CTE
    * prefix cut at `m6`: integer sums of the finished micro-log₂
    * values, before the term combine. */
  private def jsProbeInterpSql: String =
    s"""WITH $jsCtesThroughM6
       |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(lp6u) AS BIGINT) AS slp6u, CAST(sum(lq6u) AS BIGINT) AS slq6u
       |FROM m6 GROUP BY source ORDER BY source""".stripMargin

  /** DuckDB twin of [[graft.ops.Recon.schemaDriftDisk]]: DESCRIBE over
    * each table view re-derives the actual on-disk types, a CASE folds
    * DuckDB's type vocabulary onto Spark's simpleString canon
    * (TIMESTAMP → timestamp mirroring the Spark-side timestamp_ntz
    * fold; TIMESTAMP_NS → bigint because under nanosAsLong=true the
    * Spark footer read reports exactly bigint for a ns column — both
    * engines then flag a ns-regenerated column as the SAME
    * type_mismatch row instead of diverging), and
    * the expected VALUES interpolate from the SAME seeded
    * `Recon.schemaDriftExpected` constant the Spark side reports
    * against — one source of truth, so the oracle tests the engines'
    * normalized footer reads against each other. */
  private def schemaDriftSql: String = {
    val expectedValues = graft.ops.Recon.schemaDriftExpected
      .map { case (t, c, ty) => s"('$t','$c','$ty')" }
      .mkString(",\n|    ")
    val describes = graft.Tables.driftAuditTables.map(t =>
      s"SELECT '$t' tbl, column_name cl, column_type ct FROM (DESCRIBE SELECT * FROM $t)")
      .mkString("\n|  UNION ALL ")
    s"""WITH actual AS ($describes),
       |norm AS (SELECT tbl, cl, CASE ct
       |    WHEN 'BIGINT' THEN 'bigint' WHEN 'DOUBLE' THEN 'double'
       |    WHEN 'VARCHAR' THEN 'string' WHEN 'INTEGER' THEN 'int'
       |    WHEN 'FLOAT' THEN 'float' WHEN 'FLOAT[]' THEN 'array<float>'
       |    WHEN 'TIMESTAMP' THEN 'timestamp'
       |    WHEN 'TIMESTAMP_NS' THEN 'bigint'
       |    ELSE lower(ct) END a FROM actual),
       |expected AS (SELECT * FROM (VALUES
       |    $expectedValues) e(tbl, cl, et))
       |SELECT coalesce(e.tbl, a.tbl) tbl, coalesce(e.cl, a.cl) col,
       |  e.et expected_type, a.a actual_type,
       |  CASE WHEN a.a IS NULL THEN 'missing_on_disk'
       |       WHEN e.et IS NULL THEN 'extra_on_disk'
       |       WHEN e.et = a.a THEN 'ok' ELSE 'type_mismatch' END status
       |FROM expected e FULL OUTER JOIN norm a
       |  ON e.tbl = a.tbl AND e.cl = a.cl
       |ORDER BY tbl, col""".stripMargin
  }

  /** Shared DuckDB CTEs rebuilding the exact 32-hash MinHash signature
    * ([[graft.functions.MinHashSig]]'s scheme: h_i(t) = (a_i·x + b_i)
    * mod 2^61−1 over the 60-bit md5 slice x, coefficients interpolated
    * from the expression's own `coeffA`/`coeffB` so the engines cannot
    * drift; DuckDB evaluates the affine step exactly on HUGEINT), the
    * banded buckets (band key = the raw 4-minhash tuple as a
    * `concat_ws` string), the per-bucket cap, candidate pairs, and the
    * agreement estimate — the whole dedup_minhash pipeline in SQL. */
  private def minhashEstSqlCtes: String = minhashEstSqlCtes("")

  /** `p`-prefixed variant so two pipelines' CTEs can share one WITH
    * clause (dedup_audit names both this and [[simhashSqlCtes]]). */
  private def minhashEstSqlCtes(p: String): String = {
    import graft.functions.MinHashSig.{coeffA, coeffB}
    // hash each DISTINCT token once (vocabulary-sized HUGEINT work), then
    // join back onto the occurrence stream for the per-doc minima — 32
    // affine steps per vocab entry instead of per token occurrence
    // (14.1 s → measured best; DuckDB's honest spelling, same trick a
    // columnar engine's dictionary would give it for free)
    val hashCols = (0 until 32).map(i =>
      s"CAST((CAST(${coeffA(i)} AS HUGEINT) * x + ${coeffB(i)}) % 2305843009213693951 AS BIGINT) h$i")
      .mkString(", ")
    val minCols = (0 until 32).map(i => s"min(h$i) m$i").mkString(", ")
    val bandRows = (0 until 8).map { b =>
      val cols = (b * 4 until (b + 1) * 4).map(i => s"m$i").mkString(", ")
      val sel = if (b == 0) s"SELECT doc_id, 0 band, concat_ws(':', $cols) bh FROM ${p}sig"
      else s"SELECT doc_id, $b, concat_ws(':', $cols) FROM ${p}sig"
      sel
    }.mkString("\n|  UNION ALL ")
    val agree = (0 until 32).map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
    s"""${p}tok AS (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents),
       |${p}hx AS MATERIALIZED (SELECT t, $hashCols FROM (
       |  SELECT t, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) x
       |  FROM (SELECT DISTINCT t FROM ${p}tok))),
       |${p}sig AS MATERIALIZED (SELECT doc_id, $minCols
       |  FROM ${p}tok JOIN ${p}hx USING (t) GROUP BY doc_id),
       |${p}b AS ($bandRows),
       |${p}capped AS MATERIALIZED (SELECT * FROM ${p}b
       |  QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= 50),
       |${p}cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id
       |  FROM ${p}capped x JOIN ${p}capped y
       |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |${p}est AS MATERIALIZED (SELECT a_id, b_id, ($agree) / 32.0 est_jaccard
       |  FROM ${p}cand JOIN ${p}sig sa ON ${p}cand.a_id = sa.doc_id
       |  JOIN ${p}sig sb ON ${p}cand.b_id = sb.doc_id)""".stripMargin
  }

  /** DuckDB CTEs rebuilding the exact 64-bit SimHash as four 16-bit
    * chunks ([[graft.functions.SimHash64]]'s md5 scheme: token hash =
    * first 16 hex chars, hi/lo 32-bit halves) plus the chunk buckets,
    * cap, and Hamming distances — everything in non-negative arithmetic
    * so no signed-64-bit literal ever appears. */
  private def simhashSqlCtes: String = simhashSqlCtes("")

  private def simhashSqlCtes(p: String): String = {
    // chunk c covers bits 16c..16c+15; bits <32 come from lo, ≥32 from hi
    val chunkCols = (0 until 4).map { c =>
      val terms = (0 until 16).map { k =>
        val b = 16 * c + k
        val src = if (b < 32) s"(lo >> $b)" else s"(hi >> ${b - 32})"
        s"CASE WHEN sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1 << k} ELSE 0 END"
      }.mkString(" + ")
      s"$terms c$c"
    }.mkString(", ")
    val chunkRows = (0 until 4).map { c =>
      if (c == 0) s"SELECT doc_id, 0 chunk, c0 cv, c0, c1, c2, c3 FROM ${p}sig"
      else s"SELECT doc_id, $c, c$c, c0, c1, c2, c3 FROM ${p}sig"
    }.mkString("\n|  UNION ALL ")
    val ham = (0 until 4).map(c => s"bit_count(xor(sa.c$c, sb.c$c))").mkString(" + ")
    s"""${p}th AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) hi,
       |    CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) lo
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) t FROM documents)),
       |${p}sig AS MATERIALIZED (SELECT doc_id, $chunkCols FROM ${p}th GROUP BY doc_id),
       |${p}b AS ($chunkRows),
       |${p}capped AS MATERIALIZED (SELECT * FROM ${p}b
       |  QUALIFY row_number() OVER (PARTITION BY chunk, cv ORDER BY doc_id) <= 50),
       |${p}cand AS (SELECT DISTINCT x.doc_id a_id, y.doc_id b_id
       |  FROM ${p}capped x JOIN ${p}capped y
       |  ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id),
       |${p}ham AS (SELECT a_id, b_id, CAST($ham AS INT) hamming
       |  FROM ${p}cand JOIN ${p}sig sa ON ${p}cand.a_id = sa.doc_id
       |  JOIN ${p}sig sb ON ${p}cand.b_id = sb.doc_id)""".stripMargin
  }

  /** One row per query path, in [[benchQueries]] order; the verify-only
    * rows go last. */
  private[graft] val table: Seq[Query] = Seq(
    new Query("recon_rowcount", Recon.rowcount _,
      """SELECT 'orders' tbl, count(*) n FROM orders
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem ORDER BY tbl""".stripMargin),

    new Query("recon_colagg_fingerprint", Recon.colaggFingerprint _,
      """SELECT count(*) cnt, count(DISTINCT l_orderkey) dk,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) sq,
        |  min(l_extendedprice) mn, max(l_extendedprice) mx,
        |  CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) rev
        |FROM lineitem""".stripMargin),

    new Query("recon_hash_diff", Recon.hashDiff _,
      """WITH src AS (SELECT o_orderkey k, md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
        |       o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR))) h FROM orders),
        |tgt AS (SELECT o_orderkey k, md5(concat_ws('|', CAST(o_custkey AS VARCHAR),
        |       o_orderstatus, CAST(CAST(round(o_totalprice,0) AS DECIMAL(12,2)) AS VARCHAR))) h FROM orders)
        |SELECT count(*) mismatches FROM src JOIN tgt USING (k) WHERE src.h <> tgt.h""".stripMargin),

    new Query("recon_missing_rows", Recon.missingRows _,
      """SELECT count(*) n FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""".stripMargin),

    new Query("recon_partition_drill", Recon.partitionDrill _,
      """SELECT date_trunc('month', o_orderdate) mo, count(*) n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) s
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("q1_pricing_summary", Relational.q1PricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) sq,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) sep,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) disc,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) aq,
        |  count(*) n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    new Query("q3_shipping_priority", Relational.q3ShippingPriority _,
      """SELECT l.l_orderkey,
        |  CAST(sum(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) rev,
        |  o.o_orderdate
        |FROM customer c JOIN orders o ON c.c_custkey=o.o_custkey
        |JOIN lineitem l ON l.l_orderkey=o.o_orderkey
        |WHERE c.c_mktsegment='BUILDING' GROUP BY 1,3
        |ORDER BY rev DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin),

    new Query("q5_multiway_join", Relational.q5MultiwayJoin _,
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) rev
        |FROM region r JOIN nation n ON n.n_regionkey=r.r_regionkey
        |JOIN supplier s ON s.s_nationkey=n.n_nationkey
        |JOIN lineitem l ON l.l_suppkey=s.s_suppkey
        |JOIN orders o ON o.o_orderkey=l.l_orderkey
        |JOIN customer c ON c.c_custkey=o.o_custkey AND c.c_nationkey=n.n_nationkey
        |GROUP BY 1 ORDER BY rev DESC, n_name""".stripMargin),

    new Query("window_topk_per_group", Relational.windowTopkPerGroup _,
      """SELECT p_brand, p_name, p_retailprice, rn FROM (
        |  SELECT p_brand, p_name, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) rn
        |  FROM part) WHERE rn<=3 ORDER BY p_brand, rn""".stripMargin),

    new Query("window_running_sum", Relational.windowRunningSum _,
      """SELECT o_custkey, o_orderdate, o_totalprice, run FROM (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) run
        |  FROM orders) ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 100""".stripMargin),

    new Query("rollup_agg", Relational.rollupAgg _,
      """SELECT coalesce(o_orderstatus,'ALL') st, coalesce(o_orderpriority,'ALL') pr,
        |  count(*) n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) s
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) ORDER BY 1,2""".stripMargin),

    new Query("set_ops", Relational.setOps _,
      """SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |INTERSECT SELECT o_custkey FROM orders WHERE o_totalprice>1000
        |ORDER BY 1 LIMIT 50""".stripMargin),

    new Query("scalar_funcs", Relational.scalarFuncs _,
      """SELECT p_partkey, upper(substr(p_name,1,8)) u, CAST(length(p_type) AS BIGINT) lt,
        |  CAST(round(CAST(p_retailprice AS DECIMAL(12,2))*CAST('1.1' AS DECIMAL(2,1)),2) AS DOUBLE) pr,
        |  concat(p_brand,'#',CAST(p_size AS VARCHAR)) ck
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin),

    new Query("json_extract_events", Events.jsonExtract _,
      """SELECT event_type, count(*) n,
        |  CAST(sum(CASE WHEN json_valid(props)
      AND json_type(props, '$.k') IN ('UBIGINT', 'BIGINT')
    THEN TRY_CAST(json_extract_string(props,'$.k') AS BIGINT) END)
    AS BIGINT) sk
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("tumbling_window_events", Events.tumblingWindow _,
      """SELECT date_trunc('hour', ts) h, event_type, count(*) n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) v
        |FROM events GROUP BY 1,2 ORDER BY 1,2 LIMIT 200""".stripMargin),

    new Query("sessionize_events", Events.sessionize _,
      """WITH g AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) sid FROM g)
        |SELECT user_id, sid, count(*) n, date_trunc('second', min(ts)) t0,
        |  date_trunc('second', max(ts)) t1
        |FROM s GROUP BY 1,2 ORDER BY 1,2 LIMIT 200""".stripMargin),

    new Query("dedup_exact_docs", Text.dedupExact _,
      "SELECT count(*) - count(DISTINCT md5(text)) exact_dups FROM documents"),

    new Query("text_token_stats", Text.tokenStats _,
      """SELECT tok, count(*) n FROM (SELECT unnest(string_split(text,' ')) tok FROM documents)
        |GROUP BY 1 ORDER BY n DESC, tok LIMIT 20""".stripMargin),

    new Query("cosine_knn", (s, d) => Vectors.cosineKnn(s, d),
      """SELECT a.vec_id, b.vec_id nn,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]),
        |        CAST(a.embedding AS DOUBLE[])) > 0
        |  AND list_inner_product(CAST(b.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) > 0
        |QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY sim DESC, nn) = 1
        |ORDER BY a.vec_id LIMIT 50""".stripMargin),

    new Query("text_quality_score", Text.qualityScore _,
      """SELECT doc_id, n_chars, len(string_split(text,' ')) n_tokens,
        |  CAST(length(text) AS DOUBLE)/len(string_split(text,' ')) chars_per_token,
        |  CAST(len(list_filter(string_split(text,' '),
        |       t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |    /len(string_split(text,' ')) stop_ratio
        |FROM documents ORDER BY doc_id LIMIT 1000""".stripMargin),

    new Query("doc_fingerprint", Text.fingerprint _,
      """SELECT doc_id, min(md5(sh)) fp FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(length(text)-7,1)),
        |         i -> substr(text, CAST(i AS INT), 8))) sh
        |  FROM documents) GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("dedup_ngram_jaccard", (s, d) => Text.ngramJaccard(s, d),
      """SELECT a_id, b_id, CAST(icnt AS DOUBLE)/(alen+blen-icnt) jac FROM (
        |  SELECT a.doc_id a_id, b.doc_id b_id,
        |    len(list_intersect(a.toks,b.toks)) icnt, len(a.toks) alen, len(b.toks) blen
        |  FROM (SELECT doc_id, source, list_distinct(string_split(text,' ')) toks FROM documents) a
        |  JOIN (SELECT doc_id, source, list_distinct(string_split(text,' ')) toks FROM documents) b
        |    ON a.source=b.source AND a.doc_id<b.doc_id)
        |ORDER BY jac DESC, a_id, b_id LIMIT 20""".stripMargin),

    new Query("embed_centroids", Vectors.embedCentroids _,
      // nano-long mean (round 17, strict-gate find): each element is
      // round(val·1e9) — one correctly-rounded IEEE multiply + one
      // half-AWAY round of the IDENTICAL product on both engines — then
      // exact long sums and one half-away integer division /1e9. The
      // old DECIMAL(18,9)-sum spelling split the engines on an EXACT
      // 9-dp tie (a float that is an odd multiple of 2^-10, here
      // 0.1494140625: Spark's decimal cast rounds HALF_UP, DuckDB's
      // half-to-EVEN); round() shares one tie rule, the cast does not.
      """SELECT label, CAST(pos AS INT) pos,
        |  CAST(CASE WHEN ns >= 0 THEN (2 * ns + n) // (2 * n)
        |       ELSE -((2 * (-ns) + n) // (2 * n)) END AS DOUBLE) / 1e9 c
        |FROM (SELECT label, pos,
        |    sum(CAST(round(CAST(val AS DOUBLE) * 1e9) AS BIGINT)) ns,
        |    CAST(count(*) AS BIGINT) n
        |  FROM (SELECT label, generate_subscripts(embedding,1) pos, unnest(embedding) val
        |        FROM embeddings) GROUP BY 1, 2)
        |ORDER BY 1,2""".stripMargin),

    new Query("multimodal_bytes", Multimodal.bytesStats _,
      """SELECT doc_id, octet_length(encode(text)) nbytes, md5(text) sig
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin),

    new Query("asof_join_events", Asof.asofJoinEvents _,
      // DuckDB has native ASOF JOIN (inclusive >=); the Spark side
      // implements the same semantics via union + last-over-window.
      """WITH m AS (SELECT user_id, ts pts, max_by(value, event_id) pv
        |           FROM events WHERE event_type='purchase' GROUP BY 1,2)
        |SELECT e.event_id, e.user_id, date_trunc('second', e.ts) ets,
        |       date_trunc('second', m.pts) pts, m.pv pv
        |FROM events e ASOF LEFT JOIN m ON e.user_id=m.user_id AND e.ts >= m.pts
        |ORDER BY e.event_id LIMIT 500""".stripMargin),

    new Query("recon_report", Recon.report _,
      """WITH tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |             round(o_totalprice,0) AS o_totalprice FROM orders),
        |hm AS (SELECT count(*) n FROM
        |  (SELECT o_orderkey k, md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
        |          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR))) h FROM orders) s
        |  JOIN (SELECT o_orderkey k, md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
        |          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR))) h FROM tgt) t USING (k)
        |  WHERE s.h <> t.h)
        |SELECT * FROM (
        |  SELECT 'rowcount' AS "check",
        |    CAST((SELECT count(*) FROM orders) AS DOUBLE) src_v,
        |    CAST((SELECT count(*) FROM tgt) AS DOUBLE) tgt_v,
        |    (SELECT count(*) FROM orders)=(SELECT count(*) FROM tgt) ok
        |  UNION ALL SELECT 'sum_totalprice',
        |    CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders) AS DOUBLE),
        |    CAST((SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM tgt) AS DOUBLE),
        |    (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders)
        |      =(SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM tgt)
        |  UNION ALL SELECT 'null_custkey',
        |    CAST((SELECT count(*) FILTER (o_custkey IS NULL) FROM orders) AS DOUBLE),
        |    CAST((SELECT count(*) FILTER (o_custkey IS NULL) FROM tgt) AS DOUBLE),
        |    (SELECT count(*) FILTER (o_custkey IS NULL) FROM orders)
        |      =(SELECT count(*) FILTER (o_custkey IS NULL) FROM tgt)
        |  UNION ALL SELECT 'hash_mismatches',
        |    CAST((SELECT n FROM hm) AS DOUBLE), 0.0, (SELECT n FROM hm)=0
        |) ORDER BY "check"""".stripMargin),

    new Query("recon_diff_detail", Recon.diffDetail _,
      """WITH src AS (SELECT * FROM orders WHERE o_orderkey % 991 <> 0),
        |tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        CAST(round(o_totalprice,0) AS DECIMAL(12,2)) o_totalprice
        |        FROM orders WHERE o_orderkey % 997 <> 0),
        |hs AS (SELECT o_orderkey k, md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
        |        CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR))) h FROM src),
        |ht AS (SELECT o_orderkey k, md5(concat_ws('|', CAST(o_custkey AS VARCHAR), o_orderstatus,
        |        CAST(o_totalprice AS VARCHAR))) h FROM tgt)
        |SELECT k, status FROM (
        |  SELECT coalesce(hs.k, ht.k) k,
        |    CASE WHEN hs.h IS NULL THEN 'extra_in_target'
        |         WHEN ht.h IS NULL THEN 'missing_in_target'
        |         WHEN hs.h <> ht.h THEN 'mismatch' ELSE 'match' END status
        |  FROM hs FULL OUTER JOIN ht ON hs.k = ht.k)
        |WHERE status <> 'match' ORDER BY status, k LIMIT 200""".stripMargin),

    new Query("text_token_counts", Text.tokenCounts _,
      """SELECT doc_id, len(string_split(text,' ')) ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) bpe_tokens
        |FROM documents ORDER BY doc_id LIMIT 1000""".stripMargin),

    new Query("cube_agg", Relational.cubeAgg _,
      """SELECT coalesce(o_orderstatus,'ALL') st, coalesce(o_orderpriority,'ALL') pr,
        |  count(*) n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) s
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority) ORDER BY 1,2""".stripMargin),

    new Query("set_ops_except", Relational.setOpsExcept _,
      """SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING'
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice>300000
        |ORDER BY 1 LIMIT 50""".stripMargin),

    new Query("window_funcs", Relational.windowFuncs _,
      // percent_rank respelled as the exact integer ratio
      // (rank−1)/(n−1) — single-row partitions are 0.0 by contract
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w prev_price,
        |  lead(o_totalprice, 1) OVER w next_price,
        |  CAST(ntile(4) OVER w AS INT) quartile,
        |  CASE WHEN count(*) OVER p > 1 THEN
        |    CAST((2 * (rank() OVER w - 1) * 1000000 + (count(*) OVER p - 1))
        |      // (2 * (count(*) OVER p - 1)) AS DOUBLE) / 1e6
        |  ELSE 0.0 END prank,
        |  first_value(o_orderkey) OVER w first_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  p AS (PARTITION BY o_custkey)
        |ORDER BY o_custkey, o_orderkey LIMIT 200""".stripMargin),

    new Query("quantile_summary", Relational.quantileSummary _,
      """SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) p50,
        |  round(quantile_cont(o_totalprice, 0.95), 4) p95, count(*) n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("date_funcs", Relational.dateFuncs _,
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) y,
        |  CAST(month(o_orderdate) AS INT) m, CAST(day(o_orderdate) AS INT) d,
        |  date_trunc('quarter', o_orderdate) q,
        |  CAST(o_orderdate AS DATE) + 30 plus30,
        |  last_day(CAST(o_orderdate AS DATE)) eom,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) days_to_98
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin),

    new Query("grouping_sets_agg", Relational.groupingSetsAgg _,
      """SELECT coalesce(o_orderstatus,'ALL') st, coalesce(o_orderpriority,'ALL') pr,
        |  count(*) n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) s
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY 1,2""".stripMargin),

    new Query("range_join_orders", Asof.rangeJoinOrders _,
      // DuckDB plans the BETWEEN theta join directly; the Spark side gets
      // the same pairs from the bucketed equi-join + exact filter
      """SELECT mstart, count(*) n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) rev
        |FROM (SELECT unnest(generate_series(DATE '1992-01-01', DATE '1998-12-01',
        |              INTERVAL 1 MONTH)) mstart) g
        |JOIN orders o
        |  ON CAST(o.o_orderdate AS DATE) >= CAST(mstart AS DATE)
        | AND CAST(o.o_orderdate AS DATE) <= CAST(mstart AS DATE) + 9
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("pivot_agg", Relational.pivotAgg _,
      // Spark's pivot names columns {value}_{aggAlias}; the manual FILTER
      // form reproduces them (all 15 combos verified non-empty at every
      // SF, so count-0-vs-null semantics never diverge)
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_orderstatus = 'F') F_n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'F') AS DOUBLE) F_rev,
        |  count(*) FILTER (o_orderstatus = 'O') O_n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'O') AS DOUBLE) O_rev,
        |  count(*) FILTER (o_orderstatus = 'P') P_n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (o_orderstatus = 'P') AS DOUBLE) P_rev
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("stats_funcs", Relational.statsFuncs _,
      """SELECT l_returnflag, round(stddev_samp(l_quantity), 4) sd_qty,
        |  round(var_samp(l_quantity), 4) var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) + 0 corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 4) + 0 cov_qd,
        |  count(*) n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("string_funcs", Relational.stringFuncs _,
      // DuckDB regexp_replace needs the explicit 'g' flag to match
      // Spark's global-replace semantics; instr ↔ strpos are both
      // 1-based with 0 for absent
      """SELECT p_partkey, trim(p_name) t, lpad(p_brand, 12, '*') lp,
        |  regexp_replace(p_type, '[aeiou]', '_', 'g') rr,
        |  CAST(strpos(p_name, 'a') AS BIGINT) pos_a,
        |  reverse(p_brand) rev, left(p_name, 5) l5,
        |  repeat(left(p_brand, 3), 2) rep
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin),

    new Query("null_funcs", Relational.nullFuncs _,
      """SELECT o_orderkey, nullif(o_orderstatus, 'O') ns,
        |  coalesce(nullif(o_orderstatus, 'O'), 'none') cs,
        |  greatest(o_orderkey % 7, o_custkey % 5) g,
        |  least(o_orderkey % 7, o_custkey % 5) l
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin),

    new Query("recon_profile", Recon.profileOrders _,
      // one SELECT per column in DuckDB (no multi-distinct unpivot there);
      // money goes through DECIMAL(12,2) so min/max strings are
      // engine-identical
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_totalprice AS DECIMAL(12,2)) o_totalprice, o_orderdate,
        |  o_orderpriority FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_custkey' "column", count(*) FILTER (o_custkey IS NULL) n_nulls,
        |    count(DISTINCT o_custkey) n_distinct,
        |    CAST(min(o_custkey) AS VARCHAR) min_v, CAST(max(o_custkey) AS VARCHAR) max_v FROM o
        |  UNION ALL SELECT 'o_orderdate', count(*) FILTER (o_orderdate IS NULL),
        |    count(DISTINCT o_orderdate),
        |    CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM o
        |  UNION ALL SELECT 'o_orderkey', count(*) FILTER (o_orderkey IS NULL),
        |    count(DISTINCT o_orderkey),
        |    CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR) FROM o
        |  UNION ALL SELECT 'o_orderpriority', count(*) FILTER (o_orderpriority IS NULL),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR) FROM o
        |  UNION ALL SELECT 'o_orderstatus', count(*) FILTER (o_orderstatus IS NULL),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM o
        |  UNION ALL SELECT 'o_totalprice', count(*) FILTER (o_totalprice IS NULL),
        |    count(DISTINCT o_totalprice),
        |    CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR) FROM o
        |) ORDER BY "column"""".stripMargin),

    new Query("recon_reconcile_all", Recon.reconcileAllDemo _,
      // mirrors Recon.reconcileAllDemo: per pair, one full-outer join and
      // the six (rowcount/hash_mismatch/missing/extra/dup_keys/
      // schema_drift) rows; mismatches counted by null-safe column compare
      // (no md5 collisions at this scale, so checksum-diff ≡ value-diff).
      // Both demo key columns are unique, so dup_keys is (0, 0, true).
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) o_totalprice, o_orderdate FROM orders),
        |osrc AS (SELECT * FROM o WHERE o_orderkey % 991 <> 0
        |    AND o_orderdate >= TIMESTAMP '1995-01-01'),
        |otgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice, 0) AS DECIMAL(12,2)) o_totalprice
        |  FROM o WHERE o_orderkey % 997 <> 0 AND o_orderdate >= TIMESTAMP '1995-01-01'),
        |ostats AS (SELECT
        |    CAST(count(s.o_orderkey) AS DOUBLE) src_n,
        |    CAST(count(t.o_orderkey) AS DOUBLE) tgt_n,
        |    CAST(count(*) FILTER (s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
        |      AND NOT (s.o_custkey IS NOT DISTINCT FROM t.o_custkey
        |           AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
        |           AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice)) AS DOUBLE) mism,
        |    CAST(count(*) FILTER (t.o_orderkey IS NULL) AS DOUBLE) miss,
        |    CAST(count(*) FILTER (s.o_orderkey IS NULL) AS DOUBLE) extra
        |  FROM osrc s FULL OUTER JOIN otgt t ON s.o_orderkey = t.o_orderkey),
        |ctgt AS (SELECT * FROM customer WHERE c_custkey % 500 <> 0),
        |cstats AS (SELECT
        |    CAST(count(s.c_custkey) AS DOUBLE) src_n,
        |    CAST(count(t.c_custkey) AS DOUBLE) tgt_n,
        |    CAST(count(*) FILTER (s.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL
        |      AND NOT (s.c_name IS NOT DISTINCT FROM t.c_name
        |           AND s.c_mktsegment IS NOT DISTINCT FROM t.c_mktsegment
        |           AND s.c_acctbal IS NOT DISTINCT FROM t.c_acctbal)) AS DOUBLE) mism,
        |    CAST(count(*) FILTER (t.c_custkey IS NULL) AS DOUBLE) miss,
        |    CAST(count(*) FILTER (s.c_custkey IS NULL) AS DOUBLE) extra
        |  FROM customer s FULL OUTER JOIN ctgt t ON s.c_custkey = t.c_custkey)
        |SELECT * FROM (
        |  SELECT 'orders' "table", 'rowcount' "check", src_n src_v, tgt_n tgt_v,
        |    src_n = tgt_n ok FROM ostats
        |  UNION ALL SELECT 'orders', 'hash_mismatch', mism, 0.0, mism = 0 FROM ostats
        |  UNION ALL SELECT 'orders', 'missing_in_target', miss, 0.0, miss = 0 FROM ostats
        |  UNION ALL SELECT 'orders', 'extra_in_target', extra, 0.0, extra = 0 FROM ostats
        |  UNION ALL SELECT 'orders', 'dup_keys', 0.0, 0.0, true
        |  UNION ALL SELECT 'orders', 'schema_drift', 0.0, 0.0, true
        |  UNION ALL SELECT 'customer', 'rowcount', src_n, tgt_n, src_n = tgt_n FROM cstats
        |  UNION ALL SELECT 'customer', 'hash_mismatch', mism, 0.0, mism = 0 FROM cstats
        |  UNION ALL SELECT 'customer', 'missing_in_target', miss, 0.0, miss = 0 FROM cstats
        |  UNION ALL SELECT 'customer', 'extra_in_target', extra, 0.0, extra = 0 FROM cstats
        |  UNION ALL SELECT 'customer', 'dup_keys', 0.0, 0.0, true
        |  UNION ALL SELECT 'customer', 'schema_drift', 0.0, 0.0, true
        |) ORDER BY "table", "check"""".stripMargin),

    new Query("recon_tolerance_diff", Recon.toleranceDiffDemo _,
      """SELECT count(*) mismatches
        |FROM (SELECT o_orderkey k, o_totalprice v_src FROM orders) s
        |JOIN (SELECT o_orderkey k, round(o_totalprice, 0) v_tgt FROM orders) t USING (k)
        |WHERE abs(v_src - v_tgt) > 0.3""".stripMargin),

    new Query("text_entropy", Text.tokenEntropy _,
      """WITH cnt AS (SELECT doc_id, tok, count(*) c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id, round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) entropy,
        |  CAST(sum(c) AS BIGINT) n_tokens
        |FROM cnt GROUP BY 1 ORDER BY 1 LIMIT 1000""".stripMargin),

    new Query("text_sequence_pack", (s, d) => Text.sequencePack(s, d),
      """WITH toks AS (SELECT doc_id, source, len(string_split(text, ' ')) t FROM documents),
        |c AS (SELECT doc_id, source, t,
        |        sum(t) OVER (PARTITION BY source ORDER BY doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |      FROM toks)
        |SELECT source, CAST(floor((cum - t) / 2048.0) AS BIGINT) pack,
        |  count(*) n_docs, CAST(sum(t) AS BIGINT) tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("decontaminate_ngram", (s, d) => Text.decontaminateNgram(s, d),
      // per-doc distinct trigrams on both sides, so hits = count of the
      // train doc's distinct trigrams that appear anywhere in the eval
      // (src0) split; ORDER BY is total (hits DESC, doc_id)
      """WITH ev AS (SELECT DISTINCT unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) g
        |  FROM documents WHERE source = 'src0' AND len(string_split(text, ' ')) >= 3),
        |tr AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) g
        |  FROM documents WHERE source <> 'src0' AND len(string_split(text, ' ')) >= 3)
        |SELECT doc_id, count(*) hits FROM tr JOIN ev USING (g)
        |GROUP BY 1 ORDER BY hits DESC, doc_id LIMIT 100""".stripMargin),

    new Query("mask_pii", Privacy.maskCustomers _,
      """SELECT c_custkey,
        |  substr(c_name, 1, 1) || repeat('*', length(c_name) - 1) name_masked,
        |  CAST(floor(c_acctbal / 100) * 100 AS BIGINT) acctbal_bucket,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin),

    new Query("text_repetition", Text.textRepetition _,
      // duplicate-n-gram fractions; DuckDB generate_series(1, 0) is empty
      // (unlike Spark sequence), so short docs fall out to d=0 naturally
      """WITH g AS (SELECT doc_id,
        |    len(string_split(text, ' ')) w,
        |    len(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 1),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' ')))) d2,
        |    len(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) d3
        |  FROM documents)
        |SELECT doc_id,
        |  greatest(w - 1, 0) t2, d2,
        |  CASE WHEN w - 1 > 0 THEN
        |    CAST((2 * CAST(w - 1 - d2 AS HUGEINT) * 10000 + (w - 1))
        |      // (2 * CAST(w - 1 AS HUGEINT)) AS DOUBLE) / 1e4 END dup2,
        |  greatest(w - 2, 0) t3, d3,
        |  CASE WHEN w - 2 > 0 THEN
        |    CAST((2 * CAST(w - 2 - d3 AS HUGEINT) * 10000 + (w - 2))
        |      // (2 * CAST(w - 2 AS HUGEINT)) AS DOUBLE) / 1e4 END dup3
        |FROM g ORDER BY doc_id LIMIT 1000""".stripMargin),

    new Query("funnel_conversion", Events.funnelConversion _,
      // strict ordering: each stage's event must be strictly after the
      // user's previous-stage instant
      """WITH t1 AS (SELECT user_id, min(ts) t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
        |SELECT stage, users FROM (
        |  SELECT '1_view' stage, count(*) users FROM t1
        |  UNION ALL SELECT '2_click_after_view', count(*) FROM t2
        |  UNION ALL SELECT '3_purchase_after_click', count(*) FROM t3)
        |ORDER BY stage""".stripMargin),

    new Query("recon_snapshot_diff", Recon.snapshotDiffOrders _,
      // per-partition (n, xor-of-hash-prefix, sum-of-hash-prefix)
      // snapshots of the clean vs corrupted replica, full-outer diffed;
      // hash prefix = first 15 md5 hex chars as int64 (CAST '0x..' here,
      // conv(,16,10) on the Spark side — bit-identical)
      """WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) o_totalprice, o_orderdate FROM orders),
        |tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |         THEN CAST(round(o_totalprice, 0) AS DECIMAL(12,2))
        |         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END o_totalprice, o_orderdate
        |  FROM orders WHERE date_trunc('month', o_orderdate) <> TIMESTAMP '1995-01-01'),
        |fp_src AS (SELECT date_trunc('month', o_orderdate) part, count(*) n,
        |    bit_xor(CAST(('0x' || substr(md5(concat_ws('|',
        |      concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)),
        |      concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)),
        |      concat(CAST(length(o_orderstatus) AS VARCHAR), ':', o_orderstatus),
        |      concat(CAST(length(CAST(o_totalprice AS VARCHAR)) AS VARCHAR), ':', CAST(o_totalprice AS VARCHAR)))), 1, 15)) AS BIGINT)) fp_xor,
        |    sum(CAST(('0x' || substr(md5(concat_ws('|',
        |      concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)),
        |      concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)),
        |      concat(CAST(length(o_orderstatus) AS VARCHAR), ':', o_orderstatus),
        |      concat(CAST(length(CAST(o_totalprice AS VARCHAR)) AS VARCHAR), ':', CAST(o_totalprice AS VARCHAR)))), 1, 15)) AS BIGINT)) fp_sum
        |  FROM src GROUP BY 1),
        |fp_tgt AS (SELECT date_trunc('month', o_orderdate) part, count(*) n,
        |    bit_xor(CAST(('0x' || substr(md5(concat_ws('|',
        |      concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)),
        |      concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)),
        |      concat(CAST(length(o_orderstatus) AS VARCHAR), ':', o_orderstatus),
        |      concat(CAST(length(CAST(o_totalprice AS VARCHAR)) AS VARCHAR), ':', CAST(o_totalprice AS VARCHAR)))), 1, 15)) AS BIGINT)) fp_xor,
        |    sum(CAST(('0x' || substr(md5(concat_ws('|',
        |      concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)),
        |      concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)),
        |      concat(CAST(length(o_orderstatus) AS VARCHAR), ':', o_orderstatus),
        |      concat(CAST(length(CAST(o_totalprice AS VARCHAR)) AS VARCHAR), ':', CAST(o_totalprice AS VARCHAR)))), 1, 15)) AS BIGINT)) fp_sum
        |  FROM tgt GROUP BY 1)
        |SELECT coalesce(s.part, t.part) part,
        |  CASE WHEN s.part IS NULL THEN 'new'
        |       WHEN t.part IS NULL THEN 'dropped'
        |       ELSE 'changed' END status,
        |  s.n n_prev, t.n n_curr
        |FROM fp_src s FULL OUTER JOIN fp_tgt t ON s.part = t.part
        |WHERE s.part IS NULL OR t.part IS NULL OR s.n <> t.n
        |   OR s.fp_xor <> t.fp_xor OR s.fp_sum <> t.fp_sum
        |ORDER BY part""".stripMargin),

    new Query("cohort_retention", Events.cohortRetention _,
      // month arithmetic on month-truncated instants: DuckDB's
      // boundary-crossing date_diff and Spark's fractional months_between
      // agree exactly there (both sides day 1, 00:00)
      """WITH um AS (SELECT DISTINCT user_id, date_trunc('month', ts) m FROM events),
        |c AS (SELECT user_id, min(m) cm FROM um GROUP BY 1)
        |SELECT c.cm cohort_month, CAST(date_diff('month', c.cm, um.m) AS INT) months_since,
        |  count(DISTINCT um.user_id) n_users
        |FROM um JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("dedup_normalized", Text.dedupNormalized _,
      // DuckDB regexp_replace needs the explicit 'g' flag; Spark's is
      // global by default (same fork as string_funcs)
      """WITH d AS (SELECT doc_id, source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) h FROM documents),
        |k AS (SELECT h, min(doc_id) keep_id FROM d GROUP BY 1)
        |SELECT d.source, count(*) n_docs,
        |  count(*) FILTER (WHERE d.doc_id = k.keep_id) n_kept
        |FROM d JOIN k USING (h) GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("histogram_agg", Relational.histogramAgg _,
      // floor(v / width) on the stored double is bit-identical across
      // engines; width_bucket boundary conventions are not
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) bucket, count(*) n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) total,
        |  min(o_totalprice) mn, max(o_totalprice) mx
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("event_transitions", Events.eventTransitions _,
      // lead over (user; ts, event_id) — unique event_id tiebreak makes
      // the pairing engine-independent (same discipline as sessionize)
      """WITH seq AS (SELECT user_id, event_type from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) n FROM seq
        |WHERE to_type IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("skew_profile", Relational.skewProfileEvents _,
      // pct and x_avg are int/int ratios — exact half-away integer
      // arithmetic (the ratioRound twin)
      """WITH c AS (SELECT user_id, count(*) n FROM events GROUP BY 1),
        |t AS (SELECT sum(n) total_rows, count(*) distinct_keys FROM c)
        |SELECT user_id, n,
        |  CAST((2 * CAST(n AS HUGEINT) * 100 * 10000 + total_rows)
        |    // (2 * CAST(total_rows AS HUGEINT)) AS DOUBLE) / 1e4 pct,
        |  CAST((2 * CAST(n AS HUGEINT) * distinct_keys * 10000 + total_rows)
        |    // (2 * CAST(total_rows AS HUGEINT)) AS DOUBLE) / 1e4 x_avg
        |FROM c, t ORDER BY n DESC, user_id LIMIT 20""".stripMargin),

    new Query("train_test_split", Sampling.trainTestSplitDocs _,
      // bucket = first 60 bits of md5 mod 100: '0x'-cast here,
      // conv(,16,10) on the Spark side — bit-identical (the
      // recon_snapshot_diff pattern)
      """WITH b AS (SELECT source,
        |    CAST(('0x' || substr(md5('split:42:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END split,
        |  count(*) n
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("q17_avg_quantity", Relational.q17AvgQuantity _,
      // threshold = 0.2 * (exact DECIMAL sum / count) — bit-identical
      // doubles on both engines, so the '<' boundary classifies alike
      """WITH thr AS (
        |  SELECT l_partkey pk,
        |    (CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*)) * 0.2 threshold
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 avg_yearly,
        |  count(*) n
        |FROM lineitem JOIN thr ON pk = l_partkey JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < threshold
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("array_funcs", Relational.arrayFuncs _,
      // list_* ↔ array_* dialect fork; both engines sort and compare
      // strings by binary codepoint, so list_sort ≡ sort_array
      """SELECT doc_id,
        |  len(string_split(text, ' ')) n_tokens,
        |  len(list_distinct(string_split(text, ' '))) n_distinct,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], '|') first3,
        |  list_contains(string_split(text, ' '), 'the') has_the,
        |  string_split(text, ' ')[1] first_tok,
        |  string_split(text, ' ')[-1] last_tok
        |FROM documents ORDER BY doc_id""".stripMargin),

    new Query("resample_daily", Events.resampleDaily _,
      // fixed calendar grid from a generator × distinct types, left join
      // the filtered per-cell partials, explicit zeros for absent cells
      """WITH grid_days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
        |    INTERVAL '1 day')) AS DATE) d),
        |types AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT CAST(date_trunc('day', ts) AS DATE) d, event_type et, count(*) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) sv
        |  FROM events WHERE value > 200 GROUP BY 1, 2)
        |SELECT g.d AS dy, t.event_type, coalesce(c.n, 0) n, coalesce(c.sv, 0.0) sv
        |FROM grid_days g CROSS JOIN types t
        |LEFT JOIN c ON c.d = g.d AND c.et = t.event_type
        |ORDER BY 1, 2""".stripMargin),

    new Query("zscore_outliers", Events.zscoreOutliers _,
      // mean/sd from exact DECIMAL sums of value and value² — identical
      // doubles both sides, so the |z| > 3 boundary classifies alike
      """WITH s AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) sm,
        |    CAST(sum(CAST(value*value AS DECIMAL(18,4))) AS DOUBLE) sq,
        |    count(*) cnt
        |  FROM events GROUP BY 1),
        |st AS (SELECT event_type, sm/cnt mean, sqrt((sq - sm*sm/cnt) / (cnt - 1)) sd FROM s)
        |SELECT event_id, e.event_type, value, round((value - mean)/sd, 4) + 0 z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((value - mean)/sd) > 3
        |ORDER BY event_id""".stripMargin),

    new Query("merge_upsert", Changes.mergeUpsertOrders _,
      // the CDC feed (I: keys ≡0 mod 10, U: price restated on ≡0 mod 7,
      // D: ≡0 mod 13) applied to the complementary base; final state
      // verified by per-status rowcount + exact DECIMAL sum + restated
      // count (any misplaced row moves a sum)
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        |chg AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    o_orderpriority, 'I' op FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 0),
        |    o_orderdate, '5-RESTATED', 'U'
        |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    o_orderpriority, 'D'
        |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 13 = 0),
        |fin AS (
        |  SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority FROM chg WHERE op <> 'D')
        |SELECT o_orderstatus, count(*) n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) sum_price,
        |  count(*) FILTER (o_orderpriority = '5-RESTATED') n_restated
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("scd2_history", Changes.scd2Orders _,
      // type-2 validity ranges along the per-customer order timeline;
      // (o_orderdate, o_orderkey) ordering is total so lead() pairs
      // identically across engines
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
        |  o_orderdate valid_from,
        |  lead(o_orderdate) OVER w valid_to,
        |  lead(o_orderdate) OVER w IS NULL is_current
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, valid_from, o_orderkey LIMIT 500""".stripMargin),

    new Query("semi_anti_join", Relational.semiAntiJoin _,
      // left-semi ≡ EXISTS, left-anti ≡ NOT EXISTS; the distinct-segment
      // spine keeps zero-count segments in the output on both engines
      """WITH s AS (SELECT c_mktsegment, count(*) n_semi FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000) GROUP BY 1),
        |a AS (SELECT c_mktsegment, count(*) n_anti FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000) GROUP BY 1)
        |SELECT m.c_mktsegment, coalesce(s.n_semi, 0) n_semi, coalesce(a.n_anti, 0) n_anti
        |FROM (SELECT DISTINCT c_mktsegment FROM customer) m
        |LEFT JOIN s USING (c_mktsegment) LEFT JOIN a USING (c_mktsegment)
        |ORDER BY 1""".stripMargin),

    new Query("minmax_by_agg", Relational.minmaxByAgg _,
      // argmin/argmax need a UNIQUE ordering value to be engine-portable:
      // epoch seconds × 10⁶ + orderkey (epoch() here ≡ unix_timestamp on
      // the Spark side — both UTC)
      """SELECT o_orderstatus,
        |  min_by(o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey) first_key,
        |  min_by(o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey) first_price,
        |  max_by(o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey) last_key,
        |  max_by(o_totalprice, CAST(epoch(o_orderdate) AS BIGINT) * 1000000 + o_orderkey) last_price,
        |  count(*) n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("corr_matrix", Relational.corrMatrix _,
      // six pairwise Pearson coefficients from one scan, unpivoted to
      // long; corr is a centered-sum ratio — stable at 4 dp both engines
      """WITH c AS (SELECT
        |  round(corr(l_quantity, l_extendedprice), 4) + 0 qe,
        |  round(corr(l_quantity, l_discount), 4) + 0 qd,
        |  round(corr(l_quantity, l_tax), 4) + 0 qt,
        |  round(corr(l_extendedprice, l_discount), 4) + 0 ed,
        |  round(corr(l_extendedprice, l_tax), 4) + 0 et,
        |  round(corr(l_discount, l_tax), 4) + 0 dt
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_quantity' col_a, 'l_extendedprice' col_b, qe r FROM c
        |  UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM c
        |  UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM c
        |  UNION ALL SELECT 'l_extendedprice', 'l_discount', ed FROM c
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', et FROM c
        |  UNION ALL SELECT 'l_discount', 'l_tax', dt FROM c)
        |ORDER BY col_a, col_b""".stripMargin),

    new Query("sample_mix", Sampling.sampleMixDocs _,
      // portable md5-bucket uniform vs per-source weight 1 − 0.045·idx;
      // '0x'-cast here ≡ conv(,16,10) on the Spark side (bit-identical,
      // the train_test_split pattern). The weight applies ONLY to the
      // op's pinned 20-entry map (src0..src19) — any other source gets
      // mixSourcesPortable's fold default −1 and drops; the old oracle
      // extrapolated the formula to ANY index and silently diverged on
      // a >20-source corpus (caught by the 50-source 10× rebuild).
      // Membership is EXACT-STRING: the reconstruction equality
      // source = 'src' || idx rejects non-canonical spellings ('src05',
      // 'foo5') that a suffix-only TRY_CAST would silently weight
      // (round-16 advice), and BETWEEN pins the map's 0..19 domain
      """WITH b AS (SELECT source, n_chars,
        |    CAST(('0x' || substr(md5('mix:42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 / 1000000.0 u,
        |    CASE WHEN TRY_CAST(substr(source, 4) AS INT) BETWEEN 0 AND 19
        |        AND source = 'src' ||
        |          CAST(TRY_CAST(substr(source, 4) AS INT) AS VARCHAR)
        |      THEN 1.0 - 0.045 * CAST(substr(source, 4) AS INT)
        |      ELSE -1.0 END w
        |  FROM documents)
        |SELECT source, count(*) n, CAST(sum(n_chars) AS BIGINT) chars
        |FROM b WHERE u < w GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("tfidf_top_terms", (s, d) => Text.tfidfTopTerms(s, d),
      // integer tf/df into ln() on the same doubles both engines, so the
      // only realistic ties (equal (tf, df)) collapse identically before
      // the term tiebreak; displayed score rounds to 4 dp
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) tok FROM documents),
        |tf AS (SELECT source, tok, count(*) tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT source) n_src FROM documents),
        |s AS (SELECT source, tok, tf, df, tf * ln(CAST(n_src AS DOUBLE) / df) score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT source, tok, tf, df, round(score, 4) tfidf, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, tok) rn FROM s)
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin),

    new Query("recon_key_profile", Recon.keyProfileLineitem _,
      """WITH m AS (SELECT l_orderkey, count(*) m FROM lineitem GROUP BY 1)
        |SELECT m multiplicity, count(*) n_keys FROM m GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("listagg_status", Relational.listaggStatus _,
      // Spark's listagg leaves order unspecified, so the portable form on
      // both sides is sorted-distinct: string_agg(DISTINCT .. ORDER BY)
      // here ≡ array_join(array_sort(collect_set)) there
      """SELECT o_orderpriority, count(*) n,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) statuses
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("regr_funcs", Relational.regrFuncs _,
      // ratios of centered sums — stable at 4 dp across engines (the
      // corr_matrix discipline)
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) + 0 slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) + 0 icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 4) r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("cume_dist_funcs", Relational.cumeDistFuncs _,
      // w1 orders uniquely (cume_dist/nth_value deterministic); w2 has
      // real ties — dense_rank gives every peer the tied value, so both
      // are pure functions of the data
      // cume_dist = rank/n respelled exactly: the (price, key) order is
      // total, so rank ≡ row_number and the ratio is exact integers
      """SELECT o_orderkey, o_orderstatus,
        |  CAST((2 * CAST(row_number() OVER w1 AS HUGEINT) * 1000000
        |      + count(*) OVER p)
        |    // (2 * CAST(count(*) OVER p AS HUGEINT)) AS DOUBLE) / 1e6 cd,
        |  CAST(dense_rank() OVER w2 AS BIGINT) dr,
        |  nth_value(o_orderkey, 3) OVER w1 nv
        |FROM orders
        |WINDOW w1 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
        |       w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority),
        |       p AS (PARTITION BY o_orderstatus)
        |ORDER BY o_orderkey LIMIT 200""".stripMargin),

    new Query("range_frame_window", Relational.rangeFrameWindow _,
      // VALUE range over epoch seconds; equal instants are peers and share
      // a frame, so the moving sum is order-independent under ties; exact
      // DECIMAL sums are bit-identical across engines
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) trailing30d
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 200""".stripMargin),

    new Query("bit_agg", Relational.bitAgg _,
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey % 4096) b_and, bit_or(o_orderkey % 4096) b_or,
        |  bit_xor(o_orderkey % 4096) b_xor, count(*) n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("percent_of_total", Relational.percentOfTotal _,
      // share in exact 1e-4-unit integers (the ratioRound twin — the
      // int/int tie class): row cents · 100 over the status cents total
      """SELECT o_orderkey, o_orderstatus,
        |  CAST((2 * CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS HUGEINT)
        |      * 100 * 1000000
        |      + CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |          PARTITION BY o_orderstatus) * 10000 AS HUGEINT))
        |    // (2 * CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |          PARTITION BY o_orderstatus) * 10000 AS HUGEINT))
        |    AS DOUBLE) / 1e6 pct
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin),

    new Query("mode_agg", Relational.modeAgg _,
      // native mode() tie-breaks engine-dependently on both sides; the
      // explicit (count DESC, value) head makes the tie-break part of the
      // contract
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY o_orderpriority ORDER BY n DESC, o_orderstatus) rn FROM c)
        |SELECT o_orderpriority, o_orderstatus mode_status, n n_mode
        |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin),

    new Query("sliding_window_events", Events.slidingWindow _,
      // Spark's sliding window(ts, 1h, 15min) assigns each event to the
      // epoch-aligned window starts in (ts-1h, ts]; the grid of 15-min
      // epoch multiples spanning [min-45min, max] joined on containment
      // reproduces exactly the non-empty (window, type) groups
      """WITH b AS (SELECT min(ts) mn, max(ts) mx FROM events),
        |grid AS (SELECT CAST(unnest(generate_series(
        |    to_timestamp(CAST(floor(epoch(mn)/900)*900 AS BIGINT)) - INTERVAL 45 MINUTE,
        |    mx, INTERVAL 15 MINUTE)) AS TIMESTAMP) ws FROM b)
        |SELECT g.ws, g.ws + INTERVAL 1 HOUR we, e.event_type, count(*) n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) v
        |FROM grid g JOIN events e ON e.ts >= g.ws AND e.ts < g.ws + INTERVAL 1 HOUR
        |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin),

    new Query("recon_mom_drift", Recon.momDrift _,
      // lag over the post-agg (status, month) frame; (rev − prev)/prev
      // in exact cents via the ratioRound twin (int/int tie class)
      """WITH m AS (SELECT date_trunc('month', o_orderdate) mo, o_orderstatus st,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) rc
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT mo, st, rc, lag(rc) OVER (PARTITION BY st ORDER BY mo) pc
        |  FROM m)
        |SELECT mo, st, CAST(rc AS DOUBLE) / 10000 rev,
        |  CAST(CASE WHEN rc - pc >= 0 THEN
        |    (2 * CAST(rc - pc AS HUGEINT) * 1000000 + pc)
        |      // (2 * CAST(pc AS HUGEINT))
        |  ELSE -((2 * CAST(pc - rc AS HUGEINT) * 1000000 + pc)
        |    // (2 * CAST(pc AS HUGEINT))) END AS DOUBLE) / 1e6 mom_change
        |FROM l ORDER BY st, mo LIMIT 200""".stripMargin),

    new Query("session_paths", Events.sessionPaths _,
      // sessionize's window chain, then rank-ordered string_agg of the
      // first ≤3 types per session (Spark side: array_sort over (rn,
      // type) structs — collect_list alone has no order guarantee)
      """WITH g AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_type, ts, event_id,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) sid FROM g),
        |r AS (SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) rn FROM s),
        |p AS (SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) path
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, count(*) n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    new Query("dwell_time", Events.dwellTime _,
      // both engines floor to whole seconds before differencing
      // (unix_timestamp there, boundary-counting date_diff here); gap sum
      // is an exact BIGINT so the mean divides identical operands
      """WITH nxt AS (SELECT user_id, event_type, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) nts FROM events)
        |SELECT event_type, count(*) n,
        |  CAST((2 * CAST(sum(date_diff('second', ts, nts)) AS HUGEINT) * 10000
        |    + count(*)) // (2 * count(*)) AS DOUBLE) / 1e4 avg_gap_s,
        |  CAST(max(date_diff('second', ts, nts)) AS BIGINT) max_gap_s
        |FROM nxt WHERE nts IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("topk_values_agg", Relational.topkValuesAgg _,
      // smallest-5 multiset per group as five scalar columns (an array
      // column has no portable cross-engine text form); every status
      // group has ≥5 orders at every SF so no out-of-range nulls
      """SELECT o_orderstatus, ls[1] m1, ls[2] m2, ls[3] m3, ls[4] m4, ls[5] m5
        |FROM (SELECT o_orderstatus, list_sort(list(o_totalprice)) ls
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin),

    new Query("set_ops_all", Relational.setOpsAll _,
      // multiset semantics: duplicate cardinality survives, unlike the
      // dedup-based set_ops pair
      """SELECT op, n FROM (
        |  SELECT 'intersect_all' op, count(*) n FROM (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |    INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL SELECT 'except_all', count(*) FROM (
        |    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |    EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'))
        |ORDER BY op""".stripMargin),

    new Query("try_cast_funcs", Relational.tryCastFuncs _,
      // parse failures → NULL on both engines; numeric strings route
      // through the same int/double text forms (shortest-repr doubles in
      // the tested value range)
      """SELECT p_partkey,
        |  TRY_CAST(substr(p_name, 1, 3) AS INT) bad_int,
        |  TRY_CAST(CAST(p_size AS VARCHAR) || '.25' AS DOUBLE) good_double,
        |  TRY_CAST(p_brand AS DOUBLE) brand_num,
        |  TRY_CAST(substr(CAST(p_retailprice AS VARCHAR), 1, 4) AS DOUBLE) prefix_num
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin),

    new Query("locf_fill", Events.locfFill _,
      // LOCF: both engines run last_value IGNORE NULLS over the same
      // ROWS frame; holes seeded deterministically (event_id % 3);
      // leading nulls stay null by contract
      """WITH v AS (SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END vn FROM events)
        |SELECT event_id, user_id, vn,
        |  last_value(vn IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) locf
        |FROM v ORDER BY event_id LIMIT 500""".stripMargin),

    new Query("string_distance_funcs", Relational.stringDistanceFuncs _,
      // row-local integer edit-distance DP on both engines; fixed probes
      // keep each row's answer a pure function of the data
      """SELECT p_partkey,
        |  levenshtein(p_brand, 'Brand#32') d_brand,
        |  levenshtein(substr(p_name, 1, 10), 'lavender p') d_name,
        |  levenshtein(p_type, 'STANDARD') <= 8 near_standard
        |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin),

    new Query("mean_funcs", Relational.meanFuncs _,
      // geometric = exp∘avg∘ln, harmonic = n / Σ 1/x — one-pass
      // mergeable sums; 4-dp rounding absorbs partial-merge ulps
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 4) geo_mean,
        |  round(count(*) / sum(1.0 / l_quantity), 4) harm_mean,
        |  round(avg(l_quantity), 4) arith_mean, count(*) n
        |FROM lineitem WHERE l_quantity > 0 GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("recon_incremental", Recon.incrementalDiffOrders _,
      // the Spark side scopes the detail join to fingerprint-moved
      // partitions (broadcast semi-join work list); scoping changes WHAT
      // WORK runs, not the answer, so the oracle is the direct per-month
      // divergence profile of the same corruption fixture — a partition
      // moved iff some row diverges (md5-collision-free)
      """WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) o_totalprice,
        |    date_trunc('month', o_orderdate) part FROM orders),
        |tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |         THEN CAST(round(o_totalprice, 0) AS DECIMAL(12,2))
        |         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END o_totalprice,
        |    date_trunc('month', o_orderdate) part
        |  FROM orders WHERE date_trunc('month', o_orderdate) <> TIMESTAMP '1995-01-01'),
        |j AS (SELECT coalesce(s.part, t.part) part,
        |    CASE WHEN s.o_orderkey IS NULL THEN 'extra_in_target'
        |         WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
        |         WHEN NOT (s.o_custkey IS NOT DISTINCT FROM t.o_custkey
        |              AND s.o_orderstatus IS NOT DISTINCT FROM t.o_orderstatus
        |              AND s.o_totalprice IS NOT DISTINCT FROM t.o_totalprice) THEN 'mismatch'
        |         ELSE 'match' END status
        |  FROM src s FULL OUTER JOIN tgt t
        |    ON s.part = t.part AND s.o_orderkey = t.o_orderkey)
        |SELECT part, status, count(*) n FROM j WHERE status <> 'match'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("session_window_agg", Events.sessionWindowAgg _,
      // native session_window ≡ the sessionize CTE chain: same gap rule,
      // window end = last event + gap; second-truncated for the compare
      """WITH g AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) sid FROM g)
        |SELECT date_trunc('second', min(ts)) ss,
        |  date_trunc('second', max(ts) + INTERVAL 30 MINUTE) se, user_id, count(*) n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, ss LIMIT 200""".stripMargin),

    new Query("shape_stats", Relational.shapeStats _,
      // both engines compute POPULATION moments (verified equal at 4 dp
      // against an exact-mean two-pass recompute); mean from exact sums
      """SELECT l_returnflag,
        |  round(skewness(l_quantity), 4) + 0 skew,
        |  round(kurtosis(l_quantity), 4) + 0 kurt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/count(*) mean_qty,
        |  count(*) n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("q6_forecast_revenue", Relational.q6ForecastRevenue _,
      // pure filter + scalar aggregate; double literals parse to the
      // same IEEE values both engines so BETWEEN classifies alike
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) revenue,
        |  count(*) n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    new Query("q14_promo_share", Relational.q14PromoShare _,
      // share in exact 1e-4-unit integers (the ratioRound twin)
      """SELECT CAST((2 * CAST(coalesce(
        |      sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
        |        FILTER (p_type LIKE 'PROMO%') * 10000, 0) AS HUGEINT) * 100
        |      * 10000
        |      + CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
        |        * 10000 AS HUGEINT))
        |    // (2 * CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
        |        * 10000 AS HUGEINT)) AS DOUBLE) / 1e4 promo_pct,
        |  count(*) n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin),

    new Query("regexp_funcs", Relational.regexpFuncs _,
      // class/anchor/group regex subset both dialects agree on; match
      // counting via extract-all length (regexp_count is not portable)
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([a-z]+)', 1) first_word,
        |  len(regexp_extract_all(p_name, '[aeiou]')) n_vowels,
        |  regexp_matches(p_name, '^[a-z]+ ') starts_word,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) last_caps
        |FROM part ORDER BY p_partkey LIMIT 200""".stripMargin),

    new Query("make_funcs", Relational.makeFuncs _,
      // construction inverse of date_funcs; week numbers excluded
      // (ISO-week conventions diverge across engines)
      """SELECT o_orderkey,
        |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT),
        |            CAST(day(o_orderdate) AS INT)) d,
        |  make_timestamp(CAST(year(o_orderdate) AS BIGINT), CAST(month(o_orderdate) AS BIGINT),
        |            CAST(day(o_orderdate) AS BIGINT), 12, 30, 0.0) noon,
        |  CAST(dayofyear(o_orderdate) AS INT) doy,
        |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT),
        |            CAST(day(o_orderdate) AS INT)) = CAST(o_orderdate AS DATE) roundtrip
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin),

    new Query("text_langid", Text.langidNgram _,
      // the op is fully deterministic (self-trained top-30 bigram
      // profiles with (cnt DESC, g) and (hits DESC, lang) tie-breaks),
      // so the whole train→predict→confusion pipeline reproduces in SQL
      """WITH grams AS (SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, greatest(length(text)-1, 1)),
        |      i -> substr(text, CAST(i AS INT), 2))) g
        |  FROM documents),
        |profile AS (SELECT p_lang, g FROM (
        |    SELECT lang p_lang, g, count(*) cnt,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) rk
        |    FROM grams GROUP BY 1, 2) WHERE rk <= 30),
        |pred AS (SELECT doc_id, lang, p_lang FROM (
        |    SELECT gr.doc_id, gr.lang, p.p_lang, count(*) hits,
        |      row_number() OVER (PARTITION BY gr.doc_id ORDER BY count(*) DESC, p.p_lang) rk
        |    FROM grams gr JOIN profile p USING (g) GROUP BY 1, 2, 3) WHERE rk = 1)
        |SELECT lang, p_lang pred, count(*) n_docs FROM pred
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("q10_returned_items", Relational.q10ReturnedItems _,
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) revenue
        |FROM customer JOIN orders ON c_custkey=o_custkey
        |  JOIN lineitem ON l_orderkey=o_orderkey
        |  JOIN nation ON c_nationkey=n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag='R'
        |GROUP BY 1,2,3,4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    new Query("q18_large_orders", Relational.q18LargeOrders _,
      // the HAVING threshold compares the exact DECIMAL sum, so both
      // engines classify boundary orders identically
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) total_qty
        |FROM customer JOIN orders ON c_custkey=o_custkey
        |  JOIN lineitem ON o_orderkey=l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 300)
        |GROUP BY 1,2,3,4,5 ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    new Query("q22_idle_customers", Relational.q22IdleCustomers _,
      """WITH avg_bal AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)/count(*) a
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) total_bal
        |FROM customer, avg_bal
        |WHERE c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("cond_agg_funcs", Relational.condAggFuncs _,
      """SELECT o_orderpriority,
        |  count(*) FILTER (o_totalprice > 200000) n_big,
        |  bool_and(o_totalprice > 0) all_pos,
        |  bool_or(o_orderstatus = 'F') any_f,
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) n_status,
        |  CAST(count(*) AS BIGINT) n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("ntile_funcs", Relational.ntileFuncs _,
      // both engines fill ntile buckets larger-first; the (price, key)
      // tiebreak makes the assignment a total order
      """WITH t AS (SELECT o_orderkey, o_totalprice,
        |  ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) q FROM orders)
        |SELECT q, CAST(count(*) AS BIGINT) n, min(o_totalprice) mn, max(o_totalprice) mx,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) total
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("unpivot_long", Relational.unpivotLong _,
      // UNION ALL is the dialect-portable spelling of UNPIVOT
      """WITH w AS (SELECT l_returnflag rf,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) sum_price,
        |  CAST(count(*) AS DOUBLE) n
        |  FROM lineitem GROUP BY 1)
        |SELECT rf, 'sum_qty' metric, sum_qty val FROM w
        |UNION ALL SELECT rf, 'sum_price', sum_price FROM w
        |UNION ALL SELECT rf, 'n', n FROM w
        |ORDER BY rf, metric""".stripMargin),

    new Query("percentile_disc_funcs", Relational.percentileDiscFuncs _,
      // quantile_disc ≡ percentile_disc: both pick the smallest data
      // value with cume_dist ≥ q (ceil(n·q) convention, probe-verified),
      // so no interpolation arithmetic can diverge
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.5) med_qty,
        |  quantile_disc(l_extendedprice, 0.9) p90_price,
        |  quantile_disc(l_discount, 0.25) p25_disc,
        |  CAST(count(*) AS BIGINT) n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("streak_islands", Events.streakIslands _,
      // day-number anchored to a fixed epoch so both engines derive the
      // identical integer island key
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d FROM events),
        |num AS (SELECT user_id, d,
        |  date_diff('day', DATE '2020-01-01', d)
        |    - row_number() OVER (PARTITION BY user_id ORDER BY d) grp FROM days),
        |isl AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) len FROM num GROUP BY 1,2)
        |SELECT user_id, max(len) max_streak, CAST(count(*) AS BIGINT) n_streaks,
        |  CAST(sum(len) AS BIGINT) active_days
        |FROM isl GROUP BY 1 ORDER BY user_id""".stripMargin),

    new Query("vocab_top_tokens", (s, d) => Text.vocabTopTokens(s, d),
      """WITH toks AS (SELECT unnest(string_split(lower(text),' ')) tok FROM documents),
        |counts AS (SELECT tok, CAST(count(*) AS BIGINT) cnt FROM toks
        |  WHERE tok <> '' GROUP BY 1),
        |ranked AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) id
        |  FROM counts)
        |SELECT id, tok, cnt FROM ranked WHERE id <= 500 ORDER BY id""".stripMargin),

    new Query("text_collocations", (s, d) => Text.collocations(s, d),
      // bigrams via a 1-based index transform (range(1, len) is empty on
      // single-token docs, matching Spark's size>=2 guard); PMI in ln,
      // rounded to 4 dp
      """WITH toks AS (SELECT string_split(lower(text),' ') ts FROM documents),
        |uni AS (SELECT unnest(ts) w FROM toks),
        |ucnt AS (SELECT w, count(*) uc FROM uni WHERE w <> '' GROUP BY 1),
        |utot AS (SELECT CAST(count(*) AS DOUBLE) tu FROM uni WHERE w <> ''),
        |gall AS (SELECT w1, w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i])) w1,
        |           unnest(list_transform(range(1, len(ts)), i -> ts[i+1])) w2
        |    FROM toks) WHERE w1 <> '' AND w2 <> ''),
        |gcnt AS (SELECT w1, w2, count(*) gc FROM gall GROUP BY 1,2),
        |gtot AS (SELECT CAST(count(*) AS DOUBLE) tg FROM gall)
        |SELECT w1 || ' ' || w2 bigram, CAST(gc AS BIGINT) cnt,
        |  round(ln((gc/tg) / ((u1.uc/tu)*(u2.uc/tu))), 4) + 0 pmi
        |FROM gcnt, gtot, utot
        |  JOIN ucnt u1 ON u1.w = w1
        |  JOIN ucnt u2 ON u2.w = w2
        |WHERE gc >= 20
        |ORDER BY pmi DESC, bigram LIMIT 100""".stripMargin),

    new Query("q19_disjunctive_filter", Relational.q19DisjunctiveFilter _,
      """SELECT CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),

    new Query("q4_late_orders", Relational.q4LateOrders _,
      // timestamp + INTERVAL is exact integer arithmetic on both engines
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) n_late
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("q8_market_share", Relational.q8MarketShare _,
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS INT) yr,
        |    CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) v,
        |    s_nationkey
        |  FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |    JOIN customer ON o_custkey=c_custkey
        |    JOIN nation cn ON c_nationkey=cn.n_nationkey
        |    JOIN region ON cn.n_regionkey=r_regionkey
        |    JOIN supplier ON l_suppkey=s_suppkey
        |  WHERE r_name='ASIA')
        |SELECT yr, CAST(sum(v) AS DOUBLE) total_rev,
        |  CAST(coalesce(sum(v) FILTER (s_nationkey = 1), 0) AS DOUBLE) nation1_rev,
        |  CAST((2 * CAST(coalesce(sum(v) FILTER (s_nationkey = 1), 0) * 10000
        |        AS HUGEINT) * 1000000
        |      + CAST(sum(v) * 10000 AS HUGEINT))
        |    // (2 * CAST(sum(v) * 10000 AS HUGEINT)) AS DOUBLE) / 1e6 mkt_share
        |FROM vol GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("posexplode_funcs", Relational.posexplodeFuncs _,
      // generate_subscripts is 1-based, posexplode 0-based
      """SELECT doc_id, generate_subscripts(ts,1) - 1 pos, unnest(ts) tok
        |FROM (SELECT doc_id, string_split(text,' ') ts FROM documents WHERE doc_id <= 50)
        |ORDER BY doc_id, pos""".stripMargin),

    new Query("map_funcs", Relational.mapFuncs _,
      // DuckDB map extraction yields a 1-element list, hence the [1];
      // both lookups are NULL on absent key (try_element_at twin)
      """WITH cnt AS (SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) n
        |  FROM orders GROUP BY 1,2),
        |m AS (SELECT o_orderpriority,
        |  map_from_entries(list((o_orderstatus, n))) mp FROM cnt GROUP BY 1)
        |SELECT o_orderpriority, CAST(len(map_keys(mp)) AS INT) n_keys,
        |  coalesce(mp['F'][1], 0) f_n, coalesce(mp['O'][1], 0) o_n,
        |  coalesce(mp['P'][1], 0) p_n,
        |  array_to_string(list_sort(map_keys(mp)), '|') statuses
        |FROM m ORDER BY 1""".stripMargin),

    new Query("grouping_id_agg", Relational.groupingIdAgg _,
      // NULLS FIRST pinned explicitly: Spark defaults first, DuckDB last
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) gs,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) gp,
        |  CAST(count(*) AS BIGINT) n
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gs, gp, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    new Query("multimodal_wav_meta", Multimodal.wavMetaStats _,
      // independent recomputation, not a parse: wavRecords synthesizes
      // every header field from (doc_id, octet_length(text)) — rate from
      // doc_id%3, channels from doc_id%2, frames = len/blockAlign — so
      // the oracle rebuilds the cohort aggregate the native wav_meta
      // expression must recover from the bytes; integer division
      // throughout matches the expression's long arithmetic. encode()
      // (VARCHAR -> UTF-8 BLOB) rather than CAST AS BLOB: the cast
      // REJECTS non-ASCII text, and Spark's string->binary cast is
      // UTF-8 bytes (caught by the round-13 fuzzed-corpus sweep)
      """WITH w AS (
        |  SELECT [8000,16000,44100][CAST(doc_id % 3 AS INT) + 1] sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) channels,
        |    octet_length(encode(text)) // (2 * (1 + doc_id % 2)) frames
        |  FROM documents)
        |SELECT CAST(sample_rate AS INT) sample_rate, channels,
        |  CAST(count(*) AS BIGINT) n_clips,
        |  CAST(sum(frames) AS BIGINT) total_frames,
        |  CAST(sum(frames * 1000 // sample_rate) AS BIGINT) total_ms
        |FROM w GROUP BY 1,2 ORDER BY 1,2""".stripMargin),

    new Query("hof_funcs", Relational.hofFuncs _,
      // DuckDB's array_to_string is NULL on an empty list where Spark's
      // array_join is '' — coalesce the filtered column
      """SELECT doc_id,
        |  array_to_string(list_transform(ts, t -> CAST(length(t) AS VARCHAR)), ',') lens,
        |  CAST(len(list_filter(ts, t -> length(t) > 4)) AS INT) n_long,
        |  CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) tot_len,
        |  coalesce(array_to_string(list_filter(ts, t -> t LIKE 'p%'), '|'), '') p_toks
        |FROM (SELECT doc_id, string_split(text,' ') ts FROM documents)
        |ORDER BY doc_id LIMIT 200""".stripMargin),

    new Query("nullsafe_join", Relational.nullsafeJoin _,
      """WITH g AS (SELECT nullif(o_orderstatus,'P') ns, CAST(count(*) AS BIGINT) n
        |  FROM orders GROUP BY 1)
        |SELECT a.ns, a.n, b.n n2 FROM g a JOIN g b ON a.ns IS NOT DISTINCT FROM b.ns
        |ORDER BY a.ns NULLS FIRST""".stripMargin),

    new Query("date_trunc_funcs", Relational.dateTruncFuncs _,
      // DuckDB date_trunc returns DATE; cast to TIMESTAMP to match
      // Spark's schema (values are identical midnights)
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) mon,
        |  CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) qtr,
        |  CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) yr,
        |  CAST(quarter(o_orderdate) AS INT) q_num,
        |  last_day(CAST(o_orderdate AS DATE)) month_end
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin),

    new Query("subquery_funcs", Relational.subqueryFuncs _,
      // the 0 in n_not_in_null IS the point: one NULL in the subquery
      // makes NOT IN unsatisfiable on any standard engine
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_totalprice > 400000) n_big,
        | (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)) n_cust_big,
        | (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 42) FROM orders)) n_not_in_null
        |FROM (SELECT 1) t""".stripMargin),

    new Query("array_setops_funcs", Relational.arraySetopsFuncs _,
      // list_distinct first so both engines count SET cardinalities
      """SELECT d1.doc_id id1, d2.doc_id id2,
        |  CAST(len(list_intersect(d1.ts, d2.ts)) AS INT) n_common,
        |  CAST(len(list_distinct(d1.ts || d2.ts)) AS INT) n_union,
        |  list_has_any(d1.ts, d2.ts) has_common
        |FROM (SELECT doc_id, list_distinct(string_split(text,' ')) ts
        |      FROM documents WHERE doc_id < 20) d1
        |JOIN (SELECT doc_id, list_distinct(string_split(text,' ')) ts
        |      FROM documents WHERE doc_id < 20) d2
        |  ON d1.doc_id < d2.doc_id
        |ORDER BY id1, id2""".stripMargin),

    new Query("rows_frame_window", Events.rowsFrameWindow _,
      """WITH d AS (SELECT CAST(ts AS DATE) d_day, CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) v
        |  FROM events GROUP BY 1)
        |SELECT d_day, n, v,
        |  round(avg(v) OVER (ORDER BY d_day ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) ma5,
        |  CAST(sum(n) OVER (ORDER BY d_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) wk_n,
        |  round(min(v) OVER (ORDER BY d_day ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 4) mn3
        |FROM d ORDER BY d_day""".stripMargin),

    new Query("q7_volume_shipping", Relational.q7VolumeShipping _,
      """WITH flow AS (
        |  SELECT cn.n_name cust_nation, sn.n_name supp_nation,
        |    CAST(year(l_shipdate) AS INT) l_year,
        |    CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) v
        |  FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |    JOIN customer ON o_custkey=c_custkey
        |    JOIN supplier ON l_suppkey=s_suppkey
        |    JOIN nation cn ON c_nationkey=cn.n_nationkey
        |    JOIN nation sn ON s_nationkey=sn.n_nationkey
        |  WHERE (cn.n_name='NATION_1' AND sn.n_name='NATION_2')
        |     OR (cn.n_name='NATION_2' AND sn.n_name='NATION_1'))
        |SELECT cust_nation, supp_nation, l_year,
        |  CAST(sum(v) AS DOUBLE) revenue, CAST(count(*) AS BIGINT) n
        |FROM flow GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin),

    new Query("q13_order_distribution", Relational.q13OrderDistribution _,
      // LEFT join keeps zero-order customers; count(o_orderkey) counts
      // matches only, so those land in the 0 bucket instead of vanishing
      """WITH c_orders AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) custdist
        |FROM c_orders GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),

    new Query("q15_top_supplier", Relational.q15TopSupplier _,
      // double equality is safe: both sides come from the same
      // exact-DECIMAL sums surfaced as doubles
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),

    new Query("event_gap_stats", Events.eventGapStats _,
      // gaps in exact integer microseconds (epoch_us longs); the mean
      // rounds half-away in exact HUGEINT arithmetic (the
      // supplier_scorecard /2^k tie class reaches through /1e6);
      // min/max have exactly 6 decimal digits — no tie digit
      """WITH g AS (SELECT event_type,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts, event_id) gap_us
        |  FROM events),
        |s AS (SELECT event_type, count(*) n, sum(gap_us) sm,
        |    min(gap_us) mn, max(gap_us) mx
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) n_gaps,
        |  CAST((CAST(sm AS HUGEINT) * 2000 + CAST(n AS HUGEINT) * 1000000)
        |    // (CAST(n AS HUGEINT) * 2000000) AS DOUBLE) / 1e3 AS avg_gap_s,
        |  round(mn / 1000000.0, 6) mn_gap_s,
        |  round(mx / 1000000.0, 6) mx_gap_s
        |FROM s ORDER BY 1""".stripMargin),

    new Query("customer_rfm", Relational.customerRfm _,
      // fixed-edge RFM buckets (no quantile edges — see scaladoc);
      // monetary stays DECIMAL until the final presentation cast
      """WITH per AS (SELECT o_custkey, max(o_orderdate) last_d, count(*) freq,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) spend
        |  FROM orders GROUP BY 1),
        |m AS (SELECT max(o_orderdate) mx FROM orders)
        |SELECT
        |  CASE WHEN date_diff('day', CAST(last_d AS DATE), CAST(mx AS DATE)) <= 365
        |         THEN 'active'
        |       WHEN date_diff('day', CAST(last_d AS DATE), CAST(mx AS DATE)) <= 730
        |         THEN 'warm'
        |       ELSE 'cold' END r_seg,
        |  CASE WHEN freq >= 12 THEN 'frequent' ELSE 'occasional' END f_seg,
        |  CAST(count(*) AS BIGINT) n_cust,
        |  CAST(sum(freq) AS BIGINT) n_orders,
        |  CAST(sum(spend) AS DOUBLE) total_spend
        |FROM per, m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("events_hourly_heatmap", Events.hourlyHeatmap _,
      // ISO weekday (Mon=1): Spark weekday()+1 ↔ DuckDB isodow();
      // value sum through the exact DECIMAL twin of decSum
      """SELECT CAST(isodow(ts) AS INT) dow, CAST(hour(ts) AS INT) hr,
        |  count(*) n, count(DISTINCT user_id) n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) v_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("orders_yoy_growth", Relational.yoyGrowth _,
      // growth computed on exact integer cents in both engines — the
      // 1e-4 scaling cancels in (c-p)/p, so round(4) can't diverge
      """WITH y AS (SELECT year(o_orderdate) yr,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) revenue,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) rc,
        |    count(*) n_orders
        |  FROM orders GROUP BY 1),
        |l AS (SELECT yr, n_orders, revenue, rc,
        |  lag(rc) OVER (ORDER BY yr) prev_rc FROM y)
        |SELECT CAST(yr AS INT) yr, n_orders, revenue,
        |  CASE WHEN prev_rc IS NOT NULL THEN
        |    CAST(CASE WHEN rc - prev_rc >= 0 THEN
        |      (2 * CAST(rc - prev_rc AS HUGEINT) * 100 * 10000 + prev_rc)
        |        // (2 * CAST(prev_rc AS HUGEINT))
        |    ELSE -((2 * CAST(prev_rc - rc AS HUGEINT) * 100 * 10000 + prev_rc)
        |      // (2 * CAST(prev_rc AS HUGEINT))) END AS DOUBLE) / 1e4
        |  END yoy_pct
        |FROM l ORDER BY yr""".stripMargin),

    new Query("text_vocab_richness", Text.vocabRichness _,
      // ratios divide exact integer counts — identical doubles both sides
      """WITH tok AS (SELECT lang, unnest(string_split(lower(text), ' ')) tok
        |  FROM documents),
        |types AS (SELECT lang, tok, count(*) cnt FROM tok
        |  WHERE tok <> '' GROUP BY 1, 2)
        |SELECT lang, count(*) n_types, CAST(sum(cnt) AS BIGINT) n_tokens,
        |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) n_hapax,
        |  CAST((2 * CAST(count(*) AS HUGEINT) * 1000000 + sum(cnt))
        |    // (2 * CAST(sum(cnt) AS HUGEINT)) AS DOUBLE) / 1e6 ttr,
        |  CAST((2 * CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS HUGEINT)
        |      * 1000000 + count(*))
        |    // (2 * CAST(count(*) AS HUGEINT)) AS DOUBLE) / 1e6 hapax_share
        |FROM types GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("events_burstiness", Events.burstiness _,
      // gaps floored to integer seconds (`div` ↔ `//`); mean/sd from
      // exact integer sums of gap and gap² (the zscore discipline)
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |       PARTITION BY user_id, event_type ORDER BY ts, event_id))
        |      // 1000000 gap_s
        |  FROM events),
        |s AS (SELECT event_type, count(*) n,
        |    CAST(sum(gap_s) AS BIGINT) sm,
        |    CAST(sum(gap_s * gap_s) AS BIGINT) sq
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT event_type, n n_gaps,
        |  CAST((2 * CAST(sm AS HUGEINT) * 1000 + n) // (2 * CAST(n AS HUGEINT))
        |    AS DOUBLE) / 1e3 AS mean_gap_s,
        |  round(sqrt((CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n)
        |    / (n - 1)), 3) sd_gap_s,
        |  round((sqrt((CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n)
        |      / (n - 1)) - CAST(sm AS DOUBLE) / n)
        |    / (sqrt((CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n)
        |      / (n - 1)) + CAST(sm AS DOUBLE) / n), 4) + 0 burstiness
        |FROM s ORDER BY 1""".stripMargin),

    new Query("text_zipf_slope", (s, d) => Text.zipfSlope(s, d),
      // identical top-k + deterministic (cnt DESC, tok) ranks; integer
      // (cnt, rank) into ln and a 4-dp round (regr_funcs precedent)
      """WITH c AS (SELECT tok, count(*) cnt FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) rank
        |  FROM c ORDER BY cnt DESC, tok LIMIT 1000)
        |SELECT CAST(count(*) AS BIGINT) n_ranks,
        |  round(regr_slope(ln(cnt), ln(rank)), 4) + 0 zipf_slope,
        |  round(regr_r2(ln(cnt), ln(rank)), 4) r2
        |FROM r""".stripMargin),

    new Query("supplier_hhi", Relational.supplierHhi _,
      // revenue in exact integer cents; shares/HHI divide exact longs
      // cents² in exact HUGEINT ≡ DECIMAL(38,0) (round 16 — the double
      // sum was partial-order-dependent and the share rounds were the
      // int/int tie class); both ratios via the ratioRound twin
      """WITH ps AS (SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      * 10000 AS BIGINT) rc
        |  FROM lineitem GROUP BY 1),
        |pn AS (SELECT s_nationkey, count(*) n_sup,
        |    CAST(sum(rc) AS BIGINT) tot, CAST(max(rc) AS BIGINT) mx,
        |    sum(CAST(rc AS HUGEINT) * rc) sq
        |  FROM ps JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1)
        |SELECT n_name, n_sup,
        |  CAST((2 * sq * 1000000 + CAST(tot AS HUGEINT) * tot)
        |    // (2 * CAST(tot AS HUGEINT) * tot) AS DOUBLE) / 1e6 hhi,
        |  CAST((2 * CAST(mx AS HUGEINT) * 1000000 + tot)
        |    // (2 * CAST(tot AS HUGEINT)) AS DOUBLE) / 1e6 top_share
        |FROM pn JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_name""".stripMargin),

    new Query("rolling_dau_7d", Events.rollingDau _,
      // distinct (user, day) frame range-joined to the data-derived day
      // grid (min..max event day — same in-plan derivation as the Spark
      // side, so a regenerated event span can't produce a vacuous
      // all-zero hash-match); left join keeps silent days as zero rows
      """WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) d, user_id
        |  FROM events),
        |grid_days AS (
        |  SELECT CAST(unnest(generate_series(min(d), max(d),
        |    INTERVAL '1 day')) AS DATE) dy FROM ud)
        |SELECT g.dy, count(DISTINCT ud.user_id) dau7,
        |  count(DISTINCT CASE WHEN ud.d = g.dy THEN ud.user_id END) dau1
        |FROM grid_days g LEFT JOIN ud
        |  ON ud.d BETWEEN g.dy - INTERVAL 6 DAY AND g.dy
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("ship_lag_stats", Relational.shipLagStats _,
      // lags in exact integer days; the mean and the share round in
      // EXACT INTEGER arithmetic (round-half-away = (2a+b)//(2b)) —
      // the supplier_scorecard /2^k tie class
      """WITH l AS (SELECT o_orderpriority,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) lag_d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (SELECT o_orderpriority, count(*) n, sum(lag_d) lag_sum,
        |    min(lag_d) mn, max(lag_d) mx, count_if(lag_d > 90) miss
        |  FROM l GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  CAST(CASE WHEN lag_sum >= 0
        |    THEN (2 * CAST(lag_sum AS HUGEINT) * 1000 + n) // (2 * CAST(n AS HUGEINT))
        |    ELSE -((2 * CAST(-lag_sum AS HUGEINT) * 1000 + n) // (2 * CAST(n AS HUGEINT)))
        |    END AS DOUBLE) / 1e3 AS avg_lag_d,
        |  CAST(mn AS INT) mn_lag_d, CAST(mx AS INT) mx_lag_d,
        |  CAST((2 * CAST(miss AS HUGEINT) * 1000000 + n)
        |    // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 1e6 AS sla_miss_share
        |FROM g ORDER BY 1""".stripMargin),

    new Query("dup_size_distribution", Text.dupSizeDistribution _,
      // family sizes over the same md5 key as dedup_exact; share from
      // exact integer counts against the corpus total
      """WITH fams AS (SELECT md5(text) h, count(*) fam_size
        |  FROM documents GROUP BY 1),
        |t AS (SELECT count(*) n_total FROM documents)
        |SELECT fam_size, count(*) n_families,
        |  CAST(fam_size * count(*) AS BIGINT) n_docs,
        |  CAST((2 * CAST(fam_size * count(*) AS HUGEINT) * 1000000 + n_total)
        |    // (2 * CAST(n_total AS HUGEINT)) AS DOUBLE) / 1e6 corpus_share
        |FROM fams, t GROUP BY fam_size, n_total ORDER BY fam_size""".stripMargin),

    new Query("value_percentiles_by_type", Events.valuePercentilesByType _,
      // quantile_disc returns actual data values — exact cross-engine
      // equality, no interpolation or rounding anywhere; n counts
      // NON-NULL values because quantile_disc ignores NULLs, matching
      // the Spark side's isNotNull filter (round-11 advice)
      """SELECT event_type, CAST(count(value) AS BIGINT) n,
        |  quantile_disc(value, 0.50) p50,
        |  quantile_disc(value, 0.90) p90,
        |  quantile_disc(value, 0.99) p99
        |FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("funnel_time_to_convert", Events.funnelTimeToConvert _,
      // staged first-event mins mirror funnel_conversion's oracle; the
      // journey time is exact integer µs, only presentation divides
      """WITH t1 AS (SELECT user_id, min(ts) t1 FROM events
        |    WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(e.ts) t2 FROM events e JOIN t1 USING (user_id)
        |    WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(e.ts) t3 FROM events e JOIN t2 USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1),
        |g AS (SELECT epoch_us(t3.t3) - epoch_us(t1.t1) us FROM t3 JOIN t1 USING (user_id)),
        |s AS (SELECT count(*) n, sum(us) sm, min(us) mn, max(us) mx FROM g)
        |SELECT CAST(n AS BIGINT) n_converted,
        |  CAST((CAST(sm AS HUGEINT) * 2000 + CAST(n AS HUGEINT) * 1000000)
        |    // (CAST(n AS HUGEINT) * 2000000) AS DOUBLE) / 1e3 AS avg_s,
        |  round(mn / 1000000.0, 6) mn_s,
        |  round(mx / 1000000.0, 6) mx_s
        |FROM s""".stripMargin),

    new Query("event_mix_daily", Events.eventMixDaily _,
      // shares are int/int ratios → exact integer half-away round
      // (the ratioRound spelling; the supplier_scorecard tie class)
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) d, event_type,
        |    count(*) n FROM events GROUP BY 1, 2),
        |t AS (SELECT d, CAST(sum(n) AS BIGINT) day_n FROM c GROUP BY 1)
        |SELECT c.d, c.event_type, c.n,
        |  CAST((2 * c.n * 1000000 + t.day_n) // (2 * t.day_n) AS DOUBLE)
        |    / 1e6 AS pct
        |FROM c JOIN t USING (d) ORDER BY 1, 2""".stripMargin),

    new Query("nth_value_funcs", Relational.nthValueFuncs _,
      // whole-frame positional battery; identical ROWS UNBOUNDED..UNBOUNDED
      // frame, null second_price for 1-order customers in both engines
      """SELECT o_custkey, o_orderkey,
        |  nth_value(o_totalprice, 2) OVER w second_price,
        |  first_value(o_totalprice) OVER w first_price,
        |  last_value(o_totalprice) OVER w last_price,
        |  count(*) OVER w n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey LIMIT 200""".stripMargin),

    new Query("recon_psi_drift", Recon.psiDrift _,
      // identical fixed 50k buckets, deterministic 1.02x drift from
      // 1997, shares clamped at 1e-6 before ln (standard PSI guard)
      """WITH b AS (
        |  SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) b_src,
        |    CAST(floor(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
        |      THEN o_totalprice * 1.02 ELSE o_totalprice END / 50000) AS BIGINT) b_tgt
        |  FROM orders),
        |cs AS (SELECT b_src bucket, count(*) n FROM b GROUP BY 1),
        |ct AS (SELECT b_tgt bucket, count(*) n FROM b GROUP BY 1),
        |c AS (SELECT coalesce(cs.bucket, ct.bucket) bucket,
        |    CAST(coalesce(cs.n, 0) AS BIGINT) n_src,
        |    CAST(coalesce(ct.n, 0) AS BIGINT) n_tgt
        |  FROM cs FULL OUTER JOIN ct ON cs.bucket = ct.bucket),
        |t AS (SELECT count(*) n_total FROM orders)
        |SELECT bucket, n_src, n_tgt,
        |  round((greatest(CAST(n_src AS DOUBLE) / n_total, 1e-6)
        |       - greatest(CAST(n_tgt AS DOUBLE) / n_total, 1e-6))
        |    * ln(greatest(CAST(n_src AS DOUBLE) / n_total, 1e-6)
        |       / greatest(CAST(n_tgt AS DOUBLE) / n_total, 1e-6)), 6) psi_contrib
        |FROM c, t ORDER BY bucket""".stripMargin),

    new Query("text_source_overlap", (s, d) => Text.sourceOverlap(s, d),
      // distinct (source, token) sets first; the pair join is vocab-sized
      """WITH st AS (SELECT DISTINCT source,
        |    unnest(string_split(lower(text), ' ')) tok FROM documents),
        |stf AS (SELECT source, tok FROM st WHERE tok <> ''),
        |sz AS (SELECT source, count(*) n_types FROM stf GROUP BY 1),
        |sh AS (SELECT a.source src_a, b.source src_b, count(*) n_shared
        |  FROM stf a JOIN stf b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  CAST((2 * CAST(n_shared AS HUGEINT) * 1000000
        |      + (za.n_types + zb.n_types - n_shared))
        |    // (2 * CAST(za.n_types + zb.n_types - n_shared AS HUGEINT))
        |    AS DOUBLE) / 1e6 vocab_jaccard
        |FROM sh JOIN sz za ON za.source = src_a JOIN sz zb ON zb.source = src_b
        |ORDER BY 1, 2""".stripMargin),

    new Query("qty_price_bands", Relational.qtyPriceBands _,
      // fixed integer band edges; revenue through the exact DECIMAL twin
      """SELECT CAST(floor(l_quantity / 10) AS BIGINT) qty_band,
        |  CAST(floor(l_extendedprice / 20000) AS BIGINT) price_band,
        |  count(*) n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) revenue
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("recon_key_coverage", Recon.keyCoverage _,
      // exact long arithmetic throughout; one division into the round
      """SELECT CAST(floor(o_orderkey / 2000) AS BIGINT) key_bucket,
        |  count(*) n_present,
        |  max(o_orderkey) - min(o_orderkey) + 1 span,
        |  max(o_orderkey) - min(o_orderkey) + 1 - count(*) n_missing,
        |  CAST((2 * CAST(count(*) AS HUGEINT) * 1000000
        |      + (max(o_orderkey) - min(o_orderkey) + 1))
        |    // (2 * CAST(max(o_orderkey) - min(o_orderkey) + 1 AS HUGEINT))
        |    AS DOUBLE) / 1e6 coverage
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("quantile_summary_approx", (s, d) => Relational.quantileApproxCheck(s, d),
      // the approximate op's oracle is its CONTRACT: group keys and
      // counts are exact cross-engine; the GK rank-bound booleans are
      // Spark-side assertions that DuckDB emits as constants — a sketch
      // regression flips one and fails the hash
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) n,
        |  true p50_in_bound, true p95_in_bound
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("freq_items_approx", Relational.freqItemsApprox _,
      // the exactly-heavy items (freq >= 0.15*n) with exact counts;
      // `covered` asserts the KPS no-false-negative contract Spark-side
      """SELECT o_orderpriority item, CAST(count(*) AS BIGINT) cnt, true covered
        |FROM orders GROUP BY 1
        |HAVING count(*) >= 0.15 * (SELECT count(*) FROM orders)
        |ORDER BY 1""".stripMargin),

    new Query("sample_stratified", Sampling.sampleDocuments _,
      // exact per-row membership through the portable md5 uniform (the
      // sample_mix formula with an explicit 3-source allowlist)
      """WITH b AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5('mix:42:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 / 1000000.0 u,
        |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |      WHEN 'src2' THEN 0.25 ELSE -1.0 END w
        |  FROM documents)
        |SELECT doc_id, source FROM b WHERE u < w ORDER BY doc_id""".stripMargin),

    new Query("approx_distinct_hll", Events.approxDistinctHll _,
      // the HLL op's oracle is its contract (quantile_summary_approx
      // precedent): exact distinct users per type cross-engine, plus the
      // Spark-side 3-sigma bound assertion DuckDB emits as constant true
      """SELECT event_type, count(DISTINCT user_id) exact_users, true hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("decontaminate_bloom", (s, d) => Text.decontaminateBloom(s, d),
      // exact truly-shared distinct-gram counts (the decontaminate_ngram
      // spelling) plus the Bloom no-false-negative contract: every truly
      // shared gram must probe positive, so DuckDB's constant true flips
      // on any missed gram
      """WITH ev AS (SELECT DISTINCT unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))) g
        |  FROM documents WHERE source = 'src0' AND len(string_split(text, ' ')) >= 3),
        |tr AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) g
        |  FROM documents WHERE source <> 'src0' AND len(string_split(text, ' ')) >= 3)
        |SELECT doc_id, count(*) hits, true no_false_neg FROM tr JOIN ev USING (g)
        |GROUP BY 1 ORDER BY hits DESC, doc_id LIMIT 100""".stripMargin),

    new Query("multimodal_decode_stats", Multimodal.decodeStats _,
      // independent re-derivation of the deterministic stub decode: the
      // fabricated shapes are pure arithmetic on the first 32 bits of
      // md5(payload) and payload = utf-8 text bytes, so DuckDB rebuilds
      // width/height/frames from md5(text) without touching the typed
      // mapPartitions path under test
      """WITH m AS (SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) nb,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) h
        |  FROM documents),
        |f AS (SELECT kind, nb,
        |    CASE WHEN kind = 'audio' THEN 1 ELSE CAST(16 + h % 64 AS INT) END w,
        |    CASE kind WHEN 'image' THEN 1 WHEN 'audio' THEN CAST(8000 + h % 8000 AS INT)
        |      ELSE CAST(24 + h % 240 AS INT) END fr
        |  FROM m)
        |SELECT kind, count(*) n, CAST(sum(nb) AS BIGINT) total_bytes,
        |  min(w) min_w, max(w) max_w, max(fr) max_frames
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("multimodal_resize_stats", Multimodal.resizeStats _,
      // same stub re-derivation plus the thumbnail arithmetic: scale =
      // 32 / max(w,h) in doubles on both engines, truncation toward zero
      // (Java (int) cast ↔ trunc) — identical IEEE products, identical ints
      """WITH m AS (SELECT
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END kind,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) h
        |  FROM documents),
        |f AS (SELECT kind,
        |    CASE WHEN kind = 'audio' THEN 1 ELSE CAST(16 + h % 64 AS INT) END w,
        |    CASE WHEN kind = 'audio' THEN 1 ELSE CAST(16 + (h // 64) % 64 AS INT) END ht
        |  FROM m),
        |r AS (SELECT kind,
        |    CASE WHEN w <= 32 AND ht <= 32 THEN w
        |      ELSE greatest(1, CAST(trunc(w * (32.0 / greatest(w, ht))) AS INT)) END w2,
        |    CASE WHEN w <= 32 AND ht <= 32 THEN ht
        |      ELSE greatest(1, CAST(trunc(ht * (32.0 / greatest(w, ht))) AS INT)) END h2
        |  FROM f)
        |SELECT kind, count(*) n, max(w2) max_w, max(h2) max_h
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("multimodal_frame_sample", (s, d) => Multimodal.frameSample(s, d),
      // every stride-th frame of the stub decode's frame count:
      // n_sampled = ceil(frames/10) over video docs
      """WITH m AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) h
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2)
        |SELECT doc_id, CAST((24 + h % 240 + 9) // 10 AS BIGINT) n_sampled
        |FROM m ORDER BY doc_id LIMIT 500""".stripMargin),

    new Query("ann_lsh_topk", Vectors.annLshTopk _,
      // full independent re-derivation of the LSH pipeline (round 12):
      // the hyperplanes are deterministic constants INLINED FROM
      // Vectors.planes at map-build time (the two engines cannot drift),
      // sign-bit buckets are integer arithmetic on list_inner_product,
      // the per-bucket cap and the argmax reuse the proven cosine_knn
      // tie-break spelling. Sign agreement is safe: cosine_knn pins
      // bit-stable dot products cross-engine, and a plane dot within
      // ulps of 0 does not occur for random 64-dim data.
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
        |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
        |          CAST(embedding AS DOUBLE[])) > 0),
         |w AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) nrm,
         |  $lshBucketSql bucket FROM n),
         |c AS (SELECT * FROM w
         |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 200),
         |p AS (SELECT a.vec_id, b.vec_id nn,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) sim
         |  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT vec_id, nn, sim FROM p
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn) = 1
         |ORDER BY vec_id LIMIT 50""".stripMargin),

    new Query("dedup_embedding", (s, d) => Vectors.dedupEmbedding(s, d),
      // same bucket machinery, pair form: candidates share a sign-bucket,
      // emitted top-100 by similarity with the dup verdict as a flag
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
        |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
        |          CAST(embedding AS DOUBLE[])) > 0),
         |w AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) nrm,
         |  $lshBucketSql bucket FROM n),
         |c AS (SELECT * FROM w
         |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 200),
         |p AS (SELECT a.vec_id a_id, b.vec_id b_id,
         |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) sim
         |  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT a_id, b_id, sim, sim >= 0.95 is_dup FROM p
         |ORDER BY sim DESC, a_id, b_id LIMIT 100""".stripMargin),

    new Query("dedup_minhash", Text.dedupMinhash _,
      // full independent re-derivation (round 12): signatures, band
      // buckets, cap, candidates, and the agreement estimate — see
      // minhashEstSqlCtes; possible at all because MinHashSig switched
      // to md5 double-hashing, the one hash both engines spell
      s"""WITH $minhashEstSqlCtes
         |SELECT a_id, b_id, est_jaccard FROM est
         |ORDER BY est_jaccard DESC, a_id, b_id LIMIT 100""".stripMargin),

    new Query("dedup_clusters", Graph.dedupClusters _,
      // the minhash pipeline's top-100 pairs at est ≥ 0.8, closed into
      // connected components by a recursive CTE (min reachable id =
      // exactly Graph.connectedComponents' min-label fixpoint), then
      // cluster sizes
      s"""WITH RECURSIVE $minhashEstSqlCtes,
         |pr AS (SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, est_jaccard FROM est
         |    ORDER BY est_jaccard DESC, a_id, b_id LIMIT 100)
         |  WHERE est_jaccard >= 0.8),
         |edges AS (SELECT a_id u, b_id v FROM pr UNION SELECT b_id, a_id FROM pr),
         |reach(id, r) AS (
         |  SELECT u, u FROM edges UNION SELECT u, v FROM edges
         |  UNION SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
         |lab AS (SELECT id, min(r) lbl FROM reach GROUP BY id)
         |SELECT lbl canonical_id, count(*) cluster_size FROM lab
         |GROUP BY 1 ORDER BY cluster_size DESC, canonical_id LIMIT 100""".stripMargin),

    new Query("dedup_simhash", Text.dedupSimhash _,
      // full independent re-derivation (round 12): md5-derived simhash
      // rebuilt as four 16-bit chunks, chunk buckets, cap, Hamming — see
      // simhashSqlCtes
      s"""WITH $simhashSqlCtes
         |SELECT a_id, b_id, hamming FROM ham WHERE hamming <= 16
         |ORDER BY hamming, a_id, b_id LIMIT 100""".stripMargin),

    new Query("ann_ivf_topk", Vectors.annIvfTopk _, ivfTopkSql),

    new Query("knn_label_accuracy", (s, d) => Vectors.knnLabelAccuracy(s, d),
      // leave-one-out 5-NN majority-vote label agreement: the pair scan,
      // top-5 rank, vote and rollup re-derived with the proven cosine_knn
      // determinism rules (4-dp sim before ranking, integer vote counts,
      // ties to smallest label)
      """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings
        |  WHERE list_inner_product(CAST(embedding AS DOUBLE[]),
        |          CAST(embedding AS DOUBLE[])) > 0),
        |w AS (SELECT vec_id, label, v, sqrt(list_inner_product(v, v)) nrm FROM n),
        |p AS (SELECT a.vec_id, a.label la, b.vec_id nn, b.label lb,
        |    round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) sim
        |  FROM w a JOIN w b ON a.vec_id <> b.vec_id),
        |t AS (SELECT * FROM p
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn) <= 5),
        |v AS (SELECT vec_id, la, lb, count(*) c FROM t GROUP BY vec_id, la, lb),
        |pr AS (SELECT vec_id, la, lb pred FROM v
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, lb) = 1)
        |SELECT la AS label, count(*) n,
        |  count(*) FILTER (pred = la) n_correct,
        |  CAST((2 * CAST(count(*) FILTER (pred = la) AS HUGEINT) * 10000
        |      + count(*)) // (2 * CAST(count(*) AS HUGEINT)) AS DOUBLE) / 1e4 acc
        |FROM pr GROUP BY la ORDER BY la""".stripMargin),

    new Query("text_lm_score", Text.lmScore _,
      // corpus-trained bigram LM, per-doc mean surprisal, per-source
      // profile: 6-dp log-prob rounding then exact micro-bit long sums
      // (the cents rule) keep every accumulation order-free. The vocab
      // caps to Text.LmVocabCap by (count DESC, gram) — binary
      // collation, the Spark sort verbatim — and t sums the CAPPED
      // dictionary; OOV grams score 0 but count in n (LEFT JOIN)
      s"""WITH grams AS (SELECT doc_id, source,
        |    unnest(list_transform(generate_series(1, greatest(length(text)-1, 1)),
        |      i -> substr(text, CAST(i AS INT), 2))) g
        |  FROM documents),
        |counts AS MATERIALIZED (SELECT g, count(*) c FROM grams GROUP BY g
        |  ORDER BY c DESC, g LIMIT ${graft.ops.Text.LmVocabCap}),
        |tot AS (SELECT sum(c) t FROM counts),
        |lp AS (SELECT g, round(log2(c / t), 6) logp FROM counts, tot),
        |doc AS (SELECT doc_id, source, count(*) n,
        |    coalesce(sum(CAST(round(logp * 1e6) AS BIGINT)), 0) sm
        |  FROM grams LEFT JOIN lp USING (g) GROUP BY doc_id, source),
        |scored AS (SELECT source,
        |    CAST(round(-(sm / 1e6) / n * 1e6) AS BIGINT) mb FROM doc)
        |SELECT source, count(*) n_docs,
        |  CAST(CASE WHEN sum(mb) >= 0 THEN
        |    (2 * CAST(sum(mb) AS HUGEINT) * 10000
        |        + CAST(count(*) AS HUGEINT) * 1000000)
        |      // (2 * CAST(count(*) AS HUGEINT) * 1000000)
        |  ELSE -((2 * CAST(-sum(mb) AS HUGEINT) * 10000
        |      + CAST(count(*) AS HUGEINT) * 1000000)
        |    // (2 * CAST(count(*) AS HUGEINT) * 1000000)) END AS DOUBLE) / 1e4
        |    avg_bits,
        |  CAST(CASE WHEN min(mb) >= 0 THEN
        |    (2 * CAST(min(mb) AS HUGEINT) * 10000 + 1000000) // 2000000
        |  ELSE -((2 * CAST(-min(mb) AS HUGEINT) * 10000 + 1000000) // 2000000)
        |  END AS DOUBLE) / 1e4 min_bits,
        |  CAST(CASE WHEN max(mb) >= 0 THEN
        |    (2 * CAST(max(mb) AS HUGEINT) * 10000 + 1000000) // 2000000
        |  ELSE -((2 * CAST(-max(mb) AS HUGEINT) * 10000 + 1000000) // 2000000)
        |  END AS DOUBLE) / 1e4 max_bits
        |FROM scored GROUP BY source ORDER BY source""".stripMargin),

    new Query("dedup_audit", Text.dedupAudit _,
      // per-source umbrella over the SAME minhash/simhash CTE machinery
      // (prefixed m_/s_ so both share one WITH clause), aggregated over
      // the UNLIMITED pair frames; pairs attribute to a_id's source
      s"""WITH ${minhashEstSqlCtes("m_")},
         |${simhashSqlCtes("s_")},
         |ex AS (SELECT source, count(*) n_docs,
         |    count(*) - count(DISTINCT md5(text)) n_exact_dups
         |  FROM documents GROUP BY source),
         |mhc AS (SELECT d.source, count(*) c FROM m_est e
         |  JOIN documents d ON e.a_id = d.doc_id
         |  WHERE e.est_jaccard >= 0.8 GROUP BY 1),
         |shc AS (SELECT d.source, count(*) c FROM s_ham h
         |  JOIN documents d ON h.a_id = d.doc_id
         |  WHERE h.hamming <= 3 GROUP BY 1)
         |SELECT ex.source, n_docs, n_exact_dups,
         |  coalesce(mhc.c, 0) n_minhash_pairs,
         |  coalesce(shc.c, 0) n_simhash_pairs
         |FROM ex LEFT JOIN mhc USING (source) LEFT JOIN shc USING (source)
         |ORDER BY source""".stripMargin),

    new Query("dedup_incremental", Text.dedupIncremental _,
      // newest-decile batch vs the existing index: pairs from the SAME
      // minhash CTE machinery, restricted to (index a, new b) — a_id <
      // b_id and the batch holds the highest ids, so the restriction is
      // a pure filter on est
      s"""WITH ${minhashEstSqlCtes("i_")},
         |thr AS (SELECT CAST(ceil(max(doc_id) * 0.9) AS BIGINT) t FROM documents),
         |nv AS (SELECT b_id doc_id, a_id match_id, est_jaccard
         |  FROM i_est, thr WHERE b_id >= t AND a_id < t)
         |SELECT doc_id, match_id, est_jaccard, est_jaccard >= 0.8 is_dup FROM nv
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |  ORDER BY est_jaccard DESC, match_id) = 1
         |ORDER BY est_jaccard DESC, doc_id LIMIT 100""".stripMargin),

    new Query("text_bpe_merges", Text.bpeMerges _, bpeMergesSql),

    new Query("recon_stream_hash_diff", Recon.streamHashDiffParity _,
      // re-derives StreamingOps.streamingHashDiff's length-prefixed
      // null-safe rowChecksum (len:value, '~null~' for NULL, '|' joins,
      // md5) over the seeded divergence: %97 keys' price rounds on the
      // stream side, %101 keys vanish from the reference; price text
      // goes through DECIMAL(12,2) (the hashDiff engine-stable rule)
      """WITH s AS (SELECT o_orderkey k, o_custkey, o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 97 = 0 THEN round(o_totalprice, 0)
        |         ELSE o_totalprice END AS DECIMAL(12,2)) p FROM orders),
        |r AS (SELECT o_orderkey k, o_custkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) p FROM orders
        |  WHERE o_orderkey % 101 <> 0),
        |sh AS (SELECT k, md5(concat_ws('|',
        |    coalesce(CAST(len(CAST(o_custkey AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(o_custkey AS VARCHAR), '~null~'),
        |    coalesce(CAST(len(o_orderstatus) AS VARCHAR)
        |      || ':' || o_orderstatus, '~null~'),
        |    coalesce(CAST(len(CAST(p AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(p AS VARCHAR), '~null~'))) h FROM s),
        |rh AS (SELECT k, md5(concat_ws('|',
        |    coalesce(CAST(len(CAST(o_custkey AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(o_custkey AS VARCHAR), '~null~'),
        |    coalesce(CAST(len(o_orderstatus) AS VARCHAR)
        |      || ':' || o_orderstatus, '~null~'),
        |    coalesce(CAST(len(CAST(p AS VARCHAR)) AS VARCHAR)
        |      || ':' || CAST(p AS VARCHAR), '~null~'))) h FROM r)
        |SELECT k, status FROM (
        |  SELECT sh.k, CASE WHEN rh.h IS NULL THEN 'missing_in_reference'
        |               WHEN sh.h <> rh.h THEN 'mismatch'
        |               ELSE 'match' END status
        |  FROM sh LEFT JOIN rh ON sh.k = rh.k)
        |WHERE status <> 'match' ORDER BY k""".stripMargin),

    new Query("recon_schema_drift", Recon.schemaDriftDisk _, schemaDriftSql),

    new Query("text_bpe_segment", Text.bpeSegment _, bpeSegmentSql),

    new Query("embed_quantize_stats", Vectors.quantizeStats _,
      // int8 quantization audit: per-row metrics from the proven
      // deterministic kernel (doubles + sequential inner products; MSE
      // spelled (v.v - 2 v.d + d.d)/dim on BOTH engines), label
      // averages via the lm_score exact micro-unit sums
      """WITH b AS (SELECT label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |s AS (SELECT label, v,
        |    list_max(list_transform(v, x -> abs(x))) scale FROM b),
        |f AS (SELECT * FROM s WHERE scale > 0),
        |d AS (SELECT label, v, scale,
        |    list_transform(v, x -> round(127 * x / scale) * scale / 127) d
        |  FROM f),
        |m AS (SELECT label,
        |    CAST(round(round(scale, 6) * 1e6) AS BIGINT) sc6,
        |    CAST(round(round((list_inner_product(v, v)
        |        - 2 * list_inner_product(v, d) + list_inner_product(d, d))
        |        / len(v) * 1e6, 6) * 1e6) AS BIGINT) mse6,
        |    CAST(round(round(list_inner_product(v, d)
        |        / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(d, d))),
        |        6) * 1e6) AS BIGINT) cos6
        |  FROM d)
        |SELECT label, CAST(count(*) AS BIGINT) n,
        |  CAST((2 * CAST(sum(sc6) AS HUGEINT) * 1000000
        |      + CAST(count(*) AS HUGEINT) * 1000000)
        |    // (2 * CAST(count(*) AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    avg_scale,
        |  CAST((2 * CAST(sum(mse6) AS HUGEINT) * 1000000
        |      + CAST(count(*) AS HUGEINT) * 1000000)
        |    // (2 * CAST(count(*) AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    avg_mse_x1e6,
        |  CAST((2 * CAST(sum(cos6) AS HUGEINT) * 1000000
        |      + CAST(count(*) AS HUGEINT) * 1000000)
        |    // (2 * CAST(count(*) AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    avg_cosine
        |FROM m GROUP BY label ORDER BY label""".stripMargin),

    new Query("sample_cap_per_source",
      (s, d) => Sampling.capPerSource(s, d, k = Sampling.HarnessCapK),
      // deterministic per-source cap: md5(doc_id) rank, audit carries
      // the kept-set id sum so membership (not just size) is verified;
      // k interpolates from the one shared constant
      s"""SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(count(*) FILTER (rn <= ${graft.ops.Sampling.HarnessCapK}) AS BIGINT) n_kept,
        |  CAST(sum(doc_id) FILTER (rn <= ${graft.ops.Sampling.HarnessCapK}) AS BIGINT) kept_id_sum
        |FROM (SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn
        |  FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin),

    new Query("streaming_mix_drift", Events.mixDriftParity _,
      // re-derives StreamingOps.streamingMixDrift's per-day PSI: day
      // windows are epoch-aligned (time_bucket ≡ Spark window() under
      // UTC), counts are exact ints pivoted per reference type plus the
      // novel-type `other` bucket, shares clamp at 1e-6, q constants are
      // Events.referenceMix verbatim, and the terms sum left-to-right in
      // sorted-type order then `other` — the same double every time
      """WITH c AS MATERIALIZED (
        |  SELECT time_bucket(INTERVAL 1 DAY, ts) window_start,
        |    count(*) FILTER (event_type = 'click')    n_click,
        |    count(*) FILTER (event_type = 'purchase') n_purchase,
        |    count(*) FILTER (event_type = 'signup')   n_signup,
        |    count(*) FILTER (event_type = 'view')     n_view,
        |    count(*) FILTER (event_type NOT IN ('click','purchase','signup','view')) n_other
        |  FROM events GROUP BY 1),
        |t AS (SELECT *, n_click + n_purchase + n_signup + n_view + n_other AS n FROM c)
        |SELECT window_start, n,
        |  round(
        |    (greatest(CAST(n_click AS DOUBLE)/n, 1e-6) - 0.28)
        |      * ln(greatest(CAST(n_click AS DOUBLE)/n, 1e-6) / 0.28)
        |  + (greatest(CAST(n_purchase AS DOUBLE)/n, 1e-6) - 0.22)
        |      * ln(greatest(CAST(n_purchase AS DOUBLE)/n, 1e-6) / 0.22)
        |  + (greatest(CAST(n_signup AS DOUBLE)/n, 1e-6) - 0.20)
        |      * ln(greatest(CAST(n_signup AS DOUBLE)/n, 1e-6) / 0.20)
        |  + (greatest(CAST(n_view AS DOUBLE)/n, 1e-6) - 0.30)
        |      * ln(greatest(CAST(n_view AS DOUBLE)/n, 1e-6) / 0.30)
        |  + (greatest(CAST(n_other AS DOUBLE)/n, 1e-6) - 1e-6)
        |      * ln(greatest(CAST(n_other AS DOUBLE)/n, 1e-6) / 1e-6), 6) psi
        |FROM t ORDER BY window_start""".stripMargin),

    new Query("streaming_streak_alerts", Recon.streakAlertsParity _,
      // re-derives StreamingOps.streakAlertsBatch's gaps-and-islands
      // form over the Recon.streakFeedOrders seed: a mismatch row's
      // streak is its per-key row number minus the most recent match's,
      // and the alert is exactly the streak == 3 crossing of each run
      """WITH obs AS MATERIALIZED (
        |  SELECT o_orderkey % 499 k,
        |    make_timestamp((800000000 + o_orderkey) * 1000000) ts,
        |    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) < 'c'
        |         THEN 'mismatch' ELSE 'match' END status
        |  FROM orders),
        |r AS MATERIALIZED (
        |  SELECT k, ts, status,
        |    row_number() OVER (PARTITION BY k ORDER BY ts) rn FROM obs),
        |s AS (
        |  SELECT k, ts, status,
        |    rn - coalesce(max(CASE WHEN status = 'match' THEN rn END)
        |      OVER (PARTITION BY k ORDER BY rn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) streak
        |  FROM r)
        |SELECT k, ts, streak FROM s
        |WHERE status <> 'match' AND streak = 3 ORDER BY k, ts""".stripMargin),

    new Query("streaming_topk", Relational.minkTopkParity _,
      // re-derives StreamingOps.streamingTopK's sorted smallest-k
      // multiset (the MinK UDAF contract) as a per-group window rank —
      // the spelling MinK replaces at scale, exact at oracle size;
      // l_quantity decimals cast to double exactly. Scalar (flag, rank,
      // value) rows (the registry op posexplodes MinK's list) because
      // the driver's pandas comparator cannot sort array cells; ties on
      // l_quantity make row_number's rank assignment arbitrary among
      // equal values, so the emitted triples are still deterministic.
      """WITH r AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) q,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) rn
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(rn AS INT) AS rank, q AS value
        |FROM r WHERE rn <= 5 ORDER BY 1, 2""".stripMargin),

    new Query("streaming_click_attribution", Events.clickAttributionParity _,
      // re-derives StreamingOps.attributeClicks' interval join: same
      // user, click in [view, view + 30 min] inclusive, floor-seconds
      // latency from exact microsecond arithmetic on both engines
      """WITH v AS (SELECT user_id, ts view_ts FROM events
        |    WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts click_ts FROM events
        |    WHERE event_type = 'click')
        |SELECT v.user_id, view_ts, click_ts,
        |  (epoch_us(click_ts) - epoch_us(view_ts)) // 1000000 latency_s
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= view_ts
        |  AND click_ts <= view_ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2, 3""".stripMargin),

    new Query("streaming_zscore", Events.streamingZscoreParity _,
      // identical to the zscore_outliers oracle — the registry op calls
      // StreamingOps.streamingZscore by name, which IS zscoreScreen
      // (same function object), so one oracle grounds both entry points
      """WITH s AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) sm,
        |    CAST(sum(CAST(value*value AS DECIMAL(18,4))) AS DOUBLE) sq,
        |    count(*) cnt
        |  FROM events GROUP BY 1),
        |st AS (SELECT event_type, sm/cnt mean, sqrt((sq - sm*sm/cnt) / (cnt - 1)) sd FROM s)
        |SELECT event_id, e.event_type, value, round((value - mean)/sd, 4) + 0 z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs((value - mean)/sd) > 3
        |ORDER BY event_id""".stripMargin),

    new Query("streaming_cdc_apply", Changes.cdcApplyParity _,
      // re-derives applyChangesBatch's transform core (last-change-per-
      // key compaction by seq, then anti-join + union merge) over the
      // deterministic multi-seq I/U/D feed; poisoned seq-1 rows (+1e6)
      // move sum_price if compaction ever picks the wrong change, a
      // lost delete moves n
      """WITH raw AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000000 o_totalprice,
        |    o_orderdate, o_orderpriority, 'U' op, 1 seq
        |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 0),
        |    o_orderdate, '5-RESTATED', 'U', 2
        |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000000,
        |    o_orderdate, o_orderpriority, 'U', 1
        |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 13 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 'D', 2
        |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 13 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority, 'I', 1
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |cmp AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) rn
        |    FROM raw) WHERE rn = 1),
        |fin AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 <> 0
        |    AND o_orderkey NOT IN (SELECT o_orderkey FROM cmp)
        |  UNION ALL SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |    o_orderdate, o_orderpriority FROM cmp WHERE op <> 'D')
        |SELECT o_orderstatus, count(*) n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) sum_price,
        |  count(*) FILTER (o_orderpriority = '5-RESTATED') n_restated
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("streaming_dedup", Events.dedupStreamParity _,
      // the seeded at-least-once feed (mod-10 verbatim echo) deduped on
      // event_id: duplicates are bit-identical copies of UNIQUE base
      // ids, so DISTINCT * ≡ keep-any-per-id ≡ the state store's
      // keep-first; value sums as 6-dp micro-longs (exact), `+ 0`
      // guards the negative-zero split on a negative-valued corpus
      """WITH feed AS (
        |  SELECT * FROM events
        |  UNION ALL SELECT * FROM events WHERE event_id % 10 = 0),
        |ded AS (SELECT DISTINCT * FROM feed),
        |fed AS (SELECT event_type, count(*) n_fed FROM feed GROUP BY 1),
        |k AS (SELECT event_type, count(*) n_kept,
        |    count(DISTINCT user_id) n_users,
        |    sum(CAST(round(round(value, 6) * 1e6) AS BIGINT)) vm
        |  FROM ded GROUP BY 1)
        |SELECT event_type, n_fed, n_kept, n_fed - n_kept AS n_dupes,
        |  n_users, round(CAST(vm AS DOUBLE) / 1e6, 6) + 0 AS value_sum
        |FROM k JOIN fed USING (event_type) ORDER BY event_type""".stripMargin),

    new Query("text_boilerplate_ngrams", (s, d) => Text.boilerplateNgrams(s, d),
      // DOCUMENT frequency (DISTINCT per doc, each document votes once
      // per gram); 1-based list slicing mirrors Spark's slice(toks,i,5);
      // (n_docs DESC, gram) total order makes ids deterministic
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') ts
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ts) - 3),
        |      i -> array_to_string(ts[i:i+4], ' '))) gram
        |    FROM toks WHERE len(ts) >= 5)),
        |cnt AS (SELECT gram, count(*) n_docs FROM g GROUP BY 1),
        |tot AS (SELECT count(*) nd FROM documents),
        |ranked AS (SELECT gram, n_docs, row_number() OVER (ORDER BY n_docs DESC, gram) id FROM cnt)
        |SELECT id, gram, n_docs,
        |  CAST((2 * n_docs * 1000000 + nd) // (2 * nd) AS DOUBLE) / 1e6
        |    AS doc_share
        |FROM ranked, tot WHERE id <= 20 ORDER BY id""".stripMargin),

    new Query("embed_dim_stats", Vectors.dimStats _,
      // per-dimension audit: float widens to double (exact), Σx / Σx²
      // as exact DECIMAL(18,9) sums (the embed_centroids rule), variance
      // once in double as E[x²] − mean² with the identical spelling;
      // rounded signed columns append + 0 (the −0.0 rule); is_dead
      // compares the UNROUNDED variance on both engines
      """WITH u AS (SELECT generate_subscripts(embedding,1) pos, unnest(embedding) val
        |    FROM embeddings),
        |d AS (SELECT pos, CAST(val AS DOUBLE) vd FROM u),
        |a AS (SELECT pos, count(*) n,
        |    CAST(sum(CAST(vd AS DECIMAL(18,9))) AS DOUBLE) s1,
        |    CAST(sum(CAST(vd * vd AS DECIMAL(18,9))) AS DOUBLE) s2,
        |    min(vd) mn, max(vd) mx FROM d GROUP BY pos)
        |SELECT CAST(pos AS INT) pos, CAST(n AS BIGINT) n,
        |  round(s1/n, 6) + 0 mean_v,
        |  round(s2/n - (s1/n)*(s1/n), 6) + 0 var_v,
        |  round(mn, 6) + 0 min_v, round(mx, 6) + 0 max_v,
        |  s2/n - (s1/n)*(s1/n) < 1e-6 is_dead
        |FROM a ORDER BY pos""".stripMargin),

    new Query("dedup_lsh_calibration", (s, d) => Text.lshCalibration(s, d),
      // the whole minhash pipeline re-derived (minhashEstSqlCtes), then
      // exact distinct-token Jaccard per candidate pair and a per-decile
      // calibration rollup via order-free micro-unit sums; decile =
      // floor(est·10) is exact binary arithmetic (k/32 · 10)
      s"""WITH $minhashEstSqlCtes,
         |ctk AS (SELECT doc_id, list_distinct(string_split(text, ' ')) toks
         |  FROM documents),
         |cpj AS (SELECT est.a_id, est.b_id, est_jaccard,
         |    len(list_intersect(ta.toks, tb.toks)) icnt,
         |    len(ta.toks) alen, len(tb.toks) blen
         |  FROM est JOIN ctk ta ON est.a_id = ta.doc_id
         |  JOIN ctk tb ON est.b_id = tb.doc_id),
         |cm AS (SELECT CAST(floor(est_jaccard * 10) AS INT) est_decile,
         |    CAST(round(round(est_jaccard, 6) * 1e6) AS BIGINT) e6,
         |    (2 * icnt * 1000000 + (alen + blen - icnt))
         |      // (2 * (alen + blen - icnt)) x6,
         |    (2 * abs(CAST(round(est_jaccard * 32) AS BIGINT)
         |        * (alen + blen - icnt) - icnt * 32) * 1000000
         |      + (alen + blen - icnt) * 32)
         |      // (2 * (alen + blen - icnt) * 32) d6
         |  FROM cpj),
         |ga AS (SELECT est_decile, count(*) n, sum(e6) se, sum(x6) sx,
         |    sum(d6) sd FROM cm GROUP BY 1)
         |SELECT est_decile, CAST(n AS BIGINT) n_pairs,
         |  CAST((2 * se * 1000000 + n * 1000000) // (2 * n * 1000000)
         |    AS DOUBLE) / 1e6 AS mean_est,
         |  CAST((2 * sx * 1000000 + n * 1000000) // (2 * n * 1000000)
         |    AS DOUBLE) / 1e6 AS mean_exact,
         |  CAST((2 * sd * 1000000 + n * 1000000) // (2 * n * 1000000)
         |    AS DOUBLE) / 1e6 AS mean_abs_err
         |FROM ga ORDER BY est_decile""".stripMargin),

    new Query("events_mad_outliers", Events.madOutliers _,
      // robust median/MAD screen: both medians are DISCRETE order
      // statistics (quantile_disc ≡ percentile_disc rank ceil(n/2)),
      // dev is one exact double subtraction, the modified z-score
      // compares with the identical left-to-right spelling, and a zero
      // MAD flags nothing on both engines
      """WITH b AS (SELECT event_type, value v FROM events WHERE value IS NOT NULL),
        |m AS (SELECT event_type, quantile_disc(v, 0.50) med FROM b GROUP BY 1),
        |d AS (SELECT b.event_type, v, med, abs(v - med) dev
        |  FROM b JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_disc(dev, 0.50) mad FROM d GROUP BY 1)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) n,
        |  max(med) med, max(mad) mad,
        |  CAST(sum(CASE WHEN mad > 0 AND dev * 0.6745 / mad > 3.5
        |    THEN 1 ELSE 0 END) AS BIGINT) n_outliers,
        |  max(dev) max_dev
        |FROM d JOIN md USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin),

    new Query("corpus_filter_funnel", (s, d) => Text.filterFunnel(s, d),
      // ordered reject rules with first-failing-rule attribution; the
      // CASE short-circuits on both engines (stage 1 guards stage 3's
      // w−1 division); thresholds compare the 4-dp-rounded metrics whose
      // parity text_quality_score / text_repetition / text_entropy
      // already prove board-wide; "rule" quoted (DuckDB reserved word)
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') toks FROM documents),
        |ec AS (SELECT doc_id, round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) ent
        |  FROM (SELECT doc_id, tok, count(*) c
        |        FROM (SELECT doc_id, unnest(toks) tok FROM t) GROUP BY 1, 2)
        |  GROUP BY 1),
        |s AS (SELECT t.doc_id, len(toks) w,
        |    CAST((2 * CAST(length(text) AS HUGEINT) * 10000 + len(toks))
        |      // (2 * CAST(len(toks) AS HUGEINT)) AS DOUBLE) / 1e4 cpt,
        |    CASE WHEN len(toks) - 1 > 0 THEN
        |      CAST((2 * CAST(len(toks) - 1 - len(list_distinct(list_transform(
        |            generate_series(1, len(toks) - 1),
        |            i -> array_to_string(list_slice(toks, i, i + 1), ' '))))
        |          AS HUGEINT) * 10000 + (len(toks) - 1))
        |        // (2 * CAST(len(toks) - 1 AS HUGEINT)) AS DOUBLE) / 1e4
        |    END dup2,
        |    ent
        |  FROM t LEFT JOIN ec USING (doc_id)),
        |st AS (SELECT CASE WHEN w < 32 THEN 1
        |    WHEN cpt > 12.0 THEN 2
        |    WHEN dup2 > 0.5 THEN 3
        |    WHEN ent < 2.0 THEN 4 ELSE 5 END st FROM s),
        |agg AS (SELECT
        |    sum(CASE WHEN st = 1 THEN 1 ELSE 0 END) rej1,
        |    sum(CASE WHEN st > 1 THEN 1 ELSE 0 END) rem1,
        |    sum(CASE WHEN st = 2 THEN 1 ELSE 0 END) rej2,
        |    sum(CASE WHEN st > 2 THEN 1 ELSE 0 END) rem2,
        |    sum(CASE WHEN st = 3 THEN 1 ELSE 0 END) rej3,
        |    sum(CASE WHEN st > 3 THEN 1 ELSE 0 END) rem3,
        |    sum(CASE WHEN st = 4 THEN 1 ELSE 0 END) rej4,
        |    sum(CASE WHEN st > 4 THEN 1 ELSE 0 END) rem4
        |  FROM st)
        |SELECT u.stage,
        |  CASE u.stage WHEN 1 THEN 'min_tokens_32' WHEN 2 THEN 'chars_per_token_12'
        |    WHEN 3 THEN 'bigram_dup_0.5' ELSE 'entropy_2.0' END AS "rule",
        |  CAST(CASE u.stage WHEN 1 THEN rej1 WHEN 2 THEN rej2
        |    WHEN 3 THEN rej3 ELSE rej4 END AS BIGINT) n_rejected,
        |  CAST(CASE u.stage WHEN 1 THEN rem1 WHEN 2 THEN rem2
        |    WHEN 3 THEN rem3 ELSE rem4 END AS BIGINT) n_remaining
        |FROM agg, (SELECT unnest([1,2,3,4]) stage) u ORDER BY u.stage""".stripMargin),

    new Query("recon_ks_drift", Recon.ksDrift _,
      // exact two-sample KS: integer arithmetic to the last division —
      // cross products as HUGEINT (≡ Spark DECIMAL(38,0)), one double
      // division and the identical critical-value spelling; same-instant
      // types drop out via the lo < hi guard on both engines
      """WITH b AS (SELECT event_type, epoch_us(ts) t_us, value v
        |  FROM events WHERE value IS NOT NULL),
        |bd AS (SELECT event_type, (min(t_us) + max(t_us)) // 2 mid FROM b GROUP BY 1
        |  HAVING min(t_us) < max(t_us)),
        |sd AS (SELECT b.event_type, v, CASE WHEN t_us <= mid THEN 1 ELSE 2 END side
        |  FROM b JOIN bd USING (event_type)),
        |cells AS (SELECT event_type, v,
        |    count(*) FILTER (side = 1) c1, count(*) FILTER (side = 2) c2
        |  FROM sd GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |    sum(c1) OVER (PARTITION BY event_type ORDER BY v) cum1,
        |    sum(c2) OVER (PARTITION BY event_type ORDER BY v) cum2
        |  FROM cells),
        |tot AS (SELECT event_type,
        |    count(*) FILTER (side = 1) n1, count(*) FILTER (side = 2) n2
        |  FROM sd GROUP BY 1),
        |agg AS (SELECT cum.event_type, n1, n2,
        |    max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)) ks_num
        |  FROM cum JOIN tot USING (event_type) GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
        |  CAST((2 * ks_num * 1000000 + CAST(n1 AS HUGEINT) * n2)
        |    // (2 * CAST(n1 AS HUGEINT) * n2) AS DOUBLE) / 1e6 ks,
        |  CAST(ks_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
        |    > 1.36 * sqrt((CAST(n1 AS DOUBLE) + n2) / (CAST(n1 AS DOUBLE) * n2)) drifted
        |FROM agg ORDER BY event_type""".stripMargin),

    new Query("dedup_winnow", (s, d) => Text.dedupWinnow(s, d),
      // full winnowing re-derivation: shingle md5 stream, vectorized
      // ROWS-frame window minima (full windows only — the pos <= nwin
      // join replicates the native scanner's clamp), DISTINCT set,
      // bucket cap, pair counts; unsigned digest order ≡ hex-string
      // lexicographic order on both engines
      """WITH p AS (SELECT doc_id, text,
        |    unnest(generate_series(1, greatest(length(text)-7, 1))) pos FROM documents),
        |sh AS (SELECT doc_id, pos, md5(substr(text, CAST(pos AS INT), 8)) h FROM p),
        |nw AS (SELECT doc_id, greatest(max(pos) - 15, 1) nwin FROM sh GROUP BY 1),
        |wm AS (SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) wmin
        |  FROM sh),
        |wins AS (SELECT DISTINCT wm.doc_id, wmin fp
        |  FROM wm JOIN nw ON wm.doc_id = nw.doc_id AND wm.pos <= nw.nwin),
        |capped AS (SELECT * FROM wins
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) <= 50),
        |pairs AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) shared
        |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(shared AS BIGINT) n_shared FROM pairs
        |WHERE shared >= 2
        |ORDER BY n_shared DESC, a_id, b_id LIMIT 100""".stripMargin),

    new Query("decontaminate_winnow", (s, d) => Text.decontaminateWinnow(s, d),
      // same winnow re-derivation as dedup_winnow, split by source: the
      // eval (src0) fingerprint set vs every train doc's distinct set;
      // hits = distinct shared fingerprints, total order (hits DESC, doc)
      """WITH p AS (SELECT doc_id, source, text,
        |    unnest(generate_series(1, greatest(length(text)-7, 1))) pos FROM documents),
        |sh AS (SELECT doc_id, source, pos, md5(substr(text, CAST(pos AS INT), 8)) h FROM p),
        |nw AS (SELECT doc_id, greatest(max(pos) - 15, 1) nwin FROM sh GROUP BY 1),
        |wm AS (SELECT doc_id, source, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) wmin
        |  FROM sh),
        |wins AS (SELECT DISTINCT wm.doc_id, source, wmin fp
        |  FROM wm JOIN nw ON wm.doc_id = nw.doc_id AND wm.pos <= nw.nwin),
        |ev AS (SELECT DISTINCT fp FROM wins WHERE source = 'src0')
        |SELECT doc_id, CAST(count(*) AS BIGINT) hits
        |FROM wins JOIN ev USING (fp)
        |WHERE source <> 'src0'
        |GROUP BY 1 ORDER BY hits DESC, doc_id LIMIT 100""".stripMargin),

    new Query("graph_pagerank", Graph.pagerankParts _, pagerankSql),

    new Query("market_basket_lift", Relational.marketBasketLift _,
      // exact long counts, one IEEE double division per ratio with the
      // identical spelling — unrounded doubles already match bit-for-bit
      """WITH ob AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey k, p_brand brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS MATERIALIZED (SELECT count(DISTINCT k) n_orders FROM ob),
        |single AS MATERIALIZED (SELECT brand, count(*) c FROM ob GROUP BY 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.brand brand_a, b.brand brand_b, count(*) n_ab
        |  FROM ob a JOIN ob b ON a.k = b.k AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, n_ab,
        |  CAST((2 * n_ab * 1000000 + n_orders) // (2 * n_orders) AS DOUBLE)
        |    / 1e6 AS support,
        |  CAST((2 * n_ab * 1000000 + sa.c) // (2 * sa.c) AS DOUBLE)
        |    / 1e6 AS confidence,
        |  CAST((2 * CAST(n_ab AS HUGEINT) * n_orders * 1000000
        |      + CAST(sa.c AS HUGEINT) * sb.c)
        |    // (2 * CAST(sa.c AS HUGEINT) * sb.c) AS DOUBLE) / 1e6 AS lift
        |FROM pairs
        |JOIN single sa ON sa.brand = pairs.brand_a
        |JOIN single sb ON sb.brand = pairs.brand_b
        |CROSS JOIN tot
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 30""".stripMargin),

    new Query("events_cusum_changepoint", Events.cusumChangepoint _,
      // exact offline CUSUM: n·S_i = n·P_i − i·T clears the mean's
      // denominator, so the argmax day is pure HUGEINT ≡ DECIMAL(38,0)
      // integer arithmetic; mean_after NULL iff the peak is the last day
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, date_trunc('day', ts) d,
        |    sum(CAST(round(round(value, 6) * 1e6) AS BIGINT)) x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, d, x,
        |    sum(x) OVER (PARTITION BY event_type ORDER BY d) p,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) i,
        |    sum(x) OVER (PARTITION BY event_type) t,
        |    count(*) OVER (PARTITION BY event_type) n
        |  FROM daily),
        |c AS (SELECT event_type, d, p, i, t, n,
        |    abs(CAST(n AS HUGEINT) * p - CAST(i AS HUGEINT) * t) cv
        |  FROM w),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY event_type ORDER BY cv DESC, d) rn FROM c)
        |SELECT event_type, CAST(n AS BIGINT) n_days, d AS cp_day,
        |  CAST((2 * cv * 1000000 + CAST(n AS HUGEINT) * 1000000)
        |    // (2 * CAST(n AS HUGEINT) * 1000000) AS DOUBLE) / 1e6 AS cusum_max,
        |  CAST(CASE WHEN p >= 0 THEN
        |    (2 * CAST(p AS HUGEINT) * 1000000 + CAST(i AS HUGEINT) * 1000000)
        |      // (2 * CAST(i AS HUGEINT) * 1000000)
        |  ELSE -((2 * CAST(-p AS HUGEINT) * 1000000
        |      + CAST(i AS HUGEINT) * 1000000)
        |    // (2 * CAST(i AS HUGEINT) * 1000000)) END AS DOUBLE) / 1e6
        |    AS mean_before,
        |  CASE WHEN i < n THEN
        |    CAST(CASE WHEN t - p >= 0 THEN
        |      (2 * CAST(t - p AS HUGEINT) * 1000000
        |        + CAST(n - i AS HUGEINT) * 1000000)
        |        // (2 * CAST(n - i AS HUGEINT) * 1000000)
        |    ELSE -((2 * CAST(p - t AS HUGEINT) * 1000000
        |        + CAST(n - i AS HUGEINT) * 1000000)
        |      // (2 * CAST(n - i AS HUGEINT) * 1000000)) END AS DOUBLE) / 1e6
        |  END AS mean_after
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin),

    new Query("orders_pareto_abc", Relational.paretoAbc _,
      // value-granular ABC: the oracle spells the DIRECT window form
      // (cumBefore per distinct value, exact long comparisons at the
      // 80/95 boundaries); the engine's histogram-threshold algorithm
      // is provably equivalent by monotonicity of cumBefore in v
      """WITH rev AS MATERIALIZED (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) c
        |  FROM orders GROUP BY 1),
        |vals AS MATERIALIZED (SELECT c v, sum(c) w FROM rev GROUP BY 1),
        |tot AS MATERIALIZED (SELECT sum(w) t FROM vals),
        |cb AS (SELECT v, coalesce(sum(w) OVER (ORDER BY v DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cumb FROM vals),
        |cls AS (SELECT r.o_custkey, r.c,
        |    CASE WHEN 5 * cumb < 4 * t THEN 'A'
        |         WHEN 20 * cumb < 19 * t THEN 'B' ELSE 'C' END k
        |  FROM rev r JOIN cb ON r.c = cb.v CROSS JOIN tot)
        |SELECT k AS abc_class, CAST(count(*) AS BIGINT) n_customers,
        |  CAST((2 * CAST(sum(c) AS HUGEINT) * 100 + 10000) // 20000 AS DOUBLE)
        |    / 1e2 AS revenue,
        |  CAST((2 * CAST(sum(c) AS HUGEINT) * 1000000 + t)
        |    // (2 * CAST(t AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue_share
        |FROM cls CROSS JOIN tot GROUP BY k, t ORDER BY k""".stripMargin),

    new Query("recon_benford", Recon.benford _,
      // the nine Benford probabilities are the IDENTICAL double
      // literals (no engine log10 — libm last-ulp risk); first digit
      // via integer-string arithmetic on the DECIMAL(18,4) unscaled
      // long; χ² total = 6-dp-rounded parts summed as micro-unit longs
      """WITH b AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) digit,
        |    unnest(CAST([0.3010299956639812,0.17609125905568124,
        |      0.12493873660829992,0.09691001300805642,0.07918124604762482,
        |      0.06694678963061322,0.05799194697768673,0.05115252244738129,
        |      0.04575749056067514] AS DOUBLE[])) p),
        |obs AS MATERIALIZED (
        |  SELECT CAST(substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * 10000 AS BIGINT) AS VARCHAR), 1, 1) AS INT) digit, count(*) o
        |  FROM lineitem WHERE l_extendedprice > 0 GROUP BY 1),
        |j AS (SELECT b.digit, coalesce(o, 0) o, p FROM b LEFT JOIN obs USING (digit)),
        |tot AS (SELECT sum(o) n FROM j),
        |parts AS (SELECT digit, o, p, n,
        |    round((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |      * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |      / (CAST(n AS DOUBLE) * p), 6) chi2_part
        |  FROM j CROSS JOIN tot),
        |ct AS (SELECT sum(CAST(round(chi2_part * 1e6) AS BIGINT)) ctm FROM parts)
        |SELECT digit, CAST(o AS BIGINT) n_obs,
        |  CAST((2 * o * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6
        |    AS obs_share,
        |  CAST(round(p, 4) AS DOUBLE) AS exp_share,
        |  chi2_part,
        |  round(CAST(ctm AS DOUBLE) / 1e6, 6) AS chi2_total,
        |  CAST(ctm AS DOUBLE) / 1e6 > 15.507 AS drifted
        |FROM parts CROSS JOIN ct ORDER BY digit""".stripMargin),

    new Query("text_readability", (s, d) => Text.readability(s, d),
      // effective sentences = max(punctuation runs, ceil(w/16)) — the
      // documented fallback for this punctuation-free corpus; scores
      // are single identically-spelled double expressions
      """WITH m AS (SELECT doc_id, length(text) > 0 nz,
        |    len(string_split(text, ' ')) w,
        |    len(regexp_extract_all(text, '[.!?]+')) sp,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) syl,
        |    len(regexp_extract_all(text, '[^ ]{7,}')) lw
        |  FROM documents),
        |e AS (SELECT doc_id, nz, w, greatest(sp, (w + 15) // 16) s, syl, lw FROM m)
        |SELECT doc_id, CAST(w AS BIGINT) n_words, CAST(s AS BIGINT) n_sentences,
        |  CAST(syl AS BIGINT) n_syllables, CAST(lw AS BIGINT) n_long,
        |  CASE WHEN nz THEN
        |    round(206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |      - 84.6 * (CAST(syl AS DOUBLE) / w), 6) + 0 END AS fre,
        |  CASE WHEN nz THEN
        |    round(0.39 * (CAST(w AS DOUBLE) / s)
        |      + 11.8 * (CAST(syl AS DOUBLE) / w) - 15.59, 6) + 0 END AS fk_grade,
        |  CASE WHEN nz THEN
        |    CAST((2 * (CAST(w AS HUGEINT) * w + 100 * CAST(lw AS HUGEINT) * s)
        |        * 1000000 + CAST(s AS HUGEINT) * w)
        |      // (2 * CAST(s AS HUGEINT) * w) AS DOUBLE) / 1e6 END AS lix
        |FROM e ORDER BY doc_id LIMIT 1000""".stripMargin),

    new Query("graph_components", Graph.copurchaseComponents _, componentsSql),

    new Query("ann_ivf_recall", (s, d) => Vectors.annIvfRecall(s, d), ivfRecallSql),

    new Query("graph_triangles", Graph.copurchaseTriangles _,
      // sorted-triple orientation (a < b < c) generates each triangle
      // exactly once; wedges = Σ d·(d−1)/2 exact longs; the one double
      // division is identically spelled; basket cap mirrored from
      // Graph.MaxBasketParts (see pagerankSql)
      (s"""WITH ${strongEdgeCtes("e")},
        |deg AS (SELECT v, count(*) d FROM (
        |    SELECT a v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |wa AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) wedges,
        |    CAST(count(*) AS BIGINT) n_nodes FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) n_edges FROM e),
        |tr AS (SELECT CAST(count(*) AS BIGINT) triangles
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT n_nodes, n_edges, triangles, wedges,
        |  CASE WHEN wedges > 0 THEN
        |    CAST((2 * CAST(triangles AS HUGEINT) * 3 * 1000000 + wedges)
        |      // (2 * CAST(wedges AS HUGEINT)) AS DOUBLE) / 1e6
        |  END AS transitivity
        |FROM tr CROSS JOIN wa CROSS JOIN ne""").stripMargin),

    new Query("recon_wasserstein_drift", Recon.wassersteinDrift _,
      // W₁ over the distinct-value grid with both denominators cleared:
      // Σ |cum1·n2 − cum2·n1| · gap in HUGEINT ≡ DECIMAL(38,0); values
      // quantized to 6-dp micro-unit longs; identical structural guards
      // (lo < hi split, non-empty sides, rng > 0) on both engines
      """WITH b AS (SELECT event_type, epoch_us(ts) t_us,
        |    CAST(round(round(value, 6) * 1e6) AS BIGINT) v
        |  FROM events WHERE value IS NOT NULL),
        |bd AS (SELECT event_type, (min(t_us) + max(t_us)) // 2 mid FROM b GROUP BY 1
        |  HAVING min(t_us) < max(t_us)),
        |sd AS (SELECT b.event_type, v, CASE WHEN t_us <= mid THEN 1 ELSE 2 END side
        |  FROM b JOIN bd USING (event_type)),
        |cells AS (SELECT event_type, v,
        |    count(*) FILTER (side = 1) c1, count(*) FILTER (side = 2) c2
        |  FROM sd GROUP BY 1, 2),
        |cum AS (SELECT event_type, v,
        |    sum(c1) OVER w cum1, sum(c2) OVER w cum2,
        |    lead(v) OVER w nxt
        |  FROM cells WINDOW w AS (PARTITION BY event_type ORDER BY v)),
        |tot AS (SELECT event_type,
        |    sum(c1) n1, sum(c2) n2, max(v) - min(v) rng
        |  FROM cells GROUP BY 1
        |  HAVING sum(c1) > 0 AND sum(c2) > 0 AND max(v) > min(v)),
        |agg AS (SELECT cum.event_type, n1, n2, rng,
        |    sum(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1)
        |      * (nxt - v)) w1num
        |  FROM cum JOIN tot USING (event_type) WHERE nxt IS NOT NULL
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, CAST(n1 AS BIGINT) n1, CAST(n2 AS BIGINT) n2,
        |  CAST((2 * w1num * 1000000 + CAST(n1 AS HUGEINT) * n2 * 1000000)
        |    // (2 * CAST(n1 AS HUGEINT) * n2 * 1000000) AS DOUBLE) / 1e6 AS w1,
        |  CAST((2 * w1num * 1000000 + CAST(n1 AS HUGEINT) * n2 * rng)
        |    // (2 * CAST(n1 AS HUGEINT) * n2 * rng) AS DOUBLE) / 1e6 AS w1_norm
        |FROM agg ORDER BY event_type""".stripMargin),

    new Query("events_markov_stationary", Events.markovStationary _, markovSql),

    new Query("text_js_divergence", (s, d) => Text.jsDivergence(s, d), jsDivergenceSql),

    new Query("orders_trend_forecast", Relational.trendForecast _,
      // OLS with cleared denominators: num/denx/deny are exact HUGEINT
      // ≡ DECIMAL(38,0); the only doubles are the final identically-
      // spelled divisions; single-month groups NULL via denx > 0
      """WITH m AS (SELECT o_orderpriority pri, date_trunc('month', o_orderdate) mon,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT) y
        |  FROM orders GROUP BY 1, 2),
        |x AS (SELECT pri, mon, y,
        |    CAST(datediff('month', fm, mon) AS BIGINT) x
        |  FROM m JOIN (SELECT pri, min(mon) fm FROM m GROUP BY 1) f USING (pri)),
        |s AS (SELECT pri, count(*) n, sum(x) sx, sum(CAST(y AS HUGEINT)) sy,
        |    sum(CAST(x AS HUGEINT) * y) sxy, sum(CAST(x AS HUGEINT) * x) sxx,
        |    sum(CAST(y AS HUGEINT) * y) syy, max(x) mx
        |  FROM x GROUP BY 1),
        |d AS (SELECT pri, n, mx,
        |    n * sxy - sx * sy num,
        |    n * sxx - CAST(sx AS HUGEINT) * sx denx,
        |    n * syy - sy * sy deny,
        |    sx, sy
        |  FROM s)
        |SELECT pri AS o_orderpriority, CAST(n AS BIGINT) n_months,
        |  CASE WHEN denx > 0 THEN
        |    CAST((CASE WHEN num >= 0 THEN 1 ELSE -1 END)
        |      * ((2 * abs(num) * 1000000 + denx * 10000)
        |        // (2 * denx * 10000)) AS DOUBLE) / 1e6
        |  END AS slope,
        |  CASE WHEN denx > 0 THEN
        |    CAST((CASE WHEN sy * denx - num * sx >= 0 THEN 1 ELSE -1 END)
        |      * ((2 * abs(sy * denx - num * sx) * 100 + denx * n * 10000)
        |        // (2 * denx * n * 10000)) AS DOUBLE) / 1e2 END AS intercept,
        |  CASE WHEN denx > 0 THEN
        |    CAST((CASE WHEN sy * denx - num * sx + num * n * (mx + 1) >= 0
        |        THEN 1 ELSE -1 END)
        |      * ((2 * abs(sy * denx - num * sx + num * n * (mx + 1)) * 100
        |          + denx * n * 10000)
        |        // (2 * denx * n * 10000)) AS DOUBLE) / 1e2
        |  END AS forecast_next,
        |  CASE WHEN denx > 0 AND deny > 0 THEN
        |    round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
        |      / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 6) + 0 END AS r2
        |FROM d ORDER BY pri""".stripMargin),

    new Query("events_stickiness", Events.stickiness _,
      // one distinct (month, day, user) collapse feeds both counts;
      // ratio = Σdau / (n_days · mau) — exact longs, one division
      """WITH ud AS (SELECT DISTINCT date_trunc('month', ts) mon,
        |    date_trunc('day', ts) d, user_id FROM events),
        |dau AS (SELECT mon, d, count(*) dau FROM ud GROUP BY 1, 2),
        |mau AS (SELECT mon, count(*) mau FROM (
        |    SELECT DISTINCT mon, user_id FROM ud) GROUP BY 1)
        |SELECT dau.mon AS month, CAST(count(*) AS BIGINT) n_days,
        |  CAST(sum(dau) AS BIGINT) dau_total, mau,
        |  CAST((2 * CAST(sum(dau) AS HUGEINT) * 1000000 + count(*) * mau)
        |    // (2 * CAST(count(*) AS HUGEINT) * mau) AS DOUBLE) / 1e6
        |    AS stickiness
        |FROM dau JOIN mau USING (mon) GROUP BY 1, mau ORDER BY 1""".stripMargin),

    new Query("events_seasonal_naive", Events.seasonalNaive _,
      // MASE with cleared denominators: e7·n1 / (d1·n7) as HUGEINT ≡
      // DECIMAL(38,0) products, one double division; seasonal_wins is
      // a pure integer comparison; NULL guards identical
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, date_trunc('day', ts) d,
        |    sum(CAST(round(round(value, 6) * 1e6) AS BIGINT)) y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |lagd AS (SELECT event_type, d, y,
        |    lag(y, 7) OVER w y7, lag(y, 1) OVER w y1
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |s AS (SELECT event_type, count(*) n_days,
        |    sum(CASE WHEN y7 IS NOT NULL THEN abs(y - y7) END) e7,
        |    sum(CASE WHEN y7 IS NOT NULL THEN 1 ELSE 0 END) n7,
        |    sum(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END) d1,
        |    sum(CASE WHEN y1 IS NOT NULL THEN 1 ELSE 0 END) n1
        |  FROM lagd GROUP BY 1)
        |SELECT event_type, CAST(n_days AS BIGINT) n_days,
        |  CASE WHEN n7 > 0 THEN
        |    CAST((2 * CAST(e7 AS HUGEINT) * 1000000 + n7 * 1000000)
        |      // (2 * CAST(n7 AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |  END AS mae_seasonal,
        |  CASE WHEN n1 > 0 THEN
        |    CAST((2 * CAST(d1 AS HUGEINT) * 1000000 + n1 * 1000000)
        |      // (2 * CAST(n1 AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |  END AS mae_naive,
        |  CASE WHEN n7 > 0 AND d1 > 0 THEN
        |    CAST((2 * CAST(e7 AS HUGEINT) * n1 * 1000000
        |        + CAST(d1 AS HUGEINT) * n7)
        |      // (2 * CAST(d1 AS HUGEINT) * n7) AS DOUBLE) / 1e6
        |  END AS mase,
        |  CASE WHEN n7 > 0 AND d1 > 0 THEN
        |    CAST(e7 AS HUGEINT) * n1 < CAST(d1 AS HUGEINT) * n7
        |  END AS seasonal_wins
        |FROM s ORDER BY event_type""".stripMargin),

    new Query("events_user_gini", Events.userGini _,
      // grouped-value closed-form Gini: Σᵢi·xᵢ is tie-invariant and
      // equals Σ_blocks v·(w·wp + w(w+1)/2); all terms HUGEINT ≡
      // DECIMAL(38,0), one identically-spelled double division
      """WITH cnts AS MATERIALIZED (
        |  SELECT event_type, user_id, count(*) c FROM events GROUP BY 1, 2),
        |hist AS (SELECT event_type, c v, count(*) w FROM cnts GROUP BY 1, 2),
        |cum AS (SELECT event_type, v, w,
        |    coalesce(sum(w) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) wp
        |  FROM hist),
        |s AS (SELECT event_type, sum(w) n, sum(CAST(v AS HUGEINT) * w) sx,
        |    sum(CAST(v AS HUGEINT) * (CAST(w AS HUGEINT) * wp * 2
        |      + CAST(w AS HUGEINT) * (w + 1))) six2
        |  FROM cum GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) n_users,
        |  CAST(sx AS BIGINT) total_events,
        |  CAST((CASE WHEN six2 - (n + 1) * sx >= 0 THEN 1 ELSE -1 END)
        |    * ((2 * abs(six2 - (n + 1) * sx) * 1000000 + n * sx)
        |      // (2 * n * sx)) AS DOUBLE) / 1e6 AS gini
        |FROM s ORDER BY event_type""".stripMargin),

    new Query("events_autocorrelation", Events.autocorrelation _,
      // denominator-cleared ACF: acf_k = Σ(n·yₜ−S)(n·yₜ₋ₖ−S)/Σ(n·yₜ−S)²,
      // all terms HUGEINT ≡ DECIMAL(38,0); constant series → den 0 → NULL
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, date_trunc('day', ts) d,
        |    sum(CAST(round(round(value, 6) * 1e6) AS BIGINT)) y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, d, y,
        |    lag(y, 1) OVER pw y1, lag(y, 7) OVER pw y7,
        |    count(*) OVER (PARTITION BY event_type) n,
        |    sum(y) OVER (PARTITION BY event_type) s
        |  FROM daily WINDOW pw AS (PARTITION BY event_type ORDER BY d)),
        |a AS (SELECT event_type, max(n) n,
        |    sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) den,
        |    sum(CASE WHEN y1 IS NOT NULL THEN
        |      (CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y1 - s) END) num1,
        |    sum(CASE WHEN y7 IS NOT NULL THEN
        |      (CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y7 - s) END) num7
        |  FROM w GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) n_days,
        |  CASE WHEN den > 0 THEN
        |    CAST((CASE WHEN num1 >= 0 THEN 1 ELSE -1 END)
        |      * ((2 * abs(num1) * 1000000 + den) // (2 * den)) AS DOUBLE) / 1e6
        |  END AS acf1,
        |  CASE WHEN den > 0 THEN
        |    CAST((CASE WHEN num7 >= 0 THEN 1 ELSE -1 END)
        |      * ((2 * abs(num7) * 1000000 + den) // (2 * den)) AS DOUBLE) / 1e6
        |  END AS acf7
        |FROM a ORDER BY event_type""".stripMargin),

    new Query("orders_crosstab_chisq", Relational.crosstabChisq _,
      // two-way independence χ²: dev = O·N − rt·ct clears the expected
      // count's denominator (HUGEINT ≡ DECIMAL(38,0)); per-cell terms
      // round 6dp into micro-longs before the exact total (lm_score
      // discipline); Cramér's V via IEEE sqrt of the identical chain
      """WITH cells AS MATERIALIZED (
        |  SELECT o_orderstatus st, o_orderpriority pr, count(*) o
        |  FROM orders GROUP BY 1, 2),
        |tot AS MATERIALIZED (SELECT sum(o) n, count(DISTINCT st) r,
        |    count(DISTINCT pr) c FROM cells),
        |m AS (SELECT st, pr, o,
        |    sum(o) OVER (PARTITION BY st) rt,
        |    sum(o) OVER (PARTITION BY pr) ct FROM cells),
        |t AS (SELECT st, pr, o, rt, ct, n, r, c,
        |    CAST((2 * CAST(rt AS HUGEINT) * ct * 1000000 + n)
        |      // (2 * CAST(n AS HUGEINT)) AS BIGINT) e_micro,
        |    CAST((2 * (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct)
        |        * (CAST(o AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct) * 1000000
        |        + CAST(n AS HUGEINT) * rt * ct)
        |      // (2 * CAST(n AS HUGEINT) * rt * ct) AS BIGINT) contrib_micro
        |  FROM m CROSS JOIN tot),
        |s AS (SELECT sum(contrib_micro) chi2_micro FROM t)
        |SELECT st AS o_orderstatus, pr AS o_orderpriority,
        |  CAST(o AS BIGINT) n_obs,
        |  round(e_micro / 1e6, 6) AS expected,
        |  round(contrib_micro / 1e6, 6) AS contrib,
        |  round(chi2_micro / 1e6, 6) AS chi2_total,
        |  CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
        |  CASE WHEN least(r - 1, c - 1) > 0 THEN
        |    round(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6 / n
        |      / least(r - 1, c - 1)), 6) END AS cramers_v
        |FROM t CROSS JOIN s ORDER BY 1, 2""".stripMargin),

    new Query("events_user_overlap", Events.userOverlap _,
      // exact distinct-user audiences per type; Jaccard and overlap
      // coefficient are single double divisions of exact longs
      """WITH tu AS MATERIALIZED (
        |  SELECT DISTINCT event_type t, user_id u FROM events),
        |n AS MATERIALIZED (SELECT t, count(*) nu FROM tu GROUP BY 1),
        |inter AS (SELECT a.t ta, b.t tb, count(*) i
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t GROUP BY 1, 2)
        |SELECT ta AS type_a, tb AS type_b, na.nu n_a, nb.nu n_b,
        |  CAST(i AS BIGINT) n_common,
        |  CAST((2 * i * 1000000 + (na.nu + nb.nu - i))
        |    // (2 * (na.nu + nb.nu - i)) AS DOUBLE) / 1e6 AS jaccard,
        |  CAST((2 * i * 1000000 + least(na.nu, nb.nu))
        |    // (2 * least(na.nu, nb.nu)) AS DOUBLE) / 1e6 AS overlap_coef
        |FROM inter JOIN n na ON na.t = ta JOIN n nb ON nb.t = tb
        |ORDER BY 1, 2""".stripMargin),

    new Query("events_weekly_spectrum", Events.weeklySpectrum _,
      // period-7 periodogram bin with 6-dp FIXED-POINT literal DFT
      // tables (no engine trig — the benford discipline); mean leakage
      // clears exactly: A = n·Σy·c − Σy·Σc as HUGEINT ≡ DECIMAL(38,0);
      // final chain is identical IEEE doubles (squares + one sqrt)
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, date_trunc('day', ts) d,
        |    sum(CAST(round(round(value, 6) * 1e6) AS BIGINT)) y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT event_type, y,
        |    date_diff('day', DATE '1970-01-01', d) % 7 dow,
        |    count(*) OVER (PARTITION BY event_type) n,
        |    sum(y) OVER (PARTITION BY event_type) s FROM daily),
        |co AS (SELECT event_type, y, n, s,
        |    CASE dow WHEN 0 THEN 1000000 WHEN 1 THEN 623490
        |      WHEN 2 THEN -222521 WHEN 3 THEN -900969 WHEN 4 THEN -900969
        |      WHEN 5 THEN -222521 ELSE 623490 END c,
        |    CASE dow WHEN 0 THEN 0 WHEN 1 THEN 781831 WHEN 2 THEN 974928
        |      WHEN 3 THEN 433884 WHEN 4 THEN -433884 WHEN 5 THEN -974928
        |      ELSE -781831 END sv
        |  FROM w),
        |g AS (SELECT event_type, max(n) n, sum(y) sy,
        |    sum(CAST(y AS HUGEINT) * c) a0, sum(CAST(y AS HUGEINT) * sv) b0,
        |    sum(c) cs, sum(sv) ss,
        |    sum((CAST(n AS HUGEINT) * y - s) * (CAST(n AS HUGEINT) * y - s)) den
        |  FROM co GROUP BY 1),
        |d2 AS (SELECT event_type, n, den,
        |    CAST(n AS HUGEINT) * a0 - CAST(sy AS HUGEINT) * cs aa,
        |    CAST(n AS HUGEINT) * b0 - CAST(sy AS HUGEINT) * ss bb
        |  FROM g)
        |SELECT event_type, CAST(n AS BIGINT) n_days,
        |  round(2 * sqrt(CAST(aa AS DOUBLE) * CAST(aa AS DOUBLE)
        |    + CAST(bb AS DOUBLE) * CAST(bb AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * n * 1e12), 6) AS weekly_amp,
        |  CASE WHEN den > 0 THEN
        |    round(2 * (CAST(aa AS DOUBLE) * CAST(aa AS DOUBLE)
        |      + CAST(bb AS DOUBLE) * CAST(bb AS DOUBLE))
        |      / (1e12 * CAST(n AS DOUBLE) * CAST(den AS DOUBLE)), 6)
        |  END AS weekly_power_share
        |FROM d2 ORDER BY event_type""".stripMargin),

    new Query("customer_repeat_survival", Relational.repeatSurvival _,
      // exact discrete order statistics ((date, orderkey) tie-break),
      // exact day gaps, ONE conditional-aggregate pass for all four
      // thresholds; shares NULL-guarded identically on both engines
      """WITH ranked AS MATERIALIZED (
        |  SELECT o_custkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) rn
        |  FROM orders),
        |cust AS MATERIALIZED (SELECT o_custkey,
        |    max(CASE WHEN rn = 1 THEN o_orderdate END) da,
        |    max(CASE WHEN rn = 2 THEN o_orderdate END) db
        |  FROM ranked WHERE rn <= 2 GROUP BY 1),
        |base AS MATERIALIZED (SELECT count(*) n_customers,
        |    sum(CASE WHEN db IS NOT NULL THEN 1 ELSE 0 END) n_repeaters
        |  FROM cust),
        |counts AS MATERIALIZED (SELECT
        |    sum(CASE WHEN g <= 7 THEN 1 ELSE 0 END) c7,
        |    sum(CASE WHEN g <= 30 THEN 1 ELSE 0 END) c30,
        |    sum(CASE WHEN g <= 60 THEN 1 ELSE 0 END) c60,
        |    sum(CASE WHEN g <= 90 THEN 1 ELSE 0 END) c90
        |  FROM (SELECT date_diff('day', da, db) g FROM cust
        |        WHERE db IS NOT NULL)),
        |th AS (SELECT unnest([7, 30, 60, 90]) t)
        |SELECT t AS threshold_days, CAST(n_customers AS BIGINT) n_customers,
        |  CAST(n_repeaters AS BIGINT) n_repeaters,
        |  CAST(CASE t WHEN 7 THEN c7 WHEN 30 THEN c30 WHEN 60 THEN c60
        |    ELSE c90 END AS BIGINT) n_repeat_within,
        |  CASE WHEN n_repeaters > 0 THEN
        |    CAST((2 * (CASE t WHEN 7 THEN c7 WHEN 30 THEN c30
        |      WHEN 60 THEN c60 ELSE c90 END) * 1000000 + n_repeaters)
        |      // (2 * n_repeaters) AS DOUBLE) / 1e6
        |  END AS share_of_repeaters,
        |  CASE WHEN n_customers > 0 THEN
        |    CAST((2 * (CASE t WHEN 7 THEN c7 WHEN 30 THEN c30
        |      WHEN 60 THEN c60 ELSE c90 END) * 1000000 + n_customers)
        |      // (2 * n_customers) AS DOUBLE) / 1e6
        |  END AS share_of_customers
        |FROM th CROSS JOIN base CROSS JOIN counts
        |ORDER BY 1""".stripMargin),

    new Query("embed_dim_correlation", Vectors.dimCorrelation _,
      // exact micro-integer cross-moments; Pearson denominators clear
      // (num = n·Sij − Si·Sj as HUGEINT ≡ DECIMAL(38,0)); final chain
      // is two IEEE sqrts + one division; the top-20 cut sorts the
      // ROUNDED |corr| with (i, j) tie-break
      """WITH em AS MATERIALIZED (
        |  SELECT list_transform(embedding,
        |    v -> CAST(round(round(v, 6) * 1e6) AS BIGINT)) e
        |  FROM embeddings WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, v -> v IS NULL)) = 0),
        |dims AS MATERIALIZED (
        |  SELECT i, count(*) n, sum(v) si, sum(CAST(v AS HUGEINT) * v) sii
        |  FROM (SELECT unnest(e) v, generate_subscripts(e, 1) i FROM em)
        |  GROUP BY 1),
        |pe AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(e)), i ->
        |    list_transform(range(i + 1, len(e) + 1), j ->
        |      {'i': i, 'j': j, 'p': e[i] * e[j]})))) u
        |  FROM em),
        |pairs AS (SELECT u.i i, u.j j, sum(CAST(u.p AS HUGEINT)) sij
        |  FROM pe GROUP BY 1, 2),
        |c AS (
        |  SELECT p.i, p.j,
        |    CAST(di.n AS HUGEINT) * p.sij - CAST(di.si AS HUGEINT) * dj.si num,
        |    CAST(di.n AS HUGEINT) * di.sii - CAST(di.si AS HUGEINT) * di.si denx,
        |    CAST(dj.n AS HUGEINT) * dj.sii - CAST(dj.si AS HUGEINT) * dj.si deny
        |  FROM pairs p JOIN dims di ON di.i = p.i JOIN dims dj ON dj.i = p.j),
        |r AS (
        |  SELECT i, j, round(CAST(num AS DOUBLE)
        |    / (sqrt(CAST(denx AS DOUBLE)) * sqrt(CAST(deny AS DOUBLE))), 6) + 0 corr
        |  FROM c WHERE denx > 0 AND deny > 0)
        |SELECT CAST(i AS BIGINT) dim_i, CAST(j AS BIGINT) dim_j, corr,
        |  abs(corr) + 0 AS abs_corr
        |FROM r ORDER BY abs(corr) DESC, i, j LIMIT 20""".stripMargin),

    new Query("graph_degree_distribution", Graph.degreeDistribution _,
      // same strong (w ≥ 2) edge set as components/triangles; all
      // integers except one integer-rounded share; basket cap mirrored
      // from Graph.MaxBasketParts (see pagerankSql)
      (s"""WITH ${strongEdgeCtes("e")},
        |deg AS (SELECT v, count(*) d FROM (
        |    SELECT a v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |hist AS (SELECT d degree, count(*) n_nodes FROM deg GROUP BY 1),
        |tot AS (SELECT sum(n_nodes) tn FROM hist)
        |SELECT CAST(degree AS BIGINT) degree, CAST(n_nodes AS BIGINT) n_nodes,
        |  CAST((2 * n_nodes * 1000000 + tn) // (2 * tn) AS DOUBLE) / 1e6
        |    AS node_share
        |FROM hist CROSS JOIN tot ORDER BY degree""").stripMargin),

    new Query("text_keyword_rake", (s, d) => Text.keywordRake(s, d),
      // gaps-and-islands phrase decomposition; word score deg/freq is
      // ONE integer-ratio double division rounded 6dp into micro-longs,
      // so phrase scores and the top-20 order are exact integers;
      // stopword list = the qualityScore five, literal on both engines
      ("""WITH toks AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) tok,
        |    generate_subscripts(string_split(text, ' '), 1) pos
        |  FROM documents),
        |nz AS (SELECT doc_id, tok, pos FROM toks
        |  WHERE tok <> '' AND tok NOT IN ('the', 'a', 'of', 'and', 'to')),
        |isl AS (SELECT doc_id, tok, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) grp
        |  FROM nz),
        |ph AS (SELECT doc_id, tok, pos, grp,
        |    count(*) OVER (PARTITION BY doc_id, grp) plen
        |  FROM isl),
        |keep AS MATERIALIZED (SELECT * FROM ph WHERE plen <= """ +
        Text.RakeMaxLen + """),
        |ws AS MATERIALIZED (SELECT tok,
        |    CAST((2 * CAST(sum(plen) AS HUGEINT) * 1000000 + count(*))
        |      // (2 * CAST(count(*) AS HUGEINT)) AS BIGINT) score_micro
        |  FROM keep GROUP BY 1),
        |phr AS (SELECT k.doc_id, k.grp,
        |    string_agg(k.tok, ' ' ORDER BY k.pos) phrase,
        |    sum(ws.score_micro) ps
        |  FROM keep k JOIN ws ON ws.tok = k.tok GROUP BY 1, 2)
        |SELECT phrase, CAST(count(*) AS BIGINT) n_occurrences,
        |  round(max(ps) / 1e6, 6) AS rake_score
        |FROM phr GROUP BY phrase
        |ORDER BY max(ps) DESC, phrase LIMIT 20""").stripMargin),

    new Query("events_entropy_rate", Events.entropyRate _,
      // per-state Shannon entropy of outgoing transitions: each term
      // −p·log₂(p) rounds 6dp into micro-longs before the EXACT sum
      // (lm_score/JSD log-family discipline); (-p)*q ≡ -(p*q) in IEEE
      """WITH tr AS MATERIALIZED (
        |  SELECT f, t, count(*) c FROM (
        |    SELECT event_type f, lead(event_type, 1) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) t FROM events)
        |  WHERE t IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT f, t, c, sum(c) OVER (PARTITION BY f) cf FROM tr),
        |h AS (SELECT f, max(cf) cf, count(*) n_targets,
        |    sum(CAST(round(round(-(CAST(c AS DOUBLE) / cf)
        |      * log2(CAST(c AS DOUBLE) / cf), 6) * 1e6) AS BIGINT)) hm
        |  FROM w GROUP BY 1),
        |tot AS (SELECT sum(c) nn FROM tr)
        |SELECT f AS from_type, CAST(cf AS BIGINT) n_trans,
        |  CAST(n_targets AS BIGINT) n_targets,
        |  round(hm / 1e6, 6) AS entropy_bits,
        |  CAST((2 * CAST(cf AS HUGEINT) * hm * 1000000
        |      + CAST(nn AS HUGEINT) * 1000000)
        |    // (2 * CAST(nn AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    AS rate_contrib_bits
        |FROM h CROSS JOIN tot ORDER BY 1""".stripMargin),

    new Query("lineitem_price_index", Relational.priceIndex _,
      // Laspeyres/Paasche/Fisher vs the first month: revenue in exact
      // 1e-4 longs, quantities in micro longs; base month = 1.0
      // exactly. lden/pnum are exact multiplies (ratioScaled(rev·q·100,
      // q) ≡ rev·100 — the round-16 identity-division finding); only
      // lnum/pden pay a 128-bit half-away division
      """WITH pm AS MATERIALIZED (
        |  SELECT l_partkey p, date_trunc('month', l_shipdate) m,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |      rev4,
        |    sum(CAST(round(round(l_quantity, 6) * 1e6) AS BIGINT)) qty6
        |  FROM lineitem GROUP BY 1, 2 HAVING qty6 > 0),
        |b0 AS MATERIALIZED (SELECT min(m) m0 FROM pm),
        |base AS MATERIALIZED (
        |  SELECT p, rev4 rev04, qty6 qty06 FROM pm CROSS JOIN b0 WHERE m = m0),
        |j AS (SELECT pm.m,
        |    CAST((2 * CAST(pm.rev4 AS HUGEINT) * base.qty06 * 100 + pm.qty6)
        |      // (2 * CAST(pm.qty6 AS HUGEINT)) AS BIGINT) lnum,
        |    CAST(base.rev04 * 100 AS BIGINT) lden,
        |    CAST(pm.rev4 * 100 AS BIGINT) pnum,
        |    CAST((2 * CAST(base.rev04 AS HUGEINT) * pm.qty6 * 100 + base.qty06)
        |      // (2 * CAST(base.qty06 AS HUGEINT)) AS BIGINT) pden
        |  FROM pm JOIN base USING (p)),
        |s AS (SELECT m, count(*) n_parts,
        |    sum(lnum) ln_, sum(lden) ld, sum(pnum) pn, sum(pden) pd
        |  FROM j GROUP BY 1)
        |SELECT m AS month, CAST(n_parts AS BIGINT) n_parts,
        |  CAST((2 * CAST(ln_ AS HUGEINT) * 1000000 + ld)
        |    // (2 * CAST(ld AS HUGEINT)) AS DOUBLE) / 1e6 AS laspeyres,
        |  CAST((2 * CAST(pn AS HUGEINT) * 1000000 + pd)
        |    // (2 * CAST(pd AS HUGEINT)) AS DOUBLE) / 1e6 AS paasche,
        |  round(sqrt((CAST(ln_ AS DOUBLE) / ld)
        |    * (CAST(pn AS DOUBLE) / pd)), 6) AS fisher
        |FROM s ORDER BY m""".stripMargin),

    new Query("orders_cohort_ltv", Relational.cohortLtv _,
      // cohort = first-order month; revenue in exact 1e-4 longs; the
      // (customer, month) frame is distinct by construction so activity
      // counts are plain counts; cum window over the months² frame
      """WITH om AS MATERIALIZED (
        |  SELECT o_custkey c, date_trunc('month', o_orderdate) m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |      rev4
        |  FROM orders GROUP BY 1, 2),
        |coh AS MATERIALIZED (SELECT c, min(m) cm FROM om GROUP BY 1),
        |cs AS MATERIALIZED (SELECT cm, count(*) cohort_size FROM coh GROUP BY 1),
        |agg AS (SELECT coh.cm, date_diff('month', coh.cm, om.m) age,
        |    count(*) n_active, sum(om.rev4) rev4
        |  FROM om JOIN coh USING (c) GROUP BY 1, 2),
        |cum AS (SELECT cm, age, n_active, rev4,
        |    sum(rev4) OVER (PARTITION BY cm ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) crev4
        |  FROM agg)
        |SELECT cm AS cohort_month, CAST(age AS BIGINT) age_months,
        |  CAST(n_active AS BIGINT) n_active, CAST(cohort_size AS BIGINT)
        |    cohort_size,
        |  CAST((2 * CAST(rev4 AS HUGEINT) * 100 + 10000) // 20000 AS DOUBLE)
        |    / 1e2 AS revenue,
        |  CAST((2 * CAST(crev4 AS HUGEINT) * 100 + 10000) // 20000 AS DOUBLE)
        |    / 1e2 AS cum_revenue,
        |  CAST((2 * CAST(crev4 AS HUGEINT) * 1000000
        |      + CAST(cohort_size AS HUGEINT) * 10000)
        |    // (2 * CAST(cohort_size AS HUGEINT) * 10000) AS DOUBLE) / 1e6
        |    AS cum_ltv_per_customer
        |FROM cum JOIN cs USING (cm) ORDER BY 1, 2""".stripMargin),

    new Query("events_weekly_churn", Events.weeklyChurn _,
      // engine-neutral epoch weeks (days-since-1970 // 7); last week
      // right-censored out; rates are single double divisions
      """WITH mu AS MATERIALIZED (
        |  SELECT DISTINCT
        |    date_diff('day', DATE '1970-01-01', date_trunc('day', ts)) // 7 wk,
        |    user_id u FROM events),
        |nxt AS (SELECT a.wk, count(*) n_active,
        |    sum(CASE WHEN b.u IS NULL THEN 1 ELSE 0 END) n_churned,
        |    sum(CASE WHEN b.u IS NOT NULL THEN 1 ELSE 0 END) n_retained
        |  FROM mu a LEFT JOIN mu b ON b.u = a.u AND b.wk = a.wk + 1
        |  GROUP BY 1),
        |lastw AS (SELECT max(wk) mx FROM mu)
        |SELECT CAST(DATE '1970-01-01' + INTERVAL (wk * 7) DAY AS DATE)
        |    week_start,
        |  CAST(n_active AS BIGINT) n_active,
        |  CAST(n_retained AS BIGINT) n_retained,
        |  CAST(n_churned AS BIGINT) n_churned,
        |  CAST((2 * n_churned * 1000000 + n_active) // (2 * n_active)
        |    AS DOUBLE) / 1e6 AS churn_rate,
        |  CAST((2 * n_retained * 1000000 + n_active) // (2 * n_active)
        |    AS DOUBLE) / 1e6 AS retention_rate
        |FROM nxt CROSS JOIN lastw WHERE wk < mx ORDER BY 1""".stripMargin),

    new Query("orders_backlog_aging", Relational.backlogAging _,
      // exact day ages vs a 1-row as-of; integer bucket edges; revenue
      // in exact 1e-4 longs; one identically-spelled share division
      """WITH ad0 AS MATERIALIZED (SELECT max(o_orderdate) ad FROM orders),
        |op AS (SELECT o_orderstatus st,
        |    date_diff('day', o_orderdate, ad) age,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) rev4
        |  FROM orders CROSS JOIN ad0 WHERE o_orderstatus <> 'F'),
        |bk AS (SELECT st,
        |    CASE WHEN age <= 30 THEN '00-030d' WHEN age <= 90 THEN '031-090d'
        |         WHEN age <= 365 THEN '091-365d' ELSE '365d+' END bucket,
        |    rev4 FROM op),
        |agg AS (SELECT st, bucket, count(*) n_orders, sum(rev4) rev4
        |  FROM bk GROUP BY 1, 2),
        |tot AS (SELECT sum(rev4) t FROM agg)
        |SELECT st AS o_orderstatus, bucket, CAST(n_orders AS BIGINT) n_orders,
        |  CAST((2 * CAST(rev4 AS HUGEINT) * 100 + 10000) // 20000 AS DOUBLE)
        |    / 1e2 AS open_revenue,
        |  CAST((2 * CAST(rev4 AS HUGEINT) * 1000000 + t)
        |    // (2 * CAST(t AS HUGEINT)) AS DOUBLE) / 1e6 AS revenue_share
        |FROM agg CROSS JOIN tot ORDER BY 1, 2""".stripMargin),

    new Query("dedup_containment", (s, d) => Text.dedupContainment(s, d),
      // same exact within-source pair frame as dedup_ngram_jaccard;
      // containments round 6dp and rank with (a_id, b_id) tie-break
      """SELECT a_id, b_id, CAST(icnt AS BIGINT) n_common,
        |  CAST((2 * icnt * 1000000 + alen) // (2 * alen) AS DOUBLE) / 1e6
        |    AS cont_a_in_b,
        |  CAST((2 * icnt * 1000000 + blen) // (2 * blen) AS DOUBLE) / 1e6
        |    AS cont_b_in_a,
        |  greatest(
        |    CAST((2 * icnt * 1000000 + alen) // (2 * alen) AS DOUBLE) / 1e6,
        |    CAST((2 * icnt * 1000000 + blen) // (2 * blen) AS DOUBLE) / 1e6)
        |    AS max_cont
        |FROM (
        |  SELECT a.doc_id a_id, b.doc_id b_id,
        |    len(list_intersect(a.toks, b.toks)) icnt,
        |    len(a.toks) alen, len(b.toks) blen
        |  FROM (SELECT doc_id, source, list_distinct(string_split(text, ' '))
        |      toks FROM documents) a
        |  JOIN (SELECT doc_id, source, list_distinct(string_split(text, ' '))
        |      toks FROM documents) b
        |    ON a.source = b.source AND a.doc_id < b.doc_id)
        |ORDER BY max_cont DESC, a_id, b_id LIMIT 20""".stripMargin),

    new Query("dedup_substring_spans", (s, d) => Text.dupSpans(s, d),
      // exact substring dup-span audit: a position is duplicated when
      // its L-char gram (REAL substrings compared, not hashes) occurs
      // >= 2 times anywhere in the corpus; islands split only when the
      // position gap exceeds L, so span char ranges never overlap and
      // dup_chars is exact; L interpolates from Text.DupSpanLen
      (s"""WITH d AS MATERIALIZED (SELECT doc_id, text, length(text) len
        |  FROM documents WHERE length(text) >= ${Text.DupSpanLen}),
        |g AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), ${Text.DupSpanLen}) g
        |  FROM (SELECT doc_id, text,
        |      unnest(generate_series(1, len - ${Text.DupSpanLen - 1})) pos
        |    FROM d)),
        |c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) cnt FROM g),
        |dup AS (SELECT doc_id, pos FROM c WHERE cnt >= 2),
        |lg AS (SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) prev FROM dup),
        |isl AS (SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos - prev > ${Text.DupSpanLen}
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) isl_id FROM lg),
        |sp AS (SELECT doc_id, isl_id, min(pos) s, max(pos) e, count(*) np
        |  FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(np) n_dup_pos, count(*) n_spans,
        |    sum(e - s + ${Text.DupSpanLen}) dup_chars FROM sp GROUP BY 1)
        |SELECT agg.doc_id, CAST(n_dup_pos AS BIGINT) n_dup_pos,
        |  CAST(n_spans AS BIGINT) n_spans, CAST(dup_chars AS BIGINT) dup_chars,
        |  CAST((2 * dup_chars * 1000000 + len) // (2 * len) AS DOUBLE)
        |    / 1e6 AS dup_ratio
        |FROM agg JOIN d USING (doc_id)
        |ORDER BY dup_chars DESC, agg.doc_id LIMIT 100""").stripMargin),

    new Query("q21_waiting_suppliers", Relational.q21WaitingSuppliers _,
      // adapted Q21 (house q4 lateness, all nations): late lines of
      // finished multi-supplier orders whose supplier was the ONLY
      // late one; pure integer counts; group-by AFTER the supplier
      // join (the literal Q21 shape — duplicate dim keys fan out
      // identically on both engines); (numwait DESC, s_name, nation)
      // total order
      """WITH l1 AS (SELECT l.l_orderkey k, l.l_suppkey s1
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY),
        |others AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey ok, l_suppkey os FROM lineitem),
        |lateo AS MATERIALIZED (SELECT DISTINCT k ok, s1 os FROM l1),
        |qual AS (SELECT * FROM l1
        |  WHERE EXISTS (SELECT 1 FROM others WHERE ok = k AND os <> s1)
        |    AND NOT EXISTS (SELECT 1 FROM lateo WHERE ok = k AND os <> s1))
        |SELECT s_name, n_name AS nation, CAST(count(*) AS BIGINT) numwait
        |FROM qual JOIN supplier ON s_suppkey = s1
        |  JOIN nation ON n_nationkey = s_nationkey
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_name, nation LIMIT 100""".stripMargin),

    new Query("decontaminate_substring", (s, d) => Text.decontaminateSubstring(s, d),
      // exact-substring decontamination: train positions whose L-gram
      // appears VERBATIM in the eval source, merged into maximal spans
      // (same islands as dedup_substring_spans); L interpolates from
      // Text.DupSpanLen; eval source literal 'src0' (the
      // decontaminate_ngram convention)
      (s"""WITH d AS MATERIALIZED (SELECT doc_id, source, text,
        |    length(text) len
        |  FROM documents WHERE length(text) >= ${Text.DupSpanLen}),
        |eg AS MATERIALIZED (SELECT DISTINCT
        |    substr(text, CAST(pos AS INT), ${Text.DupSpanLen}) g
        |  FROM (SELECT text,
        |      unnest(generate_series(1, len - ${Text.DupSpanLen - 1})) pos
        |    FROM d WHERE source = 'src0')),
        |tg AS (SELECT doc_id, pos,
        |    substr(text, CAST(pos AS INT), ${Text.DupSpanLen}) g
        |  FROM (SELECT doc_id, text,
        |      unnest(generate_series(1, len - ${Text.DupSpanLen - 1})) pos
        |    FROM d WHERE source <> 'src0')),
        |hits AS (SELECT doc_id, pos FROM tg
        |  WHERE g IN (SELECT g FROM eg)),
        |lg AS (SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) prev FROM hits),
        |isl AS (SELECT doc_id, pos,
        |    sum(CASE WHEN prev IS NULL OR pos - prev > ${Text.DupSpanLen}
        |      THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) isl_id FROM lg),
        |sp AS (SELECT doc_id, isl_id, min(pos) s, max(pos) e, count(*) np
        |  FROM isl GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(np) n_hit_pos, count(*) n_spans,
        |    sum(e - s + ${Text.DupSpanLen}) contaminated_chars
        |  FROM sp GROUP BY 1)
        |SELECT agg.doc_id, CAST(n_hit_pos AS BIGINT) n_hit_pos,
        |  CAST(n_spans AS BIGINT) n_spans,
        |  CAST(contaminated_chars AS BIGINT) contaminated_chars,
        |  CAST((2 * contaminated_chars * 1000000 + len) // (2 * len)
        |    AS DOUBLE) / 1e6 AS contamination
        |FROM agg JOIN d USING (doc_id)
        |ORDER BY contaminated_chars DESC, agg.doc_id LIMIT 100""").stripMargin),

    new Query("text_novelty_curve", Text.noveltyCurve _,
      // per-source novelty over stream position: first occurrence =
      // min(doc_id) per (source, tok); per-doc ratios round 6dp into
      // micro-longs BEFORE the decile mean (lm_score discipline);
      // decile = truncating integer division (div ≡ //)
      """WITH st AS MATERIALIZED (SELECT DISTINCT source, doc_id, tok FROM (
        |    SELECT source, doc_id, unnest(string_split(lower(text), ' ')) tok
        |    FROM documents) WHERE tok <> ''),
        |fd AS (SELECT source, tok, min(doc_id) first_doc FROM st GROUP BY 1, 2),
        |pd AS (SELECT st.source, st.doc_id, count(*) n_types,
        |    count(*) FILTER (first_doc = doc_id) n_new
        |  FROM st JOIN fd USING (source, tok) GROUP BY 1, 2),
        |rk AS (SELECT source, doc_id, n_types, n_new,
        |    (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) * 10
        |      // count(*) OVER (PARTITION BY source) decile,
        |    CAST((2 * n_new * 1000000 + n_types) // (2 * n_types)
        |      AS DOUBLE) / 1e6 nov6
        |  FROM pd)
        |SELECT source, decile, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(n_new) AS BIGINT) new_types,
        |  CAST((2 * CAST(sum(CAST(round(nov6 * 1e6) AS BIGINT)) AS HUGEINT)
        |      * 1000000 + count(*) * 1000000)
        |    // (2 * CAST(count(*) AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    AS mean_novelty
        |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    new Query("dedup_savings", Graph.dedupSavings _,
      // the dedup_clusters component machinery joined back onto the
      // documents scan: keep the min-id representative, delete the
      // rest, count the characters that deletion saves — all integers
      s"""WITH RECURSIVE $minhashEstSqlCtes,
         |pr AS (SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, est_jaccard FROM est
         |    ORDER BY est_jaccard DESC, a_id, b_id LIMIT 100)
         |  WHERE est_jaccard >= 0.8),
         |edges AS (SELECT a_id u, b_id v FROM pr UNION SELECT b_id, a_id FROM pr),
         |reach(id, r) AS (
         |  SELECT u, u FROM edges UNION SELECT u, v FROM edges
         |  UNION SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u),
         |lab AS (SELECT id, min(r) lbl FROM reach GROUP BY id)
         |SELECT lbl canonical_id, CAST(count(*) AS BIGINT) cluster_size,
         |  CAST(sum(length(text)) AS BIGINT) total_chars,
         |  CAST(sum(CASE WHEN doc_id <> lbl THEN length(text) ELSE 0 END)
         |    AS BIGINT) saved_chars
         |FROM lab JOIN documents ON doc_id = id
         |GROUP BY 1 ORDER BY saved_chars DESC, canonical_id LIMIT 100""".stripMargin),

    new Query("orders_basket_size_profile", Relational.basketSizeProfile _,
      // distinct-parts-per-order histogram; all integers + one share
      // division — the MaxBasketParts tuning measurement
      """WITH bs AS (SELECT l_orderkey, count(*) sz FROM (
        |    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  GROUP BY 1),
        |hist AS (SELECT sz basket_size, count(*) n_baskets FROM bs GROUP BY 1),
        |tot AS (SELECT sum(n_baskets) tb FROM hist)
        |SELECT CAST(basket_size AS BIGINT) basket_size,
        |  CAST(n_baskets AS BIGINT) n_baskets,
        |  CAST((2 * n_baskets * 1000000 + tb) // (2 * tb) AS DOUBLE) / 1e6
        |    AS basket_share
        |FROM hist CROSS JOIN tot ORDER BY basket_size""".stripMargin),

    new Query("embed_label_separability", Vectors.labelSeparability _,
      // centroids = the embed_centroids exact nano-long means; every
      // distance is the identical x·x − 2·x·c + c·c chain with
      // sequential dots (list_inner_product ≡ the native DotProduct);
      // per-vector d2 rounds 6dp into micro-longs before the mean;
      // nearest = (d2, other-label) tie-break; intra 0 NULL-guards the
      // ratio (IEEE-split class); `+ 0` guards round's negative zero
      """WITH v0 AS (SELECT label, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |cpos AS (SELECT label, pos,
        |    CAST(CASE WHEN ns >= 0 THEN (2 * ns + n) // (2 * n)
        |         ELSE -((2 * (-ns) + n) // (2 * n)) END AS DOUBLE) / 1e9 c
        |  FROM (SELECT label, pos,
        |      sum(CAST(round(x * 1e9) AS BIGINT)) ns,
        |      CAST(count(*) AS BIGINT) n
        |    FROM (SELECT label, generate_subscripts(v, 1) pos, unnest(v) x
        |      FROM v0) GROUP BY 1, 2)),
        |cent AS (SELECT label, list(c ORDER BY pos) cv FROM cpos GROUP BY 1),
        |intra AS (SELECT v0.label, count(*) n_vecs,
        |    sum(CAST(round(round(list_inner_product(v, v)
        |      - 2 * list_inner_product(v, cv)
        |      + list_inner_product(cv, cv), 6) * 1e6) AS BIGINT)) sm
        |  FROM v0 JOIN cent USING (label) GROUP BY 1),
        |inter AS (SELECT a.label, b.label olabel,
        |    round(greatest(list_inner_product(a.cv, a.cv)
        |      - 2 * list_inner_product(a.cv, b.cv)
        |      + list_inner_product(b.cv, b.cv), 0), 6) d2
        |  FROM cent a JOIN cent b ON a.label <> b.label),
        |near AS (SELECT label, olabel nearest_label, d2 inter_d2 FROM inter
        |  QUALIFY row_number() OVER (PARTITION BY label
        |    ORDER BY d2, olabel) = 1),
        |im AS (SELECT label, n_vecs, nearest_label, inter_d2,
        |    (2 * CAST(sm AS HUGEINT) * 1000000
        |      + CAST(n_vecs AS HUGEINT) * 1000000)
        |      // (2 * CAST(n_vecs AS HUGEINT) * 1000000) im6
        |  FROM intra LEFT JOIN near USING (label))
        |SELECT label, CAST(n_vecs AS BIGINT) n_vecs,
        |  CAST(im6 AS DOUBLE) / 1e6 AS intra_mean_d2,
        |  nearest_label, inter_d2,
        |  CASE WHEN im6 > 0 AND inter_d2 IS NOT NULL THEN
        |    CAST((2 * CAST(round(inter_d2 * 1e6) AS HUGEINT) * 1000000 + im6)
        |      // (2 * CAST(im6 AS HUGEINT)) AS DOUBLE) / 1e6
        |  END AS separation
        |FROM im ORDER BY label""".stripMargin),

    new Query("supplier_scorecard", Relational.supplierScorecard _,
      // per-supplier delivery scorecard: exact counts/day-lags/cent
      // revenues; house q4 lateness; group-by AFTER the supplier join
      // (the q21 duplicate-dim lesson). The share and the mean round
      // in EXACT INTEGER arithmetic (round-half-away = (2a+b)//(2b)):
      // a /2^k quotient ties EXACTLY at a decimal boundary in binary,
      // where Spark's HALF_UP and DuckDB's half-even split (caught at
      // sf0.001: 64.6625)
      """WITH l AS (SELECT l_suppkey,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) lag_d,
        |    l_shipdate >= o_orderdate + INTERVAL 60 DAY late,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (SELECT s_name, n_name nation, count(*) n_lines,
        |    count(*) FILTER (late) n_late, sum(lag_d) lag_sum,
        |    sum(CASE WHEN late THEN rev
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) late_rev
        |  FROM l JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN nation ON n_nationkey = s_nationkey
        |  GROUP BY 1, 2)
        |SELECT s_name, nation, CAST(n_lines AS BIGINT) n_lines,
        |  CAST(n_late AS BIGINT) n_late,
        |  CAST((2 * CAST(n_late AS HUGEINT) * 1000000 + n_lines)
        |    // (2 * CAST(n_lines AS HUGEINT)) AS DOUBLE) / 1e6 AS late_share,
        |  CAST(CASE WHEN lag_sum >= 0
        |    THEN (2 * CAST(lag_sum AS HUGEINT) * 1000 + n_lines)
        |      // (2 * CAST(n_lines AS HUGEINT))
        |    ELSE -((2 * CAST(-lag_sum AS HUGEINT) * 1000 + n_lines)
        |      // (2 * CAST(n_lines AS HUGEINT)))
        |    END AS DOUBLE) / 1e3 AS avg_lag_d,
        |  CAST(late_rev AS DOUBLE) late_revenue
        |FROM g ORDER BY n_late DESC, s_name, nation LIMIT 100""".stripMargin),

    new Query("langid_eval_metrics", (s, d) => Text.langidEval(s, d),
      // precision/recall/F1 layer over the text_langid confusion
      // pipeline (same train→predict CTEs verbatim); F1 via the
      // harmonic identity 2·tp/(nt+np) — single integer-ratio
      // divisions only, zero-denominator classes NULL identically
      """WITH grams AS (SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, greatest(length(text)-1, 1)),
        |      i -> substr(text, CAST(i AS INT), 2))) g
        |  FROM documents),
        |profile AS (SELECT p_lang, g FROM (
        |    SELECT lang p_lang, g, count(*) cnt,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, g) rk
        |    FROM grams GROUP BY 1, 2) WHERE rk <= 30),
        |pred AS (SELECT doc_id, lang, p_lang FROM (
        |    SELECT gr.doc_id, gr.lang, p.p_lang, count(*) hits,
        |      row_number() OVER (PARTITION BY gr.doc_id ORDER BY count(*) DESC, p.p_lang) rk
        |    FROM grams gr JOIN profile p USING (g) GROUP BY 1, 2, 3) WHERE rk = 1),
        |cells AS MATERIALIZED (SELECT lang, p_lang pred, count(*) n_docs
        |  FROM pred GROUP BY 1, 2),
        |bt AS (SELECT lang clsT, sum(n_docs) n_true,
        |    sum(CASE WHEN pred = lang THEN n_docs ELSE 0 END) tp
        |  FROM cells GROUP BY 1),
        |bp AS (SELECT pred clsP, sum(n_docs) n_pred FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n_docs) nn,
        |    sum(CASE WHEN pred = lang THEN n_docs ELSE 0 END) tpAll FROM cells),
        |m AS (SELECT coalesce(clsT, clsP) lang,
        |    coalesce(n_true, 0) n_true, coalesce(n_pred, 0) n_pred,
        |    coalesce(tp, 0) tp
        |  FROM bt FULL OUTER JOIN bp ON clsT = clsP)
        |SELECT lang, CAST(n_true AS BIGINT) n_true,
        |  CAST(n_pred AS BIGINT) n_pred, CAST(tp AS BIGINT) tp,
        |  CASE WHEN n_pred > 0 THEN
        |    CAST((2 * tp * 1000000 + n_pred) // (2 * n_pred) AS DOUBLE)
        |      / 1e6 END AS precision,
        |  CASE WHEN n_true > 0 THEN
        |    CAST((2 * tp * 1000000 + n_true) // (2 * n_true) AS DOUBLE)
        |      / 1e6 END AS recall,
        |  CASE WHEN n_true + n_pred > 0 THEN
        |    CAST((2 * tp * 2 * 1000000 + (n_true + n_pred))
        |      // (2 * (n_true + n_pred)) AS DOUBLE) / 1e6 END AS f1,
        |  CAST((2 * tpAll * 1000000 + nn) // (2 * nn) AS DOUBLE) / 1e6
        |    AS micro_accuracy
        |FROM m CROSS JOIN tot ORDER BY lang""".stripMargin),

    new Query("user_activity_features", Events.userFeatures _,
      // one per-user aggregate: exact counts/distincts, micro-long value
      // sums with identical NULL guards, exact day arithmetic
      """WITH f AS (
        |  SELECT user_id, count(*) n_events,
        |    count(DISTINCT date_trunc('day', ts)) active_days,
        |    count(DISTINCT event_type) n_types,
        |    sum(CASE WHEN value IS NOT NULL THEN
        |      CAST(round(round(value, 6) * 1e6) AS BIGINT) END) sv,
        |    sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) nv,
        |    min(date_trunc('day', ts)) first_day,
        |    max(date_trunc('day', ts)) last_day
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(n_events AS BIGINT) n_events,
        |  CAST(active_days AS BIGINT) active_days,
        |  CAST(n_types AS BIGINT) n_types,
        |  CASE WHEN nv > 0 THEN
        |    CAST(CASE WHEN sv >= 0 THEN
        |      (2 * CAST(sv AS HUGEINT) * 1000000 + CAST(nv AS HUGEINT) * 1000000)
        |        // (2 * CAST(nv AS HUGEINT) * 1000000)
        |    ELSE -((2 * CAST(-sv AS HUGEINT) * 1000000
        |        + CAST(nv AS HUGEINT) * 1000000)
        |      // (2 * CAST(nv AS HUGEINT) * 1000000)) END AS DOUBLE) / 1e6
        |  END mean_value,
        |  CAST(date_diff('day', first_day, last_day) + 1 AS BIGINT) span_days,
        |  CAST((2 * CAST(active_days AS HUGEINT) * 1000000
        |      + (date_diff('day', first_day, last_day) + 1))
        |    // (2 * CAST(date_diff('day', first_day, last_day) + 1 AS HUGEINT))
        |    AS DOUBLE) / 1e6 activity_density
        |FROM f ORDER BY user_id LIMIT 200""".stripMargin),

    new Query("embed_pq_codebook", Vectors.pqCodebook _,
      // the IVF oracle discipline, subspace-generalized: seeds, ONE
      // Lloyd round (exact DECIMAL(18,9) means, no normalization) and
      // the final L2 argmin all re-derived in SQL; every distance is
      // the identical chain x·x − 2·(x·c) + c·c with (d2, cid)
      // tie-break; per-vector distortions round 6dp into micro-longs.
      // PQ geometry (train cap, subspaces, sub-dim, centroids)
      // interpolates from the Vectors constants — the LmVocabCap/
      // RakeMaxLen pattern — so a knob change can't desynchronize
      // engine and oracle
      (s"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |tr AS (SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) h FROM v0
        |  ORDER BY h, vec_id LIMIT ${Vectors.PqTrainCap}),
        |ts AS (SELECT vec_id, h, m, list_slice(v,
        |    m * ${Vectors.PqSubDim} + 1,
        |    m * ${Vectors.PqSubDim} + ${Vectors.PqSubDim}) sub
        |  FROM tr CROSS JOIN range(0, ${Vectors.PqSubspaces}) r(m)),
        |c0 AS (SELECT m, rn - 1 cid, sub cvec FROM (
        |    SELECT m, sub, row_number() OVER (
        |      PARTITION BY m ORDER BY h, vec_id) rn FROM ts)
        |  WHERE rn <= ${Vectors.PqCentroids}),
        |a1 AS (SELECT m, vec_id, sub, cid FROM (
        |    SELECT t.m, t.vec_id, t.sub, c.cid, row_number() OVER (
        |      PARTITION BY t.m, t.vec_id ORDER BY
        |        list_inner_product(t.sub, t.sub)
        |        - 2 * list_inner_product(t.sub, c.cvec)
        |        + list_inner_product(c.cvec, c.cvec), c.cid) rn
        |    FROM ts t JOIN c0 c USING (m)) WHERE rn = 1),
        |m1 AS (SELECT m, cid, pos,
        |    CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*) mm
        |  FROM (SELECT m, cid, generate_subscripts(sub, 1) pos,
        |      unnest(sub) x FROM a1) GROUP BY 1, 2, 3),
        |c1 AS (SELECT m, cid, list(mm ORDER BY pos) cvec FROM m1 GROUP BY 1, 2),
        |fs AS (SELECT vec_id, m, list_slice(v,
        |    m * ${Vectors.PqSubDim} + 1,
        |    m * ${Vectors.PqSubDim} + ${Vectors.PqSubDim}) sub
        |  FROM v0 CROSS JOIN range(0, ${Vectors.PqSubspaces}) r(m)),
        |asg AS (SELECT m, vec_id, cid,
        |    list_inner_product(sub, sub) - 2 * list_inner_product(sub, cvec)
        |      + list_inner_product(cvec, cvec) d2 FROM (
        |    SELECT f.m, f.vec_id, f.sub, c.cid, c.cvec, row_number() OVER (
        |      PARTITION BY f.m, f.vec_id ORDER BY
        |        list_inner_product(f.sub, f.sub)
        |        - 2 * list_inner_product(f.sub, c.cvec)
        |        + list_inner_product(c.cvec, c.cvec), c.cid) rn
        |    FROM fs f JOIN c1 c USING (m)) WHERE rn = 1)
        |SELECT CAST(m AS INT) subspace, CAST(cid AS INT) centroid,
        |  CAST(count(*) AS BIGINT) n_assigned,
        |  CAST((2 * CAST(sum(CAST(round(round(d2, 6) * 1e6) AS BIGINT))
        |        AS HUGEINT) * 1000000
        |      + CAST(count(*) AS HUGEINT) * 1000000)
        |    // (2 * CAST(count(*) AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    AS mean_distortion
        |FROM asg GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin),

    new Query("recon_referential_integrity", Recon.referentialIntegrity _,
      // seven FK edges, each a NOT EXISTS on the non-NULL key; exact
      // counts, one identically-spelled rate division
      """WITH checks AS (
        |  SELECT 'customer.c_nationkey -> nation' fk,
        |    (SELECT count(*) FROM customer) n_rows,
        |    (SELECT count(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM nation n
        |         WHERE n.n_nationkey = c.c_nationkey)) n_orphans
        |  UNION ALL SELECT 'lineitem.l_orderkey -> orders',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM orders o
        |         WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL SELECT 'lineitem.l_partkey -> part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM part p
        |         WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem.l_suppkey -> supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM supplier s
        |         WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'nation.n_regionkey -> region',
        |    (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM region r
        |         WHERE r.r_regionkey = n.n_regionkey))
        |  UNION ALL SELECT 'orders.o_custkey -> customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c
        |         WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'supplier.s_nationkey -> nation',
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier s WHERE s.s_nationkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM nation n
        |         WHERE n.n_nationkey = s.s_nationkey)))
        |SELECT fk, CAST(n_rows AS BIGINT) n_rows,
        |  CAST(n_orphans AS BIGINT) n_orphans,
        |  CASE WHEN n_rows > 0 THEN
        |    CAST((2 * n_orphans * 1000000 + n_rows) // (2 * n_rows)
        |      AS DOUBLE) / 1e6 END AS orphan_rate,
        |  n_orphans = 0 AS intact
        |FROM checks ORDER BY fk""".stripMargin),

    new Query("sample_temperature_mix", Sampling.temperatureMix _,
      // α = 0.5 is IEEE sqrt (correctly rounded — bit-identical);
      // per-source sqrts round 6dp into micro-longs BEFORE the total
      // so the normalizer is an exact sum; boost clears denominators
      """WITH sc AS MATERIALIZED (
        |  SELECT source, sum(len(string_split(text, ' '))) n_tokens,
        |    count(*) n_docs
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, n_tokens, n_docs,
        |    CAST(round(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) * 1e6)
        |      AS BIGINT) rs
        |  FROM sc),
        |tot AS (SELECT sum(rs) trs, sum(n_tokens) nt FROM r)
        |SELECT source, CAST(n_tokens AS BIGINT) n_tokens,
        |  CAST(n_docs AS BIGINT) n_docs,
        |  CAST((2 * rs * 1000000 + trs) // (2 * trs) AS DOUBLE) / 1e6
        |    AS weight,
        |  CAST((2 * n_tokens * 1000000 + nt) // (2 * nt) AS DOUBLE) / 1e6
        |    AS natural_share,
        |  CAST((2 * CAST(rs AS HUGEINT) * nt * 1000000
        |      + CAST(trs AS HUGEINT) * n_tokens)
        |    // (2 * CAST(trs AS HUGEINT) * n_tokens) AS DOUBLE) / 1e6
        |    AS boost
        |FROM r CROSS JOIN tot ORDER BY source""".stripMargin),

    new Query("events_diff_in_diff", Events.diffInDiff _,
      // exact integer midpoint cutoff; per-cell micro sums; every MEAN
      // rounds 6dp back into micro-longs before the exact subtractions
      // so delta/control_delta/did are pure integer differences;
      // control denominators guarded > 0 (the 0/0 IEEE-split class)
      """WITH ev AS MATERIALIZED (
        |  SELECT event_type t, date_trunc('day', ts) d,
        |    CAST(round(round(value, 6) * 1e6) AS BIGINT) v6
        |  FROM events WHERE value IS NOT NULL),
        |b AS MATERIALIZED (SELECT min(d) d0, max(d) d1 FROM ev),
        |cut AS MATERIALIZED (
        |  SELECT d0 + INTERVAL (date_diff('day', d0, d1) // 2) DAY c FROM b),
        |pt AS MATERIALIZED (
        |  SELECT t, d < c pre, sum(v6) sv, count(*) n
        |  FROM ev CROSS JOIN cut GROUP BY 1, 2),
        |w AS (SELECT t,
        |    max(CASE WHEN pre THEN
        |      CAST(CASE WHEN sv >= 0 THEN
        |        (2 * CAST(sv AS HUGEINT) + n) // (2 * CAST(n AS HUGEINT))
        |      ELSE -((2 * CAST(-sv AS HUGEINT) + n)
        |        // (2 * CAST(n AS HUGEINT))) END AS BIGINT) END) mb,
        |    max(CASE WHEN NOT pre THEN
        |      CAST(CASE WHEN sv >= 0 THEN
        |        (2 * CAST(sv AS HUGEINT) + n) // (2 * CAST(n AS HUGEINT))
        |      ELSE -((2 * CAST(-sv AS HUGEINT) + n)
        |        // (2 * CAST(n AS HUGEINT))) END AS BIGINT) END) ma,
        |    max(CASE WHEN pre THEN n END) nb,
        |    max(CASE WHEN NOT pre THEN n END) na,
        |    max(CASE WHEN pre THEN sv END) sb,
        |    max(CASE WHEN NOT pre THEN sv END) sa
        |  FROM pt GROUP BY 1),
        |tot AS (SELECT sum(CASE WHEN pre THEN sv END) tsb,
        |    sum(CASE WHEN pre THEN n END) tnb,
        |    sum(CASE WHEN NOT pre THEN sv END) tsa,
        |    sum(CASE WHEN NOT pre THEN n END) tna FROM pt),
        |ctl AS (SELECT t, mb, ma, nb, na,
        |    CASE WHEN tnb - coalesce(nb, 0) > 0 THEN
        |      CAST(CASE WHEN tsb - coalesce(sb, 0) >= 0 THEN
        |        (2 * CAST(tsb - coalesce(sb, 0) AS HUGEINT)
        |          + (tnb - coalesce(nb, 0)))
        |        // (2 * CAST(tnb - coalesce(nb, 0) AS HUGEINT))
        |      ELSE -((2 * CAST(coalesce(sb, 0) - tsb AS HUGEINT)
        |          + (tnb - coalesce(nb, 0)))
        |        // (2 * CAST(tnb - coalesce(nb, 0) AS HUGEINT)))
        |      END AS BIGINT) END cb,
        |    CASE WHEN tna - coalesce(na, 0) > 0 THEN
        |      CAST(CASE WHEN tsa - coalesce(sa, 0) >= 0 THEN
        |        (2 * CAST(tsa - coalesce(sa, 0) AS HUGEINT)
        |          + (tna - coalesce(na, 0)))
        |        // (2 * CAST(tna - coalesce(na, 0) AS HUGEINT))
        |      ELSE -((2 * CAST(coalesce(sa, 0) - tsa AS HUGEINT)
        |          + (tna - coalesce(na, 0)))
        |        // (2 * CAST(tna - coalesce(na, 0) AS HUGEINT)))
        |      END AS BIGINT) END ca
        |  FROM w CROSS JOIN tot)
        |SELECT t AS event_type, CAST(nb AS BIGINT) n_before,
        |  CAST(na AS BIGINT) n_after,
        |  round(mb / 1e6, 6) + 0 AS mean_before,
        |  round(ma / 1e6, 6) + 0 AS mean_after,
        |  round((ma - mb) / 1e6, 6) + 0 AS delta,
        |  round((ca - cb) / 1e6, 6) + 0 AS control_delta,
        |  round(((ma - mb) - (ca - cb)) / 1e6, 6) + 0 AS did
        |FROM ctl ORDER BY t""".stripMargin),

    new Query("recon_pk_uniqueness", Recon.pkUniqueness _,
      // exact counts; the composite key counts DISTINCT STRUCTS on
      // both engines (struct non-NULL even with NULL fields)
      """WITH checks AS (
        |  SELECT 'customer.c_custkey' pk, count(*) n_rows,
        |    count(DISTINCT c_custkey) n_distinct FROM customer
        |  UNION ALL SELECT 'documents.doc_id', count(*),
        |    count(DISTINCT doc_id) FROM documents
        |  UNION ALL SELECT 'embeddings.vec_id', count(*),
        |    count(DISTINCT vec_id) FROM embeddings
        |  UNION ALL SELECT 'events.event_id', count(*),
        |    count(DISTINCT event_id) FROM events
        |  UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber)', count(*),
        |    count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL SELECT 'nation.n_nationkey', count(*),
        |    count(DISTINCT n_nationkey) FROM nation
        |  UNION ALL SELECT 'orders.o_orderkey', count(*),
        |    count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'part.p_partkey', count(*),
        |    count(DISTINCT p_partkey) FROM part
        |  UNION ALL SELECT 'region.r_regionkey', count(*),
        |    count(DISTINCT r_regionkey) FROM region
        |  UNION ALL SELECT 'supplier.s_suppkey', count(*),
        |    count(DISTINCT s_suppkey) FROM supplier)
        |SELECT pk, CAST(n_rows AS BIGINT) n_rows,
        |  CAST(n_distinct AS BIGINT) n_distinct,
        |  CAST(n_rows - n_distinct AS BIGINT) n_extra_rows,
        |  n_rows = n_distinct AS is_unique
        |FROM checks ORDER BY pk""".stripMargin),

    new Query("orders_seasonality_index", Relational.seasonalityIndex _,
      // both means' denominators clear: rev_moy·nm / (tr·n_months) as
      // HUGEINT ≡ DECIMAL(38,0) products, one double division;
      // month-weighted index mean ≡ 1 by construction
      """WITH mt AS MATERIALIZED (
        |  SELECT date_trunc('month', o_orderdate) m,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |      rev4
        |  FROM orders GROUP BY 1),
        |tot AS MATERIALIZED (SELECT sum(rev4) tr, count(*) nm FROM mt),
        |g AS (SELECT CAST(month(m) AS INT) moy, count(*) n_months,
        |    sum(rev4) rev4 FROM mt GROUP BY 1)
        |SELECT moy AS month_of_year, CAST(n_months AS BIGINT) n_months,
        |  CAST((2 * CAST(rev4 AS HUGEINT) * 100
        |      + CAST(n_months AS HUGEINT) * 10000)
        |    // (2 * CAST(n_months AS HUGEINT) * 10000) AS DOUBLE) / 1e2
        |    AS avg_monthly_revenue,
        |  CAST((2 * CAST(rev4 AS HUGEINT) * nm * 1000000
        |      + CAST(tr AS HUGEINT) * n_months)
        |    // (2 * CAST(tr AS HUGEINT) * n_months) AS DOUBLE) / 1e6
        |    AS seasonal_index
        |FROM g CROSS JOIN tot ORDER BY moy""".stripMargin),

    new Query("events_value_anova", Events.valueAnova _,
      // per-group within-SS terms have EXACT 128-bit numerators
      // (Q·n − S²) with one division rounded 6dp into micro-longs
      // before exact sums; SSB = SST − SSW is a pure integer
      // difference, F one division of 128-bit products; +0 on the
      // negative-able rounded outputs (SSB can round a few micro
      // negative on a null-effect board — identically on both engines)
      """WITH v AS MATERIALIZED (
        |  SELECT event_type t, CAST(round(round(value, 6) * 1e6) AS BIGINT) v6
        |  FROM events WHERE value IS NOT NULL),
        |g AS MATERIALIZED (
        |  SELECT t, count(*) n, sum(v6) s, sum(CAST(v6 AS HUGEINT) * v6) q
        |  FROM v GROUP BY 1),
        |gw AS (SELECT t, n, s, q,
        |    CAST((2 * (q * n - CAST(s AS HUGEINT) * s)
        |        + CAST(n AS HUGEINT) * 1000000)
        |      // (2 * CAST(n AS HUGEINT) * 1000000) AS BIGINT) ssw_micro
        |  FROM g),
        |tot AS (SELECT sum(n) nn, sum(s) ss, sum(q) qq, count(*) k,
        |    sum(ssw_micro) ssw FROM gw),
        |t2 AS (SELECT nn, k, ssw,
        |    CAST((2 * (qq * nn - ss * ss)
        |        + CAST(nn AS HUGEINT) * 1000000)
        |      // (2 * CAST(nn AS HUGEINT) * 1000000) AS BIGINT) sst
        |  FROM tot),
        |f AS (SELECT nn, k, ssw, sst, sst - ssw ssb,
        |    CASE WHEN ssw > 0 AND k > 1 AND nn > k THEN
        |      CAST(CASE WHEN sst - ssw >= 0 THEN
        |        (2 * CAST(sst - ssw AS HUGEINT) * (nn - k) * 1000000
        |          + CAST(ssw AS HUGEINT) * (k - 1))
        |        // (2 * CAST(ssw AS HUGEINT) * (k - 1))
        |      ELSE -((2 * CAST(ssw - sst AS HUGEINT) * (nn - k) * 1000000
        |          + CAST(ssw AS HUGEINT) * (k - 1))
        |        // (2 * CAST(ssw AS HUGEINT) * (k - 1))) END AS DOUBLE) / 1e6
        |    END f_stat
        |  FROM t2)
        |SELECT g.t AS event_type, CAST(g.n AS BIGINT) n,
        |  CAST(CASE WHEN g.s >= 0 THEN
        |    (2 * CAST(g.s AS HUGEINT) * 1000000 + CAST(g.n AS HUGEINT) * 1000000)
        |      // (2 * CAST(g.n AS HUGEINT) * 1000000)
        |  ELSE -((2 * CAST(-g.s AS HUGEINT) * 1000000 + CAST(g.n AS HUGEINT) * 1000000)
        |      // (2 * CAST(g.n AS HUGEINT) * 1000000)) END AS DOUBLE) / 1e6
        |    AS mean_value,
        |  CAST((2 * CAST(gw.ssw_micro AS HUGEINT) * 1000000
        |      + CAST(g.n AS HUGEINT) * 1000000)
        |    // (2 * CAST(g.n AS HUGEINT) * 1000000) AS DOUBLE) / 1e6
        |    AS var_pop,
        |  CAST(f.k AS BIGINT) k_groups, f.f_stat,
        |  CASE WHEN f.sst > 0 THEN
        |    CAST(CASE WHEN f.ssb >= 0 THEN
        |      (2 * CAST(f.ssb AS HUGEINT) * 1000000 + f.sst) // (2 * f.sst)
        |    ELSE -((2 * CAST(-f.ssb AS HUGEINT) * 1000000 + f.sst)
        |      // (2 * f.sst)) END AS DOUBLE) / 1e6
        |  END AS eta_squared
        |FROM g JOIN gw ON g.t = gw.t CROSS JOIN f ORDER BY 1""".stripMargin),

    new Query("customer_spend_migration", Relational.spendMigration _,
      // exact integer midpoint cutoff; band edges are 128-bit integer
      // comparisons with the mean's denominator cleared (2·rev·n vs
      // Σrev / 3·Σrev); churn/acquisition via full outer join
      """WITH b AS MATERIALIZED (
        |  SELECT min(date_trunc('day', o_orderdate)) d0,
        |    max(date_trunc('day', o_orderdate)) d1 FROM orders),
        |cut AS MATERIALIZED (
        |  SELECT d0 + INTERVAL (date_diff('day', d0, d1) // 2) DAY c FROM b),
        |cp AS MATERIALIZED (
        |  SELECT o_custkey k, date_trunc('day', o_orderdate) < c pre,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
        |      rev4
        |  FROM orders CROSS JOIN cut GROUP BY 1, 2),
        |pt AS MATERIALIZED (
        |  SELECT pre, sum(rev4) ts, count(*) nc FROM cp GROUP BY 1),
        |cls AS (SELECT cp.k, cp.pre,
        |    CASE WHEN 2 * CAST(cp.rev4 AS HUGEINT) * pt.nc < pt.ts THEN 'low'
        |         WHEN 2 * CAST(cp.rev4 AS HUGEINT) * pt.nc
        |           > 3 * CAST(pt.ts AS HUGEINT) THEN 'high'
        |         ELSE 'mid' END band
        |  FROM cp JOIN pt USING (pre)),
        |m AS (SELECT coalesce(a.band, 'absent') band_before,
        |    coalesce(bb.band, 'absent') band_after, count(*) n_customers
        |  FROM (SELECT k, band FROM cls WHERE pre) a
        |  FULL OUTER JOIN (SELECT k, band FROM cls WHERE NOT pre) bb USING (k)
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(n_customers) t FROM m)
        |SELECT band_before, band_after, CAST(n_customers AS BIGINT) n_customers,
        |  CAST((2 * n_customers * 1000000 + t) // (2 * t) AS DOUBLE) / 1e6
        |    AS share
        |FROM m CROSS JOIN tot ORDER BY 1, 2""".stripMargin),

    new Query("json_struct_extract", Events.jsonStructExtract _,
      // from_json/StructType twin, the JsonGetLong contract
      // generalized: long fields require json_type BIGINT/UBIGINT +
      // TRY_CAST; the string field is the raw token text; the struct
      // is NULL only for NULL/blank input (malformed-but-non-blank =
      // non-null struct of NULL fields — all probed on Spark 4.1.2)
      """SELECT event_id,
        |  (props IS NULL OR trim(props) = '') unparsed,
        |  CASE WHEN json_valid(props) AND json_type(props,'$.k')
        |      IN ('BIGINT','UBIGINT')
        |    THEN TRY_CAST(json_extract_string(props,'$.k') AS BIGINT)
        |  END k_long,
        |  CASE WHEN json_valid(props) AND json_type(props,'$.notk')
        |      IN ('BIGINT','UBIGINT')
        |    THEN TRY_CAST(json_extract_string(props,'$.notk') AS BIGINT)
        |  END notk_long,
        |  CASE WHEN json_valid(props)
        |    THEN json_extract_string(props,'$.k') END k_raw
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin),

    new Query("streaming_late_data", Events.lateDataParity _,
      // watermark-drop semantics in batch: cutoff = max(base ts) − 1 h;
      // a row drops iff it arrived in the late batch AND ts < cutoff
      // (all echoes, by the 2-day construction); kept-value sum in
      // exact micro-longs, one long→double presentation division
      """WITH base AS (SELECT event_type, ts, value FROM events),
        |late AS (SELECT event_type, ts - INTERVAL 2 DAY ts, value
        |  FROM events WHERE event_id % 17 = 0),
        |wm AS (SELECT max(ts) - INTERVAL 1 HOUR cutoff FROM base),
        |feed AS (SELECT event_type, ts, value, 0 lt FROM base
        |  UNION ALL SELECT event_type, ts, value, 1 FROM late),
        |m AS (SELECT event_type,
        |    count(*) n_fed,
        |    sum(CASE WHEN lt = 1 AND ts < cutoff THEN 1 ELSE 0 END)
        |      n_late_dropped,
        |    count(*) FILTER (NOT (lt = 1 AND ts < cutoff)) n_kept,
        |    sum(CASE WHEN NOT (lt = 1 AND ts < cutoff) AND value IS NOT NULL
        |      THEN CAST(round(round(value, 6) * 1e6) AS BIGINT) END) vm,
        |    count(DISTINCT CASE WHEN NOT (lt = 1 AND ts < cutoff)
        |      THEN date_trunc('hour', ts) END) n_windows
        |  FROM feed CROSS JOIN wm GROUP BY 1)
        |SELECT event_type, CAST(n_fed AS BIGINT) n_fed,
        |  CAST(n_late_dropped AS BIGINT) n_late_dropped,
        |  CAST(n_kept AS BIGINT) n_kept,
        |  CAST(vm AS DOUBLE) / 1e6 value_sum,
        |  CAST(n_windows AS BIGINT) n_windows
        |FROM m ORDER BY event_type""".stripMargin),

    new Query("embed_pca_power", Vectors.pcaPower _, pcaPowerSql),

    new Query("text_simpson_diversity", Text.simpsonDiversity _,
      // Simpson repeat probability per source: all moments exact
      // integers (HUGEINT before the N(N-1) multiply), both ratios
      // through the ratioRound // twin; D needs N > 1, the inverse
      // needs >= 1 repeated type (NULL otherwise on both engines)
      """WITH tc AS (SELECT source, tok, count(*) n FROM (
        |    SELECT source, unnest(string_split(text, ' ')) tok
        |    FROM documents) GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(n) AS BIGINT) n_tokens,
        |    CAST(count(*) AS BIGINT) n_types,
        |    sum(CAST(n AS HUGEINT) * (n - 1)) rep
        |  FROM tc GROUP BY 1),
        |x AS (SELECT *, CAST(n_tokens AS HUGEINT) * (n_tokens - 1) nn
        |  FROM s)
        |SELECT source, n_tokens, n_types, CAST(rep AS BIGINT) repeat_pairs,
        |  CASE WHEN n_tokens > 1 THEN
        |    CAST((2 * rep * 1000000 + nn) // (2 * nn) AS DOUBLE) / 1e6
        |  END simpson,
        |  CASE WHEN rep > 0 THEN
        |    CAST((2 * nn * 1000000 + rep) // (2 * rep) AS DOUBLE) / 1e6
        |  END inv_simpson
        |FROM x ORDER BY source""".stripMargin),

    new Query("text_char_class_profile", Text.charClassProfile _,
      // codepoint-exact class counts (length counts codepoints on both
      // engines; DuckDB regexp_replace needs the 'g' flag); shares via
      // the ratioRound // twin
      """WITH m AS (SELECT source, CAST(length(text) AS BIGINT) c,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) l,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) d,
        |    CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) s
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(c) AS BIGINT) chars, CAST(sum(l) AS BIGINT) letters,
        |    CAST(sum(d) AS BIGINT) digits, CAST(sum(s) AS BIGINT) spaces,
        |    CAST(sum(c - l - d - s) AS BIGINT) other
        |  FROM m GROUP BY 1)
        |SELECT source, n_docs, chars, letters, digits, spaces, other,
        |  CASE WHEN chars > 0 THEN
        |    CAST((2 * CAST(letters AS HUGEINT) * 1000000 + chars)
        |      // (2 * CAST(chars AS HUGEINT)) AS DOUBLE) / 1e6
        |  END letter_share,
        |  CASE WHEN chars > 0 THEN
        |    CAST((2 * CAST(digits AS HUGEINT) * 1000000 + chars)
        |      // (2 * CAST(chars AS HUGEINT)) AS DOUBLE) / 1e6
        |  END digit_share,
        |  CASE WHEN chars > 0 THEN
        |    CAST((2 * CAST(other AS HUGEINT) * 1000000 + chars)
        |      // (2 * CAST(chars AS HUGEINT)) AS DOUBLE) / 1e6
        |  END other_share,
        |  CAST((2 * CAST(chars AS HUGEINT) * 100 + n_docs)
        |    // (2 * CAST(n_docs AS HUGEINT)) AS DOUBLE) / 1e2 chars_per_doc
        |FROM a ORDER BY source""".stripMargin),

    new Query("json_props_audit", Events.jsonPropsAudit _,
      // three-class props audit: blank (trim test) / yields-int64 (the
      // pinned JsonGetLong contract: json_valid + json_type
      // BIGINT/UBIGINT + TRY_CAST) / everything else — the
      // valid-vs-malformed JSON boundary is deliberately NOT part of
      // the contract (parsers disagree on edge spellings)
      """WITH c AS (SELECT event_type,
        |    CASE WHEN props IS NULL OR trim(props) = '' THEN 1 ELSE 0 END b,
        |    CASE WHEN NOT (props IS NULL OR trim(props) = '')
        |        AND json_valid(props)
        |        AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
        |      THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    END k
        |  FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(b) AS BIGINT) n_blank,
        |    CAST(count(k) AS BIGINT) n_int_k,
        |    CAST(count(*) - sum(b) - count(k) AS BIGINT) n_other,
        |    CAST(sum(k) AS BIGINT) k_sum, min(k) k_min, max(k) k_max
        |  FROM c GROUP BY 1)
        |SELECT event_type, n, n_blank, n_int_k, n_other,
        |  CAST((2 * CAST(n_int_k AS HUGEINT) * 1000000 + n)
        |    // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 1e6 int_share,
        |  CAST((2 * CAST(n_blank AS HUGEINT) * 1000000 + n)
        |    // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 1e6 blank_share,
        |  k_sum, k_min, k_max
        |FROM a ORDER BY event_type""".stripMargin),

    new Query("graph_node_jaccard", Graph.nodeJaccard _,
      // neighborhood Jaccard per strong edge: common neighbors via the
      // adjacency wedge join, union cleared as deg_a + deg_b − common
      // (> 0 on any edge), ratioRound // twin; basket cap mirrored
      // from Graph.MaxBasketParts (see pagerankSql)
      (s"""WITH ${strongEdgeCtes("e")},
        |adj AS MATERIALIZED (
        |  SELECT a v, b n FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) d FROM adj GROUP BY 1),
        |cm AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) common
        |  FROM e JOIN adj x ON x.v = e.a JOIN adj y
        |    ON y.v = e.b AND y.n = x.n
        |  GROUP BY 1, 2),
        |j AS (SELECT e.a, e.b, da.d deg_a, db.d deg_b,
        |    coalesce(cm.common, 0) common
        |  FROM e LEFT JOIN cm ON cm.a = e.a AND cm.b = e.b
        |  JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b)
        |SELECT a, b, deg_a, deg_b, common,
        |  CAST((2 * CAST(common AS HUGEINT) * 1000000
        |      + (deg_a + deg_b - common))
        |    // (2 * CAST(deg_a + deg_b - common AS HUGEINT)) AS DOUBLE)
        |    / 1e6 jaccard
        |FROM j ORDER BY jaccard DESC, a, b LIMIT 100""").stripMargin),

    new Query("graph_kcore", Graph.kcoreSummary _, kcoreSql),

    new Query("events_runs_test", Events.runsTest _,
      // Wald–Wolfowitz runs per type: above-mean flags with the
      // denominator cleared (vm·n > Σvm, exact HUGEINT), runs via lag
      // IS DISTINCT FROM, expected runs through the ratioRound //
      // twin, z = the identically-spelled sqrt chain (Class B) over
      // exact integer inputs with the −0.0 +0 guard
      """WITH b AS (SELECT event_type, ts, event_id,
        |    CAST(round(round(value, 6) * 1e6) AS BIGINT) vm
        |  FROM events WHERE value IS NOT NULL),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    sum(CAST(vm AS HUGEINT)) s FROM b GROUP BY 1),
        |f AS (SELECT b.event_type, b.ts, b.event_id, st.n,
        |    (CAST(b.vm AS HUGEINT) * st.n > st.s) up
        |  FROM b JOIN st USING (event_type)),
        |g AS (SELECT event_type, n, up,
        |    CASE WHEN lag(up) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) IS DISTINCT FROM up
        |    THEN 1 ELSE 0 END brk FROM f),
        |r AS (SELECT event_type, max(n) n,
        |    CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) n1,
        |    CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT) n2,
        |    CAST(sum(brk) AS BIGINT) runs
        |  FROM g GROUP BY 1),
        |x AS (SELECT *, CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE) a,
        |    CAST(n AS DOUBLE) nd FROM r)
        |SELECT event_type, n, n1, n2, runs,
        |  CAST((2 * (2 * CAST(n1 AS HUGEINT) * n2 + n) * 1000000 + n)
        |    // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 1e6 exp_runs,
        |  CASE WHEN n > 1 AND 2 * CAST(n1 AS HUGEINT) * n2 > n THEN
        |    round((CAST(runs AS DOUBLE) - 1.0 - a / nd)
        |      / sqrt(a * (a - nd) / (nd * nd * (nd - 1.0))), 6) + 0
        |  END z,
        |  CASE WHEN n > 1 AND 2 * CAST(n1 AS HUGEINT) * n2 > n THEN
        |    abs((CAST(runs AS DOUBLE) - 1.0 - a / nd)
        |      / sqrt(a * (a - nd) / (nd * nd * (nd - 1.0)))) > 1.96
        |  END nonrandom
        |FROM x ORDER BY event_type""".stripMargin),

    new Query("embed_spearman_redundancy", Vectors.spearmanRedundancy _,
      // Spearman = Pearson on doubled average ranks (2·rank + ties − 1,
      // exact integers); the cleared-denominator moments and the
      // sqrt-chained 6-dp round are the dim_correlation twins verbatim
      """WITH base AS MATERIALIZED (
        |  SELECT vec_id, embedding e FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, v -> v IS NULL)) = 0),
        |ex AS MATERIALIZED (
        |  SELECT vec_id, generate_subscripts(e, 1) dim, unnest(e) v
        |  FROM base),
        |rk AS MATERIALIZED (
        |  SELECT vec_id, dim,
        |    CAST(2 * rank() OVER (PARTITION BY dim ORDER BY v)
        |      + count(*) OVER (PARTITION BY dim, v) - 1 AS BIGINT) r2
        |  FROM ex),
        |dims AS MATERIALIZED (
        |  SELECT dim i, count(*) n, sum(r2) si,
        |    sum(CAST(r2 AS HUGEINT) * r2) sii
        |  FROM rk GROUP BY 1),
        |pairs AS (SELECT a.dim i, b.dim j,
        |    sum(CAST(a.r2 AS HUGEINT) * b.r2) sij
        |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id AND a.dim < b.dim
        |  GROUP BY 1, 2),
        |c AS (SELECT p.i, p.j,
        |    CAST(di.n AS HUGEINT) * p.sij - CAST(di.si AS HUGEINT) * dj.si num,
        |    CAST(di.n AS HUGEINT) * di.sii - CAST(di.si AS HUGEINT) * di.si denx,
        |    CAST(dj.n AS HUGEINT) * dj.sii - CAST(dj.si AS HUGEINT) * dj.si deny
        |  FROM pairs p JOIN dims di ON di.i = p.i JOIN dims dj ON dj.i = p.j),
        |r AS (SELECT i, j, round(CAST(num AS DOUBLE)
        |    / (sqrt(CAST(denx AS DOUBLE)) * sqrt(CAST(deny AS DOUBLE))), 6)
        |    + 0 rho
        |  FROM c WHERE denx > 0 AND deny > 0)
        |SELECT CAST(i AS BIGINT) dim_i, CAST(j AS BIGINT) dim_j, rho,
        |  abs(rho) + 0 abs_rho
        |FROM r ORDER BY abs(rho) DESC, i, j LIMIT 20""".stripMargin),

    new Query("recon_sample_diff", Recon.sampleDiffOrders _,
      // content-keyed 1/16 sample (md5 first hex digit '0' — both
      // sides select the SAME keys, the sampleDiff contract), seeded
      // three-status divergence; the mismatch test spells the checksum
      // inequality as its equivalent DECIMAL(12,2) compare (checksums
      // differ iff the price decimals differ — other fields identical);
      // round(x, 0) is the parity-safe scale-0 class
      """WITH c AS (SELECT o_orderkey k,
        |    CASE WHEN o_orderkey % 101 = 0 THEN 'missing_in_target'
        |         WHEN o_orderkey % 89 = 0 THEN 'extra_in_target'
        |         WHEN o_orderkey % 97 = 0
        |           AND CAST(round(o_totalprice, 0) AS DECIMAL(12,2))
        |             <> CAST(o_totalprice AS DECIMAL(12,2)) THEN 'mismatch'
        |         ELSE 'match' END status
        |  FROM orders
        |  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        |    AND (o_orderkey % 89 <> 0 OR o_orderkey % 101 <> 0))
        |SELECT status, count(*) n_keys, min(k) min_k, max(k) max_k
        |FROM c GROUP BY status ORDER BY status""".stripMargin),

    new Query("graph_assortativity", Graph.assortativity _,
      // Newman degree assortativity over the directed edge list (each
      // undirected edge both ways): symmetric marginals collapse the
      // two sqrt factors into one integer denominator — r = (M·Sxy −
      // Sx²)/(M·Sxx − Sx²), pure HUGEINT arithmetic + one ratioRound
      // // twin; NULL on a degree-regular graph (den = 0); basket cap
      // mirrored from Graph.MaxBasketParts (see pagerankSql)
      (s"""WITH ${strongEdgeCtes("e")},
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) d FROM (
        |    SELECT a v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) n_nodes FROM deg),
        |dd AS (SELECT da.d da, db.d db FROM e
        |  JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) ne,
        |    sum(CAST(da AS HUGEINT) + db) sx,
        |    sum(CAST(da AS HUGEINT) * da + CAST(db AS HUGEINT) * db) sxx,
        |    sum(CAST(da AS HUGEINT) * db) sxy_half
        |  FROM dd),
        |r AS (SELECT ne, n_nodes,
        |    2 * CAST(ne AS HUGEINT) * (2 * sxy_half) - sx * sx num,
        |    2 * CAST(ne AS HUGEINT) * sxx - sx * sx den
        |  FROM m CROSS JOIN nn)
        |SELECT n_nodes, ne n_edges,
        |  CASE WHEN den > 0 THEN
        |    CAST((CASE WHEN num >= 0 THEN
        |        (2 * num * 1000000 + den) // (2 * den)
        |      ELSE -((2 * (-num) * 1000000 + den) // (2 * den)) END)
        |      AS DOUBLE) / 1e6
        |  END assortativity
        |FROM r""").stripMargin),

    new Query("vocab_coverage_curve", Text.vocabCoverageCurve _,
      // top-N type coverage of all token occurrences: exact counts,
      // (count, token) tie-free cut, one ratioRound // twin per row
      """WITH tc AS (SELECT tok, count(*) n FROM (
        |    SELECT unnest(string_split(text, ' ')) tok FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS HUGEINT) total FROM tc),
        |top AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) rk
        |  FROM (SELECT * FROM tc ORDER BY n DESC, tok LIMIT 10000)),
        |th AS (SELECT unnest([10, 100, 1000, 10000]) top_n)
        |SELECT top_n, CAST(count(*) AS BIGINT) n_types_used,
        |  CAST(sum(n) AS BIGINT) covered,
        |  CAST((2 * CAST(sum(n) AS HUGEINT) * 1000000 + total)
        |    // (2 * total) AS DOUBLE) / 1e6 coverage
        |FROM top JOIN th ON rk <= top_n CROSS JOIN tot
        |GROUP BY top_n, total ORDER BY top_n""".stripMargin),

    new Query("recon_freshness", Recon.freshness _,
      // exact integer microseconds throughout: staleness is one
      // truncating integral division (// ≡ div), the 24-h share rides
      // the ratioRound twin, the presented instant truncates to whole
      // seconds (§7.4.2)
      """WITH e AS (SELECT event_type, epoch_us(ts) us FROM events),
        |g AS (SELECT max(us) gmax FROM e),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    max(us) mus,
        |    CAST(sum(CASE WHEN us >= gmax - 86400000000 THEN 1 ELSE 0 END)
        |      AS BIGINT) n24,
        |    max(gmax) gmax
        |  FROM e CROSS JOIN g GROUP BY 1)
        |SELECT event_type, n,
        |  date_trunc('second', make_timestamp(mus)) last_ts,
        |  CAST((gmax - mus) // 1000000 AS BIGINT) staleness_s, n24,
        |  CAST((2 * CAST(n24 AS HUGEINT) * 1000000 + n)
        |    // (2 * CAST(n AS HUGEINT)) AS DOUBLE) / 1e6 share_last_24h,
        |  (gmax - mus) // 1000000 > 21600 stale
        |FROM a ORDER BY event_type""".stripMargin),

    // verify-only: diagnostic rows that bisect which stage of the
    // jsDivergence integer chain the reference DuckDB build disagrees on;
    // a bench row would time the jsDivergence frame again for no
    // performance information
    new Query("text_js_probe_norm", (s, d) => Text.jsProbeNorm(s, d),
      jsProbeNormSql, benched = false),

    new Query("text_js_probe_interp", (s, d) => Text.jsProbeInterp(s, d),
      jsProbeInterpSql, benched = false),

    new Query("text_js_probe_term", (s, d) => Text.jsProbeTerm(s, d),
      jsProbeTermSql, benched = false),

    new Query("text_js_probe_agg", (s, d) => Text.jsProbeAgg(s, d), jsProbeAggSql, benched = false),

    new Query("text_js_probe_combine", (s, d) => Text.jsProbeCombine(s, d),
      jsProbeCombineSql, benched = false),

    // verify-only: the bench contract times query plans, not sink I/O;
    // these ops' cost IS the format write+read, so they'd distort the
    // total without a DuckDB twin paying the same I/O.
    // Both round-trip ops share one oracle: the per-status recon
    // fingerprint computed over the ORIGINAL parquet. The Spark side
    // computes it over the CSV/JSON round-tripped rows, so a hash match
    // proves the text format preserved every value bit-for-bit. Price
    // normalizes through DECIMAL(12,2), date through DATE, before the
    // length-prefixed md5 — the same engine-independent text as the
    // recon_snapshot_diff oracle; split 32-bit half-sums stay in BIGINT.
    new Query("csv_roundtrip_fingerprint", graft.sources.Sources.csvRoundtripFingerprint _,
      roundtripFingerprintOracle, benched = false),

    new Query("json_roundtrip_fingerprint", graft.sources.Sources.jsonRoundtripFingerprint _,
      roundtripFingerprintOracle, benched = false),

    new Query("parquet_partitioned_roundtrip", graft.sources.Sources.parquetPartitionedRoundtrip _,
      roundtripFingerprintOracle, benched = false),

    // verify-only: the cost is the one-time bucketed sink write; the
    // join it buys is zero-shuffle, plan-asserted in SourcesSpec, values
    // oracle-checked here.
    // bucketed-catalog join anchor: the SAME join + length-prefixed
    // md5 fingerprint computed from the ORIGINAL parquet — a bucketed
    // write that drops/duplicates/mangles rows fails the hash compare
    new Query("bucketed_join_fingerprint", graft.sources.Sources.bucketedJoinFingerprint _,
      """WITH j AS (SELECT o_orderkey, o_custkey, c_mktsegment,
        |    CAST(o_totalprice AS DECIMAL(12,2)) p,
        |    CAST(c_acctbal AS DECIMAL(12,2)) b
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |h AS (SELECT c_mktsegment part,
        |    CAST(('0x' || substr(md5(concat_ws('|',
        |      concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)),
        |      concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)),
        |      concat(CAST(length(c_mktsegment) AS VARCHAR), ':', c_mktsegment),
        |      concat(CAST(length(CAST(p AS VARCHAR)) AS VARCHAR), ':', CAST(p AS VARCHAR)),
        |      concat(CAST(length(CAST(b AS VARCHAR)) AS VARCHAR), ':', CAST(b AS VARCHAR)))), 1, 15)) AS BIGINT) h
        |  FROM j)
        |SELECT part, CAST(count(*) AS BIGINT) n, bit_xor(h) fp_xor,
        |  CAST(sum(h >> 32) AS BIGINT) fp_sum_hi,
        |  CAST(sum(h & 4294967295) AS BIGINT) fp_sum_lo
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin, benched = false),

    // verify-only: the op's cost is ten driver-side footer reads, ~0 —
    // a bench row would time nothing.
    // the footer's num_rows vs the oracle's REAL count(*) scans — a
    // lying footer (truncated write) fails here before it mis-sizes a
    // fail-fast guard
    new Query("source_footer_rowcounts", graft.sources.Sources.footerRowcounts _,
      """SELECT tbl, n_rows FROM (
        |  SELECT 'customer' tbl, count(*) n_rows FROM customer
        |  UNION ALL SELECT 'documents', count(*) FROM documents
        |  UNION ALL SELECT 'embeddings', count(*) FROM embeddings
        |  UNION ALL SELECT 'events', count(*) FROM events
        |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |  UNION ALL SELECT 'nation', count(*) FROM nation
        |  UNION ALL SELECT 'orders', count(*) FROM orders
        |  UNION ALL SELECT 'part', count(*) FROM part
        |  UNION ALL SELECT 'region', count(*) FROM region
        |  UNION ALL SELECT 'supplier', count(*) FROM supplier)
        |ORDER BY tbl""".stripMargin, benched = false)
  )

  private def roundtripFingerprintOracle: String =
    """WITH rt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) p, CAST(o_orderdate AS DATE) d,
      |    o_orderpriority FROM orders),
      |h AS (SELECT o_orderstatus part,
      |    CAST(('0x' || substr(md5(concat_ws('|',
      |      concat(CAST(length(CAST(o_orderkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_orderkey AS VARCHAR)),
      |      concat(CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR), ':', CAST(o_custkey AS VARCHAR)),
      |      concat(CAST(length(o_orderstatus) AS VARCHAR), ':', o_orderstatus),
      |      concat(CAST(length(CAST(p AS VARCHAR)) AS VARCHAR), ':', CAST(p AS VARCHAR)),
      |      concat(CAST(length(CAST(d AS VARCHAR)) AS VARCHAR), ':', CAST(d AS VARCHAR)),
      |      concat(CAST(length(o_orderpriority) AS VARCHAR), ':', o_orderpriority))), 1, 15)) AS BIGINT) h
      |  FROM rt)
      |SELECT part, CAST(count(*) AS BIGINT) n, bit_xor(h) fp_xor,
      |  CAST(sum(h >> 32) AS BIGINT) fp_sum_hi,
      |  CAST(sum(h & 4294967295) AS BIGINT) fp_sum_lo
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
}
