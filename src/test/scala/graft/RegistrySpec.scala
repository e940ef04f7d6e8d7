package graft

/** Wiring guards for the harness contract: every registered query must
  * ANALYZE against the real testdata (catches renamed columns, bad
  * expressions and registry typos at plan time without executing 248
  * queries), and the query table must bind each name once. Full
  * execution coverage lives in Verify + the DuckDB oracle; this spec
  * is the fast tripwire that fails inside `sbt test` the moment a
  * refactor breaks an op's analysis. The sources' scaladoc must also
  * stay attached to the definitions it documents. */
class RegistrySpec extends GraftSpec {

  test("every registered query analyzes against sf0.001") {
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        try { q(spark, sf).schema; None }
        catch { case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(broken.isEmpty, s"queries failing analysis:\n${broken.mkString("\n")}")
  }

  test("the query table binds each name once") {
    val names = SparkEntry.table.map(_.name)
    assert(names.distinct === names, s"names bound twice: ${names.diff(names.distinct)}")
  }

  test("a Query row renders its oracle SQL only when read") {
    val q = new SparkEntry.Query("lazy", SparkEntry.queries("recon_rowcount"),
      sys.error("rendered"))
    assert(intercept[RuntimeException](q.oracle).getMessage === "rendered")
  }

  test("unpartitioned WindowExec appears only at the known answer-sized sites") {
    // An unpartitioned window moves ALL data to one partition — the
    // classic 100 TB cliff. The allowed sites window frames that
    // are provably answer-sized (a year grid, a top-k vocab slice, a
    // calendar-day rollup) or size-gated small forms; any NEW query
    // planning one fails here, which replaces the WindowExec warning
    // spam (silenced in the harness mains) as the detection channel.
    val allowed = Set(
      "orders_yoy_growth",   // |years|-row frame (Relational.yoyGrowth)
      "ntile_funcs",         // size-gated small form (ntileFuncsSmall)
      "vocab_top_tokens",    // top-k token slice (Text.vocabTopTokens)
      "text_boilerplate_ngrams", // 20-row top-k gram slice (Text.boilerplateNgrams)
      "text_zipf_slope",     // top-k count frame (Text.zipfSlope)
      "rows_frame_window",   // calendar-day rollup (Events.rowsFrameWindow)
      "vocab_coverage_curve", // rank over the TakeOrdered top-10000 slice
      // the ng total of the text_js family's size-gated small path
      // (Text.jsLogFrame under JsCoalesceDocsGate — the ntile_funcs
      // precedent; over the gate the op plans joins, no window)
      "text_js_divergence", "text_js_probe_norm", "text_js_probe_interp",
      "text_js_probe_term", "text_js_probe_agg", "text_js_probe_combine",
      // rank() over the whole orders frame, capped at 500 plus key ties by
      // the partial WindowGroupLimit in each scan task (Changes.scd2Head)
      "scd2_history")
    // a query that fails PLANNING here would escape both detection
    // channels (the WindowExec warning is silenced in the harness
    // mains) — collect ANALYSIS failures and fail loud instead of
    // skipping (round-13 advice); the catch is narrowed to
    // AnalysisException (round-14 advice) so any OTHER exception class
    // (a fixture NPE, a planner bug) aborts the test at the offending
    // query instead of being silently folded into the same bucket
    val planFailures = scala.collection.mutable.ArrayBuffer.empty[String]
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val unpart = try {
          q(spark, sf).queryExecution.sparkPlan.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
          }
        } catch { case e: org.apache.spark.sql.AnalysisException =>
          planFailures += s"$name: ${e.getMessage.linesIterator.next()}"
          Nil
        }
        if (unpart.nonEmpty) Some(name) else None
    }
    assert(planFailures.isEmpty,
      s"queries failed planning during the window audit:\n${planFailures.mkString("\n")}")
    val unexpected = offenders.toSet -- allowed
    assert(unexpected.isEmpty,
      s"NEW unpartitioned WindowExec (all-to-one-partition scale cliff) in: " +
        s"${unexpected.toSeq.sorted}")
  }

  test("no raw round(int/int, k>0) presentation survives (the ratioRound rule, SURVEY §7.4.9)") {
    // The round-15/16 determinism class: Spark round(x, k) HALF_UPs the
    // double's shortest decimal string while DuckDB multiplies by 10^k
    // first — an integer/integer quotient can tie at scale k and split
    // the engines. Every such presentation must route through
    // Exact.ratioRound/ratioScaled (exact half-away integer
    // arithmetic). This walk flags Round(_, k > 0) whose argument is a
    // RATIONAL composition (ints/decimals, +, −, ×, ÷, casts,
    // integer-valued double literals) containing a real division —
    // class B (sqrt/log/non-integer literals) fails the rational test
    // and never flags; class A is exempted structurally: scale-0
    // rounds (no ×10^k on the DuckDB side — both engines round the
    // same double with agreeing half-behavior), and micro-long/10^p
    // presentations with p ≤ k (the round is an identity on the
    // lattice).
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    // Reviewed non-structural exemptions — exact respells that are
    // UNREPRESENTABLE in DECIMAL(38,0) ≡ HUGEINT, so the ops keep the
    // identically-spelled double product chains (huge-integer double
    // products sit off the reachable decimal lattice the same way
    // sqrt/log chains do):
    //  - events_weekly_spectrum: aa²+bb² ~ 10⁴⁰ at sf0.1 (weekly_amp,
    //    its sqrt sibling, is class B outright)
    //  - orders_trend_forecast: r2's num²·2·10⁶ ~ 10⁴¹ at the 10×
    //    corpus (caught by the gate-crossing smoke, round 16)
    val allowed = Set("events_weekly_spectrum", "orders_trend_forecast")
    def isPow10AtMost(l: Literal, k: Int): Boolean = l match {
      case Literal(v: Double, DoubleType) if v > 0 =>
        val p = math.log10(v)
        p == math.rint(p) && p <= k
      case Literal(v: Long, LongType) if v > 0 =>
        val p = math.log10(v.toDouble)
        p == math.rint(p) && p <= k
      case _ => false
    }
    def ratLike(e: Expression): Boolean = e match {
      case c: Cast => ratLike(c.child)
      case l: Literal => l.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
          case _: DecimalType => true
        case DoubleType =>
          val d = l.value.asInstanceOf[Double]
          d == math.rint(d) && !d.isInfinite
        case _ => false
      }
      case a: Add => ratLike(a.left) && ratLike(a.right)
      case s: Subtract => ratLike(s.left) && ratLike(s.right)
      case m: Multiply => ratLike(m.left) && ratLike(m.right)
      case d: Divide => ratLike(d.left) && ratLike(d.right)
      case u: UnaryMinus => ratLike(u.child)
      case _ => e.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
          case _: DecimalType => true
        case _ => false
      }
    }
    def hasDivide(e: Expression): Boolean =
      e.collectFirst { case _: Divide => () }.nonEmpty
    def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case other => other
    }
    def latticeExempt(child: Expression, k: Int): Boolean =
      stripCast(child) match {
        case d: Divide =>
          (stripCast(d.right) match {
            case l: Literal => isPow10AtMost(l, k)
            case _ => false
          }) && !hasDivide(d.left) && ratLike(d.left)
        case _ => false
      }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        // analysis failures are the first test's finding, not this one's
        val plans =
          try Seq(q(spark, sf).queryExecution.analyzed)
          catch { case _: Exception => Seq.empty }
        val hits = plans.flatMap(_.collect { case p => p.expressions }.flatten).flatMap {
          _.collect {
            case r: Round =>
              (r.children(0), r.children(1)) match {
                case (child, Literal(s: Int, IntegerType)) if s > 0 &&
                  ratLike(child) && hasDivide(child) &&
                  !latticeExempt(child, s) => Some(child.sql.take(90))
                case _ => None
              }
          }.flatten
        }
        if (hits.nonEmpty && !allowed(name)) Some(s"$name: ${hits.head}") else None
    }
    assert(offenders.isEmpty,
      "raw round(int/int, k>0) presentations (route through Exact.ratioRound " +
        s"or add a REVIEWED allowlist entry):\n${offenders.mkString("\n")}")
  }

  test("every benched query has a BASELINE.md row (the standing budget rule)") {
    // SURVEY §7.5 standing rule, round-12 verdict #4: an op registered
    // without its DuckDB timing appended to BASELINE.md silently erodes
    // the 2x bench ratio (each small op adds ~0.1-0.3 s of Spark fixed
    // overhead against ~0.01 s of unbudgeted DuckDB denominator). Parse
    // the baseline's per-query rows and fail the moment a benchQueries
    // entry has no budget row — turning discipline into an invariant.
    val src = scala.io.Source.fromFile("BASELINE.md", "UTF-8")
    val budgeted = try {
      val row = """^\| ([a-z0-9_]+)[ (]""".r
      src.getLines().flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    } finally src.close()
    val unbudgeted = SparkEntry.benchQueries.toSet -- budgeted
    assert(unbudgeted.isEmpty,
      s"benched but missing a BASELINE.md budget row: ${unbudgeted.toSeq.sorted}")
  }

  test("README names every recon_ and streaming_ query in the registry") {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val readme = try src.mkString finally src.close()
    val undocumented = SparkEntry.table.map(_.name)
      .filter(n => (n.startsWith("recon_") || n.startsWith("streaming_")) &&
        !readme.contains(s"`$n`"))
    assert(undocumented.isEmpty,
      s"registered but not named in README.md: ${undocumented.sorted}")
  }

  test("the verify-only rows are exactly the ten reviewed names") {
    // the round-trip fingerprints are deliberately unbenched: they
    // write+re-read files, which the repeated-materialization timing
    // methodology can't time meaningfully, and BASELINE.md never budgeted
    // them; the footer-rowcount anchor is ten driver-side footer reads
    // (~0 — a bench row would time nothing while its DuckDB twin pays
    // ten full scans). The text_js probes are DIAGNOSTIC rows (they
    // bisect which stage of the jsDivergence integer chain the reference
    // DuckDB build disagrees on); benching them would time the
    // jsDivergence frame again for no performance information, and they
    // leave the registry once the row is oracle-green. Any OTHER name
    // here is a row that forgot to be benched.
    val verifyOnly = Set("csv_roundtrip_fingerprint", "json_roundtrip_fingerprint",
      "parquet_partitioned_roundtrip", "bucketed_join_fingerprint",
      "source_footer_rowcounts", "text_js_probe_norm", "text_js_probe_interp",
      "text_js_probe_term", "text_js_probe_agg", "text_js_probe_combine")
    assert(SparkEntry.table.filterNot(_.benched).map(_.name).toSet === verifyOnly)
  }

  test("no doc comment is directly followed by another doc comment") {
    // scaladoc attaches only the LAST of two stacked doc comments to
    // the definition below them; the first one documents nothing
    val files = scalaSources("src/main/scala/graft")
    assert(files.nonEmpty, "sources not found under src/main/scala/graft")
    val orphans = files.flatMap { case (path, lines) =>
      lines.indices.filter(i => lines(i).trim.startsWith("/**")).flatMap { start =>
        val end = lines.indexWhere(_.contains("*/"), start)
        val next = lines.indexWhere(_.trim.nonEmpty, end + 1)
        if (end >= 0 && next >= 0 && lines(next).trim.startsWith("/**"))
          Some(s"$path:${start + 1}: ${lines(start).trim}")
        else None
      }
    }
    assert(orphans.isEmpty,
      s"doc comments attached to nothing (move each onto its definition):\n" +
        orphans.mkString("\n"))
  }
}
