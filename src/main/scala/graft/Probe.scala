package graft

/** Spot-bench scratch main (NOT wired into the harness): times the query
  * names given as args with the exact [[Bench]] methodology — two warm
  * passes, then min/median of five `toRdd.count()` materializations — so a
  * single op's timing can be iterated on without paying the full
  * bench wall clock. `runMain graft.Probe q1_pricing_summary …`
  * (optional first arg `sf=<dir>` overrides the data dir). */
object Probe {
  def main(args: Array[String]): Unit = {
    val (sfArgs, names) = args.partition(_.startsWith("sf="))
    val dir = sfArgs.headOption.map(_.stripPrefix("sf="))
      .getOrElse("/root/testdata/sf0.1")
    val spark = LocalSpark.session()
    spark.conf.set("spark.sql.adaptive.enabled",
      sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
    // `plan:<name>` — time analysis+optimization+physical planning only
    // (no execution): the diagnostic that separates driver-side plan
    // cost from run cost for big unrolled plans (round-20 text_js)
    names.filter(_.startsWith("plan:")).map(_.stripPrefix("plan:")).foreach { q =>
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.optimizedPlan
        val t2 = System.nanoTime()
        df.queryExecution.executedPlan
        val t3 = System.nanoTime()
        println(f"PROBE plan:$q total=${(t3 - t0) / 1e9}%.3f " +
          f"build=${(t1 - t0) / 1e9}%.3f opt=${(t2 - t1) / 1e9}%.3f " +
          f"phys=${(t3 - t2) / 1e9}%.3f")
      }
    }
    // `decomp:<name>` — the round-21 job-floor decomposition (verdict
    // #3): where does a small query's ~0.4 s wall clock go? Attaches a
    // listener and splits one materialization into plan construction
    // (build/opt/phys, the planall phases), executor task time (sum and
    // per-slot share), scheduler/stage overhead (job+stage counts, task
    // launch-to-finish vs task run time), and the unattributed driver
    // remainder (AQE stage barriers, result handling, codegen lookups).
    // min-of-5 after 2 warm passes, matching the bench methodology.
    names.filter(_.startsWith("decomp:")).map(_.stripPrefix("decomp:")).foreach { q =>
      import org.apache.spark.scheduler._
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val taskRunNs = new java.util.concurrent.atomic.AtomicLong
      val taskDeserNs = new java.util.concurrent.atomic.AtomicLong
      val gcMs = new java.util.concurrent.atomic.AtomicLong
      val stageWallMs = new java.util.concurrent.atomic.AtomicLong
      val perStage = new java.util.concurrent.ConcurrentHashMap[
        Int, (String, Int, Long)] // stageId -> (callsite, nTasks, taskRunMs)
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          for (t0 <- s.stageInfo.submissionTime; t1 <- s.stageInfo.completionTime)
            stageWallMs.addAndGet(t1 - t0)
          // the label always comes from here: onTaskEnd runs first and
          // opens the entry with a "?" placeholder. Stages AQE submits
          // from a CompletableFuture carry no graft frame; their
          // operators name them instead
          val i = s.stageInfo
          val label = i.details.linesIterator.find(_.contains("graft"))
            .getOrElse(org.apache.spark.graftbridge.ListenerBridge.stageOperators(i))
            .trim
          val cur = perStage.getOrDefault(i.stageId, ("?", 0, 0L))
          perStage.put(i.stageId, (label, cur._2 + i.numTasks, cur._3))
        }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          val m = t.taskMetrics
          if (m != null) {
            taskRunNs.addAndGet(m.executorRunTime * 1000000L)
            taskDeserNs.addAndGet(m.executorDeserializeTime * 1000000L)
            gcMs.addAndGet(m.jvmGCTime)
            val cur = perStage.getOrDefault(t.stageId, ("?", 0, 0L))
            perStage.put(t.stageId, (cur._1, cur._2, cur._3 + m.executorRunTime))
          }
        }
      }
      for (_ <- 1 to 2) materialize(q)
      spark.sparkContext.addSparkListener(listener)
      val rows = Seq.fill(5) {
        jobs.set(0); stages.set(0); tasks.set(0)
        taskRunNs.set(0); taskDeserNs.set(0); gcMs.set(0); stageWallMs.set(0)
        perStage.clear()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
        val t3 = System.nanoTime()
        (t3 - t0, t1 - t0, t2 - t1, t3 - t2, jobs.get, stages.get, tasks.get,
          taskRunNs.get, taskDeserNs.get, gcMs.get, stageWallMs.get)
      }
      val best = rows.minBy(_._1)
      spark.sparkContext.removeSparkListener(listener)
      val cpus = LocalSpark.cpus.toInt
      println(f"DECOMP $q wall=${best._1 / 1e9}%.3f construct=${best._2 / 1e9}%.3f " +
        f"plan=${best._3 / 1e9}%.3f exec=${best._4 / 1e9}%.3f " +
        f"jobs=${best._5} stages=${best._6} tasks=${best._7} " +
        f"taskRunSum=${best._8 / 1e9}%.3f taskRunPerSlot=${best._8 / 1e9 / cpus}%.3f " +
        f"taskDeserSum=${best._9 / 1e9}%.3f gcSum=${best._10 / 1e3}%.3f " +
        f"stageWallSum=${best._11 / 1e3}%.3f " +
        f"driverResidue=${(best._4 - best._11 * 1000000L).max(0L) / 1e9}%.3f")
      // per-stage attribution for the LAST run (stage ids differ per
      // run but the shape repeats): top stages by summed task run time
      import scala.jdk.CollectionConverters._
      perStage.asScala.toSeq.sortBy(-_._2._3).take(10).foreach {
        case (id, (site, nt, ms)) =>
          println(f"  STAGE $id%5d tasks=$nt%4d taskRunSum=${ms / 1e3}%8.3f  $site")
      }
    }
    // `planall` — the round-20 planning-time CENSUS: build/opt/phys for
    // EVERY bench query (min of 3, after one warm pass so lazily-built
    // session state — relation cache, function registry — is paid once),
    // sorted by total planning cost. Execution never runs; this ranks
    // where the driver-side Catalyst tax (a real per-run cost inside the
    // bench's timed region AND serial driver work at 100 TB) is spent.
    if (names.contains("planall")) {
      def planOnce(q: String): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.optimizedPlan
        val t2 = System.nanoTime()
        df.queryExecution.executedPlan
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      SparkEntry.benchQueries.foreach(planOnce) // warm lazily-built state
      val rows = SparkEntry.benchQueries.map { q =>
        val s = Seq.fill(3)(planOnce(q))
        val b = s.map(_._1).min; val o = s.map(_._2).min; val p = s.map(_._3).min
        (q, b, o, p, b + o + p)
      }.sortBy(-_._5)
      rows.foreach { case (q, b, o, p, t) =>
        println(f"PLANALL $q%-32s total=$t%.3f build=$b%.3f opt=$o%.3f phys=$p%.3f")
      }
      println(f"PLANALL TOTAL=${rows.map(_._5).sum}%.3f over ${rows.size} queries")
      spark.stop()
      return
    }
    val targets = if (names.nonEmpty)
                    names.filterNot(n => n.startsWith("plan:") || n.startsWith("decomp:")).toSeq
                  else SparkEntry.benchQueries
    for (_ <- 1 to 2) targets.foreach(materialize)
    val timed = targets.map { name =>
      val samples = Seq.fill(5) {
        val t0 = System.nanoTime()
        materialize(name)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"PROBE $name%-28s min=${samples.head}%.3f med=${samples(2)}%.3f")
      name -> samples
    }
    println(f"PROBE TOTAL min=${timed.map(_._2.head).sum}%.3f med=${timed.map(_._2(2)).sum}%.3f")
    spark.stop()
  }
}
