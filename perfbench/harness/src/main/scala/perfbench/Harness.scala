package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{MemoRegistry, QuietLogs, SparkEntry}
import org.apache.spark.perfbench.Bridge
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `perfbench/run.py` prepares the inputs,
  * writes a spec file and launches
  *
  *   Harness run <spec>              one benchmark run (see [[Spec]])
  *   Harness oracle-sql <names> <f>  SparkEntry.oracleSql for `names` as JSON
  *
  * A run is a closed loop with one client: the driver thread issues one
  * query at a time on `local[cores]`, with `spark.sql.shuffle.partitions =
  * cores` and `queryExecution.toRdd.count()` as materialisation, as in
  * `graft.Bench`. It writes raw timings to `<out>/run.json`; a traced run
  * also writes `<out>/layers.jsonl` (per-query layer metrics) and
  * `<out>/spans.jsonl`. The answers are dumped to `<out>/dump/<query>`
  * after the timed passes, for run.py's oracle check. */
object Harness {

  /** One run's settings, as run.py writes them (JSON). */
  final case class Spec(workload: String, seed: Long, trace: Boolean,
      cores: Int, corpus: String, churnRoot: Option[String],
      queries: Seq[String], modules: Map[String, String], out: String,
      warmup: Int, passes: Int)

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .build()

  private def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", spec) =>
      new Run(mapper.readValue(new File(spec), classOf[Spec])).apply()
    case Seq("oracle-sql", names, out) =>
      val sql = SparkEntry.oracleSql
      Files.writeString(Paths.get(out), json(
        names.split(",").toSeq.filter(sql.contains).map(n => n -> sql(n)).toMap))
    case _ =>
      System.err.println("usage: Harness run <spec> | oracle-sql <names> <out>")
      sys.exit(2)
  }

  private final class Run(spec: Spec) {
    private val mainStartMs = Clock.nowMs()
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private val jit = ManagementFactory.getCompilationMXBean
    private var spark: SparkSession = _
    private var dir: String = _
    private val collector = new Collector
    private val spans = mutable.ArrayBuffer[Span]()
    private var nextId = 0
    private val failures = mutable.ArrayBuffer[(String, Int, String)]()
    private var attempted = 0
    private val layerRows = mutable.ArrayBuffer[String]()
    private val passRows = mutable.ArrayBuffer[Map[String, Any]]()
    private val latencies = mutable.ArrayBuffer[(Int, String, Double)]()

    private def newId(): Int = { nextId += 1; nextId }

    private def churnDir(i: Int): String =
      s"${spec.churnRoot.get}/seed${spec.seed}-copy$i"

    /** The corpus's tables, one parquet file each. */
    private def tables(d: String): Seq[File] =
      new File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).toSeq

    /** Copies the base corpus into a fresh directory (untimed). */
    private def freshCopy(i: Int): String = {
      val d = churnDir(i)
      new File(d).mkdirs()
      tables(spec.corpus).foreach { f =>
        Files.copy(f.toPath, Paths.get(d, f.getName),
          StandardCopyOption.REPLACE_EXISTING)
      }
      d
    }

    private def deleteTree(d: String): Unit = {
      val f = new File(d)
      Option(f.listFiles()).foreach(_.foreach(c =>
        if (c.isDirectory) deleteTree(c.getPath) else c.delete()))
      f.delete()
    }

    /** SparkSession as `graft.Bench` builds it, plus bounded status-store
      * retention so retained heap does not depend on how many passes fit
      * in the run. */
    private def startSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${spec.cores}]")
        .config("spark.sql.shuffle.partitions", spec.cores.toString)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      QuietLogs.silenceKnownBoundedWindowWarning()
      s
    }

    /** Session up and every input table resolved (listing + footer),
      * timed from main start. */
    private def setUp(): Double = {
      spark = startSession()
      val t1 = Clock.nowMs()
      tables(dir).foreach(f => spark.read.parquet(f.getPath).schema)
      val t2 = Clock.nowMs()
      System.err.println(f"[perfbench] setup: session ${(t1 - mainStartMs) / 1e3}%.3f s" +
        f", inputs ${(t2 - t1) / 1e3}%.3f s")
      (t2 - mainStartMs) / 1e3
    }

    private def order(pass: Int): Seq[String] =
      new Random(spec.seed * 1000003L + pass).shuffle(spec.queries)

    private def fail(q: String, pass: Int, e: Throwable): Unit = {
      failures += ((q, pass, s"${e.getClass.getName}: ${e.getMessage}"
        .take(500)))
      System.err.println(s"[perfbench] $q failed in pass $pass: $e")
    }

    /** One pass over every query; in a churn workload the pass first
      * evicts the retired corpus's memos and reads a fresh copy. */
    private def pass(p: Int, traced: Boolean, steady: Boolean): Unit = {
      val nextDir = if (spec.churnRoot.isDefined && p > 0) Some(freshCopy(p))
        else None
      val passId = newId()
      if (traced) {
        collector.clear()
        spark.sparkContext.addSparkListener(collector)
      }
      val cpu0 = os.getProcessCpuTime
      val jit0 = jit.getTotalCompilationTime
      val t0 = Clock.nowMs()
      var evictS = 0.0
      var retired: Option[String] = None
      nextDir.foreach { d =>
        val e0 = Clock.nowMs()
        MemoRegistry.evict(spark, dir)
        val e1 = Clock.nowMs()
        evictS = (e1 - e0) / 1e3
        if (traced) spans += Span(newId(), passId, "MemoRegistry.evict", -1,
          e0, e1)
        retired = Some(dir)
        dir = d
      }
      val queryIds = mutable.ArrayBuffer[(Int, String)]()
      order(p).foreach { q =>
        attempted += 1
        if (traced) queryIds += (tracedQuery(q, p, passId) -> q)
        else {
          val q0 = Clock.nowMs()
          try SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count()
          catch { case e: Throwable => fail(q, p, e) }
          latencies += ((p, q, (Clock.nowMs() - q0) / 1e3))
        }
      }
      val t1 = Clock.nowMs()
      val cpu1 = os.getProcessCpuTime
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      retired.foreach(deleteTree)
      if (traced) {
        spans += Span(passId, 0, "pass", -1, t0, t1, Map("pass" -> p))
        Bridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
        attribute(queryIds.toSeq, p)
      }
      passRows += Map("pass" -> p, "traced" -> traced, "steady" -> steady,
        "wall_s" -> (t1 - t0) / 1e3, "evict_s" -> evictS,
        "cpu_s" -> (cpu1 - cpu0) / 1e9,
        // diagnostic only: elapsed time summed over the compiler threads
        "jit_s" -> jitS)
      // untimed breath, as graft.Bench takes between queries: the garbage
      // and pending shuffle/checkpoint cleanups of one pass are collected
      // before the next one starts instead of landing in it
      System.gc()
      Thread.sleep(200)
    }

    /** Runs one query with each layer in its own span; jobs started in a
      * phase carry that phase's tag. Returns the query span id. */
    private def tracedQuery(q: String, p: Int, passId: Int): Int = {
      val qid = newId()
      val sc = spark.sparkContext
      val q0 = Clock.nowMs()
      def phase[T](name: String)(body: => T): T = {
        sc.setLocalProperty(Collector.Key, s"$qid:$name")
        val t0 = Clock.nowMs()
        try body
        finally {
          spans += Span(newId(), qid, name, qid, t0, Clock.nowMs())
          sc.setLocalProperty(Collector.Key, null)
        }
      }
      try {
        val df: DataFrame = phase("construct")(SparkEntry.queries(q)(spark, dir))
        phase("plan.optimize")(df.queryExecution.optimizedPlan)
        phase("plan.physical")(df.queryExecution.executedPlan)
        phase("exec")(df.queryExecution.toRdd.count())
      } catch { case e: Throwable => fail(q, p, e) }
      spans += Span(qid, passId, "query", qid, q0, Clock.nowMs(),
        Map("query_name" -> q, "module" -> spec.modules(q)))
      qid
    }

    /** Turns the listener's jobs and stages into spans under the phase
      * that launched them, and emits one layer row per query. */
    private def attribute(queries: Seq[(Int, String)], p: Int): Unit = {
      val phases = spans.filter(s => s.parent == s.query && s.query > 0 &&
        queries.exists(_._1 == s.query)).toSeq
      val byTag = phases.map(s => s"${s.query}:${s.name}" -> s).toMap
      val jobSpan = mutable.Map[Int, Span]()
      collector.jobs.values.foreach { j =>
        val owner = Option(j.tag).flatMap(byTag.get).orElse(
          phases.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs))
        owner.foreach { ph =>
          val s = Span(newId(), ph.id, "job", ph.query, j.startMs,
            if (j.endMs.isNaN) ph.endMs else j.endMs,
            Map("job" -> j.id, "phase" -> ph.name))
          jobSpan(j.id) = s
          spans += s
        }
      }
      // A stage listed by several jobs ran under the latest one that had
      // started by the time it was submitted.
      val stagePhase = mutable.Map[Int, String]()
      val stageQuery = mutable.Map[Int, Int]()
      collector.stages.values.foreach { st =>
        val owners = collector.jobs.values.filter(j =>
          j.stageIds.contains(st.id) && j.startMs <= st.submitMs &&
            jobSpan.contains(j.id))
        if (owners.nonEmpty) {
          val j = jobSpan(owners.maxBy(_.startMs).id)
          val end = if (st.completeMs.isNaN) j.endMs else st.completeMs
          spans += Span(newId(), j.id, "stage", j.query, st.submitMs, end,
            Map("stage" -> st.id, "label" -> st.label, "tasks" -> st.tasks,
              "task_s" -> st.taskMs / 1e3, "max_task_s" -> st.maxTaskMs / 1e3,
              "rows" -> st.rows, "max_task_rows" -> st.maxTaskRows,
              "shuffle_read_bytes" -> st.shuffleRead,
              "shuffle_write_bytes" -> st.shuffleWrite))
          stagePhase(st.id) = j.attrs("phase").toString
          stageQuery(st.id) = j.query
        }
      }
      val children = spans.groupBy(_.parent)
      def self(s: Span): Double =
        Span.selfMs(s, children.getOrElse(s.id, Nil).toSeq) / 1e3
      queries.foreach { case (qid, q) =>
        val qSpan = spans.find(_.id == qid).get
        val ph = children.getOrElse(qid, Nil).map(s => s.name -> s).toMap
        def dur(n: String) = ph.get(n).fold(0.0)(_.durMs / 1e3)
        val jobs = ph.values.flatMap(s => children.getOrElse(s.id, Nil)).toSeq
        def jobsIn(n: String) = jobs.filter(_.attrs("phase") == n)
        val sts = collector.stages.values.filter(s =>
          stageQuery.get(s.id).contains(qid)).toSeq
        val ex = sts.filter(s => stagePhase(s.id) == "exec")
        val cons = sts.filter(s => stagePhase(s.id) == "construct")
        val exec = ph.get("exec")
        val gap = exec.fold(0.0)(e => (e.durMs - Intervals.covered(
          ex.map(s => (s.submitMs,
            if (s.completeMs.isNaN) e.endMs else s.completeMs)),
          e.startMs, e.endMs)) / 1e3)
        val phaseSum = Seq("construct", "plan.optimize", "plan.physical",
          "exec").map(dur).sum
        val m = Seq[(String, Any)](
          "pass" -> p, "query" -> q, "module" -> spec.modules(q),
          "wall_s" -> qSpan.durMs / 1e3,
          "construct_s" -> dur("construct"),
          "construct.jobs" -> jobsIn("construct").size,
          "construct.task_s" -> cons.map(_.taskMs).sum / 1e3,
          "plan.optimize_s" -> dur("plan.optimize"),
          "plan.physical_s" -> dur("plan.physical"),
          "exec_s" -> dur("exec"),
          "exec.jobs" -> jobsIn("exec").size,
          "exec.stages" -> ex.size,
          "exec.tasks" -> ex.map(_.tasks).sum,
          "exec.task_s" -> ex.map(_.taskMs).sum / 1e3,
          "exec.task_cpu_s" -> ex.map(_.cpuNs).sum / 1e9,
          "exec.gc_s" -> ex.map(_.gcMs).sum / 1e3,
          "exec.deser_s" -> ex.map(_.deserMs).sum / 1e3,
          "exec.critical_s" -> ex.map(_.maxTaskMs).sum / 1e3,
          "exec.driver_gap_s" -> gap,
          "scan.rows" -> sts.map(_.rows).sum,
          "scan.bytes" -> sts.map(_.bytes).sum,
          "scan.max_task_rows" -> (0L +: sts.map(_.maxTaskRows)).max,
          "shuffle.write_bytes" -> sts.map(_.shuffleWrite).sum,
          "shuffle.read_bytes" -> sts.map(_.shuffleRead).sum,
          "shuffle.fetch_wait_s" -> sts.map(_.fetchWaitMs).sum / 1e3,
          "spill.bytes" -> sts.map(_.spill).sum,
          "query.remainder_s" -> (qSpan.durMs / 1e3 - phaseSum),
          "self.construct_s" -> ph.get("construct").fold(0.0)(self),
          "self.exec_s" -> exec.fold(0.0)(self),
          "self.job_s" -> jobs.map(self).sum)
        layerRows += json(m.toMap)
      }
    }

    private def retainedHeapMb(): Double = {
      val mem = ManagementFactory.getMemoryMXBean
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }

    /** Writes every query's answer for the oracle check (untimed). */
    private def dump(): Unit = {
      val out = s"${spec.out}/dump"
      spec.queries.sorted.foreach { q =>
        attempted += 1
        try SparkEntry.queries(q)(spark, dir).coalesce(1).write
          .mode("overwrite").parquet(s"$out/$q")
        catch { case e: Throwable => fail(q, -1, e) }
      }
    }

    def apply(): Unit = {
      dir = if (spec.churnRoot.isDefined) freshCopy(0) else spec.corpus
      val setupS = setUp()
      val w0 = Clock.nowMs()
      // first pass: fresh session, cold JIT, memos built
      pass(0, traced = false, steady = false)
      val firstPassS = passRows.head("wall_s")
      // Unreported warm-up passes, then a fixed number of measured ones, so
      // every run reports the same stretch of the JIT's warm-up. Traced
      // runs alternate untraced and traced measured passes, so the
      // overhead of tracing is measured in the same run.
      var p = 1
      while (p <= spec.warmup + spec.passes) {
        val steady = p > spec.warmup
        pass(p, traced = spec.trace && steady && (p - spec.warmup) % 2 == 0,
          steady)
        p += 1
      }
      val heapMb = retainedHeapMb()
      if (spec.churnRoot.isDefined) {
        // the answers must also hold after an evict and a memo rebuild
        val next = freshCopy(p)
        MemoRegistry.evict(spark, dir)
        deleteTree(dir)
        dir = next
      }
      dump()
      if (spec.trace) spans += Span(0, -1, "workload", -1, w0, Clock.nowMs(),
        Map("workload" -> spec.workload))
      writeOutputs(setupS, firstPassS, heapMb)
      spark.stop()
      spec.churnRoot.foreach(_ => deleteTree(dir))
    }

    private def writeOutputs(setupS: Double, firstPassS: Any,
        heapMb: Double): Unit = {
      new File(spec.out).mkdirs()
      val run = json(Map(
        "workload" -> spec.workload, "cores" -> spec.cores,
        "setup_s" -> setupS, "first_pass_s" -> firstPassS,
        "passes" -> passRows.toSeq, "latencies" -> latencies.toSeq.map { case (p, q, s) =>
          Map("pass" -> p, "query" -> q, "s" -> s) },
        "heap_retained_mb" -> heapMb, "attempted" -> attempted,
        "failures" -> failures.toSeq.map { case (q, p, e) =>
          Map("query" -> q, "pass" -> p, "error" -> e) }))
      Files.writeString(Paths.get(s"${spec.out}/run.json"), run)
      if (spec.trace) {
        val w = new PrintWriter(s"${spec.out}/layers.jsonl", "UTF-8")
        try layerRows.foreach(w.println) finally w.close()
        val children = spans.groupBy(_.parent)
        val sw = new PrintWriter(s"${spec.out}/spans.jsonl", "UTF-8")
        try spans.sortBy(_.startMs).foreach { s =>
          val self = Span.selfMs(s, children.getOrElse(s.id, Nil).toSeq)
          sw.println(json(Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "query" -> s.query, "start_ms" -> s.startMs,
            "dur_ms" -> s.durMs, "self_ms" -> self) ++ s.attrs))
        } finally sw.close()
      }
    }
  }
}
