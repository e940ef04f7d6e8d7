package graft

import scala.jdk.CollectionConverters._

import graft.ops.{Events, Graph, Relational, Text, Vectors}
import org.apache.spark.sql.SparkSession

/** The memo policy ([[Memo]]) and the central eviction point: every
  * per-JVM per-corpus memo (derived artifacts, and `Tables`' resolved
  * relations, footer schemas and row counts) is a [[Memo]] registered with
  * [[MemoRegistry]], and one evict-by-(session, dir) sweep drops a
  * retiring corpus's artifacts across all modules regardless of extra
  * key params. */
class MemoRegistrySpec extends GraftSpec {

  test("Memo: a hit is the same instance, a new stamp rebuilds, keys and eviction are scoped") {
    val m = new Memo[(SparkSession, String, Int), Array[Int]]("spec.generic")
    try {
      var builds = 0
      def get(s: SparkSession, dir: String, p: Int, stamp: AnyRef): Array[Int] =
        m((s, dir, p), stamp) { builds += 1; Array(p) }
      val (s1, s2) = (new Object, new Object)

      val a = get(spark, "/a", 1, s1)
      assert(get(spark, "/a", 1, s1) eq a, "a hit must return the stored instance")
      assert(builds === 1)

      val a2 = get(spark, "/a", 1, s2)
      assert(!(a2 eq a) && builds === 2, "a new stamp must rebuild")
      assert(get(spark, "/a", 1, s2) eq a2, "the rebuild replaces the entry")
      assert(builds === 2)

      val b = get(spark, "/a", 2, s2)
      assert(!(b eq a2) && builds === 3, "extra key params are held separately")
      assert((get(spark, "/a", 1, s2) eq a2) && (get(spark, "/a", 2, s2) eq b))
      assert(builds === 3)

      val fresh = Array(7)
      assert(m.put((spark, "/a", 3), s2, fresh) eq fresh)
      assert(get(spark, "/a", 3, s2) eq fresh, "put stores under its stamp")
      assert(builds === 3)

      val other = spark.newSession()
      val c = get(spark, "/c", 1, s2)
      val o = get(other, "/a", 1, s2)
      m.evict(spark, "/a")
      assert(m.peek((spark, "/a", 1)).isEmpty && m.peek((spark, "/a", 2)).isEmpty &&
        m.peek((spark, "/a", 3)).isEmpty, "evict drops every extra param")
      assert(m.peek((spark, "/c", 1)).get eq c, "another dir survives")
      assert(m.peek((other, "/a", 1)).get eq o, "another session survives")

      MemoRegistry.evict(other, "/a")
      assert(m.peek((other, "/a", 1)).isEmpty, "the registry sweep reaches every memo")
      assert(m.peek((spark, "/c", 1)).get eq c)
    } finally MemoRegistry.memos.remove(m)
  }

  test("exactly the 20 memos are registered") {
    // touching each object runs its initializer, which registers its memos
    assert(Seq(Events, Graph, Relational, Tables, Text, Vectors).size === 6)
    val names = MemoRegistry.memos.asScala.map(_.name).toSeq
    assert(names.sorted === Seq(
      "Events.markovTrans",
      "Graph.edge", "Graph.minhashPairs",
      "Relational.pareto",
      "Tables.footerSchema", "Tables.relation", "Tables.rowCount",
      "Text.banded", "Text.bloom", "Text.bpe", "Text.langid", "Text.lmMicro",
      "Text.mhPairFrame", "Text.shPairFrame", "Text.spanBloom", "Text.winnow",
      "Vectors.centroidRows", "Vectors.gramState", "Vectors.ivfCentroid",
      "Vectors.pqBooks"))
  }

  test("no memo map in ops/, Schemas.scala, sources/ or streaming/ bypasses Memo") {
    // a hand-rolled ConcurrentHashMap/TrieMap in an operator module, in
    // Tables (Schemas.scala) or in the source and streaming surfaces is
    // a per-corpus cache outside the registry: MemoRegistry.evict would
    // never reach it
    val files = scalaSources("src/main/scala/graft/ops",
      "src/main/scala/graft/Schemas.scala", "src/main/scala/graft/sources",
      "src/main/scala/graft/streaming")
    assert(files.size > 1, "sources not found under src/main/scala/graft")
    val offenders = files.flatMap { case (path, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if """\b(ConcurrentHashMap|TrieMap)\b""".r.findFirstIn(l).isDefined =>
          s"$path:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"declare memos with graft.Memo, not a raw map:\n${offenders.mkString("\n")}")
  }

  test("no lineage truncation outside Checkpoint.truncate") {
    // the local-or-reliable choice is made once, in Checkpoint.scala; a
    // bare localCheckpoint elsewhere ignores the deployment's checkpoint
    // directory, and a bare checkpoint fails without one
    val files = scalaSources("src/main/scala/graft")
    assert(files.exists(_._1.endsWith("/graft/Checkpoint.scala")),
      "sources not found under src/main/scala/graft")
    val offenders = files.filterNot(_._1.endsWith("/graft/Checkpoint.scala"))
      .flatMap { case (path, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if l.contains("localCheckpoint(") || l.contains(".checkpoint(") =>
            s"$path:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"truncate lineage with graft.Checkpoint.truncate:\n${offenders.mkString("\n")}")
  }

  test("with a checkpoint directory set, a frame memo builds a reliable checkpoint") {
    // the Text frame memos go through Checkpoint.truncate like the graph
    // ops: a deployment's checkpoint directory reaches them with no
    // call-site option, and the rows do not change
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val local = rows(Text.bandedSignatures(spark, sf))
    val dir = java.nio.file.Files.createTempDirectory("banded-ckpt").toString
    try {
      val reliable = withCheckpointDir(dir) {
        MemoRegistry.evict(spark, sf)
        val frame = Text.bandedSignatures(spark, sf)
        assert(fileCount(new java.io.File(dir)) > 0,
          s"no checkpoint files written under $dir")
        rows(frame)
      }
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "the fixture must unset the checkpoint directory")
      assert(reliable === local)
    } finally {
      // never leave a memoized frame whose checkpoint files are deleted
      MemoRegistry.evict(spark, sf)
      deleteTree(new java.io.File(dir))
    }
  }

  test("evict retires a corpus's relations and footer schemas") {
    val (d1, d2) = (s"$tmpDir/evict1", s"$tmpDir/evict2")
    val dirs = Seq(d1, d2)
    try {
      dirs.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/region.parquet"),
          java.nio.file.Paths.get(s"$d/region.parquet"))
      }
      val r1 = Tables.read(spark, d1, "region")
      val r2 = Tables.read(spark, d2, "region")
      val s1 = Tables.diskSchema(spark, d1, "region")
      val n = Tables.rowCount(spark, d1, "region")
      assert(Tables.rowCount(spark, d2, "region") === n)
      assert(Tables.read(spark, d1, "region") eq r1, "an unchanged table is a hit")
      assert(Tables.footerSchemaMemo.peek((spark, d1, "region")).get eq s1)
      assert(Tables.rowCountMemo.peek((spark, d1, "region")).contains(n))

      MemoRegistry.evict(spark, d1)
      assert(!(Tables.read(spark, d1, "region") eq r1),
        "the retired corpus's relation must be rebuilt")
      assert(Tables.read(spark, d2, "region") eq r2,
        "another corpus keeps its relation")
      assert(Tables.footerSchemaMemo.peek((spark, d1, "region")).isEmpty,
        "the retired corpus's footer schema must be dropped")
      assert(Tables.rowCountMemo.peek((spark, d1, "region")).isEmpty,
        "the retired corpus's row count must be dropped")
      assert(Tables.rowCountMemo.peek((spark, d2, "region")).contains(n),
        "another corpus keeps its row count")
      assert(Tables.diskSchema(spark, d1, "region") === s1)
      assert(Tables.rowCount(spark, d1, "region") === n)
    } finally dirs.foreach { d =>
      MemoRegistry.evict(spark, d)
      deleteTree(new java.io.File(d))
    }
  }

  test("evict drops every (session, dir) artifact across modules; ops rebuild and agree") {
    // populate memos in three modules (extra-param keys included:
    // bloomMemo keys (session, dir, evalSource, n, fpp))
    val markov1 = Events.markovStationary(spark, sf).collect().toSeq
    val bloom1 = Text.decontaminateBloom(spark, sf).collect().toSeq
    val pca1 = Vectors.pcaPower(spark, sf).collect().toSeq
    val bloomKey = (spark, sf, "src0", 3, 0.001)
    assert(Events.markovTransMemo.peek((spark, sf)).isDefined)
    assert(Text.bloomMemo.peek(bloomKey).isDefined)
    assert(Vectors.gramStateMemo.peek((spark, sf)).isDefined)

    // a foreign (session, dir') entry must survive the sweep
    Events.markovTransMemo.put((spark, "/other/dir"), Tables.events(spark, sf),
      Events.markovTransMemo.peek((spark, sf)).get)

    MemoRegistry.evict(spark, sf)
    assert(Events.markovTransMemo.peek((spark, sf)).isEmpty)
    assert(Text.bloomMemo.peek(bloomKey).isEmpty)
    assert(Vectors.gramStateMemo.peek((spark, sf)).isEmpty)
    assert(Events.markovTransMemo.peek((spark, "/other/dir")).isDefined,
      "eviction must be scoped to the (session, dir) pair")
    Events.markovTransMemo.evict(spark, "/other/dir")

    // post-evict calls rebuild from the parquet inputs and agree
    assert(Events.markovStationary(spark, sf).collect().toSeq === markov1)
    assert(Text.decontaminateBloom(spark, sf).collect().toSeq === bloom1)
    assert(Vectors.pcaPower(spark, sf).collect().toSeq === pca1)
    assert(Events.markovTransMemo.peek((spark, sf)).isDefined,
      "the rebuild must repopulate the memo")
  }
}
