package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One Hive-enabled session for the whole forked test JVM (static confs
  * like catalogImplementation cannot change between sessions in one JVM,
  * so the Hive round-trip suite shares it). Derby metastore + warehouse
  * live under /tmp so the repo stays clean. Always 4 threads, whatever
  * `SPARK_GRAFT_CPUS` says, so the suite runs the same on any box. */
object TestSpark {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-test").toString
    LocalSpark.builder("4")
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$tmp/metastore;create=true")
      .enableHiveSupport()
      .getOrCreate()
  }
}

/** Base suite: shared session + a temp dir per suite. */
abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf: String = TestSpark.sf
  lazy val tmpDir: String =
    java.nio.file.Files.createTempDirectory(suiteName.toLowerCase).toString

  /** Recursive temp-dir cleanup for try/finally blocks — shared here
    * (round-18 review) so every suite that makes its own scratch dirs
    * uses one definition. */
  protected def deleteTree(p: java.io.File): Unit = {
    // listFiles returns null on IO error or a concurrently-removed dir;
    // this runs inside finally blocks, where an NPE would mask the
    // original test failure (round-18 advice)
    if (p.isDirectory) Option(p.listFiles).foreach(_.foreach(deleteTree))
    p.delete()
  }

  /** Number of regular files under `p`, recursively. */
  protected def fileCount(p: java.io.File): Int =
    if (p.isDirectory) Option(p.listFiles).fold(0)(_.map(fileCount).sum)
    else if (p.isFile) 1 else 0

  /** Runs `body` with the SparkContext's checkpoint directory set to
    * `dir`, so [[Checkpoint.truncate]] takes its reliable path, and
    * unsets the directory afterwards: it is process-global, and left
    * set it would switch every later suite to reliable checkpoints
    * under a deleted temp dir. In local mode `setCheckpointDir(null)`
    * unsets it. */
  protected def withCheckpointDir[T](dir: String)(body: => T): T = {
    spark.sparkContext.setCheckpointDir(dir)
    try body
    finally spark.sparkContext.setCheckpointDir(null)
  }

  /** Every `.scala` file at or under `paths` with its lines, for the
    * source-scan rules; fails if a path does not exist. */
  protected def scalaSources(paths: String*): Seq[(String, Vector[String])] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    paths.map(new java.io.File(_)).flatMap { f =>
      assert(f.exists, s"source path not found: $f")
      walk(f)
    }.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try (f.getPath, src.getLines().toVector) finally src.close()
    }
  }
}
