package graft

import graft.functions.{ProfileHits, ProfileHitsScan}
import graft.functions.ProfileHits.profileHits
import graft.ops.Text
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native profile scorer: hand-checked counts, multi-byte and
  * short-text grams, multi-language grams, codegen execution, and full
  * corpus parity of the map-only langid against the joined reference. */
class ProfileHitsSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  private def score(text: String, profile: Map[String, Seq[Int]],
                    nLangs: Int): Seq[Int] = {
    val arr = new ProfileHitsScan(2, profile, nLangs)
      .hits(UTF8String.fromString(text))
    (0 until arr.numElements()).map(arr.getInt)
  }

  test("per-language occurrence counts, including repeats and zero hits") {
    val profile = Map("ab" -> Seq(0), "ba" -> Seq(1))
    // "ababa" bigrams: ab, ba, ab, ba
    assert(score("ababa", profile, 3) === Seq(2, 2, 0))
    assert(score("zzzz", profile, 3) === Seq(0, 0, 0))
  }

  test("a gram shared by several languages bumps every owner") {
    val profile = Map("ab" -> Seq(0, 2))
    assert(score("abab", profile, 3) === Seq(2, 0, 2))
  }

  test("short-text and multi-byte grams match the CharNgrams contract") {
    // text shorter than n grams as the whole string — a 1-char profile
    // entry trained from short docs must score short docs
    assert(score("a", Map("a" -> Seq(0)), 1) === Seq(1))
    assert(score("日本語", Map("日本" -> Seq(0), "本語" -> Seq(1)), 2) === Seq(1, 1))
  }

  test("executes inside whole-stage codegen over a parquet scan") {
    val spark0 = spark
    import spark0.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-ph").toString
    Seq((1L, "hehe")).toDF("id", "t").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
      .select(col("id"), profileHits(col("t"), Map("he" -> Seq(1)), 2).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("profile_hits"), plan)
    assert(df.collect().head.getSeq[Int](1) === Seq(0, 2))
  }

  test("map-only langid equals the joined reference over the real corpus") {
    val native = Text.langidNgram(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val joined = Text.langidNgramJoined(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(native === joined)
    assert(native.nonEmpty, "fixture corpus must produce a confusion matrix")
  }

  test("analysis-time rejection of non-string input and bad arity") {
    val spark0 = spark
    import spark0.implicits._
    val e = intercept[Exception] {
      Seq(1L).toDF("x").select(profileHits(col("x"), Map.empty, 1)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
    intercept[IllegalArgumentException] { ProfileHits(null, Map.empty, 0, 2) }
  }
}
