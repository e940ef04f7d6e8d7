package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.sql.SparkSession

/** A per-JVM memo of one derived artifact (a checkpointed frame, a
  * collected dictionary, a built sketch) per corpus.
  *
  * Keys are tuples whose FIRST two elements are the session and the
  * data directory; any further elements are the memo's extra
  * parameters (evalSource, vocab cap, table). Each entry carries a
  * stamp and a lookup whose stamp is not `==` to the stored one
  * rebuilds, so a corpus regen or a fixture overwrite misses naturally.
  * Operator memos stamp with the relation the artifact was built from,
  * as returned by `Tables` (a DataFrame compares by identity);
  * `Tables`' own relation, footer-schema and row-count memos stamp
  * with the path's content stamp string.
  *
  * Check-then-put is deliberately unlocked: builds run Spark jobs and
  * nest (one memo's build reads another memo), so no map lock may be
  * held across one. Two racing callers may both build; builds are
  * deterministic and the last write wins. A dropped entry only
  * unreferences its artifact — the ContextCleaner reclaims any
  * checkpoint blocks once nothing else holds the frame.
  *
  * Every memo registers with [[MemoRegistry]] when constructed. */
final class Memo[K <: Product, V](val name: String) {
  private val entries = new ConcurrentHashMap[K, (AnyRef, V)]()
  MemoRegistry.memos.add(this)

  /** The artifact for `key` if it was built from `stamp`; otherwise
    * `build` it, store it under `stamp` and return it. */
  def apply(key: K, stamp: AnyRef)(build: => V): V = {
    val cur = entries.get(key)
    if (cur != null && cur._1 == stamp) cur._2
    else put(key, stamp, build)
  }

  /** Store `v` as built from `stamp`, replacing any entry; returns `v`. */
  def put(key: K, stamp: AnyRef, v: V): V = {
    entries.put(key, (stamp, v))
    v
  }

  /** The stored artifact regardless of its stamp — spec surface only. */
  private[graft] def peek(key: K): Option[V] = Option(entries.get(key)).map(_._2)

  /** Drop every entry for (session, dir), whatever its extra params. */
  def evict(spark: SparkSession, dir: String): Unit =
    entries.keySet().removeIf(k =>
      k.productElement(0) == spark && k.productElement(1) == dir)
}

/** Every [[Memo]] in the JVM, and the one eviction sweep over them.
  *
  * A long-lived JVM serving many (session, dir) corpora calls [[evict]]
  * when it retires one; the benchmark's `corpus_churn` workload does so
  * on every pass. A module whose object has not been initialized yet
  * has registered nothing — its memos are necessarily empty, so the
  * sweep is complete anyway. */
object MemoRegistry {
  private[graft] val memos = new CopyOnWriteArrayList[Memo[_ <: Product, _]]()

  /** Drop every memoized artifact for (session, dir) across every
    * registered memo, regardless of the memo's extra key params — the
    * corpus's resolved relations, footer schemas and row counts
    * included. */
  def evict(spark: SparkSession, dir: String): Unit =
    memos.forEach(_.evict(spark, dir))
}
