package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialized intermediates.
  *
  * A corpus-scale mining job (the exact near-dup pair graph, a document-
  * frequency table) is computed ONCE per corpus snapshot in a real
  * deployment and its output persisted for every downstream consumer —
  * clustering, survivor selection, governance reports, audit queries all
  * READ the pair table; none of them re-mines the corpus. This memo is the
  * in-session spelling of that materialization: the first consumer builds
  * the relation (or the on-disk index a twin query serves from), later
  * consumers (and re-runs inside the same session) reuse it.
  *
  * Keyed by the session object itself, weakly, so distinct SparkSessions
  * — `newSession()` included — never see each other's entries, and a tag
  * naturally includes the corpus path so different inputs never alias.
  * The memoized values hold their session strongly, so the weak key alone
  * never frees them: the entries of a session whose SparkContext has
  * stopped are dropped at the next call instead of living as long as the
  * JVM.
  */
object SharedViews {

  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, AnyRef]]()

  /** `build`'s value, built once per (session, `tag`).
    *
    * No lock is held while building, and it is deliberately
    * get-then-putIfAbsent, NOT computeIfAbsent: builds NEST (the CC labels
    * build reads the memoized pair graph; the co-purchase edges build
    * reads the memoized baskets), and a computeIfAbsent re-entered for a
    * different key can land in the same hash bin and throw
    * ConcurrentHashMap's "Recursive update" — a bin-placement lottery. The
    * worst case here is two racing threads each building once; the first
    * put wins and both return it. */
  def memo[T <: AnyRef](spark: SparkSession, tag: String)(build: => T): T = {
    val entries = bySession.synchronized {
      bySession.keySet.removeIf(_.sparkContext.isStopped)
      bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, AnyRef]())
    }
    val existing = entries.get(tag)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val built = build
      val prev = entries.putIfAbsent(tag, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** [[memo]] of a relation that is eagerly materialized
    * (`localCheckpoint`), so every consumer — including the build's own
    * downstream stages — starts from stored blocks instead of re-running
    * the mining lineage. */
  def materialized(spark: SparkSession, tag: String)(build: => DataFrame): DataFrame =
    memo(spark, tag)(build.localCheckpoint())
}
