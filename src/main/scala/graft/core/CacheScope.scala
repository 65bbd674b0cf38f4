package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Self-cleaning SQL cache for operators that return a LAZY DataFrame
 * built on a cached intermediate.
 *
 * The problem: an operator like `Dedup.minhashLshPairs` caches its shingle
 * table because three downstream branches reuse it, but the operator
 * returns before any action runs — a `try/finally` unpersist would evict
 * the blocks before the caller ever materializes the result. The old
 * contract ("caller runs `spark.catalog.clearCache()` between
 * invocations") leaked storage in long-lived sessions until LRU eviction.
 *
 * [[autoUnpersist]] caches `df` and registers a [[QueryExecutionListener]]
 * that watches for the first COMPLETED action (success or failure) whose
 * cached-data-substituted logical plan references this exact cache entry
 * (matched by `cacheBuilder` reference identity — the builder instance is
 * shared between the CacheManager entry and every InMemoryRelation
 * substituted into a consumer plan). On that action it unpersists the
 * blocks and deregisters itself, leaving the session clean.
 *
 * Contract: the cache accelerates the FIRST materialization (the
 * multi-branch reuse inside one action, which is what the dedup operators
 * need); later actions on the same result recompute uncached — correct,
 * just not re-accelerated. Listener delivery is async (Spark's listener
 * bus), so "clean" is eventual — within milliseconds in practice.
 *
 * Bindings are REFERENCE-COUNTED per cache entry: re-invoking an operator
 * with an identical plan rebinds the same CacheManager entry, and without
 * the count an earlier invocation's async listener would evict the entry
 * out from under the newer invocation's running action (observed as a
 * 2-3x dedup slowdown in back-to-back bench passes). Each listener only
 * releases for executions CREATED after its own registration (checked via
 * the monotonic QueryExecution id): listener delivery is async, so an
 * older invocation's completion event can arrive milliseconds after a
 * newer binding registered — without the watermark that one event would
 * fire both listeners, drain the count to 0 and evict before the newer
 * invocation's action ran, reintroducing the race the refcount exists to
 * fix. A narrow window remains (a consumer plan built before the rebind,
 * completing after it) — its worst case is an uncached recompute, never a
 * wrong result.
 *
 * CONTRACT: consumers must be CONSTRUCTED after [[autoUnpersist]]
 * returns. The watermark deliberately ignores executions created before
 * the binding, so a caller that runs an action on a Dataset whose
 * QueryExecution predates the binding (e.g. collecting the exact
 * DataFrame instance that was passed IN, whose Dataset-owned
 * QueryExecution was built earlier, instead of the returned frame) never
 * satisfies `qe.id > wm` and the blocks stay cached until session end —
 * a storage leak, never a wrong result. Every operator in this repo
 * builds its consumer plans from the RETURNED frame, satisfying the
 * contract by construction.
 */
object CacheScope {

  /** Identity key: CachedRDDBuilder is a case class (structural equals),
    * but the scope contract is about one SPECIFIC cache entry instance. */
  private final class Ref(val b: AnyRef) {
    override def hashCode: Int = System.identityHashCode(b)
    override def equals(o: Any): Boolean = o match {
      case r: Ref => r.b eq b
      case _ => false
    }
  }

  /** Live autoUnpersist bindings per cache entry. Re-invoking an operator
    * with an identical plan REBINDS the same CacheManager entry (plan-
    * keyed dedup); without refcounting, the earlier invocation's async
    * listener would unpersist the shared entry out from under the newer
    * invocation's action, silently degrading it to uncached recompute. */
  private val holds = new java.util.concurrent.ConcurrentHashMap[Ref, Integer]()

  def autoUnpersist(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    df.cache()
    // After cache(), the df's own cached-data-substituted plan is (rooted
    // at) the InMemoryRelation just registered; grab its builder instance.
    val target = df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }
    target.foreach { builder =>
      val key = new Ref(builder)
      holds.merge(key, 1, (a, b) => a + b)
      // execution-id watermark: QueryExecution ids are assigned monotonically
      // at construction, so a fresh throwaway QueryExecution's id separates
      // "created before this binding" from "created after". An overlapping
      // older invocation's consuming action (created earlier, delivered
      // later on the async listener bus) must release only ITS OWN binding,
      // not this one.
      val wm = spark.range(0).queryExecution.id
      val listener = new QueryExecutionListener {
        private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        // A consumer may reference this entry only INDIRECTLY: a second
        // autoUnpersist cache whose own cached plan reads this one (nested
        // caches — e.g. minhashLshPairs' candidate cache reads the cached
        // band table). InMemoryRelation is a logical LEAF, so the outer
        // plan's `exists` never sees the inner entry — recurse into each
        // relation's physical cachedPlan (InMemoryTableScanExec carries the
        // inner relation).
        private def physConsumes(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
          p.exists {
            case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              (s.relation.cacheBuilder eq builder) ||
                physConsumes(s.relation.cacheBuilder.cachedPlan)
            // AQE wraps a cached plan in AdaptiveSparkPlanExec, a LEAF that
            // hides its subtree from exists — descend explicitly
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              physConsumes(a.inputPlan)
            case _ => false
          }
        private def consumes(qe: QueryExecution): Boolean =
          // don't fire on the probe that *builds* the cache entry — only on
          // plans that READ it (root != the relation itself is not required:
          // materializing the cache IS consuming it once), and only on
          // consumers created after this binding registered (id > wm).
          // One pre-binding consumer IS legitimate: the bound df's own
          // QueryExecution (constructed with the Dataset, before binding) —
          // a caller that collects the exact instance passed in would
          // otherwise never satisfy the watermark and the block would leak
          // until session end, so accept it by identity.
          (qe.id > wm || (qe eq df.queryExecution)) && qe.withCachedData.exists {
            case r: InMemoryRelation =>
              (r.cacheBuilder eq builder) || physConsumes(r.cacheBuilder.cachedPlan)
            case _ => false
          }
        private def done(qe: QueryExecution): Unit =
          if (consumes(qe) && fired.compareAndSet(false, true)) {
            // release THIS binding; evict only when no newer invocation
            // still holds the entry
            val left = holds.merge(key, -1, (a, b) => a + b)
            if (left <= 0) {
              holds.remove(key)
              df.unpersist(blocking = false)
            }
            spark.listenerManager.unregister(this)
          }
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = done(qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = done(qe)
      }
      spark.listenerManager.register(listener)
    }
    df
  }
}
