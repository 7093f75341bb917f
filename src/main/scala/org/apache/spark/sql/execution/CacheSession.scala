package org.apache.spark.sql.execution

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** The session cached plans are built in, reused across caches.
  *
  * `Dataset.persist` goes through `CacheManager.cacheQuery`, which clones
  * the session on every call to turn off `AUTO_BUCKETED_SCAN_ENABLED`
  * and, unless `CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING` is set,
  * `ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS`. Each
  * clone has a new session UUID, for which the executor builds a new
  * isolated session with its own class loader, and Spark's codegen cache
  * is keyed by class loader: every stage of a cached plan was compiled
  * again on every cache, even when its code was byte-identical.
  *
  * [[cache]] builds the same clone with Spark's own
  * `getOrCloneSessionWithConfigsOff` and keeps it in one slot while the
  * parent session, its confs and its experimental rules are unchanged.
  * A change, or another parent, gets a fresh clone, so confs freeze at
  * the cache exactly as with Spark's clone. One slot, not a map of
  * sessions, so no stopped session is kept alive. It lives in Spark's
  * package because `cacheQuery` with a session and `sharedState` are
  * package-private.
  */
object CacheSession {
  private final case class Key(parent: classic.SparkSession, confs: Map[String, String],
                               optimizations: Seq[AnyRef], strategies: Seq[AnyRef])
  private var slot: (Key, classic.SparkSession) = _ // guarded by `this`

  /** The session a cache of a `parent` plan is built in: `parent` itself
    * when Spark would not clone it (both confs already off).
    */
  def session(parent: SparkSession): SparkSession = of(parent.asInstanceOf[classic.SparkSession])

  private def of(parent: classic.SparkSession): classic.SparkSession = synchronized {
    val state = parent.sessionState
    val key = Key(parent, state.conf.getAllConfs, state.experimentalMethods.extraOptimizations,
      state.experimentalMethods.extraStrategies)
    if (slot == null || slot._1 != key) {
      // the confs CacheManager.getOrCloneSessionWithConfigsOff turns off
      val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +:
        (if (state.conf.getConf(SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
         else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
      slot = (key, classic.SparkSession.getOrCloneSessionWithConfigsOff(parent, off))
    }
    slot._2
  }

  /** Caches `df`'s plan at `level` as `df.persist(level)` would, but built
    * in the reused cache session of `df`'s session.
    */
  def cache(df: DataFrame, level: StorageLevel): Unit = {
    val parent = df.sparkSession.asInstanceOf[classic.SparkSession]
    parent.sharedState.cacheManager.cacheQuery(of(parent), df.queryExecution.analyzed, None, level)
  }
}
