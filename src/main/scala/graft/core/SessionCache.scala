package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-lifetime cache for derivations SHARED ACROSS registry
  * queries — the long-lived half of the two cache lifetimes described
  * in [[CacheBay]]. Entries are keyed by (session, logical key) and
  * survive [[CacheBay.drain]], so a Bench/Verify sweep pays each shared
  * derivation once: the star fact/calendar ([[Star]]) and the dedup
  * family's shingle sets are the current tenants. The reference runs
  * its 15 extracts against one shared Vertipaq model for the same
  * reason; at cluster scale this is "materialize the shared upstream
  * once per session", which a production deployment would replace with
  * a bucketed table or a materialized view.
  *
  * Lifetime contract: entries live until [[clear]] is called for the
  * owning session (Bench/Verify do this before `spark.stop()`). A
  * long-lived multi-session embedding MUST call `clear(session)` at
  * session teardown — otherwise cached blocks and the session key
  * itself are retained for the life of the process. */
object SessionCache {
  private val cache =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()
  private val memos = scala.collection.mutable.Map[(SparkSession, String), Any]()

  def cached(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = synchronized {
    cache.getOrElseUpdate((spark, key),
      build.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Session-lifetime memo for a derived value that is not one frame
    * (e.g. a sequence of [[cached]] tier frames), evicted by [[clear]]
    * together with the frames it holds. */
  def memo[T](spark: SparkSession, key: String)(build: => T): T =
    synchronized {
      memos.getOrElseUpdate((spark, key), build).asInstanceOf[T]
    }

  /** Evict every entry owned by `spark`: unpersist (non-blocking) and
    * drop the key references so the session can be collected. */
  def clear(spark: SparkSession): Unit = synchronized {
    cache.keys.filter(_._1 eq spark).toSeq.foreach { k =>
      cache.remove(k).foreach(_.unpersist(false))
    }
    memos.keys.filter(_._1 eq spark).toSeq.foreach(memos.remove)
  }
}
