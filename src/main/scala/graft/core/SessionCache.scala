package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted, checkpointed and memoized state. Every
  * entry is keyed by the SparkSession reference it belongs to and has
  * one of two lifetimes:
  *
  *  - session lifetime: [[cached]] tiers and [[memo]] values shared
  *    ACROSS registry queries (the star fact/calendar, the dedup
  *    shingle sets, the BFS levels…), so a Bench/Verify sweep pays each
  *    shared derivation once — the reference runs its 15 extracts
  *    against one shared Vertipaq model for the same reason;
  *  - query lifetime: [[transient]] persists (an intermediate one query
  *    reads more than once) and [[checkpoint]] blocks (the per-round
  *    `localCheckpoint` of the iterative operators), released by
  *    [[endQuery]], which Bench, Verify and the tools call after every
  *    query so nothing accumulates across a 360-query sweep.
  *
  * `spark.catalog.clearCache()` cannot tell the lifetimes apart: it
  * would evict the shared star fact after every query and re-pay its
  * 4-table join 16 times. Checkpoint blocks need tracking of their own:
  * `unpersist` on anything downstream never releases them, and left to
  * the ContextCleaner they outlive the query by long enough that an
  * unrelated shuffle-heavy query ran 3.09 s vs 1.82 s after the three
  * checkpoint-heavy graph queries (r16 triage).
  *
  * Release timing: a checkpoint taken while a tier is built is still
  * query lifetime — it is dropped at the end of that query while the
  * tier's own persisted copy stays. Dropping a local checkpoint makes
  * its RDD unrecoverable, so every tier that builds through one is
  * materialized (`count()`) inside its build, and a materialized
  * MEMORY_AND_DISK cache in a single-JVM local session never re-reads
  * its source. On a multi-executor cluster, where executor loss CAN
  * force a recompute, the equivalent discipline is a reliable
  * `checkpoint()` to the cluster FS for session-lifetime tiers.
  *
  * [[clear]] releases everything a session owns. Bench/Verify call it
  * before `spark.stop()`; a long-lived multi-session embedding MUST call
  * it at session teardown, or the blocks and the session key itself are
  * retained for the life of the process. */
object SessionCache {
  private val tiers =
    scala.collection.mutable.Map[(SparkSession, String), DataFrame]()
  private val memos = scala.collection.mutable.Map[(SparkSession, String), Any]()

  /** A query-lifetime block: a transient persist or a checkpoint RDD. */
  private final case class Block(owner: SparkSession, checkpoint: Boolean,
      release: () => Unit)
  private val blocks = scala.collection.mutable.Buffer[Block]()

  def cached(spark: SparkSession, key: String)(
      build: => DataFrame): DataFrame = synchronized {
    tiers.getOrElseUpdate((spark, key),
      build.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Session-lifetime memo for a derived value that is not one frame
    * (e.g. a sequence of [[cached]] tier frames), evicted by [[clear]]
    * together with the frames it holds. */
  def memo[T](spark: SparkSession, key: String)(build: => T): T =
    synchronized {
      memos.getOrElseUpdate((spark, key), build).asInstanceOf[T]
    }

  /** Persist a dataset until the next [[endQuery]].
    *
    * A dataset whose plan is ALREADY cached (its own persist, or a
    * plan-identical projection of a [[cached]] tier — Spark's cache
    * lookup matches by `sameResult`, so `tier.select(<all its
    * columns>)` hits the tier's entry) is returned untouched: calling
    * `persist` would be a no-op on the existing entry, and the later
    * release would then EVICT the long-lived tier — the r16
    * `graph_scc`/`graph_reciprocity` regression (tier silently dropped
    * mid-sweep, every later consumer re-paying the fact-grain
    * derivation). */
  def transient[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] =
    synchronized {
      if (ds.storageLevel == StorageLevel.NONE) {
        ds.persist(level)
        blocks += Block(ds.sparkSession, checkpoint = false,
          () => ds.unpersist(false))
      }
      ds
    }

  /** `ds.localCheckpoint()` with its blocks held until the next
    * [[endQuery]]: the newly persisted checkpoint RDD is found by
    * diffing `sc.getPersistentRDDs`, filtered to `isCheckpointed` (true
    * because the checkpoint is eager), so a lazily-materializing
    * upstream cache is never captured. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = synchronized {
    val sc = ds.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = ds.localCheckpoint()
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id) && rdd.isCheckpointed)
        blocks += Block(ds.sparkSession, checkpoint = true,
          () => rdd.unpersist(false))
    }
    cp
  }

  /** Release every query-lifetime block (non-blocking). */
  def endQuery(): Unit = release(_ => true)

  /** Release everything `spark` owns — tiers, memos and its unreleased
    * query-lifetime blocks (non-blocking) — and drop the key references
    * so the session can be collected. */
  def clear(spark: SparkSession): Unit = synchronized {
    release(_ eq spark)
    tiers.keys.filter(_._1 eq spark).toSeq.foreach { k =>
      tiers.remove(k).foreach(_.unpersist(false))
    }
    memos.keys.filter(_._1 eq spark).toSeq.foreach(memos.remove)
  }

  /** Unreleased checkpoint count (test and benchmark observability). */
  def liveCheckpoints: Int = synchronized(blocks.count(_.checkpoint))

  private def release(owned: SparkSession => Boolean): Unit = synchronized {
    val (gone, kept) = blocks.partition(b => owned(b.owner))
    gone.foreach(_.release())
    blocks.clear()
    blocks ++= kept
  }

  /** Implicit sugar so call sites read like the stock API:
    * `df.trackedCheckpoint()` ≡ `SessionCache.checkpoint(df)`. */
  implicit class Checkpointable[T](private val ds: Dataset[T])
      extends AnyVal {
    def trackedCheckpoint(): Dataset[T] = SessionCache.checkpoint(ds)
  }
}

/** The benchmark harness under `perfbench/` is compiled against the
  * names these forwarders keep; nothing in the engine calls them. */
object CacheBay { def drain(): Unit = SessionCache.endQuery() }

/** See [[CacheBay]]: benchmark compatibility forwarders only. */
object CheckpointBay {
  def drain(): Unit = SessionCache.endQuery()
  def liveCount: Int = SessionCache.liveCheckpoints
}
