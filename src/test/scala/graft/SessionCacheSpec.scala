package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.SessionCache

/** SessionCache owns both cache lifetimes: query-lifetime blocks
  * (transient persists, tracked checkpoints) go at `endQuery`,
  * everything a session owns goes at `clear`, and neither release
  * touches what it does not own. The checkpoint leak the tracking
  * exists for: unreleased checkpoint blocks from the iterative graph
  * operators slowed every later query in a sweep by up to 2× (r16). */
class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The checkpoint RDD ids persisted since `before`. */
  private def checkpointsSince(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !before.contains(id) && rdd.isCheckpointed => id
    }.toSet

  /** Run `body` on a fresh session sharing the test SparkContext, and
    * release whatever it left. */
  private def withSession(body: org.apache.spark.sql.SparkSession => Unit)
      : Unit = {
    val s2 = spark.newSession()
    try body(s2) finally SessionCache.clear(s2)
  }

  test("checkpoint registers the checkpoint RDD; endQuery releases it") {
    SessionCache.endQuery() // start clean of other suites' leftovers
    val before = spark.sparkContext.getPersistentRDDs.size
    val cp = SessionCache.checkpoint((1 to 100).toDF("x"))
    assert(cp.count() == 100)
    assert(SessionCache.liveCheckpoints == 1)
    val during = spark.sparkContext.getPersistentRDDs.size
    assert(during == before + 1,
      s"expected exactly the checkpoint RDD captured: $before -> $during")
    SessionCache.endQuery()
    assert(SessionCache.liveCheckpoints == 0)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "endQuery must release the checkpoint blocks")
  }

  test("a plain cached frame is NOT captured (isCheckpointed filter)") {
    SessionCache.endQuery()
    val cached = (1 to 50).toDF("y").persist()
    try {
      assert(cached.count() == 50)
      val live0 = SessionCache.liveCheckpoints
      val cp = SessionCache.checkpoint(cached.select($"y" * 2))
      assert(cp.count() == 50)
      // only the checkpoint RDD registered — never the cache's RDD
      assert(SessionCache.liveCheckpoints == live0 + 1)
      SessionCache.endQuery()
      // the cache survives the release untouched
      assert(cached.count() == 50)
      assert(cached.storageLevel.useMemory)
    } finally { cached.unpersist(); () }
  }

  test("clear(s2) releases s2's transient persist and checkpoint and " +
    "leaves the shared session's alone") {
    SessionCache.endQuery()
    val mine = SessionCache.transient((1 to 20).toDF("m"))
    val before = persistentIds
    SessionCache.checkpoint((1 to 30).toDF("c"))
    val myCp = checkpointsSince(before)
    try withSession { s2 =>
      import s2.implicits._
      val theirs = SessionCache.transient((1 to 40).toDF("t"))
      val before2 = persistentIds
      SessionCache.checkpoint((1 to 60).toDF("c"))
      val theirCp = checkpointsSince(before2)
      assert(theirs.count() == 40 && theirCp.size == 1 && myCp.size == 1)
      assert(SessionCache.liveCheckpoints == 2)
      SessionCache.clear(s2)
      assert(theirs.storageLevel == StorageLevel.NONE,
        "clear must release the session's transient persist")
      assert(!persistentIds.exists(theirCp),
        "clear must release the session's checkpoint blocks")
      assert(mine.storageLevel != StorageLevel.NONE,
        "clear(s2) released the shared session's transient persist")
      assert(myCp.subsetOf(persistentIds),
        "clear(s2) released the shared session's checkpoint")
      assert(SessionCache.liveCheckpoints == 1)
    } finally SessionCache.endQuery()
    assert(mine.storageLevel == StorageLevel.NONE)
  }

  test("a transient persist of a plan-identical tier projection leaves " +
    "the tier cached after endQuery") {
    withSession { s2 =>
      import s2.implicits._
      val tier = SessionCache.cached(s2, "spec:guard")(
        (1 to 25).map(i => (i, i * 2)).toDF("a", "b"))
      assert(tier.count() == 25)
      // Spark's cache lookup matches this projection to the tier's
      // entry; persisting and later releasing it would evict the tier
      val proj = SessionCache.transient(
        tier.select(tier.columns.toSeq.map(col): _*))
      assert(proj.storageLevel != StorageLevel.NONE)
      SessionCache.endQuery()
      assert(tier.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "endQuery evicted a session tier through its projection")
    }
  }

  test("a checkpoint taken inside a cached build is released by " +
    "endQuery while the tier keeps answering") {
    withSession { s2 =>
      import s2.implicits._
      val before = persistentIds
      val tier = SessionCache.cached(s2, "spec:cpbuild")(
        SessionCache.checkpoint((1 to 35).toDF("x")).select($"x" + 1))
      assert(tier.count() == 35)
      val cps = checkpointsSince(before)
      assert(cps.size == 1)
      SessionCache.endQuery()
      assert(!persistentIds.exists(cps),
        "the build's checkpoint outlived its query")
      assert(tier.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(tier.count() == 35)
    }
  }
}
