package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan of `src/main`: persisted, checkpointed and memoized state
  * has one owner, `graft.core.SessionCache`, which keys every entry by
  * its SparkSession and releases it at the end of the query or with
  * the session. A persist or checkpoint made anywhere else escapes
  * both releases; a map keyed by `identityHashCode` hands a new
  * session a dead one's state when the hash is reused. */
class CacheSeamSpec extends AnyFunSuite {
  private val Seam = "core/SessionCache.scala"

  /** The two `foreachBatch` bodies persist their micro-batch in a
    * try/finally of their own: an end-of-query release from inside a
    * running stream would drop blocks a surrounding query holds. */
  private val ScopedPersists =
    Set("streaming/StreamDedup.scala", "streaming/StreamingTrainer.scala")

  private val root = Paths.get("src/main/scala/graft")

  private lazy val sources: Map[String, String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"too few sources under $root: ${files.size}")
    files.map((p: Path) =>
      root.relativize(p).toString -> Files.readString(p)).toMap
  }

  private def filesWith(token: String): Set[String] =
    sources.collect { case (f, text) if text.contains(token) => f }.toSet

  test("src/main has no identityHashCode-keyed state") {
    assert(filesWith("identityHashCode").isEmpty)
  }

  test("src/main calls localCheckpoint( only inside SessionCache") {
    assert(filesWith("localCheckpoint(") - Seam == Set.empty)
  }

  test("src/main calls .persist( only inside SessionCache and the two " +
    "scoped foreachBatch persists") {
    assert(filesWith(".persist(") -- ScopedPersists - Seam == Set.empty)
  }
}
