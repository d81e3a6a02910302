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

  /** Code with comments blanked out, so a doc line that names the
    * commit marker does not count as a check of it. */
  private def code(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("src/main checks a `_SUCCESS` commit marker only in " +
    "VersionedState.scala (VersionedState and SegmentLedger)") {
    // one committed-state seam: a sink with a private _SUCCESS check
    // (`new Path(dir, "_SUCCESS")`, however the Path is spelled) would
    // be a third copy of the ledger protocol
    val found = sources.collect {
      case (f, text) if code(text).contains("\"_SUCCESS\"") => f
    }.toSet
    assert(found == Set("streaming/VersionedState.scala"))
  }

  /** Bench's warm-up probe reads lineitem before any query runs. */
  private val TableProbes = Set("Bench.scala" -> "lineitem.parquet")

  test("src/main reads a fixture table's parquet path only inside " +
    "core/Tables.scala (its per-session schema memo) and Bench's probe") {
    // a table name or an interpolated name before `.parquet"`: a bare
    // read of a table path would bring back a schema inference job per
    // query build
    val path = ("\\b(" + graft.core.Tables.all.mkString("|") +
      ")\\.parquet\"|\\$\\{?\\w+\\}?\\.parquet\"").r
    val found = sources.toSeq.filter(_._1 != "core/Tables.scala")
      .flatMap { case (f, text) =>
        path.findAllIn(text).map(m => f -> m.stripSuffix("\"")).toSeq
      }
    assert(found.sorted == TableProbes.toSeq.sorted)
  }
}
