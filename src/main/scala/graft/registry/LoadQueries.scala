package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.load.Load

/** Registry: load/lookup/union/preview operators (SURVEY §2.3 J2/J7,
  * §2.4 A12, §2.6 O2, §2.7 U2, §3.2).
  */
object LoadQueries {

  private def suppQty(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "lineitem").groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"))

  /** Bucketed-table build for `j_bucketed_colocated`, memoized per
    * (session, data dir): repeated invocations (Bench runs every query
    * twice; Verify sweeps after Bench in the same JVM) reuse one temp
    * dir and one pair of suffixed table names instead of re-writing —
    * and a shutdown hook drops the tables and deletes the dir, so
    * nothing accumulates across sweeps or races across sessions. */
  private val bucketedBuilds =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  // Monotonic per-session id (identityHashCode can be reused after a
  // session is GC'd, and can collide — a later session would be handed
  // table names registered in a dead session's catalog): WeakHashMap so
  // the id mapping itself never pins a session.
  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, java.lang.Long]()
  private val nextSessionId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val nextBuildOrdinal = new java.util.concurrent.atomic.AtomicLong(0L)
  private def sessionId(s: SparkSession): Long = sessionIds.synchronized {
    Option(sessionIds.get(s)).map(_.longValue).getOrElse {
      val id = nextSessionId.getAndIncrement()
      sessionIds.put(s, java.lang.Long.valueOf(id)); id
    }
  }

  /** Generic memoized build of one bucketed-table family: each spec is
    * (base table name, bucket column, frame to write). Families are
    * memoized separately so a query only pays for the tables IT joins,
    * not every bucketed fixture in the registry. */
  private def bucketedFamily(s: SparkSession, d: String, family: String,
      specs: Seq[(String, String, DataFrame)]): Seq[String] = {
    val key = sessionId(s).toString + "|" + family + "|" + d
    bucketedBuilds.computeIfAbsent(key, _ => {
      // suffix from collision-free components, never key.hashCode:
      // two distinct (session, family, dir) keys hashing alike would
      // both build and the second saveAsTable would hit a registered
      // name. computeIfAbsent runs once per key, so the ordinal is
      // unique per build; dir (not table-name-safe) is covered by it.
      val suffix =
        s"${sessionId(s)}_${family}_${nextBuildOrdinal.getAndIncrement()}"
      val dirPath = java.nio.file.Files.createTempDirectory("graft_bucketed_")
      val dir = dirPath.toFile.getAbsolutePath
      val names = specs.map { case (base, bucketCol, frame) =>
        val t = s"graft_bkt_${base}_$suffix"
        graft.load.Sinks.writeBucketedTable(
          frame, t, s"$dir/$base", bucketCol, 8)
        t
      }
      // hold the session weakly: the hook must not pin a stopped
      // session (and its executors) for the life of the JVM
      val sessionRef = new java.lang.ref.WeakReference(s)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          Option(sessionRef.get()).foreach { sess =>
            names.foreach(t => sess.sql(s"DROP TABLE IF EXISTS $t"))
          }
        } catch { case _: Throwable => () }
        try {
          import java.nio.file.{Files, Path}
          import scala.jdk.CollectionConverters._
          Files.walk(dirPath).iterator().asScala.toSeq.reverse
            .foreach((p: Path) => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }))
      names
    })
  }

  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val Seq(ordersT, customerT) = bucketedFamily(s, d, "dim", Seq(
      ("orders", "o_custkey",
        Tables(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))),
      ("customer", "c_custkey",
        Tables(s, d, "customer").select(col("c_custkey"),
          col("c_mktsegment")))))
    (ordersT, customerT)
  }

  /** The FACT-FACT pair (VERDICT r8 #3): at 100 TB the
    * lineitem⋈orders join is THE expensive join — both sides huge, so
    * neither broadcasts and a plain equi-join pays a full shuffle of
    * each EVERY run. Bucketing BOTH on the order key makes the scan
    * itself carry the join's required distribution: zero Exchange on
    * either side (`BucketedJoinSpec` asserts it on these very
    * tables), and the downstream per-order aggregate inherits the
    * same distribution, so the whole query runs shuffle-free. */
  private[graft] def bucketedFactTables(
      s: SparkSession, d: String): (String, String) = {
    val Seq(lineitemT, ordersT) = bucketedFamily(s, d, "fact", Seq(
      ("lineitem", "l_orderkey",
        Tables(s, d, "lineitem").select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
            .as("ext_cents"))),
      ("orders2", "o_orderkey",
        Tables(s, d, "orders").select(col("o_orderkey"),
          col("o_orderpriority")))))
    (lineitemT, ordersT)
  }

  /** The dirtied-then-coerced upload feed shared by coerce_types and
    * qc_null_audit. */
  private def coerced(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.sql.types._
      val dirty = Tables(s, d, "orders").select(
        concat(lit("  "), col("o_orderkey").cast("string"), lit("  "))
          .as("key"),
        concat(col("o_orderkey").cast("string"), lit(",250.75"))
          .as("value"),
        when(col("o_orderkey") % 7 === 0, lit("nan"))
          .otherwise(col("o_orderstatus")).as("status"),
        date_format(col("o_orderdate"), "MM/dd/yyyy").as("snapshot"))
      Load.coerceToSchema(dirty, StructType(Seq(
        StructField("key", LongType),
        StructField("value", DoubleType),
        StructField("status", StringType),
        StructField("snapshot", DateType))))
  }

  private val CoerceSql: String =
    """SELECT
      |  TRY_CAST(trim('  ' || CAST(o_orderkey AS VARCHAR) || '  ')
      |    AS BIGINT) AS key,
      |  TRY_CAST(replace(CAST(o_orderkey AS VARCHAR) || ',250.75',
      |    ',', '') AS DOUBLE) AS value,
      |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END
      |    AS status,
      |  TRY_CAST(strptime(strftime(o_orderdate, '%m/%d/%Y'),
      |    '%m/%d/%Y') AS DATE) AS snapshot
      |FROM orders""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the salted-join rewrite must be RESULT-IDENTICAL to the plain
    // equi-join (the salt only spreads a hot key's rows); the oracle
    // is that plain join
    QuerySpec("j_salted_join", (s, d) => {
      val o = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_totalprice"))
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.core.ScaleJoins.saltedJoin(o, c, "c_custkey", salts = 8)
    },
      Oracle("""SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice,
        |       c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),
    // the bitmap semi-prune must be RESULT-IDENTICAL to the plain
    // equi-join (false positives only waste shuffle bytes; the final
    // join re-checks keys); the dim is the every-20th-supplier subset,
    // so most lineitem rows are prunable before the join shuffle
    QuerySpec("j_bitmap_prune", (s, d) => {
      val li = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
      val dim = Tables(s, d, "supplier")
        .filter(col("s_suppkey") % 20 === 0)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.core.ScaleJoins.bitmapPrunedJoin(li, dim, "l_suppkey")
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_quantity"), 2).as("qty"), col("s_name"))
    },
      Oracle("""SELECT l_orderkey, l_suppkey, ROUND(l_quantity, 2) AS qty, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_suppkey % 20 = 0""".stripMargin)),
    // X145: Bloom-filter semi-join pruning — the dimension's keys fold
    // into a deterministic m-bit filter, the fact side tests k bits
    // BEFORE its shuffle, the exact semi-join removes false positives;
    // result identity with the plain semi-join IS the oracle
    QuerySpec("j_bloom_prune", (s, d) => {
      val li = Tables(s, d, "lineitem")
      val dim = Tables(s, d, "part")
        .filter(col("p_brand") === "Brand#23")
      graft.operators.BloomPrune
        .prunedSemiJoin(li, "l_partkey", dim, "p_partkey")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
            .cast("long").as("cents"))
    },
      // the plain semi-join IS the spec: the Bloom pre-filter may only
      // change how much data reaches the shuffle, never the result
      Oracle("""SELECT l_suppkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part
        |                    WHERE p_brand = 'Brand#23')
        |GROUP BY 1""".stripMargin)),
    // X226: measured Bloom FPR over the distinct fact-key domain —
    // the filter-sizing number; hashes replay via the hex8 oracle
    QuerySpec("maint_bloom_fpr", (s, d) =>
      graft.operators.BloomPrune.bloomFprAudit(
        Tables(s, d, "lineitem"), "l_partkey",
        Tables(s, d, "part").filter(col("p_brand") === "Brand#23"),
        "p_partkey"),
      // the filter's shared bit array reduces to position-set
      // membership: a fact key passes iff EVERY per-hash position is
      // some dim key's position (any hash index may have set the bit)
      Oracle({
      val bits = graft.operators.BloomPrune.FilterBits
      val nH = graft.operators.BloomPrune.NumHashes
      val hs = (0 until nH).mkString("[", ", ", "]")
      def pos(key: String) = "(" + OracleSql.hex8(
        s"md5(CAST($key AS VARCHAR) || ':' || CAST(j AS VARCHAR))") +
        s" % $bits)"
      s"""WITH k AS (SELECT DISTINCT l_partkey AS key FROM lineitem),
         |d AS (SELECT DISTINCT p_partkey AS dkey FROM part
         |      WHERE p_brand = 'Brand#23'),
         |js AS (SELECT unnest($hs) AS j),
         |dp AS (SELECT DISTINCT ${pos("dkey")} AS pos
         |       FROM d CROSS JOIN js),
         |fp AS (SELECT key, ${pos("key")} AS pos FROM k CROSS JOIN js),
         |ps AS (SELECT key FROM fp JOIN dp USING (pos)
         |       GROUP BY 1 HAVING count(*) = $nH),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM k),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_true
         |      FROM k JOIN d ON key = dkey),
         |p AS (SELECT CAST(count(*) AS BIGINT) AS n_pass FROM ps)
         |SELECT n_keys, n_true, n_pass,
         |  CAST(n_pass - n_true AS BIGINT) AS n_fp,
         |  CAST(((n_pass - n_true) * 1000000)
         |    // greatest(n_keys - n_true, 1) AS BIGINT) AS fpr_ppm
         |FROM a CROSS JOIN t CROSS JOIN p""".stripMargin
    })),
    // both sides bucketed on the join key with the same bucket count:
    // the scan IS the join distribution — zero Exchange, spec-asserted
    // (BucketedJoinSpec); result-identity to the plain join is this
    // oracle. The bucketed tables are built ONCE per (session, data
    // dir) — names suffixed so two sessions sharing a metastore never
    // race on a fixed global name, the temp dir reused across bench
    // passes instead of accumulating per invocation, and everything
    // swept by a shutdown hook (ADVICE r7).
    QuerySpec("j_bucketed_colocated", (s, d) => {
      val (ordersT, customerT) = bucketedTables(s, d)
      s.table(ordersT)
        .join(s.table(customerT),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"),
          col("c_mktsegment"))
    },
      Oracle("""SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price,
        |       c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),
    // X162: the bucketed FACT-FACT join (both sides bucketed on the
    // order key, neither broadcastable at scale) — join AND the
    // per-order rollup ride the scan's bucket distribution, so the
    // whole plan is Exchange-free (BucketedJoinSpec asserts it);
    // result-identical to the plain join+rollup, which is the oracle
    QuerySpec("j_bucketed_factfact", (s, d) => {
      val (lineitemT, ordersT) = bucketedFactTables(s, d)
      s.table(lineitemT)
        .join(s.table(ordersT),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_lines"),
          sum(col("ext_cents")).cast("long").as("revenue_cents"))
    },
      // the bucketed layout must be invisible in the answer: the oracle
      // is the plain join + rollup over the raw tables
      Oracle("""SELECT o_orderkey, o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)
        |    * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |    AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin)),
    // X175: weighted multi-field entity resolution (Fellegi-Sunter
    // shape) — a perturbed registry copy (every 3rd name
    // adjacent-swapped, every 7th nation bumped, every 5th balance
    // shifted $5) links back by blocked multi-field scoring; the
    // swap-stable block is the last-4-digit name suffix
    QuerySpec("j_entity_resolution", (s, d) => {
      val c = Tables(s, d, "customer")
      def cents = floor(col("c_acctbal") * 100.0 + 0.5).cast("long")
      val left = c.select(col("c_custkey").as("l_key"),
        col("c_name").as("l_nm"),
        col("c_nationkey").cast("long").as("l_nat"),
        cents.as("l_cents"), col("c_mktsegment").as("l_seg"),
        substring(col("c_name"), 15, 4).as("blk"))
      val right = c.select((col("c_custkey") + 10000000L).as("r_key"),
        when(col("c_custkey") % 11 === 0,
          concat(lit("Account#"), substring(col("c_name"), 10, 9)))
          .when(col("c_custkey") % 3 === 0,
            concat(substring(col("c_name"), 1, 11),
              substring(col("c_name"), 13, 1),
              substring(col("c_name"), 12, 1),
              substring(col("c_name"), 14, 5)))
          .otherwise(col("c_name")).as("r_nm"),
        (when(col("c_custkey") % 7 === 0,
          (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey"))).cast("long").as("r_nat"),
        when(col("c_custkey") % 5 === 0, cents + 500L)
          .otherwise(cents).as("r_cents"),
        col("c_mktsegment").as("r_seg"),
        substring(col("c_name"), 15, 4).as("blk"))
      graft.operators.FuzzyMatch.entityResolve(left, right)
    },
      // same perturbation, blocking, integer weights and best-match
      // window; DuckDB's damerau_levenshtein is the probed twin of
      // graft_dl (see j_fuzzy_dl)
      Oracle("""WITH cts AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
        |    CAST(floor(CAST(c_acctbal AS DOUBLE) * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
        |  FROM customer),
        |l AS (
        |  SELECT c_custkey AS l_key, c_name AS l_nm,
        |    CAST(c_nationkey AS BIGINT) AS l_nat, cents AS l_cents,
        |    c_mktsegment AS l_seg, substr(c_name, 15, 4) AS blk
        |  FROM cts),
        |r AS (
        |  SELECT c_custkey + 10000000 AS r_key,
        |    CASE WHEN c_custkey % 11 = 0
        |           THEN 'Account#' || substr(c_name, 10, 9)
        |         WHEN c_custkey % 3 = 0
        |           THEN substr(c_name, 1, 11) || substr(c_name, 13, 1)
        |             || substr(c_name, 12, 1) || substr(c_name, 14, 5)
        |         ELSE c_name END AS r_nm,
        |    CAST(CASE WHEN c_custkey % 7 = 0
        |         THEN (c_nationkey + 1) % 25
        |         ELSE c_nationkey END AS BIGINT) AS r_nat,
        |    CASE WHEN c_custkey % 5 = 0 THEN cents + 500
        |         ELSE cents END AS r_cents,
        |    c_mktsegment AS r_seg, substr(c_name, 15, 4) AS blk
        |  FROM cts),
        |sc AS (
        |  SELECT l_key, r_key,
        |    CAST(CASE WHEN l_nm = r_nm THEN 40
        |         WHEN damerau_levenshtein(l_nm, r_nm) <= 1 THEN 25
        |         ELSE 0 END AS BIGINT) AS w_name,
        |    CAST(CASE WHEN l_nat = r_nat THEN 20 ELSE 0 END
        |      AS BIGINT) AS w_nation,
        |    CAST(CASE WHEN abs(l_cents - r_cents) <= 100 THEN 15
        |         ELSE 0 END AS BIGINT) AS w_bal,
        |    CAST(CASE WHEN l_seg = r_seg THEN 10 ELSE 0 END
        |      AS BIGINT) AS w_seg
        |  FROM l JOIN r ON l.blk = r.blk),
        |th AS (
        |  SELECT *, w_name + w_nation + w_bal + w_seg AS score
        |  FROM sc WHERE w_name + w_nation + w_bal + w_seg >= 50),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_key
        |    ORDER BY score DESC, r_key ASC) AS rk
        |  FROM th)
        |SELECT l_key, r_key, w_name, w_nation, w_bal, w_seg,
        |  CAST(score AS BIGINT) AS score
        |FROM best WHERE rk = 1""".stripMargin)),
    // record linkage over the DISTINCT name domain (the part-name
    // variants): rep = lexicographic min over the close-edit
    // neighborhood, rows labeled back by an equi-join on name
    // X149: transposition-aware fuzzy pairs — the native unrestricted
    // Damerau-Levenshtein expression (graft_dl) finds swapped-neighbor
    // typos (dl=1) that plain levenshtein prices at 2 and loses; the
    // planted variants swap two adjacent chars, the blocking key is
    // swap-stable, and the oracle replays DuckDB's own
    // damerau_levenshtein (probed: the same unrestricted variant)
    QuerySpec("j_fuzzy_dl", (s, d) => {
      val sup = Tables(s, d, "supplier")
      val clean = sup.select(col("s_name").as("nm"))
      val variants = sup.filter(col("s_suppkey") % 3 === 0)
        .select(concat(substring(col("s_name"), 1, 8),
          substring(col("s_name"), 10, 1),
          substring(col("s_name"), 9, 1),
          substring(col("s_name"), 11, 8)).as("nm"))
      val all = graft.core.CacheBay.register(
        clean.unionByName(variants)
          .withColumn("blk", substring(col("nm"), 11, 7)))
      all.select(col("nm").as("a"), col("blk"))
        .join(all.select(col("nm").as("b"), col("blk")), Seq("blk"))
        .filter(col("a") < col("b") &&
          abs(length(col("a")) - length(col("b"))) <= 1)
        .select(col("a"), col("b"),
          graft.functions.StringExpressions
            .damerauLevenshtein(col("a"), col("b")).cast("long")
            .as("dl_dist"),
          levenshtein(col("a"), col("b")).cast("long").as("lev_dist"))
        .filter(col("dl_dist") <= 1)
    },
      // same blocking (first name token) and the same one-hop
      // lexicographic-min rule; levenshtein is exact in both engines
      Oracle("""WITH sup AS (SELECT s_name AS nm FROM supplier),
        |var AS (
        |  SELECT substr(s_name, 1, 8) || substr(s_name, 10, 1)
        |         || substr(s_name, 9, 1) || substr(s_name, 11, 8) AS nm
        |  FROM supplier WHERE s_suppkey % 3 = 0),
        |al AS (SELECT nm, substr(nm, 11, 7) AS blk
        |       FROM (SELECT nm FROM sup
        |             UNION ALL SELECT nm FROM var) u),
        |p AS (
        |  SELECT a.nm AS a, b.nm AS b
        |  FROM al a JOIN al b ON a.blk = b.blk AND a.nm < b.nm
        |  WHERE abs(length(a.nm) - length(b.nm)) <= 1)
        |SELECT a, b,
        |  CAST(damerau_levenshtein(a, b) AS BIGINT) AS dl_dist,
        |  CAST(levenshtein(a, b) AS BIGINT) AS lev_dist
        |FROM p WHERE damerau_levenshtein(a, b) <= 1""".stripMargin)),
    QuerySpec("j_fuzzy_canonical", (s, d) =>
      graft.operators.FuzzyMatch.canonicalMap(
        Tables(s, d, "part"), "p_partkey", "p_name"),
      Oracle({
      import graft.operators.FuzzyMatch.MaxLev
      s"""WITH n AS (SELECT p_partkey AS key, lower(p_name) AS nm
         |           FROM part),
         |d AS (SELECT nm, string_split(nm, ' ')[1] AS blk
         |      FROM (SELECT DISTINCT nm FROM n)),
         |pr AS (SELECT a.nm, b.nm AS cand
         |       FROM d a JOIN d b ON a.blk = b.blk AND a.nm <> b.nm
         |       WHERE levenshtein(a.nm, b.nm) <= $MaxLev),
         |rep AS (SELECT nm, least(nm, min(cand)) AS rep
         |        FROM pr GROUP BY nm)
         |SELECT n.key, n.nm, COALESCE(rep.rep, n.nm) AS rep
         |FROM n LEFT JOIN rep USING (nm)""".stripMargin
    })),
    QuerySpec("j2_guarded_lookup", (s, d) => {
      val supp = Tables(s, d, "supplier")
      val nat = Tables(s, d, "nation")
      val lookup = supp.join(nat, supp("s_nationkey") === nat("n_nationkey"))
        .select(supp("s_suppkey").as("l_suppkey"),
          nat("n_name").as("supplier_country"))
      Load.guardedLeftJoin(suppQty(s, d), lookup, Seq("l_suppkey"))
    },
      Oracle("""WITH q AS (SELECT l_suppkey, ROUND(SUM(l_quantity), 2) AS qty
        |           FROM lineitem GROUP BY 1)
        |SELECT q.l_suppkey, q.qty, n_name AS supplier_country
        |FROM q LEFT JOIN supplier ON q.l_suppkey = s_suppkey
        |       LEFT JOIN nation ON s_nationkey = n_nationkey""".stripMargin)),
    QuerySpec("j7_lookup_notmapped", (s, d) => {
      val supp = Tables(s, d, "supplier")
      val nat = Tables(s, d, "nation")
      // partial lookup: every 3rd supplier missing -> NotMapped
      val lookup = supp.filter(col("s_suppkey") % 3 =!= 0)
        .join(nat, supp("s_nationkey") === nat("n_nationkey"))
        .select(supp("s_suppkey").as("l_suppkey"),
          nat("n_name").as("supplier_country"))
      Load.lookupWithDefault(suppQty(s, d), lookup, "l_suppkey",
        "supplier_country")._1
    },
      Oracle("""WITH q AS (SELECT l_suppkey, ROUND(SUM(l_quantity), 2) AS qty
        |           FROM lineitem GROUP BY 1),
        |lk AS (SELECT s_suppkey, n_name FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       WHERE s_suppkey % 3 <> 0)
        |SELECT q.l_suppkey, q.qty,
        |       COALESCE(n_name, 'NotMapped') AS supplier_country
        |FROM q LEFT JOIN lk ON q.l_suppkey = s_suppkey""".stripMargin)),
    QuerySpec("a12_horizontal_sum", (s, d) => {
      val wide = graft.analytics.Analytics.pivotSum(s, d)
      wide.select(col("nation") +:
        graft.analytics.Analytics.Segments.map(col) :+
        round(Load.horizontalSum(
          graft.analytics.Analytics.Segments.map(col)), 2)
          .as("row_total"): _*)
    },
      Oracle({
      val segs = graft.analytics.Analytics.Segments
      val cols = segs.map(s =>
        s"""COALESCE(ROUND(SUM(o_totalprice)
           |    FILTER (WHERE c_mktsegment = '$s'), 2), 0.0) AS "$s"""".stripMargin)
        .mkString(",\n  ")
      val rowSum = segs.map(s => s"""COALESCE("$s", 0.0)""").mkString(" + ")
      s"""WITH pvt AS (
         |  SELECT n_name AS nation,
         |  $cols
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |       JOIN nation ON c_nationkey = n_nationkey
         |  GROUP BY 1
         |)
         |SELECT *, ROUND($rowSum, 2) AS row_total FROM pvt""".stripMargin
    })),
    QuerySpec("u2_split_union", (s, d) =>
      Load.splitUnion(
        Tables(s, d, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0,
            col("o_orderkey").cast("string"))
            .otherwise(col("o_orderpriority")).as("val")),
        "val"),
      Oracle("""WITH src AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 3 = 0
        |              THEN CAST(o_orderkey AS VARCHAR)
        |              ELSE o_orderpriority END AS val
        |  FROM orders
        |)
        |SELECT o_orderkey,
        |       CAST(CAST(val AS DOUBLE) AS VARCHAR) AS val,
        |       'FLOAT' AS branch
        |FROM src WHERE TRY_CAST(val AS DOUBLE) IS NOT NULL
        |UNION ALL
        |SELECT o_orderkey, upper(val) AS val, 'STR' AS branch
        |FROM src WHERE TRY_CAST(val AS DOUBLE) IS NULL""".stripMargin)),
    // O4: head-n preview of a key-ordered frame (the reference's
    // df.head(n) console check, made deterministic by the key sort)
    QuerySpec("o4_head_preview", (s, d) =>
      Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).as("acctbal"))
        .orderBy(col("c_custkey")).limit(8),
      Oracle("""SELECT c_custkey, c_name, c_mktsegment,
        |       ROUND(c_acctbal, 2) AS acctbal
        |FROM customer ORDER BY c_custkey LIMIT 8""".stripMargin)),
    QuerySpec("o2_preview_latest", (s, d) =>
      Load.previewLatest(
        Tables(s, d, "orders").select(col("o_orderkey"),
          date_format(col("o_orderdate"), "MM/dd/yyyy").as("snapshot")),
        "snapshot", 10, Seq(col("o_orderkey"))),
      Oracle("""SELECT o_orderkey,
        |       strftime(o_orderdate, '%m/%d/%Y') AS snapshot
        |FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey LIMIT 10""".stripMargin)),
    // §3.2 coercion variant B/C: deterministically dirtied all-string
    // upload feed coerced against a declared target schema
    QuerySpec("coerce_types", (s, d) => coerced(s, d), Oracle(CoerceSql)),
    // §5 pre-upload null audit over the coerced feed: every 7th status
    // was dirtied to "nan" -> NULL, so the audit has real counts
    QuerySpec("qc_null_audit", (s, d) => Load.nullAudit(coerced(s, d),
      Seq("key", "value", "status", "snapshot")),
      Oracle(s"""WITH c AS ($CoerceSql)
         |SELECT
         |  CAST(SUM(CASE WHEN key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS key_nulls,
         |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS value_nulls,
         |  CAST(SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS status_nulls,
         |  CAST(SUM(CASE WHEN snapshot IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS snapshot_nulls,
         |  COUNT(*) AS n_rows
         |FROM c""".stripMargin)),
    // X228: null-pattern histogram over the same coerced feed — which
    // null combinations co-occur (joint breakage vs entry noise)
    QuerySpec("qc_null_patterns", (s, d) => Load.nullPatterns(coerced(s, d),
      Seq("key", "value", "status", "snapshot")),
      // bit weights: key=8, value=4, status=2, snapshot=1 (declared
      // order); concat_ws skips NULLs in both engines
      Oracle(s"""WITH c AS ($CoerceSql),
         |m AS (SELECT
         |  CAST(CASE WHEN key IS NULL THEN 8 ELSE 0 END
         |     + CASE WHEN value IS NULL THEN 4 ELSE 0 END
         |     + CASE WHEN status IS NULL THEN 2 ELSE 0 END
         |     + CASE WHEN snapshot IS NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS mask,
         |  concat_ws(',',
         |    CASE WHEN key IS NULL THEN 'key' END,
         |    CASE WHEN value IS NULL THEN 'value' END,
         |    CASE WHEN status IS NULL THEN 'status' END,
         |    CASE WHEN snapshot IS NULL THEN 'snapshot' END)
         |    AS null_cols
         |  FROM c),
         |g AS (SELECT mask, null_cols, CAST(count(*) AS BIGINT)
         |        AS n_rows
         |      FROM m GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_total FROM g)
         |SELECT mask, null_cols, n_rows,
         |  CAST((n_rows * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm
         |FROM g CROSS JOIN tot""".stripMargin)),
    // S13 partition-granular MERGE (VERDICT r4 #6): seed a
    // hive-partitioned target from orders, upsert a delta touching two
    // month partitions (keyed updates + re-keyed inserts), return the
    // post-upsert table — the oracle recomputes the expected final
    // state from the raw inputs, proving result-identity of the
    // dynamic-partition-overwrite path to a plain keyed merge
    QuerySpec("s13_partition_upsert", (s, d) => {
      // a 3-year slice keeps the fixture at 36 month partitions — the
      // partition-granular merge semantics are identical at any
      // partition count, and the seed write is setup cost, not the
      // operator under test
      val base = Tables(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMM").as("ym"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_upsert_").toFile.getAbsolutePath
      // one task per partition value for the seed write — without the
      // repartition every task writes a file into every month
      // directory (tasks × partitions small files)
      base.repartition(col("ym"))
        .write.mode("overwrite").partitionBy("ym").parquet(dir)
      val inMonths = base.filter(col("ym").isin("199601", "199602"))
      val delta = inMonths.filter(col("o_orderkey") % 7 === 0)
        .withColumn("cents", col("cents") + 12345L)
        .unionByName(inMonths.filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
            col("ym"), (col("cents") + 1L).as("cents")))
      graft.load.Sinks.partitionedUpsert(s, delta, dir, "ym",
        Seq("o_orderkey"))
      s.read.parquet(dir).select(col("o_orderkey"),
        col("ym").cast("string").as("ym"), col("cents"))
    },
      // the expected post-upsert state recomputed directly: delta rows
      // win on their pk; everything else survives untouched
      Oracle("""WITH b AS (
        |  SELECT o_orderkey, strftime(o_orderdate, '%Y%m') AS ym,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01'
        |    AND o_orderdate < DATE '1998-01-01'),
        |d AS (
        |  SELECT o_orderkey, ym, CAST(cents + 12345 AS BIGINT) AS cents
        |  FROM b WHERE ym IN ('199601', '199602') AND o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, ym, CAST(cents + 1 AS BIGINT)
        |  FROM b WHERE ym IN ('199601', '199602') AND o_orderkey % 13 = 0)
        |SELECT o_orderkey, ym, cents FROM d
        |UNION ALL
        |SELECT o_orderkey, ym, cents FROM b
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d)""".stripMargin)),
    // X86 schema-evolution union: two order "generations" — the old
    // one predates the priority column and carried 32-bit cents; the
    // reader aligns by name, null-fills, and widens int→long
    QuerySpec("io_evolve_union", (s, d) => {
      val o = Tables(s, d, "orders")
      val gen1 = o.filter(col("o_orderdate") < lit("1995-01-01"))
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("int").as("cents"))
      val gen2 = o.filter(col("o_orderdate") >= lit("1995-01-01"))
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority").as("priority"))
      graft.io.Readers.evolveUnion(Seq(gen1, gen2))
    },
      // the evolved frame recomputed directly: old generation null-fills
      // the late column, cents BIGINT in both branches
      Oracle("""SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  CAST(NULL AS VARCHAR) AS priority
        |FROM orders WHERE o_orderdate < DATE '1995-01-01'
        |UNION ALL
        |SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |  o_orderpriority AS priority
        |FROM orders WHERE o_orderdate >= DATE '1995-01-01'""".stripMargin)),
    // J8: region/plant backfill — blank-region suppliers crossed with
    // the (tiny broadcast) region list, plant picked per (grp, region)
    QuerySpec("j8_region_backfill", (s, d) => {
      val reg = Tables(s, d, "region")
      val facts = Tables(s, d, "supplier")
        .join(Tables(s, d, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), (col("s_suppkey") % 3).as("grp"),
          when(col("s_suppkey") % 5 === 0, lit(null: String))
            .otherwise(col("r_name")).as("region"),
          round(col("s_acctbal"), 2).as("acct"))
      val regionPlants = reg
        .select(explode(array(lit(0L), lit(1L), lit(2L))).as("grp"),
          col("r_name").as("region"),
          concat(lit("P-"), col("r_regionkey").cast("string"))
            .as("plant"))
      Load.regionBackfill(facts, regionPlants, "grp")
    },
      Oracle("""WITH rp AS (
        |  SELECT g AS grp, r_name AS region,
        |         'P-' || CAST(r_regionkey AS VARCHAR) AS plant
        |  FROM region CROSS JOIN (SELECT unnest([0, 1, 2]) AS g)
        |),
        |f AS (
        |  SELECT s_suppkey, s_suppkey % 3 AS grp,
        |         CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE r_name END
        |           AS region,
        |         ROUND(s_acctbal, 2) AS acct
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |)
        |SELECT f.grp, f.region, f.s_suppkey, f.acct, rp.plant
        |FROM f LEFT JOIN rp ON f.grp = rp.grp AND f.region = rp.region
        |WHERE f.region IS NOT NULL AND f.region <> ''
        |UNION ALL
        |SELECT b.grp, rl.region, b.s_suppkey, b.acct, rp2.plant
        |FROM (SELECT * FROM f WHERE region IS NULL OR region = '') b
        |CROSS JOIN (SELECT DISTINCT region FROM rp) rl
        |LEFT JOIN rp rp2 ON b.grp = rp2.grp AND rl.region = rp2.region"""
        .stripMargin)))
}
