package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.Tables
import graft.similarity.Similarity
import graft.similarity.Similarity._

/** Registry: similarity-search operators over `embeddings`. The oracle
  * replays the identical double-precision dot-product and deterministic
  * hyperplane math in DuckDB (generated from the same constants), and
  * both engines derive the size-scaled hyperplane count from the same
  * integer-only formula ([[Similarity.scaledNBits]] / `nb` CTE) so the
  * bucket codes agree at every scale factor.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")

  /** Versioned stored-index root for the incremental-index queries
    * (`sim_ivf_incremental` / `sim_pq_incremental`), memoized per
    * (session, kind, dir): the FIRST invocation in a session builds v0
    * (base index) and applies the arrival batch (v1); every later
    * invocation — the bench's second pass, a Verify rerun — finds the
    * committed v1 and replays as a read-only no-op, which is exactly
    * the incremental contract under test. A fresh temp root per
    * session (and after each `SessionCache.clear`) keeps stale state
    * from an older build out; a shutdown hook deletes it. */
  private def stateRoot(s: SparkSession, kind: String, d: String)
      : String =
    graft.core.SessionCache.memo(s, s"idxroot:$kind:$d") {
      val p = java.nio.file.Files.createTempDirectory(s"graft_${kind}_idx_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
      p.toFile.getAbsolutePath
    }

  /** Session-memoized deterministic Lloyd quantizer for the tables at
    * `dir` — the BPE-merges precedent (`bpemerges:$d`): the fit is a
    * train-once artifact, deterministic given the corpus, so a sweep
    * pays it once per (session, dir) instead of once per pass. The
    * oracle still replays the FULL fit from the raw table. */
  private def lloydMemo(s: SparkSession, d: String): Array[Array[Long]] =
    graft.core.SessionCache.memo(s, s"lloyd:$d")(
      Similarity.lloydCentersE6(emb(s, d)))

  // ---- DuckDB SQL (same constants, same math) ----

  private val ECte =
    """e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** Size-scaled hyperplane count (see Similarity.scaledNBits). */
  private val NbCte = s"nb AS (SELECT $ScaledNBitsSql AS nbits)"

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** nBits-bit bucket code with nBits read from the `nb` CTE. */
  private val BucketCte =
    s"""bk AS (SELECT vec_id, v, array_to_string(list_transform(
       |    range(0, (SELECT nbits FROM nb)), j ->
       |    CASE WHEN list_sum(list_transform(range(1, len(v) + 1), d ->
       |           v[d] * (((j * $Dim + d) * 2654435761 % 1000003)
       |                   / 1000003.0 - 0.5))) > 0
       |         THEN '1' ELSE '0' END), '') AS bucket
       |  FROM e)""".stripMargin

  /** The PQ pipeline CTE chain (seed codebook → per-sub-space argmin
    * encode → bucket candidates → nested ADC folds → rank), shared by
    * the sim_pq_topk and sim_pq_recall oracles. Mirrors
    * [[graft.functions.PqEncode]]/[[graft.functions.PqAdc]]: identical
    * ascending-(s, d) accumulation order, `ORDER BY dd, j` = the
    * lowest-code tie-break. */
  /** The multi-probe top-1 chain (probe keys → bucket join → rank),
    * ending in `r` — shared by the nearest-neighbor oracle and the
    * mutual-rate audit. */
  private val NnCtes: String =
    s"""pr AS (
       |  SELECT vec_id AS q_id, v AS qv, unnest(list_prepend(bucket,
       |    list_transform(range(0, (SELECT nbits FROM nb)), j ->
       |      substring(bucket, 1, CAST(j AS INT)) ||
       |      (CASE WHEN substring(bucket, CAST(j AS INT) + 1, 1) = '1'
       |            THEN '0' ELSE '1' END) ||
       |      substring(bucket, CAST(j AS INT) + 2,
       |        length(bucket) - CAST(j AS INT) - 1))))
       |    AS bucket
       |  FROM bk),
       |p AS (SELECT q_id, b.vec_id AS nn_id,
       |        ${cosSql("qv", "b.v")} AS cos
       |      FROM pr JOIN bk b ON pr.bucket = b.bucket
       |      WHERE q_id <> b.vec_id),
       |r AS (SELECT q_id, nn_id, cos, row_number() OVER (
       |        PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
       |      FROM p)""".stripMargin

  /** The PQ code-ASSIGNMENT chain (seeds → per-subspace distances →
    * rank-1 pick), shared by the full PQ oracles and the code-balance
    * audit. */
  private def pqAssignCtes(train: String): String = {
    val m = Similarity.PqM
    val sub = Similarity.Dim / Similarity.PqM
    s"""seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
       |             AS INT) AS j, v AS sv
       |          FROM (SELECT vec_id, v FROM e
       |                WHERE vec_id % 5 = 2 AND ($train)
       |                ORDER BY vec_id LIMIT ${Similarity.PqCodes})),
       |dd AS (SELECT e.vec_id, t.s, c.j,
       |         list_sum(list_transform(range(1, ${sub + 1}), d ->
       |           (e.v[t.s * $sub + CAST(d AS INT)]
       |             - c.sv[t.s * $sub + CAST(d AS INT)])
       |           * (e.v[t.s * $sub + CAST(d AS INT)]
       |             - c.sv[t.s * $sub + CAST(d AS INT)]))) AS dd
       |       FROM e, range(0, $m) t(s), seeds c),
       |cd AS (SELECT vec_id, s, j, row_number() OVER (
       |         PARTITION BY vec_id, s ORDER BY dd, j) AS rn
       |       FROM dd)""".stripMargin
  }

  private def pqCtes(train: String): String = {
    val m = Similarity.PqM
    val sub = Similarity.Dim / Similarity.PqM
    s"""${pqAssignCtes(train)},
       |cl AS (SELECT vec_id, list(j ORDER BY s) AS codes
       |       FROM cd WHERE rn = 1 GROUP BY vec_id),
       |cbn AS (SELECT list(sv ORDER BY j) AS cbv FROM seeds),
       |pq_pr AS (
       |  SELECT vec_id AS q_id, v AS qv, unnest(list_prepend(bucket,
       |    list_transform(range(0, (SELECT nbits FROM nb)), j ->
       |      substring(bucket, 1, CAST(j AS INT)) ||
       |      (CASE WHEN substring(bucket, CAST(j AS INT) + 1, 1) = '1'
       |            THEN '0' ELSE '1' END) ||
       |      substring(bucket, CAST(j AS INT) + 2,
       |        length(bucket) - CAST(j AS INT) - 1))))
       |    AS bucket
       |  FROM bk WHERE vec_id % $QueryMod = 0),
       |p AS (SELECT pr.q_id, b.vec_id AS nn_id, pr.qv, cl.codes
       |      FROM pq_pr pr
       |      JOIN bk b ON pr.bucket = b.bucket AND pr.q_id <> b.vec_id
       |      JOIN cl ON cl.vec_id = b.vec_id),
       |ad AS (SELECT q_id, nn_id,
       |         list_sum(list_transform(range(0, $m), s ->
       |           list_sum(list_transform(range(1, ${sub + 1}), d ->
       |             (qv[s * $sub + CAST(d AS INT)]
       |               - cbv[codes[CAST(s AS INT) + 1] + 1]
       |                    [s * $sub + CAST(d AS INT)])
       |             * (qv[s * $sub + CAST(d AS INT)]
       |               - cbv[codes[CAST(s AS INT) + 1] + 1]
       |                    [s * $sub + CAST(d AS INT)]))))) AS adc
       |       FROM p CROSS JOIN cbn),
       |r AS (SELECT q_id, nn_id, adc, row_number() OVER (
       |        PARTITION BY q_id ORDER BY adc, nn_id) AS rank
       |      FROM ad)""".stripMargin
  }

  private val PqCtes: String = pqCtes("TRUE")
  private val PqAssignCtes: String = pqAssignCtes("TRUE")

  /** One unrolled integer-Lloyd round per iteration (assign → per-dim
    * quantized means → COALESCE recenter, empty cells keep their
    * center), mirroring [[Similarity.lloydCentersE6]] exactly:
    * assignment dist² is an order-free integer sum with ties → lowest
    * cell; the mean is `floor(sum/n)` via one exact double division
    * (the labelCentroids spelling). */
  private def lloydCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""d$i AS (SELECT q.vec_id, c.cell,
         |         SUM((q.qd - c.c) * (q.qd - c.c)) AS d2
         |       FROM qe q JOIN c${i - 1} c ON q.dim = c.dim
         |       GROUP BY 1, 2),
         |a$i AS MATERIALIZED (SELECT vec_id, cell FROM (
         |       SELECT vec_id, cell, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY d2, cell) AS r
         |       FROM d$i) WHERE r = 1),
         |c$i AS MATERIALIZED (
         |       SELECT p.cell, p.dim, COALESCE(m.c, p.c) AS c
         |       FROM c${i - 1} p LEFT JOIN (
         |         SELECT a.cell, q.dim, CAST(floor(
         |             CAST(SUM(q.qd) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS c
         |         FROM a$i a JOIN qe q USING (vec_id)
         |         GROUP BY 1, 2) m
         |       ON p.cell = m.cell AND p.dim = m.dim),""".stripMargin
    }.mkString("\n")

  /** The full IVF replay INCLUDING the fit (VERDICT r13 #1):
    * e6-quantized corpus + seed centers, LloydIters unrolled
    * integer-Lloyd rounds, then the probe/rank chain over the final
    * centers as e6/1e6 doubles (bit-identical on both engines).
    * `train` restricts the TRAINING corpus (quantized frame + seeds);
    * assignment/probe/rank always run over the full table — with
    * `train` = the base split this is exactly the X316 incremental
    * contract (frozen centers, merged index ≡ one-shot assignment). */
  private def ivfTopKOracle(train: String): String =
    s"""WITH $ECte,
       |qe AS MATERIALIZED (
       |  SELECT vec_id, CAST(dim AS BIGINT) AS dim,
       |    CAST(floor(x * CAST(1000000 AS DOUBLE)
       |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qd
       |  FROM (SELECT vec_id, unnest(range(0, len(v))) AS dim,
       |          unnest(v) AS x FROM e WHERE $train)),
       |c0 AS (
       |  SELECT cell, CAST(dim AS BIGINT) AS dim,
       |    CAST(floor(x * CAST(1000000 AS DOUBLE)
       |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
       |  FROM (SELECT cell, unnest(range(0, len(cv))) AS dim,
       |          unnest(cv) AS x
       |        FROM (SELECT CAST(row_number() OVER (ORDER BY vec_id)
       |                       - 1 AS INT) AS cell, v AS cv
       |              FROM (SELECT vec_id, v FROM e
       |                    WHERE vec_id % 5 = 2 AND ($train)
       |                    ORDER BY vec_id LIMIT 16)))),
       |${lloydCtes(LloydIters)}
       |cf AS (SELECT cell,
       |         list(c / CAST(1000000 AS DOUBLE) ORDER BY dim) AS cv
       |       FROM c$LloydIters GROUP BY cell),
       |dd AS (SELECT e.vec_id, e.v, f.cell,
       |         list_sum(list_transform(cv, x -> x * x))
       |           - 2.0 * ${dotSql("v", "cv")} AS d
       |       FROM e CROSS JOIN cf f),
       |rk AS (SELECT vec_id, v, cell, row_number() OVER (
       |         PARTITION BY vec_id ORDER BY d, cell) AS r
       |       FROM dd),
       |corp AS (SELECT vec_id AS nn_id, v AS cv2, cell
       |         FROM rk WHERE r = 1),
       |pro AS (SELECT vec_id AS q_id, v AS qv, cell
       |        FROM rk WHERE r <= 2 AND vec_id % $QueryMod = 0),
       |ip AS (SELECT q_id, nn_id, ${cosSql("qv", "cv2")} AS cos
       |       FROM pro JOIN corp USING (cell) WHERE q_id <> nn_id),
       |it AS (SELECT q_id, nn_id, cos, row_number() OVER (
       |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
       |       FROM ip)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id,
       |  ROUND(cos, 6) AS cos
       |FROM it WHERE rank <= $TopK""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_bruteforce_topk", (s, d) =>
      Similarity.sharedExactTopK(s, d)
        .filter(col("rank") <= Similarity.TopK),
      Oracle(s"""WITH $ECte,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id % $QueryMod = 0),
         |p AS (SELECT q_id, b.vec_id AS nn_id,
         |        ${cosSql("qv", "b.v")} AS cos
         |      FROM q JOIN e b ON q_id <> b.vec_id),
         |r AS (SELECT q_id, nn_id, cos, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |      FROM p)
         |SELECT q_id, rank, nn_id, ROUND(cos, 6) AS cos
         |FROM r WHERE rank <= $TopK""".stripMargin)),
    // X255: TwoNN intrinsic-dimension evidence — exact 2-NN per query
    // point, e6-quantized cosine distances, ratio in integer ppm
    QuerySpec("sim_twonn_intrinsic", (s, d) =>
      Similarity.twoNNProfile(emb(s, d)),
      // rank on the QUANTIZED distance (asc, nn_id) — same total order
      // as the Spark window, so picked neighbors replay exactly
      Oracle(s"""WITH $ECte,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id % $QueryMod = 0),
         |p AS (SELECT q_id, b.vec_id AS nn_id,
         |        CAST(floor((1.0 - ${cosSql("qv", "b.v")}) * 1000000.0
         |          + 0.5) AS BIGINT) AS d_e6
         |      FROM q JOIN e b ON q_id <> b.vec_id),
         |r AS (SELECT q_id, nn_id, d_e6, row_number() OVER (
         |        PARTITION BY q_id ORDER BY d_e6, nn_id) AS rk
         |      FROM p),
         |g AS (SELECT q_id,
         |        CAST(min(CASE WHEN rk = 1 THEN nn_id END) AS BIGINT)
         |          AS nn1_id,
         |        CAST(min(CASE WHEN rk = 1 THEN d_e6 END) AS BIGINT)
         |          AS d1_e6,
         |        CAST(min(CASE WHEN rk = 2 THEN nn_id END) AS BIGINT)
         |          AS nn2_id,
         |        CAST(min(CASE WHEN rk = 2 THEN d_e6 END) AS BIGINT)
         |          AS d2_e6
         |      FROM r WHERE rk <= 2 GROUP BY q_id)
         |SELECT q_id, nn1_id, d1_e6, nn2_id, d2_e6,
         |  CAST(d2_e6 * 1000000 // greatest(d1_e6, 1) AS BIGINT) AS mu_ppm
         |FROM g""".stripMargin)),
    QuerySpec("sim_lsh_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.lshTopK(e, nBits = scaledNBits(e.count()))
    },
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk
         |      WHERE vec_id % $QueryMod = 0),
         |p AS (SELECT q_id, b.vec_id AS nn_id,
         |        ${cosSql("qv", "b.v")} AS cos
         |      FROM q JOIN bk b ON q.bucket = b.bucket
         |      WHERE q_id <> b.vec_id),
         |r AS (SELECT q_id, nn_id, cos, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |      FROM p)
         |SELECT q_id, rank, nn_id, ROUND(cos, 6) AS cos
         |FROM r WHERE rank <= $TopK""".stripMargin)),
    QuerySpec("sim_nearest_neighbor", (s, d) => {
      val e = emb(s, d)
      Similarity.nearestNeighbor(e, nBits = scaledNBits(e.count()))
    },
      // multi-probe LSH NN: own bucket + every Hamming-1 flip as probe
      // keys; candidates from the bucket equi-join (same shape as the
      // Spark plan — no all-pairs join anywhere)
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |$NnCtes
         |SELECT q_id, nn_id, ROUND(cos, 6) AS cos
         |FROM r WHERE rank = 1""".stripMargin)),
    // X275: predicate-filtered (tenant-partitioned) ANN — the filter
    // composes INTO the candidate key: (label, bucket) equi-join, so
    // a query never meets another label's candidates (no post-filter
    // recall loss); ranking identical to sim_lsh_topk within the label
    QuerySpec("sim_filtered_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.filteredTopK(e, nBits = filteredNBits(e.count(),
        e.select("label").distinct().count()))
    },
      // the filtered variant: the SAME bucket chain joined on the
      // compound (label, bucket) key — a query only ever meets its own
      // label's candidates, mirroring the Spark plan's composed filter
      Oracle(s"""WITH $ECte, nb AS (SELECT $FilteredNBitsSql AS nbits),
         |$BucketCte,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
         |        FROM embeddings),
         |q AS (SELECT b.vec_id AS q_id, l.label, b.v AS qv, b.bucket
         |      FROM bk b JOIN lab l USING (vec_id)
         |      WHERE b.vec_id % $QueryMod = 0),
         |c AS (SELECT b.vec_id AS nn_id, l.label, b.v AS cv, b.bucket
         |      FROM bk b JOIN lab l USING (vec_id)),
         |p AS (SELECT q_id, q.label, nn_id,
         |        ${cosSql("qv", "c.cv")} AS cos
         |      FROM q JOIN c ON q.label = c.label
         |                   AND q.bucket = c.bucket
         |      WHERE q_id <> nn_id),
         |r AS (SELECT q_id, label, nn_id, cos, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |      FROM p)
         |SELECT q_id, label, rank, nn_id, ROUND(cos, 6) AS cos
         |FROM r WHERE rank <= $TopK""".stripMargin)),
    // IVF over deterministic integer-Lloyd cells (VERDICT r13 #1) —
    // seed-center init + LloydIters exact-integer rounds, so the FULL
    // fit+probe+rank pipeline unrolls into MATERIALIZED oracle CTEs
    QuerySpec("sim_ivf_topk", (s, d) =>
      Similarity.ivfTopK(emb(s, d), centersE6 = Some(lloydMemo(s, d))),
      Oracle(ivfTopKOracle("TRUE"))),
    // the X45-pattern audit: deterministic seed centers make the whole
    // IVF pipeline + its recall-vs-brute-force SQL-recomputable
    QuerySpec("sim_ivf_recall", (s, d) => Similarity.ivfRecallAudit(emb(s, d),
      exactIn = Some(Similarity.sharedExactTopK(s, d))),
      // full IVF audit replay: seed centers (same ORDER BY/LIMIT rule),
      // nearest-center assignment (d = |c|² − 2v·c, ties → lowest cell),
      // nProbe=2 probes, in-cell cosine top-k, recall vs brute force.
      // |c|² via list_sum matches the Spark side's Scala left-fold sum
      Oracle(s"""WITH $ECte,
         |c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |               AS INT) AS cell, v AS cv
         |      FROM (SELECT vec_id, v FROM e WHERE vec_id % 5 = 2
         |            ORDER BY vec_id LIMIT 16)),
         |dd AS (SELECT e.vec_id, e.v, c.cell,
         |         list_sum(list_transform(cv, x -> x * x))
         |           - 2.0 * ${dotSql("v", "cv")} AS d
         |       FROM e CROSS JOIN c),
         |rk AS (SELECT vec_id, v, cell, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY d, cell) AS r
         |       FROM dd),
         |corp AS (SELECT vec_id AS nn_id, v AS cv2, cell
         |         FROM rk WHERE r = 1),
         |pro AS (SELECT vec_id AS q_id, v AS qv, cell
         |        FROM rk WHERE r <= 2 AND vec_id % $QueryMod = 0),
         |ip AS (SELECT q_id, nn_id, ${cosSql("qv", "cv2")} AS cos
         |       FROM pro JOIN corp USING (cell) WHERE q_id <> nn_id),
         |it AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |       FROM ip),
         |itop AS (SELECT q_id, nn_id FROM it WHERE rank <= $TopK),
         |bp AS (SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
         |         ${cosSql("q.v", "b.v")} AS cos
         |       FROM e q JOIN e b
         |         ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
         |bt AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |       FROM bp),
         |btop AS (SELECT q_id, nn_id FROM bt WHERE rank <= $TopK)
         |SELECT b.q_id,
         |  CAST(SUM(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  (CAST(SUM(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000) // $TopK AS recall_ppm
         |FROM btop b LEFT JOIN itop i
         |  ON b.q_id = i.q_id AND b.nn_id = i.nn_id
         |GROUP BY b.q_id""".stripMargin)),
    // X316: incremental IVF maintenance — centers frozen on the base
    // split, the arrival batch assigns only itself, the stored
    // versioned index serves the probe/rank; ≡ the full recompute
    // with the same centers, which is what the oracle replays
    QuerySpec("sim_ivf_incremental", (s, d) =>
      Similarity.ivfIncremental(emb(s, d), stateRoot(s, "ivf", d)),
      // X316: same pipeline, fit restricted to the base arrival split —
      // the incremental index must reproduce this exactly
      Oracle(ivfTopKOracle("vec_id % 4 <> 0"))),
    // X320: the X316 discipline on the compression leg — frozen
    // codebook, the arrival batch encodes only itself, the stored
    // (vec_id, bucket, codes) table serves the ADC ranking
    QuerySpec("sim_pq_incremental", (s, d) => {
      val e = emb(s, d)
      Similarity.pqIncremental(e, stateRoot(s, "pq", d),
        nBits = scaledNBits(e.count()))
    },
      // X320: same PQ chain, codebook restricted to the base arrival
      // split — the incremental code store must reproduce this exactly
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |${pqCtes("vec_id % 4 <> 0")}
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id,
         |  ROUND(adc, 6) AS adc
         |FROM r WHERE rank <= $TopK""".stripMargin)),
    // X317: adaptive bucket splitting for mega-buckets — fan sized
    // per bucket by the X92 device, query probes every sub-bucket, so
    // the result is exactly sim_lsh_topk's while no reduce task owns
    // more than cap corpus rows per bucket
    QuerySpec("sim_lsh_split_buckets", (s, d) => {
      val e = emb(s, d)
      Similarity.lshSplitTopK(e, nBits = scaledNBits(e.count()))
    },
      // X317: per-bucket fan by the integer power-of-two device, corpus
      // keyed at (bucket, vec_id % fan), queries probing every
      // sub-bucket — the result is exactly the unsplit ranking
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |f AS (SELECT bucket, CASE WHEN count(*) <= $SplitCap
         |        THEN CAST(1 AS BIGINT)
         |        ELSE CAST((1 << length(format('{:b}',
         |          (count(*) + ${SplitCap - 1}) // $SplitCap - 1)))
         |          AS BIGINT) END AS fan
         |      FROM bk GROUP BY bucket),
         |s AS (SELECT vec_id, v, bk.bucket, fan,
         |        vec_id % fan AS sub
         |      FROM bk JOIN f USING (bucket)),
         |q AS (SELECT vec_id AS q_id, v AS qv, bucket,
         |        unnest(range(0, fan)) AS sub
         |      FROM s WHERE vec_id % $QueryMod = 0),
         |p AS (SELECT q_id, s.vec_id AS nn_id,
         |        ${cosSql("qv", "s.v")} AS cos
         |      FROM q JOIN s ON q.bucket = s.bucket AND q.sub = s.sub
         |      WHERE q_id <> s.vec_id),
         |r AS (SELECT q_id, nn_id, cos, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |      FROM p)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id,
         |  ROUND(cos, 6) AS cos
         |FROM r WHERE rank <= $TopK""".stripMargin)),
    // X192: Matryoshka-truncation recall — rank on the first quarter
    // of the embedding, judge against full-dimension ground truth
    QuerySpec("sim_matryoshka_recall", (s, d) =>
      Similarity.matryoshkaRecallAudit(emb(s, d),
        exactIn = Some(Similarity.sharedExactTopK(s, d))),
      // prefix-slice ranking vs full-dimension ground truth; DuckDB's
      // 1-based inclusive list slice v[1:P] mirrors Spark's slice(v,1,P)
      Oracle(s"""WITH $ECte,
         |t AS (SELECT vec_id, v[1:${Similarity.MatryoshkaDims}] AS tv
         |      FROM e),
         |tp AS (SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
         |         ${cosSql("q.tv", "b.tv")} AS cos
         |       FROM t q JOIN t b
         |         ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
         |tr AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |       FROM tp),
         |ttop AS (SELECT q_id, nn_id FROM tr WHERE rank <= $TopK),
         |bp AS (SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
         |         ${cosSql("q.v", "b.v")} AS cos
         |       FROM e q JOIN e b
         |         ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
         |bt AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |       FROM bp),
         |btop AS (SELECT q_id, nn_id FROM bt WHERE rank <= $TopK)
         |SELECT b.q_id,
         |  CAST(SUM(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  (CAST(SUM(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000) // $TopK AS recall_ppm
         |FROM btop b LEFT JOIN ttop i
         |  ON b.q_id = i.q_id AND b.nn_id = i.nn_id
         |GROUP BY b.q_id""".stripMargin)),
    // X195: reciprocal-rank fusion of the three compressed rankings
    // (matryoshka prefix / int8 / JL) — rank-only hybrid combiner,
    // integer-exact after the per-list ranks
    QuerySpec("sim_rrf_fusion", (s, d) => Similarity.rrfFusion(emb(s, d)),
      // three compressed rankings replayed (prefix slice / int8 floor
      // quantization / JL micro-unit components), fused by the same
      // integer 10^6 // (60 + rank) contributions and re-ranked
      Oracle({
      def leg(i: Int, src: String): String =
        s"""p$i AS (SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
           |    ${cosSql("q.fv", "b.fv")} AS cos
           |  FROM $src q JOIN $src b
           |    ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
           |c$i AS (SELECT q_id, nn_id,
           |    1000000 // (${Similarity.RrfC} + rank) AS rrf
           |  FROM (SELECT q_id, nn_id, row_number() OVER (
           |          PARTITION BY q_id ORDER BY cos DESC, nn_id)
           |          AS rank
           |        FROM p$i)
           |  WHERE rank <= $TopK)""".stripMargin
      val jlComps = (0 until 8).map { j =>
        s"""CAST(CAST(floor(list_sum(list_transform(
           |      range(1, len(v) + 1), d ->
           |      v[d] * (((${j} * $Dim + d) * 2654435761 % 1000003)
           |              / 1000003.0 - 0.5))) * 1000000 + 0.5)
           |    AS BIGINT) AS DOUBLE)""".stripMargin
      }.mkString(",\n    ")
      s"""WITH $ECte,
         |pf AS (SELECT vec_id, v[1:${Similarity.MatryoshkaDims}] AS fv
         |       FROM e),
         |i8 AS (SELECT vec_id, list_transform(v, x ->
         |         CAST(floor(x * (CASE WHEN mx > 0 THEN 127.0 / mx
         |                              ELSE 1.0 END) + 0.5) AS DOUBLE))
         |         AS fv
         |       FROM (SELECT vec_id, v,
         |               list_max(list_transform(v, x -> abs(x))) AS mx
         |             FROM e)),
         |jl AS (SELECT vec_id, [
         |    $jlComps] AS fv FROM e),
         |${leg(1, "pf")},
         |${leg(2, "i8")},
         |${leg(3, "jl")},
         |u AS (SELECT * FROM c1 UNION ALL
         |      SELECT * FROM c2 UNION ALL
         |      SELECT * FROM c3),
         |g AS (SELECT q_id, nn_id, CAST(SUM(rrf) AS BIGINT) AS rrf_e6,
         |        CAST(COUNT(*) AS BIGINT) AS n_lists
         |      FROM u GROUP BY 1, 2),
         |f AS (SELECT q_id, nn_id, rrf_e6, n_lists, row_number() OVER (
         |        PARTITION BY q_id ORDER BY rrf_e6 DESC, nn_id) AS rank
         |      FROM g)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id, rrf_e6,
         |  n_lists
         |FROM f WHERE rank <= $TopK""".stripMargin
    })),
    // X196: MMR diversified top-k — greedy λ·rel − (1−λ)·maxsim
    // re-ranking over the bounded candidate pool, integer-quantized
    // scores so the greedy trajectory replays anywhere
    QuerySpec("sim_mmr_topk", (s, d) => Similarity.mmrTopK(emb(s, d)),
      // the greedy MMR trajectory unrolled round by round (MATERIALIZED
      // per round — the X184 device): same quantized rel/sim micro-units,
      // same integer λ mix, same id tie-break
      Oracle({
      val lam = Similarity.MmrLambdaNum
      def round(r: Int): String =
        s"""s$r AS MATERIALIZED (
           |  SELECT q_id, nn_id, rel_e6, CAST($r AS BIGINT) AS rank
           |  FROM (
           |    SELECT c.q_id, c.nn_id, c.rel_e6, row_number() OVER (
           |        PARTITION BY c.q_id
           |        ORDER BY $lam * c.rel_e6 - ${10 - lam} * mx.m DESC,
           |          c.nn_id) AS rn
           |    FROM cand c
           |    JOIN (SELECT cc.q_id, cc.a_id,
           |            CAST(MAX(cc.sim_e6) AS BIGINT) AS m
           |          FROM cc JOIN sel${r - 1} s
           |            ON cc.q_id = s.q_id AND cc.b_id = s.nn_id
           |          GROUP BY 1, 2) mx
           |      ON c.q_id = mx.q_id AND c.nn_id = mx.a_id
           |    LEFT JOIN sel${r - 1} d
           |      ON d.q_id = c.q_id AND d.nn_id = c.nn_id
           |    WHERE d.nn_id IS NULL)
           |  WHERE rn = 1),
           |sel$r AS (SELECT * FROM sel${r - 1}
           |          UNION ALL SELECT * FROM s$r)""".stripMargin
      s"""WITH $ECte,
         |cp AS (SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
         |    CAST(floor(${cosSql("q.v", "b.v")} * 1000000 + 0.5)
         |      AS BIGINT) AS rel_e6
         |  FROM e q JOIN e b
         |    ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
         |cand AS MATERIALIZED (
         |  SELECT q_id, nn_id, rel_e6 FROM (
         |    SELECT cp.*, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel_e6 DESC, nn_id) AS rn FROM cp)
         |  WHERE rn <= ${Similarity.MmrCand}),
         |cc AS MATERIALIZED (
         |  SELECT a.q_id, a.nn_id AS a_id, b.nn_id AS b_id,
         |    CAST(floor(${cosSql("ea.v", "eb.v")} * 1000000 + 0.5)
         |      AS BIGINT) AS sim_e6
         |  FROM cand a
         |  JOIN cand b ON a.q_id = b.q_id AND a.nn_id <> b.nn_id
         |  JOIN e ea ON ea.vec_id = a.nn_id
         |  JOIN e eb ON eb.vec_id = b.nn_id),
         |s1 AS MATERIALIZED (
         |  SELECT q_id, nn_id, rel_e6, CAST(1 AS BIGINT) AS rank
         |  FROM (SELECT cand.*, row_number() OVER (PARTITION BY q_id
         |          ORDER BY rel_e6 DESC, nn_id) AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT * FROM s1),
         |${(2 to TopK).map(round).mkString(",\n")}
         |SELECT q_id, rank, nn_id, rel_e6 FROM sel$TopK""".stripMargin
    })),
    QuerySpec("sim_quantize_int8", (s, d) => Similarity.quantizeInt8(emb(s, d)),
      // same floor(x*scale + 0.5) rounding as the Spark side — see the
      // quantizeInt8 scaladoc for why it is NOT the engine round()
      Oracle(s"""WITH $ECte,
         |m AS (SELECT vec_id, v,
         |        list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
         |s AS (SELECT vec_id, v,
         |        CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END AS scale
         |      FROM m),
         |q AS (SELECT vec_id, v, scale,
         |        list_transform(v, x ->
         |          CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
         |      FROM s)
         |SELECT vec_id,
         |  array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')
         |    AS q_str,
         |  ROUND(scale, 6) AS scale,
         |  ROUND(list_max(list_transform(range(1, len(v) + 1),
         |    i -> abs(qv[i] / scale - v[i]))), 6) AS max_err
         |FROM q""".stripMargin)),
    // PQ/ADC over the scaled LSH candidate buckets: codebook, encode,
    // and ranking all deterministic — fully oracle-replayed
    QuerySpec("sim_pq_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.pqTopK(e, nBits = scaledNBits(e.count()))
    },
      // PQ/ADC replay: seed codebook (the ivf_recall center CTE), encode
      // = per-(vector, sub-space) argmin with ORDER BY dd, j (= the Spark
      // array_sort tie-break), ADC = nested list_sum folds in ascending
      // (s, d) order — the identical double arithmetic as the engine's
      // expression folds. The nested cbv[code+1][s*8+d] lookup mirrors
      // element_at(element_at(cbFull, code+1), s*sub+d+1).
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |$PqCtes
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id,
         |  ROUND(adc, 6) AS adc
         |FROM r WHERE rank <= $TopK""".stripMargin)),
    QuerySpec("sim_pq_recall", (s, d) => {
      val e = emb(s, d)
      Similarity.pqRecallAudit(e, nBits = scaledNBits(e.count()),
        exactIn = Some(Similarity.sharedExactTopK(s, d)))
    },
      // recall@k of the full PQ pipeline (LSH candidate cut + ADC
      // distortion) vs exact-cosine ground truth — the ivf_recall audit
      // shape over the shared PQ CTE chain
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |$PqCtes,
         |pt AS (SELECT q_id, nn_id FROM r WHERE rank <= $TopK),
         |bp AS (SELECT q.vec_id AS q_id, b.vec_id AS nn_id,
         |         ${cosSql("q.v", "b.v")} AS cos
         |       FROM e q JOIN e b
         |         ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
         |bt AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |       FROM bp),
         |btop AS (SELECT q_id, nn_id FROM bt WHERE rank <= $TopK)
         |SELECT b.q_id,
         |  CAST(SUM(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  (CAST(SUM(CASE WHEN i.nn_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000) // $TopK AS recall_ppm
         |FROM btop b LEFT JOIN pt i
         |  ON b.q_id = i.q_id AND b.nn_id = i.nn_id
         |GROUP BY b.q_id""".stripMargin)),
    QuerySpec("sim_random_projection", (s, d) =>
      Similarity.randomProjection(emb(s, d)),
      // JL projection: the SAME hyperplane family as the LSH bucketer
      // (an LSH bit is the sign of one component), quantized via the
      // cross-engine-exact floor(x·1e6 + 0.5) spelling
      Oracle({
      val comps = (0 until 8).map { j =>
        s"""CAST(floor(list_sum(list_transform(range(1, len(v) + 1), d ->
           |    v[d] * (((${j} * $Dim + d) * 2654435761 % 1000003)
           |            / 1000003.0 - 0.5))) * 1000000 + 0.5) AS BIGINT)
           |  AS p$j""".stripMargin
      }.mkString(",\n")
      s"""WITH $ECte
         |SELECT vec_id,
         |$comps
         |FROM e""".stripMargin
    })),
    QuerySpec("sim_label_centroids", (s, d) =>
      Similarity.labelCentroids(emb(s, d)),
      Oracle("""WITH ex AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         unnest(range(0, len(embedding))) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |q AS (SELECT label, CAST(dim AS BIGINT) AS dim,
        |        CAST(floor(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)
        |          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qv
        |      FROM ex)
        |SELECT label, dim, count(*) AS n,
        |  CAST(floor(CAST(SUM(qv) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS centroid_e6
        |FROM q GROUP BY label, dim""".stripMargin)),
    QuerySpec("sim_centroid_outliers", (s, d) =>
      Similarity.centroidOutliers(emb(s, d)),
      // parallel unnests zip positionally in DuckDB, giving (dim,
      // component) pairs; micro-unit quantization BEFORE the sum makes
      // accumulation order-free, and the mean is floor over one exact
      // double division (integer-div negative semantics differ between
      // engines — see Similarity.labelCentroids)
      // per-vector exact-integer squared distance to the label centroid;
      // mean via // FIRST so nothing overflows (see centroidOutliers)
      Oracle("""WITH exq AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |qq AS (SELECT vec_id, label, dim,
        |         CAST(floor(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)
        |           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
        |       FROM exq),
        |cent AS (SELECT label, dim,
        |           CAST(floor(CAST(SUM(q) AS DOUBLE) / count(*)) AS BIGINT)
        |             AS centroid_e6
        |         FROM qq GROUP BY 1, 2),
        |pv AS (SELECT vec_id, label,
        |         CAST(SUM((q - centroid_e6) * (q - centroid_e6)) AS BIGINT)
        |           AS dist2
        |       FROM qq JOIN cent USING (label, dim) GROUP BY 1, 2),
        |pl AS (SELECT label,
        |         CAST(CAST(SUM(dist2) AS BIGINT) // count(*) AS BIGINT)
        |           AS mean_d2
        |       FROM pv GROUP BY 1)
        |SELECT vec_id, label, dist2, mean_d2,
        |  CAST(CASE WHEN dist2 > 2 * mean_d2 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_outlier
        |FROM pv JOIN pl USING (label)""".stripMargin)),
    // X181: cross-label centroid distance matrix — confusable-class
    // review; taxonomy-sized frames, exact integer distances
    QuerySpec("sim_centroid_distances", (s, d) =>
      Similarity.centroidDistances(emb(s, d)),
      Oracle("""WITH ex AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         unnest(range(0, len(embedding))) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |q AS (SELECT label, CAST(dim AS BIGINT) AS dim,
        |        CAST(floor(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)
        |          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qv
        |      FROM ex),
        |c AS (SELECT label, dim,
        |        CAST(floor(CAST(SUM(qv) AS DOUBLE) / count(*))
        |          AS BIGINT) AS ce
        |      FROM q GROUP BY 1, 2)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  CAST(SUM((a.ce - b.ce) * (a.ce - b.ce)) AS BIGINT)
        |    AS dist2_e12
        |FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |GROUP BY 1, 2""".stripMargin)),
    // X286: simplified (centroid) silhouette per label — clustering
    // quality + misplaced-point counts, exact sign-split integers
    QuerySpec("sim_silhouette", (s, d) => Similarity.silhouette(emb(s, d)),
      // same qq/cent CTEs as sim_centroid_outliers; distances to ALL
      // centroids via the dim-keyed join, a/b split by CASE, sign-split
      // quotients in HUGEINT mirroring the Spark decimal(38) leg
      Oracle("""WITH exq AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
        |         unnest(embedding) AS x
        |  FROM embeddings),
        |qq AS (SELECT vec_id, label, dim,
        |         CAST(floor(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE)
        |           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
        |       FROM exq),
        |cent AS (SELECT label AS cand, dim,
        |           CAST(floor(CAST(SUM(q) AS DOUBLE) / count(*))
        |             AS BIGINT) AS ce
        |         FROM qq GROUP BY 1, 2),
        |d2 AS (SELECT qq.vec_id, qq.label, cent.cand,
        |         CAST(SUM((qq.q - cent.ce) * (qq.q - cent.ce))
        |           AS BIGINT) AS d2
        |       FROM qq JOIN cent ON qq.dim = cent.dim
        |       GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |         CAST(MAX(CASE WHEN cand = label THEN d2 END)
        |           AS BIGINT) AS a,
        |         CAST(MIN(CASE WHEN cand <> label THEN d2 END)
        |           AS BIGINT) AS b
        |       FROM d2 GROUP BY 1, 2),
        |s AS (SELECT label,
        |        CAST(sign(b - a) AS BIGINT) *
        |          CAST(abs(CAST(b AS HUGEINT) - a) * 1000000 //
        |            greatest(greatest(a, b), 1) AS BIGINT) AS s_e6
        |      FROM ab WHERE b IS NOT NULL)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(s_e6) AS BIGINT) AS sum_s_e6,
        |  CAST(SUM(CASE WHEN s_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_misplaced,
        |  CAST(CAST(sign(CAST(SUM(s_e6) AS BIGINT)) AS BIGINT) *
        |    (abs(CAST(SUM(s_e6) AS BIGINT)) // count(*)) AS BIGINT)
        |    AS mean_s_e6
        |FROM s GROUP BY 1""".stripMargin)),
    QuerySpec("sim_semantic_dedup", (s, d) => {
      val e = emb(s, d)
      Similarity.semanticDedup(e, nBits = scaledNBits(e.count()))
    },
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |k AS (SELECT bucket, MIN(vec_id) AS keeper_id
         |      FROM bk GROUP BY bucket),
         |j AS (SELECT b.vec_id, b.bucket, k.keeper_id, b.v, kb.v AS kv
         |      FROM bk b JOIN k USING (bucket)
         |      JOIN bk kb ON kb.vec_id = k.keeper_id)
         |SELECT vec_id, bucket, keeper_id,
         |  ROUND(${cosSql("v", "kv")}, 6) AS cos,
         |  CAST(CASE WHEN vec_id <> keeper_id AND
         |         floor(${cosSql("v", "kv")} * CAST(1000000 AS DOUBLE)
         |           + CAST(0.5 AS DOUBLE)) >= ${Similarity.SemDupMinCosE6}
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_semantic_dup
         |FROM j""".stripMargin)),
    // contrastive hard-negative mining off the same LSH buckets
    QuerySpec("sim_hard_negatives", (s, d) => {
      val e = emb(s, d)
      Similarity.hardNegatives(e, nBits = scaledNBits(e.count()))
    },
      // SemDeDup keeper-star: per LSH bucket, min vec_id keeps; members
      // flag as semantic dups on an integer cosine gate vs the keeper
      // same bucket equi-join and (cos desc, id asc) rank as
      // sim_lsh_topk, plus the different-label gate
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
         |       FROM embeddings),
         |q AS (SELECT b.vec_id AS q_id, l.label AS q_label,
         |        b.v AS qv, b.bucket
         |      FROM bk b JOIN lb l USING (vec_id)
         |      WHERE b.vec_id % ${Similarity.QueryMod} = 0),
         |p AS (SELECT q_id, q_label, b.vec_id AS nn_id,
         |        l2.label AS nn_label, ${cosSql("qv", "b.v")} AS cos
         |      FROM q JOIN bk b ON q.bucket = b.bucket
         |           JOIN lb l2 ON b.vec_id = l2.vec_id
         |      WHERE q_id <> b.vec_id AND q_label <> l2.label),
         |r AS (SELECT q_id, q_label, nn_id, nn_label, cos,
         |        row_number() OVER (PARTITION BY q_id
         |          ORDER BY cos DESC, nn_id) AS rank
         |      FROM p)
         |SELECT q_id, q_label, nn_id, nn_label, ROUND(cos, 6) AS cos
         |FROM r WHERE rank = 1""".stripMargin)),
    // X206: kNN label-disagreement audit — confident-learning-style
    // label-error screen over the exact top-k neighborhood
    QuerySpec("sim_knn_label_audit", (s, d) =>
      Similarity.knnLabelAudit(emb(s, d)),
      // same exact top-k frame as sim_bruteforce_topk, plus the two
      // label joins and the integer majority verdict
      Oracle(s"""WITH $ECte,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e
         |      WHERE vec_id % $QueryMod = 0),
         |p AS (SELECT q_id, b.vec_id AS nn_id,
         |        ${cosSql("qv", "b.v")} AS cos
         |      FROM q JOIN e b ON q_id <> b.vec_id),
         |r AS (SELECT q_id, nn_id, row_number() OVER (
         |        PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |      FROM p),
         |t AS (SELECT q_id, nn_id FROM r WHERE rank <= $TopK),
         |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
         |       FROM embeddings),
         |ag AS (SELECT t.q_id, ql.lab AS q_label,
         |         CAST(count(*) AS BIGINT) AS k_used,
         |         CAST(SUM(CASE WHEN nl.lab <> ql.lab THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_disagree
         |       FROM t JOIN lb ql ON t.q_id = ql.vec_id
         |              JOIN lb nl ON t.nn_id = nl.vec_id
         |       GROUP BY 1, 2)
         |SELECT q_id, q_label, k_used, n_disagree,
         |  CAST((n_disagree * 1000000) // greatest(k_used, 1) AS BIGINT)
         |    AS disagree_ppm,
         |  CAST(CASE WHEN n_disagree * 2 > k_used THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_suspect
         |FROM ag""".stripMargin)),
    // X207: IVF cell-occupancy balance — ANN index-health audit over
    // the deterministic seed-center assignment
    QuerySpec("sim_ivf_balance", (s, d) =>
      Similarity.ivfBalanceAudit(emb(s, d)),
      // same seed-center assignment chain as sim_ivf_recall (ties →
      // lowest cell), occupancy rollup + the 2×-uniform hot flag
      Oracle(s"""WITH $ECte,
         |c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |               AS INT) AS cell, v AS cv
         |      FROM (SELECT vec_id, v FROM e WHERE vec_id % 5 = 2
         |            ORDER BY vec_id LIMIT 16)),
         |dd AS (SELECT e.vec_id, c.cell,
         |         list_sum(list_transform(cv, x -> x * x))
         |           - 2.0 * ${dotSql("v", "cv")} AS d
         |       FROM e CROSS JOIN c),
         |rk AS (SELECT vec_id, cell, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY d, cell) AS r
         |       FROM dd),
         |occ AS (SELECT CAST(cell AS BIGINT) AS cell,
         |          CAST(count(*) AS BIGINT) AS n_vecs
         |        FROM rk WHERE r = 1 GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM occ),
         |mc AS (SELECT CAST(count(*) AS BIGINT) AS m_cells FROM c)
         |SELECT cell, n_vecs,
         |  CAST((n_vecs * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm,
         |  CAST(CASE WHEN n_vecs * m_cells > 2 * n_total THEN 1 ELSE 0
         |    END AS BIGINT) AS is_hot
         |FROM occ CROSS JOIN tot CROSS JOIN mc""".stripMargin)),
    // X221: IVF cell label purity — the clustering-eval purity metric
    // per cell of the same deterministic assignment
    QuerySpec("sim_cell_purity", (s, d) =>
      Similarity.cellPurityAudit(emb(s, d)),
      // the same seed-center assignment chain as sim_ivf_balance, label
      // joined at vec grain, majority pick ties -> lowest label
      Oracle(s"""WITH $ECte,
         |c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |               AS INT) AS cell, v AS cv
         |      FROM (SELECT vec_id, v FROM e WHERE vec_id % 5 = 2
         |            ORDER BY vec_id LIMIT 16)),
         |dd AS (SELECT e.vec_id, c.cell,
         |         list_sum(list_transform(cv, x -> x * x))
         |           - 2.0 * ${dotSql("v", "cv")} AS d
         |       FROM e CROSS JOIN c),
         |rk AS (SELECT vec_id, cell, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY d, cell) AS r
         |       FROM dd),
         |asg AS (SELECT rk.vec_id, CAST(rk.cell AS BIGINT) AS cell,
         |          CAST(em.label AS BIGINT) AS label
         |        FROM rk JOIN embeddings em ON rk.vec_id = em.vec_id
         |        WHERE rk.r = 1),
         |bl AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n_lab
         |       FROM asg GROUP BY 1, 2),
         |wn AS (SELECT cell, label, n_lab,
         |         CAST(SUM(n_lab) OVER (PARTITION BY cell) AS BIGINT)
         |           AS n_vecs,
         |         row_number() OVER (PARTITION BY cell
         |           ORDER BY n_lab DESC, label) AS rk2
         |       FROM bl)
         |SELECT cell, n_vecs, label AS maj_label, n_lab AS n_maj,
         |  CAST((n_lab * 1000000) // greatest(n_vecs, 1) AS BIGINT)
         |    AS purity_ppm
         |FROM wn WHERE rk2 = 1""".stripMargin)),
    // X224: per-dimension moment screen — the dead/collapsed
    // dimension audit in exact quantized integers
    QuerySpec("sim_dim_stats", (s, d) => Similarity.dimStats(emb(s, d)),
      // µunit quantization before any sum (exact Longs), floor-division
      // mean (DuckDB // ≡ floor(double div), both engines), floor-
      // quantized population variance clamped at 0
      Oracle({
      val bar = Similarity.LowVarE12
      s"""WITH q AS (
         |  SELECT unnest(list_transform(range(1, len(embedding) + 1),
         |    i -> {'dim': i - 1,
         |          'v': CAST(floor(CAST(embedding[i] AS DOUBLE)
         |                 * 1000000 + 0.5) AS BIGINT)})) AS t
         |  FROM embeddings),
         |g AS (SELECT CAST(t.dim AS BIGINT) AS dim,
         |        CAST(count(*) AS BIGINT) AS n,
         |        CAST(SUM(t.v) AS BIGINT) AS sum_e6,
         |        CAST(SUM(t.v * t.v) AS BIGINT) AS sumsq_e12
         |      FROM q GROUP BY 1),
         |g2 AS (SELECT dim, n, sum_e6,
         |         CAST(floor(CAST(sum_e6 AS DOUBLE) / n) AS BIGINT)
         |           AS mean_e6,
         |         sumsq_e12
         |       FROM g),
         |g3 AS (SELECT dim, n, sum_e6, mean_e6,
         |         CAST(greatest((sumsq_e12 // n) - mean_e6 * mean_e6,
         |           0) AS BIGINT) AS varq_e12
         |       FROM g2)
         |SELECT dim, n, sum_e6, mean_e6, varq_e12,
         |  CAST(CASE WHEN varq_e12 <= $bar THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_low_var
         |FROM g3""".stripMargin
    })),
    // X259: cross-dimension covariance moments — the whitening /
    // effective-rank evidence; diagonal reproduces X224's varq_e12
    QuerySpec("sim_covariance_moments", (s, d) =>
      Similarity.covarianceMoments(emb(s, d)),
      // same quantize-once device; upper-triangle pairs from a nested
      // scalar range; floor covariance via DOUBLE division in both
      // engines (Spark div truncates toward zero on negative sums)
      Oracle("""WITH q AS (
        |  SELECT list_transform(embedding, x ->
        |    CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
        |    AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT unnest(flatten(list_transform(range(1, len(v) + 1),
        |    i -> list_transform(range(i, len(v) + 1),
        |      j -> {'i': i - 1, 'j': j - 1,
        |            'vi': v[i], 'vj': v[j]})))) AS t
        |  FROM q),
        |g AS (SELECT CAST(t.i AS BIGINT) AS i, CAST(t.j AS BIGINT) AS j,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(t.vi) AS BIGINT) AS sum_i_e6,
        |    CAST(SUM(t.vj) AS BIGINT) AS sum_j_e6,
        |    CAST(SUM(t.vi * t.vj) AS BIGINT) AS sum_ij_e12
        |  FROM p GROUP BY 1, 2)
        |SELECT i, j, n, sum_i_e6, sum_j_e6, sum_ij_e12,
        |  CAST(floor(CAST(sum_ij_e12 AS DOUBLE) / n) AS BIGINT)
        |    - CAST(floor(CAST(sum_i_e6 AS DOUBLE) / n) AS BIGINT)
        |      * CAST(floor(CAST(sum_j_e6 AS DOUBLE) / n) AS BIGINT)
        |    AS covq_e12
        |FROM g""".stripMargin)),
    // X227: norm-collapse screen — squared norms in exact quantized
    // integers, bucketed by the floor-log2 device
    QuerySpec("sim_norm_profile", (s, d) => Similarity.normProfile(emb(s, d)),
      // per-element µunit quantization, exact integer Σv², floor-log2
      // bucket via the binary-string length both engines share
      Oracle(s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
         |           AS BIGINT)) AS vq
         |  FROM embeddings),
         |s AS (SELECT CAST(list_sum(list_transform(vq, v -> v * v))
         |        AS BIGINT) AS sumsq_e12 FROM q),
         |b AS (SELECT CAST(length(format('{:b}', sumsq_e12)) AS BIGINT)
         |        AS bucket, CAST(count(*) AS BIGINT) AS n_vecs
         |      FROM s GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM b)
         |SELECT bucket, n_vecs,
         |  CAST((n_vecs * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm
         |FROM b CROSS JOIN tot""".stripMargin)),
    // X229: embedding-level train/eval contamination — hash split,
    // LSH-bucket candidates, best-cosine leak flag per eval vector
    QuerySpec("sim_split_leakage", (s, d) =>
      Similarity.splitLeakageAudit(emb(s, d)),
      // same bucket CTEs as the calibration sweep + the hex8 split
      // device; best pick ties -> lowest train id; bucketless eval
      // vectors left-join to 0/NULL/0
      Oracle({
      val split = OracleSql.hex8("md5(CAST(vec_id AS VARCHAR))")
      s"""WITH $ECte, $NbCte, $BucketCte,
         |sp AS (SELECT vec_id, v, bucket,
         |         ($split % 100 < 80) AS is_train
         |       FROM bk),
         |ev AS (SELECT vec_id, v, bucket FROM sp WHERE NOT is_train),
         |tr AS (SELECT vec_id AS train_id, v AS tv, bucket
         |       FROM sp WHERE is_train),
         |cd AS (SELECT ev.vec_id, tr.train_id,
         |         CAST(floor(${cosSql("ev.v", "tr.tv")} * 1000000
         |           + 0.5) AS BIGINT) AS cos_e6
         |       FROM ev JOIN tr USING (bucket)),
         |bs AS (SELECT vec_id, train_id, cos_e6,
         |         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT)
         |           AS n_cands,
         |         row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cos_e6 DESC, train_id) AS rk
         |       FROM cd)
         |SELECT ev.vec_id,
         |  COALESCE(b1.n_cands, 0) AS n_train_cands,
         |  b1.train_id AS best_train_id,
         |  b1.cos_e6 AS best_cos_e6,
         |  CAST(CASE WHEN b1.cos_e6 >= ${Similarity.SemDupMinCosE6}
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_leak
         |FROM ev LEFT JOIN (SELECT * FROM bs WHERE rk = 1) b1
         |  USING (vec_id)""".stripMargin
    })),
    // X231: recall@k curve for LSH vs brute force — one ranking pass
    // at max(k), bounded ladder explode over the hit pairs
    QuerySpec("sim_recall_curve", (s, d) => {
      val e = emb(s, d)
      Similarity.recallCurve(e, nBits = scaledNBits(e.count()),
        exactIn = Some(Similarity.sharedExactTopK(s, d)))
    },
      // brute-force and LSH rankings at max(k) (the two proven chains),
      // hit iff both ranks <= k, ladder cross join, zero-hit grid rows
      Oracle({
      val maxK = Similarity.RecallKs.max
      val kList = Similarity.RecallKs.mkString("[", ", ", "]")
      s"""WITH $ECte, $NbCte, $BucketCte,
         |qq AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bk
         |       WHERE vec_id % $QueryMod = 0),
         |ep AS (SELECT q_id, b.vec_id AS nn_id,
         |         ${cosSql("qv", "b.v")} AS cos
         |       FROM qq JOIN e b ON q_id <> b.vec_id),
         |er AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS e_rank
         |       FROM ep),
         |et AS (SELECT q_id, nn_id, e_rank FROM er
         |       WHERE e_rank <= $maxK),
         |ap AS (SELECT q_id, b.vec_id AS nn_id,
         |         ${cosSql("qv", "b.v")} AS cos
         |       FROM qq JOIN bk b ON qq.bucket = b.bucket
         |       WHERE q_id <> b.vec_id),
         |ar AS (SELECT q_id, nn_id, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos DESC, nn_id) AS a_rank
         |       FROM ap),
         |at2 AS (SELECT q_id, nn_id, a_rank FROM ar
         |        WHERE a_rank <= $maxK),
         |hr AS (SELECT et.q_id, greatest(e_rank, a_rank) AS r
         |       FROM et JOIN at2 ON et.q_id = at2.q_id
         |         AND et.nn_id = at2.nn_id),
         |ks AS (SELECT CAST(unnest($kList) AS BIGINT) AS k),
         |h AS (SELECT q_id, k, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM hr CROSS JOIN ks WHERE r <= k GROUP BY 1, 2),
         |g AS (SELECT DISTINCT q_id FROM qq)
         |SELECT g.q_id, ks.k, COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST((COALESCE(h.n_hits, 0) * 1000000) // ks.k AS BIGINT)
         |    AS recall_ppm
         |FROM g CROSS JOIN ks
         |LEFT JOIN h ON g.q_id = h.q_id AND ks.k = h.k""".stripMargin
    })),
    // X240: PQ codebook-usage balance — the IVF balance read on the
    // quantizer's other half; dead sub-spaces and hot codes
    QuerySpec("sim_pq_code_balance", (s, d) =>
      Similarity.pqCodeBalance(emb(s, d)),
      // the PQ assignment chain (seeds -> dd -> cd, ties -> lowest
      // code), (subspace, code) rollup, hot bar vs codes that exist
      Oracle(s"""WITH $ECte,
         |$PqAssignCtes,
         |asg AS (SELECT CAST(s AS BIGINT) AS subspace,
         |          CAST(j AS BIGINT) AS code
         |        FROM cd WHERE rn = 1),
         |g AS (SELECT subspace, code, CAST(count(*) AS BIGINT)
         |        AS n_vecs
         |      FROM asg GROUP BY 1, 2),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e),
         |mc AS (SELECT CAST(count(*) AS BIGINT) AS m_codes FROM seeds)
         |SELECT subspace, code, n_vecs,
         |  CAST((n_vecs * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm,
         |  CAST(CASE WHEN n_vecs * m_codes > 2 * n_total THEN 1 ELSE 0
         |    END AS BIGINT) AS is_hot
         |FROM g CROSS JOIN tot CROSS JOIN mc""".stripMargin)),
    // X244: assignment-margin screen — silhouette-lite confidence per
    // vector over the same seed-center assignment
    QuerySpec("sim_center_margin", (s, d) =>
      Similarity.centerMarginAudit(emb(s, d)),
      // the seed-center distance chain with rank <= 2 kept; the margin
      // rounds the RAW difference (never the rounded operands)
      Oracle(s"""WITH $ECte,
         |c AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
         |               AS INT) AS cell, v AS cv
         |      FROM (SELECT vec_id, v FROM e WHERE vec_id % 5 = 2
         |            ORDER BY vec_id LIMIT 16)),
         |dd AS (SELECT e.vec_id, c.cell,
         |         list_sum(list_transform(cv, x -> x * x))
         |           - 2.0 * ${dotSql("v", "cv")} AS d
         |       FROM e CROSS JOIN c),
         |rk AS (SELECT vec_id, cell, d, row_number() OVER (
         |         PARTITION BY vec_id ORDER BY d, cell) AS r
         |       FROM dd),
         |tw AS (SELECT vec_id,
         |         MAX(CASE WHEN r = 1 THEN cell END) AS cell,
         |         MAX(CASE WHEN r = 1 THEN d END) AS d1,
         |         MAX(CASE WHEN r = 2 THEN d END) AS d2
         |       FROM rk WHERE r <= 2 GROUP BY 1)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
         |  ROUND(d1, 6) AS d_best, ROUND(d2, 6) AS d_second,
         |  ROUND(d2 - d1, 6) AS margin
         |FROM tw""".stripMargin)),
    // X248: LSH bucket-occupancy profile — the hash-side index-health
    // read (mega-bucket vs shatter)
    QuerySpec("sim_lsh_bucket_profile", (s, d) => {
      val e = emb(s, d)
      Similarity.lshBucketProfile(e, nBits = scaledNBits(e.count()))
    },
      // the bucket CTEs + occupancy rollup into floor-log2 size classes
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |occ AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
         |        FROM bk GROUP BY 1),
         |cls AS (SELECT CAST(length(format('{:b}', n)) AS BIGINT)
         |          AS size_class,
         |          CAST(count(*) AS BIGINT) AS n_buckets,
         |          CAST(SUM(n) AS BIGINT) AS n_vecs
         |        FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total FROM cls)
         |SELECT size_class, n_buckets, n_vecs,
         |  CAST((n_vecs * 1000000) // greatest(n_total, 1) AS BIGINT)
         |    AS share_ppm
         |FROM cls CROSS JOIN tot""".stripMargin)),
    // X250: mutual-nearest-neighbor rate — the hubness screen over
    // the multi-probe top-1 frame
    QuerySpec("sim_mutual_neighbor_rate", (s, d) => {
      val e = emb(s, d)
      Similarity.mutualNeighborRate(e, nBits = scaledNBits(e.count()))
    },
      // the same multi-probe top-1 chain, self-joined on the reversed
      // pair key; two 1-row counts
      Oracle(s"""WITH $ECte, $NbCte, $BucketCte,
         |$NnCtes,
         |nn AS (SELECT q_id, nn_id FROM r WHERE rank = 1),
         |mu AS (SELECT a.q_id FROM nn a
         |       JOIN nn b ON a.q_id = b.nn_id AND a.nn_id = b.q_id),
         |cv AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM nn),
         |cm AS (SELECT CAST(count(*) AS BIGINT) AS n_mutual FROM mu)
         |SELECT n_vectors, n_mutual,
         |  CAST((n_mutual * 1000000) // greatest(n_vectors, 1)
         |    AS BIGINT) AS mutual_ppm
         |FROM cv CROSS JOIN cm""".stripMargin)),
    // X211: semantic-dedup threshold calibration sweep over the
    // bounded keeper-star candidate pairs
    QuerySpec("sim_threshold_calibration", (s, d) => {
      val e = emb(s, d)
      Similarity.thresholdCalibration(e, nBits = scaledNBits(e.count()))
    },
      // same keeper-star candidate pairs as sim_semantic_dedup, same
      // µunit quantization, bounded threshold-ladder cross join
      Oracle({
      val ladder = Similarity.CalibThresholdsE6.mkString("[", ", ", "]")
      s"""WITH $ECte, $NbCte, $BucketCte,
         |kp AS (SELECT bucket, MIN(vec_id) AS keeper_id
         |       FROM bk GROUP BY 1),
         |pr AS (SELECT CAST(floor(${cosSql("m.v", "kv.v")} * 1000000
         |         + 0.5) AS BIGINT) AS cos_e6
         |       FROM bk m
         |       JOIN kp ON m.bucket = kp.bucket
         |       JOIN bk kv ON kv.vec_id = kp.keeper_id
         |       WHERE m.vec_id <> kp.keeper_id),
         |th AS (SELECT CAST(unnest($ladder) AS BIGINT) AS threshold_e6),
         |ag AS (SELECT threshold_e6,
         |         CAST(SUM(CASE WHEN cos_e6 >= threshold_e6
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs
         |       FROM pr CROSS JOIN th GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total
         |        FROM embeddings)
         |SELECT threshold_e6, n_dup_pairs,
         |  CAST((n_dup_pairs * 1000000) // greatest(n_total, 1)
         |    AS BIGINT) AS drop_ppm
         |FROM ag CROSS JOIN tot""".stripMargin
    })))
}
