package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions._
import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("DotProduct / L2Norm expressions compute exact values and nulls") {
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0, 1.0, 1.0))))
      .toDF("a", "b")
    val r = df.select(
      dotProduct($"a", $"b").as("dot"),
      l2Norm($"a").as("na")).collect()
    assert(r(0).getDouble(0) == 32.0)
    assert(math.abs(r(0).getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(r(1).isNullAt(0) && r(1).isNullAt(1))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    val r = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(math.abs(r(0) - 1.0) < 1e-12 && math.abs(r(1)) < 1e-12)
  }

  test("pqTopK: a seed-vector duplicate reconstructs with zero ADC " +
    "distance and ranks first") {
    // 80 vectors, dim 64: ids ≡ 2 (mod 5) supply the 16-seed codebook;
    // vec 0 (a query: 0 % 25 == 0) is an exact copy of seed vec 2, so
    // vec 2's codes reconstruct vec 2 exactly (it IS a centroid in
    // every sub-space) and ADC(0 → 2) must be exactly 0 at rank 1
    def v(i: Long): Seq[Float] =
      (1 to 64).map(d => (((i * 64 + d) * 131) % 997).toFloat / 997f)
    val emb = ((0L until 80L).map(i =>
      (i, if (i == 0L) v(2L) else v(i)))).toDF("vec_id", "embedding")
    val r = Similarity.pqTopK(emb)
      .select($"q_id", $"rank", $"nn_id", $"adc")
      .as[(Long, Long, Long, Double)].collect()
    graft.core.SessionCache.endQuery()
    val first = r.filter(x => x._1 == 0L && x._2 == 1L)
    assert(first.length == 1 && first.head._3 == 2L &&
      first.head._4 == 0.0, s"got: ${first.toSeq}")
    // every other ADC distance is non-negative and ranks are
    // contiguous per query
    assert(r.forall(_._4 >= 0.0))
    val perQ = r.groupBy(_._1).values
    assert(perQ.forall(g =>
      g.map(_._2).sorted.sameElements(1L to g.length)))
  }

  test("exact nearestNeighbor oracle finds the planted closest vector") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.1f, 0.0f)), // closest to 0
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.9f, 0.4f))) // closest to 2
      .toDF("vec_id", "embedding")
    val nn = Similarity.nearestNeighborExact(emb)
      .select("q_id", "nn_id").as[(Long, Long)].collect().toMap
    assert(nn(0L) == 1L && nn(1L) == 0L && nn(2L) == 3L && nn(3L) == 2L)
  }

  test("bucketed multi-probe NN never beats the exact oracle's cosine") {
    val emb = graft.core.Tables(spark, SfDir, "embeddings")
    val exact = Similarity.nearestNeighborExact(emb)
      .select("q_id", "cos").as[(Long, Double)].collect().toMap
    val approx = Similarity.nearestNeighbor(emb,
        nBits = Similarity.scaledNBits(exact.size.toLong))
      .select("q_id", "cos").as[(Long, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (q, c) => assert(c <= exact(q) + 1e-9) }
  }

  test("IVF top-k recovers planted clusters and never beats brute force") {
    def coef(seed: Int, d: Int): Double =
      ((seed * 64L + d) * 1103515245L % 1000003L) / 1000003.0 - 0.5
    // 10 clusters x 5 near-identical members, vec_id = c*5+m: the
    // m=2 member of every cluster satisfies the vec_id % 5 == 2 seed
    // rule, so lloydCentersE6 seeds exactly one center per planted
    // cluster; queryMod=1 queries every vector
    val vecs = for { c <- 0 until 10; m <- 0 until 5 } yield
      ((c * 5 + m).toLong,
        (1 to 64).map(d =>
          (coef(c, d) + 0.01 * coef(c * 5 + m + 500, d)).toFloat))
    val emb = vecs.toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(emb, k = 4, queryMod = 1,
        nCells = 10, nProbe = 2)
      .select("q_id", "rank", "nn_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val bf = Similarity.bruteForceTopK(emb, k = 4, queryMod = 1)
      .select("q_id", "nn_id", "cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    ivf.foreach { case (q, _, n, c) =>
      // in-cluster members only (cluster = vec_id/5 by construction)
      assert(q / 5 == n / 5, s"query $q matched foreign vector $n")
      // agrees with brute force where both rank the pair
      bf.get((q, n)).foreach(c2 => assert(math.abs(c - c2) < 1e-9))
    }
    // every query finds all 4 of its cluster siblings
    assert(ivf.groupBy(_._1).forall(_._2.length == 4))
  }

  test("lloydCentersE6 is deterministic and moves seeds toward the " +
    "planted cluster centroids") {
    def coef(seed: Int, d: Int): Double =
      ((seed * 64L + d) * 1103515245L % 1000003L) / 1000003.0 - 0.5
    val vecs = for { c <- 0 until 4; m <- 0 until 5 } yield
      ((c * 5 + m).toLong,
        (1 to 64).map(d =>
          (coef(c, d) + 0.01 * coef(c * 5 + m + 900, d)).toFloat))
    val emb = vecs.toDF("vec_id", "embedding")
    val c1 = Similarity.lloydCentersE6(emb, nCells = 4)
    val c2 = Similarity.lloydCentersE6(emb, nCells = 4)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "two fits over the same frame must be bit-identical")
    assert(c1.length == 4 && c1.forall(_.length == 64))
    // each final center sits near its cluster's exact quantized mean:
    // within the ±1-per-round floor slack of the e6 grid
    val byCluster = vecs.groupBy(_._1 / 5).map { case (c, vs) =>
      c.toInt -> (0 until 64).map(d =>
        math.floor(vs.map(v => math.floor(
          v._2(d).toDouble * 1000000.0 + 0.5)).sum / vs.size).toLong)
    }
    // seeds were vec_id 2,7,12,17 -> clusters 0..3 in cell order
    c1.zipWithIndex.foreach { case (center, cell) =>
      val want = byCluster(cell)
      center.zip(want).foreach { case (got, w) =>
        assert(math.abs(got - w) <= 2L,
          s"cell $cell drifted from its cluster mean: $got vs $w")
      }
    }
  }

  test("bucketed NN recovers planted near-duplicate clusters") {
    // 20 clusters × 3 near-identical 64-d vectors (deterministic
    // pseudo-random base + 1% per-member jitter): every vector's
    // approximate NN must come from its own cluster — the semantics a
    // near-duplicate detector has to guarantee, unlike argmax-NN over
    // random vectors (which LSH legitimately approximates)
    def coef(seed: Int, d: Int): Double =
      ((seed * 64L + d) * 1103515245L % 1000003L) / 1000003.0 - 0.5
    val vecs = for {
      k <- 0 until 20
      m <- 0 until 3
    } yield ((k * 3 + m).toLong,
      (1 to 64).map(d =>
        (coef(k, d) + 0.01 * coef(k * 3 + m + 1000, d)).toFloat))
    val emb = vecs.toDF("vec_id", "embedding")
    val nn = Similarity.nearestNeighbor(emb, nBits = 8)
      .select("q_id", "nn_id").as[(Long, Long)].collect()
    assert(nn.length == vecs.length) // nobody isolated
    nn.foreach { case (q, n) => assert(q / 3 == n / 3,
      s"vector $q matched $n from another cluster") }
  }

  test("semanticDedup: scaled copy flags against its bucket keeper; " +
    "keepers and distinct-direction vectors never flag") {
    def coef(seed: Int, d: Int): Double =
      ((seed * 64L + d) * 1103515245L % 1000003L) / 1000003.0 - 0.5
    val base = (1 to 64).map(d => coef(7, d).toFloat)
    val other = (1 to 64).map(d => coef(99, d).toFloat)
    val emb = Seq(
      (1L, base),                        // keeper of base's bucket
      (2L, base.map(x => 2.0f * x)),     // same direction: cos = 1
      (3L, other)                        // unrelated direction
    ).toDF("vec_id", "embedding")
    val r = Similarity.semanticDedup(emb)
      .select($"vec_id", $"keeper_id", $"is_semantic_dup")
      .as[(Long, Long, Long)].collect()
      .map { case (v, k, d) => (v, (k, d)) }.toMap
    graft.core.SessionCache.endQuery()
    // the scaled copy lands in vector 1's bucket (identical sign
    // pattern) and clears the cosine gate against keeper 1
    assert(r(2L) == ((1L, 1L)), s"got $r")
    // keepers never self-flag
    assert(r(1L) == ((1L, 0L)))
    // a distinct direction never flags, whatever bucket it fell in
    assert(r(3L)._2 == 0L)
    assert(r.size == 3)
  }

  test("mmrTopK: driver-local greedy and the distributed loop pick " +
    "identical rows (localMaxRows = 0 forces the loop)") {
    val e = graft.core.Tables(spark, SfDir, "embeddings")
    val local = Similarity.mmrTopK(e)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    val dist = Similarity.mmrTopK(e, localMaxRows = 0L)
      .as[(Long, Long, Long, Long)].collect().toSet
    graft.core.SessionCache.endQuery()
    assert(local == dist,
      s"paths diverge: local-only=${(local -- dist).take(3)} " +
        s"dist-only=${(dist -- local).take(3)}")
  }

  test("filteredTopK: every neighbor shares the query's label, ranks " +
    "are contiguous from 1, and no pair crosses labels") {
    val e = graft.core.Tables(spark, SfDir, "embeddings")
    val rows = Similarity
      .filteredTopK(e, nBits = Similarity.filteredNBits(e.count(),
        e.select("label").distinct().count()))
      .select($"q_id", $"label", $"rank", $"nn_id")
      .as[(Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(rows.nonEmpty)
    val labels = e.select($"vec_id", $"label".cast("long"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (q, lab, _, nn) =>
      assert(labels(q) == lab, s"query $q label mismatch")
      assert(labels(nn) == lab,
        s"cross-label neighbor leaked: q=$q (label ${labels(q)}) " +
          s"nn=$nn (label ${labels(nn)})")
    }
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq,
        s"ranks not contiguous for q=$q")
    }
  }

  test("brute-force top-k ranks by cosine desc, ranks 1..k") {
    val r = Similarity.bruteForceTopK(
      graft.core.Tables(spark, SfDir, "embeddings"), k = 3)
    val byQ = r.select("q_id", "rank", "cos").as[(Long, Long, Double)]
      .collect().groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq)
    }
  }

  test("LSH top-k is a subset-ranking consistent with brute force") {
    val emb = graft.core.Tables(spark, SfDir, "embeddings")
    val bf = Similarity.bruteForceTopK(emb, k = 50)
      .select("q_id", "nn_id", "cos").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val lsh = Similarity.lshTopK(emb, k = 3)
      .select("q_id", "nn_id", "cos").as[(Long, Long, Double)].collect()
    // every LSH result's cosine must agree with brute force where both exist
    lsh.foreach { case (q, n, c) =>
      bf.get((q, n)).foreach(c2 => assert(math.abs(c - c2) < 1e-9))
    }
  }

  test("randomProjection: component signs reproduce the LSH bucket bits") {
    import spark.implicits._
    val emb = graft.core.Tables(spark, SfDir, "embeddings").limit(50)
    val proj = Similarity.randomProjection(emb, kDims = 8)
    val withBucket = emb.select($"vec_id",
      Similarity.lshBucket($"embedding", 8).as("bucket"))
    val j = proj.join(withBucket, "vec_id").collect()
    assert(j.nonEmpty)
    j.foreach { row =>
      val bucket = row.getAs[String]("bucket")
      (0 until 8).foreach { k =>
        val p = row.getAs[Long](s"p$k")
        // bit = 1 iff the (unquantized) component is > 0; the e6
        // quantization keeps the sign except within half a micro-unit
        if (math.abs(p) > 1) {
          val expected = if (p > 0) '1' else '0'
          assert(bucket.charAt(k) == expected,
            s"vec ${row.getLong(0)} dim $k: p=$p bucket=$bucket")
        }
      }
    }
  }

  test("ivfRecallAudit: recall in [0, 1e6], every brute-force query " +
    "present, deterministic seed centers") {
    val emb = graft.core.Tables(spark, SfDir, "embeddings")
    val r = Similarity.ivfRecallAudit(emb)
      .as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val nQueries = Similarity.bruteForceTopK(emb)
      .select("q_id").distinct().count()
    assert(r.length == nQueries)
    r.foreach { case (_, hits, ppm) =>
      assert(hits >= 0 && hits <= Similarity.TopK)
      assert(ppm >= 0 && ppm <= 1000000L)
      assert(ppm == hits * 1000000L / Similarity.TopK)
    }
    // seed centers are a function of the data alone
    val c1 = Similarity.seedCenters(emb, 16).map(_.toSeq).toSeq
    val c2 = Similarity.seedCenters(emb, 16).map(_.toSeq).toSeq
    assert(c1 == c2)
  }

  test("matryoshkaRecallAudit: identity at full dimension; bounded " +
    "ppm at the quarter prefix") {
    val emb = graft.core.Tables(spark, SfDir, "embeddings")
    // truncation to the FULL dimension is the identity ranking —
    // recall must be exactly 1e6 for every query
    val full = Similarity.matryoshkaRecallAudit(emb,
      prefixDims = Similarity.Dim).as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(full.nonEmpty)
    full.foreach { case (_, hits, ppm) =>
      assert(hits == Similarity.TopK && ppm == 1000000L)
    }
    val quarter = Similarity.matryoshkaRecallAudit(emb)
      .as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(quarter.length == full.length)
    quarter.foreach { case (_, hits, ppm) =>
      assert(hits >= 0 && hits <= Similarity.TopK)
      assert(ppm == hits * 1000000L / Similarity.TopK)
    }
  }

  test("rrfFusion equals a scalar RRF recompute from the three " +
    "collected per-list rankings") {
    val emb = graft.core.Tables(spark, SfDir, "embeddings")
    val got = Similarity.rrfFusion(emb)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._3) -> ((r._2, r._4, r._5))).toMap
    // recompute: collect each leg's ranking and fold RRF by hand
    import org.apache.spark.sql.functions._
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    def rankOf(feat: org.apache.spark.sql.DataFrame) =
      Similarity.featureTopK(
        feat.withColumnRenamed("f", "fv"), Similarity.TopK,
        Similarity.QueryMod)
        .select(col("q_id"), col("nn_id"), col("rank"))
        .as[(Long, Long, Long)].collect()
    val l1 = rankOf(base.select(col("vec_id"),
      slice(col("v"), 1, Similarity.MatryoshkaDims).as("f")))
    val l2 = rankOf(base
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("sc", when(col("mx") > 0, lit(127.0) / col("mx"))
        .otherwise(lit(1.0)))
      .select(col("vec_id"), transform(col("v"),
        x => floor(x * col("sc") + 0.5)).cast("array<double>").as("f")))
    val l3 = rankOf(Similarity.randomProjection(emb)
      .select(col("vec_id"), array((0 until 8).map(j =>
        col(s"p$j").cast("double")): _*).as("f")))
    graft.core.SessionCache.endQuery()
    val contribs = (l1 ++ l2 ++ l3).groupBy(t => (t._1, t._2))
      .map { case (k, xs) =>
        k -> ((xs.map(t => 1000000L / (Similarity.RrfC + t._3)).sum,
          xs.size.toLong)) }
    val want = contribs.groupBy(_._1._1).flatMap { case (_, perQ) =>
      perQ.toSeq
        .sortBy { case ((_, nn), (rrf, _)) => (-rrf, nn) }
        .zipWithIndex.take(Similarity.TopK)
        .map { case (((q, nn), (rrf, nl)), i) =>
          (q, nn) -> ((i + 1L, rrf, nl)) }
    }
    assert(got === want)
    // at least one fixture candidate is corroborated by 2+ lists
    assert(got.values.exists(_._3 >= 2L))
  }

  test("mmrTopK: diversity beats raw relevance on a planted " +
    "near-duplicate — the greedy flip case") {
    // q=(1,0,0); a is closest, b is a near-duplicate of a with the
    // 2nd-best relevance, c is less relevant but diverse. Pure
    // relevance ranks a,b,c; MMR at λ=0.5 must pick a, then c
    // (b's maxsim-to-a penalty ≈ its relevance), then b.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.1f, 0.0f)),
      (2L, Seq(0.99f, 0.12f, 0.0f)),
      (3L, Seq(0.7f, 0.0f, 0.7f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(emb)
      .as[(Long, Long, Long, Long)].collect()
      .sortBy(_._2).map(r => (r._2, r._3))
    graft.core.SessionCache.endQuery()
    assert(got.toList === List((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("mmrTopK on the fixture: contiguous ranks, duplicate-free " +
    "pool-bounded selections, rank 1 = max quantized relevance") {
    val emb = graft.core.Tables(spark, SfDir, "embeddings")
    val rows = Similarity.mmrTopK(emb)
      .as[(Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, xs) =>
      assert(xs.map(_._2).sorted.toList === (1L to xs.length).toList)
      assert(xs.map(_._3).distinct.length == xs.length)
      assert(xs.length <= Similarity.TopK)
      val r1 = xs.find(_._2 == 1L).get
      // the first pick is pure relevance
      assert(r1._4 == xs.map(_._4).max)
    }
  }

  test("centroidOutliers flags the planted far vector only") {
    import spark.implicits._
    // label 0: four vectors tight around (1, 0) plus one at (-40, 0);
    // label 1: two identical vectors (zero distances, outlier-free)
    val emb = (Seq(
      (0L, Array(1.00f, 0f)), (1L, Array(1.01f, 0f)),
      (2L, Array(0.99f, 0f)), (3L, Array(1.02f, 0f)),
      (4L, Array(-40f, 0f))).map { case (i, v) => (i, v, 0) } ++
      Seq((5L, Array(7f, 7f), 1), (6L, Array(7f, 7f), 1)))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.centroidOutliers(emb)
      .select("vec_id", "is_outlier").as[(Long, Long)].collect().toMap
    graft.core.SessionCache.endQuery()
    assert(r(4L) == 1L, "planted outlier not flagged")
    assert(Seq(0L, 1L, 2L, 3L, 5L, 6L).forall(r(_) == 0L))
  }

  test("hardNegatives picks the highest-cosine DIFFERENT-label " +
    "candidate; same-label near-dups never surface") {
    // all near-parallel (one bucket); q=0 (label 0): nearest overall
    // is 25 (label 0, excluded); hardest negative is 50 (label 1)
    val emb = Seq(
      (0L, Seq(1.0f, 0.01f, 0.0f), 0),
      (25L, Seq(1.0f, 0.011f, 0.0f), 0),   // same label — excluded
      (50L, Seq(1.0f, 0.02f, 0.0f), 1),    // hardest negative
      (51L, Seq(1.0f, 0.3f, 0.0f), 1))     // further negative
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(emb, queryMod = 25, nBits = 2)
      .select("q_id", "nn_id", "nn_label")
      .as[(Long, Long, Long)].collect()
      .map { case (q, n, l) => q -> (n, l) }.toMap
    graft.core.SessionCache.endQuery()
    assert(r(0L) == ((50L, 1L)), r.toString)
  }

  test("knnLabelAudit flags the planted mislabel and only it") {
    // cluster at (1, ~0): v0/v1 label 1, v2 label 2 (mislabeled);
    // v3 orthogonal, label 2. k=2, every vector a query
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 1),
      (1L, Seq(0.9f, 0.1f), 1),
      (2L, Seq(0.95f, 0.05f), 2), // planted mislabel
      (3L, Seq(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelAudit(emb, k = 2, queryMod = 1)
      .select("q_id", "n_disagree", "disagree_ppm", "is_suspect")
      .as[(Long, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r(2L) == ((2L, 1000000L, 1L)), s"mislabel: ${r(2L)}")
    assert(Seq(0L, 1L, 3L).forall(r(_)._3 == 0L),
      s"false suspects in $r")
  }

  test("ivfBalanceAudit: exact occupancy and shares; hot flag fires " +
    "past 2x the uniform share and only there") {
    // seeds are ids % 5 == 2 → cells from v2/v7/v12/v17 (4 poles);
    // everything except v7, v3 and v17 clusters on the x-axis pole →
    // cell 0 holds 17/20 (17·4 > 2·20 → hot), the rest stay cold
    val emb = ((0L to 19L).map {
      case i @ (7L | 3L) => (i, Seq(0.0f, 1.0f, 0.0f))
      case i @ 17L => (i, Seq(0.0f, 0.0f, 1.0f))
      case i @ 12L => (i, Seq(1.0f, 0.02f, 0.0f))
      case i => (i, Seq(1.0f, 0.0f, 0.001f * i))
    }).toDF("vec_id", "embedding")
    val r = Similarity.ivfBalanceAudit(emb, nCells = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4))).toMap
    assert(r.values.map(_._1).sum == 20L)
    assert(r(1L) == ((2L, 100000L, 0L)), s"y-cell: ${r.get(1L)}")
    assert(r(3L) == ((1L, 50000L, 0L)), s"z-cell: ${r.get(3L)}")
    val hot = (r(0L)._1 + r(2L)._1, r(0L)._3.max(r(2L)._3))
    assert(hot._1 == 17L && hot._2 == 1L, s"x cells: $r")
  }

  test("centerMarginAudit: a vector ON a center has d_best 0 and " +
    "margin = inter-center distance; boundary vector margin ~0") {
    // seeds (ids % 5 == 2): v2 = x-pole, v7 = y-pole
    val emb = ((0L to 9L).map {
      case i @ 2L => (i, Seq(1.0f, 0.0f))
      case i @ 7L => (i, Seq(0.0f, 1.0f))
      case i @ 4L => (i, Seq(1.0f, 1.0f)) // equidistant boundary
      case i => (i, Seq(1.0f, 0.0f))      // x-pole duplicates
    }).toDF("vec_id", "embedding")
    val r = Similarity.centerMarginAudit(emb, nCells = 4)
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    // v2 sits on center 0: d = |c|² − 2vc → −1; second = y-pole at 1
    assert(r(2L) == ((0L, -1.0, 1.0, 2.0)))
    // the (1,1) vector is equidistant: margin exactly 0, lowest cell
    assert(r(4L)._1 == 0L && r(4L)._4 == 0.0)
    assert(r.size == 10)
  }

  test("pqCodeBalance: every subspace accounts the whole corpus, " +
    "shares and hot flags arithmetic-exact") {
    def v(i: Long): Seq[Float] =
      (1 to 64).map(d => (((i * 64 + d) * 131) % 997).toFloat / 997f)
    val emb = (0L until 80L).map(i => (i, v(i)))
      .toDF("vec_id", "embedding")
    val r = Similarity.pqCodeBalance(emb)
      .as[(Long, Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val bySub = r.groupBy(_._1)
    assert(bySub.keySet == (0L until 8L).toSet)
    bySub.values.foreach { g =>
      assert(g.map(_._3).sum == 80L)
      g.foreach { case (_, _, n, ppm, hot) =>
        assert(ppm == n * 1000000L / 80L)
        assert(hot == (if (n * 16L > 160L) 1L else 0L))
      }
    }
  }

  test("recallCurve: ladder equals an independent recount from the " +
    "two collected rankings; zero-hit queries report 0 rows not gaps") {
    val emb = ((0L to 19L).map {
      case i @ (7L | 3L) => (i, Seq(0.0f, 1.0f, 0.0f))
      case i @ 17L => (i, Seq(0.0f, 0.0f, 1.0f))
      case i => (i, Seq(1.0f, 0.0f, 0.001f * i))
    }).toDF("vec_id", "embedding")
    val ks = Seq(1L, 3L, 5L, 10L)
    val got = Similarity.recallCurve(emb, ks, queryMod = 5, nBits = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    graft.core.SessionCache.endQuery()
    val ex = Similarity.bruteForceTopK(emb, 10, queryMod = 5)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val ap = Similarity.lshTopK(emb, 10, queryMod = 5, nBits = 4)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val aRank = ap.map(t => (t._1, t._2) -> t._3).toMap
    val queries = (0L to 19L).filter(_ % 5 == 0)
    val want = (for (q <- queries; k <- ks) yield (q, k) -> {
      val h = ex.count(t => t._1 == q && t._3 <= k &&
        aRank.get((t._1, t._2)).exists(_ <= k)).toLong
      (h, h * 1000000L / k)
    }).toMap
    assert(got == want)
    assert(got.size == queries.size * ks.size)
  }

  test("splitLeakageAudit: a planted eval twin of a train vector " +
    "flags as a leak with exact cosine; output covers the eval set") {
    // replay the md5-hex8 split in the test to find one train id and
    // one eval id, then plant identical vectors on them
    def isTrain(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100 < 80
    }
    val ids = 0L until 60L
    val t = ids.find(isTrain).get
    val e = ids.find(!isTrain(_)).get
    val emb = ids.map { i =>
      (i, if (i == t || i == e) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f))
    }.toDF("vec_id", "embedding")
    val rows = Similarity.splitLeakageAudit(emb).collect()
    graft.core.SessionCache.endQuery()
    assert(rows.map(_.getLong(0)).toSet == ids.filter(!isTrain(_)).toSet)
    val er = rows.find(_.getLong(0) == e).get
    assert(er.getLong(1) >= 1L, "twin not found as candidate")
    assert(er.getLong(2) == t && er.getLong(3) == 1000000L &&
      er.getLong(4) == 1L, er.toString)
  }

  test("normProfile: known squared norms land in exact log2 buckets, " +
    "zero vector in bucket 1, shares ppm-exact") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),  // Σv² = 1e12  → bit_length 40
      (1L, Seq(2.0f, 0.0f)),  // Σv² = 4e12  → bit_length 42
      (2L, Seq(0.0f, 0.0f)))  // Σv² = 0     → bin(0) = "0", length 1
      .toDF("vec_id", "embedding")
    val r = Similarity.normProfile(emb)
      .as[(Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r == Map(40L -> ((1L, 333333L)), 42L -> ((1L, 333333L)),
      1L -> ((1L, 333333L))))
  }

  test("mutualNeighborRate: rate equals an independent recount of " +
    "symmetric pairs in the top-1 frame; identical twins are mutual") {
    val emb = ((0L to 19L).map {
      case i @ (7L | 3L) => (i, Seq(0.0f, 1.0f, 0.0f))
      case i @ 17L => (i, Seq(0.0f, 0.0f, 1.0f))
      case i => (i, Seq(1.0f, 0.0f, 0.001f * i))
    }).toDF("vec_id", "embedding")
    val got = Similarity.mutualNeighborRate(emb, nBits = 4)
      .as[(Long, Long, Long)].collect().head
    graft.core.SessionCache.endQuery()
    val nn = Similarity.nearestNeighbor(emb, nBits = 4)
      .select("q_id", "nn_id").as[(Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    val pairs = nn.toSet
    val nMutual = nn.count(p => pairs.contains((p._2, p._1))).toLong
    assert(got == ((nn.length.toLong, nMutual,
      nMutual * 1000000L / nn.length)))
    // the y-pole twins (3, 7) are each other's only close neighbor
    assert(pairs.contains((3L, 7L)) && pairs.contains((7L, 3L)))
    assert(nMutual >= 2L)
  }

  test("lshBucketProfile: size classes recount from the bucket " +
    "occupancies, vectors fully accounted") {
    val emb = ((0L to 19L).map {
      case i @ (7L | 3L) => (i, Seq(0.0f, 1.0f, 0.0f))
      case i @ 17L => (i, Seq(0.0f, 0.0f, 1.0f))
      case i => (i, Seq(1.0f, 0.0f, 0.001f * i))
    }).toDF("vec_id", "embedding")
    val got = Similarity.lshBucketProfile(emb, nBits = 4)
      .as[(Long, Long, Long, Long)].collect()
    graft.core.SessionCache.endQuery()
    assert(got.map(_._3).sum == 20L)
    val total = 20L
    got.foreach { case (cls, nb, nv, ppm) =>
      assert(cls >= 1L && nb >= 1L && nv >= nb)
      assert(ppm == nv * 1000000L / total)
      // every bucket in this class has bit_length(size) == cls, i.e.
      // size ∈ [2^(cls−1), 2^cls − 1] — bound nv on both sides
      assert(nv <= nb * ((1L << cls) - 1))
      assert(nv >= nb * (1L << (cls - 1)))
    }
  }

  test("dimStats property: random exact-representable vectors equal " +
    "a naive floor-semantics recompute") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    // values k/8 are exact in binary floats, incl. negatives
    val vecGen: Gen[List[Seq[Float]]] = Gen.chooseNum(2, 20).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(3,
        Gen.chooseNum(-16, 16).map(_ / 8.0f)).map(_.toSeq)))
    (1L to 8L).foreach { seed =>
      val vs = sample(vecGen, seed)
      val emb = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val got = Similarity.dimStats(emb)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6))).toMap
      val want = (0 until 3).map { d =>
        val q = vs.map(v => math.floor(v(d).toDouble * 1e6 + 0.5).toLong)
        val n = q.size.toLong
        val s = q.sum
        val s2 = q.map(x => x * x).sum
        val mean = math.floor(s.toDouble / n).toLong
        val varq = math.max(s2 / n - mean * mean, 0L)
        d.toLong -> ((n, s, mean, varq,
          if (varq <= Similarity.LowVarE12) 1L else 0L))
      }.toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("moment pre-overflow witnesses fire on wrap-scale components " +
    "before any sum is trusted") {
    def fires(msg: String)(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      def all(x: Throwable): Seq[String] =
        if (x == null) Nil
        else Option(x.getMessage).toSeq ++ all(x.getCause)
      assert(all(e).exists(_.contains(msg)),
        s"expected '$msg' in: ${all(e).mkString(" | ")}")
    }
    // component 2130 -> v = 2.13e9 micro-units: Σv² = 9.07e18 is
    // still Long-safe (ANSI would throw on a genuine wrap before any
    // guard), but n·max|v|² clears the 9e18 witness bar — one more
    // row WOULD wrap, and the old `sumsq >= 0` could stay positive
    val huge = Seq((0L, Seq(2130.0f, 0.0f)), (1L, Seq(2130.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    fires("dim-stats sums exceed") {
      Similarity.dimStats(huge).collect()
    }
    fires("covariance sums exceed") {
      Similarity.covarianceMoments(huge).collect()
    }
  }

  test("dimStats: constant dims flag low-var, mean uses FLOOR " +
    "division on negative sums, variance exact in quantized units") {
    // all values exactly representable in binary floats
    val emb = Seq(
      (0L, Seq(0.5f, 1.0f, 0.25f, -0.75f)),
      (1L, Seq(0.5f, -1.0f, 0.25f, -0.75f)),
      (2L, Seq(0.5f, 1.0f, -0.75f, 0.5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.dimStats(emb)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6))).toMap
    // dim 0: constant 0.5 → zero variance, flagged
    assert(r(0L) == ((3L, 1500000L, 500000L, 0L, 1L)))
    // dim 3: sum −10⁶ over 3 → floor(−333333.3) = −333334, NOT the
    // truncated −333333; varq = 1375e9 div 3 − 333334²
    assert(r(3L) == ((3L, -1000000L, -333334L,
      458333333333L - 333334L * 333334L, 0L)))
    // dims 1/2: high variance, not flagged
    assert(r(1L)._5 == 0L && r(2L)._5 == 0L)
  }

  test("cellPurityAudit: pure cells score 1e6, a tied cell picks the " +
    "lowest label at half purity, occupancies total the corpus") {
    // same pole geometry as the balance spec; labels: all 1 except
    // the y-cell pair {3, 7} which splits {5, 9} — a tie, so the
    // majority pick must take label 5 at purity 500000
    val emb = ((0L to 19L).map {
      case i @ (7L | 3L) =>
        (i, Seq(0.0f, 1.0f, 0.0f), if (i == 3L) 5L else 9L)
      case i @ 17L => (i, Seq(0.0f, 0.0f, 1.0f), 1L)
      case i @ 12L => (i, Seq(1.0f, 0.02f, 0.0f), 1L)
      case i => (i, Seq(1.0f, 0.0f, 0.001f * i), 1L)
    }).toDF("vec_id", "embedding", "label")
    val r = Similarity.cellPurityAudit(emb, nCells = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    assert(r.values.map(_._1).sum == 20L)
    assert(r(1L) == ((2L, 5L, 1L, 500000L)), s"y-cell: ${r.get(1L)}")
    assert(r(3L) == ((1L, 1L, 1L, 1000000L)), s"z-cell: ${r.get(3L)}")
    // every x-pole member is label 1 → both x cells are pure
    assert(r(0L)._2 == 1L && r(0L)._4 == 1000000L)
    assert(r(2L)._2 == 1L && r(2L)._4 == 1000000L)
  }

  test("thresholdCalibration: scaled copies count at every rung; " +
    "ladder counts are monotone non-increasing") {
    // v1/v2 are scaled copies of keeper v0 (cos exactly 1 → one
    // bucket, two keeper-star pairs at every threshold); v3 far off
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)),
      (2L, Seq(0.5f, 0.0f)), (3L, Seq(-1.0f, -5.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.thresholdCalibration(emb, nBits = 4,
        thresholds = Seq(900000L, 990000L))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(r.toList == List((900000L, 2L, 500000L),
      (990000L, 2L, 500000L)), r.toList.toString)
    // fixture: counts never increase as the threshold rises
    val fix = Similarity.thresholdCalibration(
      graft.core.Tables(spark, SfDir, "embeddings"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    graft.core.SessionCache.endQuery()
    assert(fix.map(_._1).toSeq ==
      Similarity.CalibThresholdsE6.sorted)
    assert(fix.sliding(2).forall(p => p(0)._2 >= p(1)._2),
      fix.toList.toString)
  }

  test("covarianceMoments: hand-exact moments, diagonal reproduces " +
    "dimStats varq, negative cross-sum FLOORS (never truncates)") {
    val emb = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.covarianceMoments(emb).orderBy($"i", $"j")
      .select($"i", $"j", $"n", $"sum_ij_e12", $"covq_e12")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // quantized rows: (1e6,2e6),(3e6,6e6) — all moments hand-exact
    assert(r == Seq(
      (0L, 0L, 2L, 10000000000000L, 1000000000000L),
      (0L, 1L, 2L, 20000000000000L, 2000000000000L),
      (1L, 1L, 2L, 40000000000000L, 4000000000000L)))
    // diagonal ≡ dimStats varq_e12 on the same frame
    val varq = Similarity.dimStats(emb)
      .select($"dim", $"varq_e12").as[(Long, Long)].collect().toMap
    assert(r.filter(p => p._1 == p._2)
      .forall(p => varq(p._1) == p._5), s"diag != varq: $r vs $varq")
    // negative cross-sum: -1e12 over n=3 must FLOOR to -333333333334
    // (Spark's integer div would truncate to ...333 — the cross-engine
    // divergence this operator's double-division floor avoids)
    val neg = Seq((0L, Seq(1.0f, -1.0f)), (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val c01 = Similarity.covarianceMoments(neg)
      .filter($"i" === 0 && $"j" === 1)
      .select($"covq_e12").as[Long].head()
    assert(c01 == -333333333334L, s"floor semantics broken: $c01")
  }

  test("property: covarianceMoments matches a plain-Scala integer " +
    "reference on random vectors") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: org.scalacheck.Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (1L to 3L).foreach { seed =>
      val d = 5
      val vecs = sample(Gen.listOfN(17,
        Gen.listOfN(d, Gen.chooseNum(-2000000, 2000000)
          .map(_ / 1000000.0f))), seed)
      val got = Similarity.covarianceMoments(
        vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("vec_id", "embedding")).collect()
        .map(x => (x.getAs[Long]("i"), x.getAs[Long]("j")) ->
          ((x.getAs[Long]("sum_i_e6"), x.getAs[Long]("sum_j_e6"),
            x.getAs[Long]("sum_ij_e12"), x.getAs[Long]("covq_e12"))))
        .toMap
      val q = vecs.map(_.map(x =>
        math.floor(x.toDouble * 1000000.0 + 0.5).toLong))
      val n = q.size.toLong
      val want = (for { i <- 0 until d; j <- i until d } yield {
        val si = q.map(_(i)).sum
        val sj = q.map(_(j)).sum
        val sij = q.map(v => v(i) * v(j)).sum
        def fdiv(a: Long) = math.floor(a.toDouble / n).toLong
        (i.toLong, j.toLong) ->
          ((si, sj, sij, fdiv(sij) - fdiv(si) * fdiv(sj)))
      }).toMap
      assert(got == want, s"seed=$seed")
    }
  }

  test("twoNNProfile: picks the two true nearest, mu >= 1e6, and a " +
    "planted equidistant tie breaks by nn_id") {
    // queryMod=1 so every vector is a query. Vector 0 has nn1 = 1
    // (cos .995) and nn2 = 2 (cos .9), so d1 < d2 and mu > 1e6.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.995f, 0.1f, 0.0f)),
      (2L, Seq(0.9f, 0.436f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.twoNNProfile(emb, queryMod = 1)
      .orderBy($"q_id").collect()
    val r0 = r.find(_.getAs[Long]("q_id") == 0L).get
    assert(r0.getAs[Long]("nn1_id") == 1L && r0.getAs[Long]("nn2_id") == 2L)
    assert(r.forall(_.getAs[Long]("mu_ppm") >= 1000000L))
    // orthogonal vector 3: both candidate distances quantize to the
    // same e6 bucket only if truly tied — here its neighbors are all
    // at cos 0 vs 1/2 at cos 0.9..., so nn1 must be the lowest id
    // among the true argmins; recompute naively to confirm
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val vs = Map(0L -> Seq(1.0f, 0.0f, 0.0f), 1L -> Seq(0.995f, 0.1f, 0.0f),
      2L -> Seq(0.9f, 0.436f, 0.0f), 3L -> Seq(0.0f, 0.0f, 1.0f))
    val r3 = r.find(_.getAs[Long]("q_id") == 3L).get
    val d3 = vs.keys.filter(_ != 3L).map(i =>
      (math.floor((1.0 - cos(vs(3L), vs(i))) * 1e6 + 0.5).toLong, i))
      .toSeq.sorted
    assert(r3.getAs[Long]("nn1_id") == d3.head._2 &&
      r3.getAs[Long]("d1_e6") == d3.head._1)
  }

  test("silhouette: perfect separation scores 1e6; a point on the " +
    "foreign prototype scores -1e6 and counts as misplaced") {
    // label 0: two at origin plus one planted ON label 1's prototype;
    // label 1: two at (1,1). Centroids: c0 = (333333, 333333) after
    // the floor, c1 = (1e6, 1e6).
    val emb = Seq(
      (0L, Array(0.0f, 0.0f), 0),
      (1L, Array(0.0f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f), 0), // misplaced
      (3L, Array(1.0f, 1.0f), 1),
      (4L, Array(1.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.silhouette(emb).collect()
      .map(x => x.getAs[Long]("label") -> x).toMap
    graft.core.SessionCache.endQuery()
    // label 0 origin points: a = 2*333333^2 = 222221777778,
    // b = 2e12 -> s = (b-a)*1e6 div b = 888889; the planted point:
    // a = 2*666667^2, b = 0 -> s = -1e6
    val l0 = r(0L)
    assert(l0.getAs[Long]("n") == 3L)
    assert(l0.getAs[Long]("sum_s_e6") == 888889L + 888889L - 1000000L)
    assert(l0.getAs[Long]("n_misplaced") == 1L)
    assert(l0.getAs[Long]("mean_s_e6") == 777778L / 3L)
    // label 1 points sit on their own centroid: a = 0 -> s = 1e6
    val l1 = r(1L)
    assert(l1.getAs[Long]("n") == 2L &&
      l1.getAs[Long]("sum_s_e6") == 2000000L &&
      l1.getAs[Long]("mean_s_e6") == 1000000L &&
      l1.getAs[Long]("n_misplaced") == 0L)
  }

  private def topkRows(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "rank", "nn_id", "cos")
      .as[(Long, Long, Long, Double)].collect().sorted.toSeq

  test("ivfIncremental: equals the full one-shot recompute with the " +
    "same frozen centers, and a replayed arrival is a no-op") {
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("ivf_inc_").toFile.getAbsolutePath
    val inc = topkRows(Similarity.ivfIncremental(emb, root))
    graft.core.SessionCache.endQuery()
    // full recompute: assign the WHOLE corpus in one shot against the
    // centers trained on the base split — must be identical
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val centers = Similarity.lloydCentersE6(base, 16)
      .map(_.map(_.toDouble / 1000000.0))
    val feat = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      l2Norm(col("embedding").cast("array<double>")).as("nrm"))
    val full = topkRows(Similarity.ivfTopKFromCenters(feat, centers))
    graft.core.SessionCache.endQuery()
    assert(inc.nonEmpty && inc == full)
    // replay guard: the committed v1 is not rewritten on a second run
    assert(graft.streaming.VersionedState
      .currentVersion(spark, root) == 1L)
    val v1 = new java.io.File(s"$root/v1/_SUCCESS")
    val stamp = v1.lastModified()
    val again = topkRows(Similarity.ivfIncremental(emb, root))
    graft.core.SessionCache.endQuery()
    assert(again == inc)
    assert(v1.lastModified() == stamp,
      "replayed arrival rewrote the committed index version")
  }

  test("pqIncremental: equals the one-shot encode with the same " +
    "frozen codebook, and a replayed arrival is a no-op") {
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val root = java.nio.file.Files
      .createTempDirectory("pq_inc_").toFile.getAbsolutePath
    def adcRows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "nn_id", "adc")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    val inc = adcRows(Similarity.pqIncremental(emb, root))
    graft.core.SessionCache.endQuery()
    val baseSeeds = Similarity.seedCenters(
      emb.filter(col("vec_id") % 4 =!= 0), Similarity.PqCodes)
    val full = adcRows(Similarity.pqTopKWithSeeds(emb, baseSeeds))
    graft.core.SessionCache.endQuery()
    assert(inc.nonEmpty && inc == full)
    assert(graft.streaming.VersionedState
      .currentVersion(spark, root) == 1L)
    val v1 = new java.io.File(s"$root/v1/_SUCCESS")
    val stamp = v1.lastModified()
    val again = adcRows(Similarity.pqIncremental(emb, root))
    graft.core.SessionCache.endQuery()
    assert(again == inc && v1.lastModified() == stamp)
  }

  test("lshSplitTopK: result-identical to lshTopK (the recall bar as " +
    "exact equality)") {
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
    val nBits = Similarity.scaledNBits(emb.count())
    val split = topkRows(Similarity.lshSplitTopK(emb, nBits = nBits))
    graft.core.SessionCache.endQuery()
    val plain = topkRows(Similarity.lshTopK(emb, nBits = nBits))
    graft.core.SessionCache.endQuery()
    assert(split.nonEmpty && split == plain)
  }

  test("lshSplitBuckets: a planted collinear mega-bucket splits to " +
    "sub-buckets bounded by the cap; healthy buckets keep fan 1") {
    // 1200 identical vectors -> every hyperplane bit agrees -> one
    // bucket of 1200 under plain LSH (the X248 pathology); plus a
    // small healthy cluster far away
    val collinear = (0 until 1200).map(i =>
      (i.toLong, Array.fill(64)(0.5f)))
    val healthy = (0 until 10).map(i =>
      (2000L + i, Array.tabulate(64)(d => if (d == i) -1.0f else 0.01f)))
    val emb = (collinear ++ healthy).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    val b = Similarity.lshSplitBuckets(emb).collect()
    graft.core.SessionCache.endQuery()
    val byKey = b.groupBy(r =>
      (r.getAs[String]("bucket"), r.getAs[Long]("sub")))
    val mega = b.groupBy(_.getAs[String]("bucket"))
      .maxBy(_._2.length)
    assert(mega._2.length >= 1200, "collinear vectors must share a bucket")
    // fan for n=1200(+) at cap 64: ceil(n/64)=19 -> next pow2 = 32
    assert(mega._2.head.getAs[Long]("fan") == 32L)
    val maxSub = byKey.values.map(_.length).max
    assert(maxSub <= Similarity.SplitCap,
      s"sub-bucket of $maxSub exceeds the cap")
    // every bucket outside the mega one is small -> fan 1
    assert(b.filter(_.getAs[String]("bucket") != mega._1)
      .forall(_.getAs[Long]("fan") == 1L))
  }
}
