package graft

import graft.operators.Pq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral tests for product quantization: codebook convergence on
  * separable sub-clusters, encode verdicts for degenerate rows, ADC
  * agreement with exact L2 on a lossless fixture, tie rules, empty-
  * code carry, and the guard rails.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** dim=4, m=2: subspace 0 clusters at (0,0)/(8,8); subspace 1 at
    * (4,4)/(-4,-4), deliberately crossed so sub-codes are independent.
    */
  def corpus: DataFrame = Seq(
    (0L, Array(0f, 0f, 4f, 4f)),
    (1L, Array(0.2f, 0f, 4f, 4.2f)),
    (2L, Array(8f, 8f, -4f, -4f)),
    (3L, Array(8f, 8.2f, -4.2f, -4f)),
    (4L, Array(0f, 0.2f, -4f, -4.2f)),
    (5L, Array(8.2f, 8f, 4.2f, 4f))
  ).toDF("vec_id", "embedding")

  def fitModel(ksub: Int = 2, iters: Int = 3): Pq.PqModel =
    Pq.fit(corpus, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = ksub, iters = iters)

  test("fit converges to the sub-cluster means; encode assigns the expected codes") {
    val m = fitModel()
    assert(m.m === 2 && m.dsub === 2 && m.ksub === 2)
    // each subspace's codebook must hold both cluster means (order is
    // seed-dependent): one centroid near 0, one near 8 (sub 0);
    // one near 4, one near -4 (sub 1)
    def sortedMeans(j: Int): Seq[Double] =
      m.codebooks(j).map(_._2.sum / 2.0).sorted
    assert(sortedMeans(0).zip(Seq(0.1, 8.1)).forall {
      case (g, e) => math.abs(g - e) < 0.2 })
    assert(sortedMeans(1).zip(Seq(-4.1, 4.05)).forall {
      case (g, e) => math.abs(g - e) < 0.2 })
    val codes = Pq.encode(corpus, col("embedding"), m)
      .orderBy("vec_id").select("code0", "code1")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    // rows in the same sub-cluster share a sub-code; crossed clusters
    // get crossed code pairs
    assert(codes(0)._1 === codes(1)._1 && codes(0)._1 === codes(4)._1)
    assert(codes(2)._1 === codes(3)._1 && codes(2)._1 === codes(5)._1)
    assert(codes(0)._1 !== codes(2)._1)
    assert(codes(0)._2 === codes(1)._2 && codes(0)._2 === codes(5)._2)
    assert(codes(2)._2 === codes(3)._2 && codes(2)._2 === codes(4)._2)
    assert(codes(0)._2 !== codes(2)._2)
  }

  test("fit reads array<double> vectors; same codebooks as the float corpus") {
    val doubles = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val m = Pq.fit(doubles, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 2, iters = 3)
    assert(m.codebooks === fitModel().codebooks)
    val codes = Pq.encode(doubles, col("embedding"), m)
      .orderBy("vec_id").select("code0", "code1").collect().toSeq
    assert(codes === Pq.encode(corpus, col("embedding"), m)
      .orderBy("vec_id").select("code0", "code1").collect().toSeq)
  }

  test("fit survives NaN components in the corpus (null-code rows dropped from the means)") {
    val dirty = corpus.union(Seq(
      (6L, Array(Float.NaN, 1f, Float.NaN, 3f)),
      (7L, Array(0.1f, Float.NaN, -4.1f, Float.NaN))).toDF("vec_id", "embedding"))
    // pre-fix this NPE'd in the means collect on the null-code group;
    // seed by id parity so seeds are the clean rows 0 and 2 (one per
    // cluster) and the assertion is hash-independent
    val m = Pq.fit(dirty, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 2, iters = 3, seedHash = c => c % 2)
    def sortedMeans(j: Int): Seq[Double] =
      m.codebooks(j).map(_._2.sum / 2.0).sorted
    // NaN rows contribute nothing: centroids match the clean fixture
    assert(sortedMeans(0).zip(Seq(0.1, 8.1)).forall {
      case (g, e) => math.abs(g - e) < 0.2 })
    assert(sortedMeans(1).zip(Seq(-4.1, 4.05)).forall {
      case (g, e) => math.abs(g - e) < 0.2 })
  }

  test("encode: null or dimension-mismatched vectors get null codes") {
    val m = fitModel()
    val bad = Seq((10L, Some(Array(1f, 2f, 3f))), (11L, None),
      (12L, Some(Array(0f, 0f, 4f, 4f))))
      .toDF("vec_id", "embedding")
    val got = Pq.encode(bad, col("embedding"), m).orderBy("vec_id")
      .select("code0", "code1").collect()
      .map(r => (if (r.isNullAt(0)) null else r.get(0),
        if (r.isNullAt(1)) null else r.get(1))).toSeq
    assert(got(0) === ((null, null)) && got(1) === ((null, null)))
    assert(got(2)._1 != null && got(2)._2 != null)
  }

  test("adcTopK equals exact L2 ranking when vectors sit on their centroids (lossless fixture)") {
    // two copies of each distinct point → centroids land exactly on
    // the points → ADC distance IS the exact distance
    val pts = Seq(
      Array(0f, 0f, 4f, 4f), Array(8f, 8f, -4f, -4f),
      Array(0f, 0f, -4f, -4f), Array(8f, 8f, 4f, 4f))
    val c = pts.zipWithIndex.flatMap { case (p, i) =>
      Seq((i.toLong, p), (i + 100L, p)) }.toDF("vec_id", "embedding")
    val model = Pq.fit(c, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 4, iters = 3)
    val got = Pq.adcTopK(c, c.filter(col("vec_id") === 0L),
        col("vec_id"), col("embedding"), k = 7, model)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    val exp = pts.zipWithIndex.flatMap { case (p, i) =>
      Seq((i.toLong, l2(p, pts(0))), (i + 100L, l2(p, pts(0)))) }
      .filter(_._1 != 0L).sortBy(t => (t._2, t._1))
    assert(got === exp)
  }

  test("ADC distance ties rank by ascending nid; degenerate corpus rows are dropped") {
    val pts = Seq((0L, Array(0f, 0f, 0f, 0f)), (1L, Array(2f, 0f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)), (3L, null.asInstanceOf[Array[Float]]))
    val c = pts.toDF("vec_id", "embedding")
    val model = Pq.fit(c, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 2, iters = 2)
    val got = Pq.adcTopK(c, c.filter(col("vec_id") === 0L),
        col("vec_id"), col("embedding"), k = 5, model)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    // rows 1 and 2 are identical (tie → smaller nid first); row 3 is
    // null and must not appear
    assert(got === Seq(1L, 2L))
  }

  test("an empty code keeps its previous centroid (no vanishing codebook entries)") {
    // both seeds (first two rows by xxhash64 order) can coincide;
    // force it: two identical vectors plus one far point, ksub=2 —
    // whichever identical pair seeds, ties assign to the SMALLER
    // code, so if both seeds are the duplicate the other code goes
    // empty and must survive with its seed centroid
    val c = Seq((0L, Array(1f, 1f, 1f, 1f)), (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(1f, 1f, 1f, 1f))).toDF("vec_id", "embedding")
    val model = Pq.fit(c, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 2, iters = 2)
    // all rows identical → every assignment ties to code 0; code 1
    // keeps the seed vector's sub-slices
    assert(model.codebooks.forall(_.size === 2))
    assert(model.codebooks(0).map(_._2).forall(_ === Seq(1.0, 1.0)))
  }

  test("production (native) and exact (decimal) paths agree: codes, ranks, degenerate verdicts") {
    val m = fitModel() // production fit
    val me = Pq.fit(corpus, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 2, iters = 3, exact = true)
    // well-separated clusters: the two fits land on the same means
    assert(m.codebooks.flatten.map(_._2).flatten
      .zip(me.codebooks.flatten.map(_._2).flatten)
      .forall { case (a, b) => math.abs(a - b) < 1e-9 })
    val mixed = Seq((10L, Some(Array(1f, 2f, 3f))), (11L, None),
      (12L, Some(Array(0f, 0f, 4f, 4f))),
      (13L, Some(Array(Float.NaN, 0f, 4f, 4f))))
      .toDF("vec_id", "embedding")
    def codesOf(exact: Boolean): Seq[(Any, Any)] =
      Pq.encode(mixed, col("embedding"), m, exact = exact).orderBy("vec_id")
        .select("code0", "code1").collect()
        .map(r => (if (r.isNullAt(0)) null else r.get(0),
          if (r.isNullAt(1)) null else r.get(1))).toSeq
    // same verdicts either path: short/null/NaN vectors → null codes
    assert(codesOf(exact = false) === codesOf(exact = true))
    assert(codesOf(exact = false)(0) === ((null, null)))
    assert(codesOf(exact = false)(3)._1 === null)
    // rank agreement on WELL-SEPARATED distances (integer-valued, so
    // no near-tie for the scale-8 rounding of the exact path to flip)
    val pts = Seq(
      Array(0f, 0f, 4f, 4f), Array(8f, 8f, -4f, -4f),
      Array(0f, 0f, -4f, -4f), Array(8f, 8f, 4f, 4f))
    val sep = pts.zipWithIndex.flatMap { case (p, i) =>
      Seq((i.toLong, p), (i + 100L, p)) }.toDF("vec_id", "embedding")
    val ms = Pq.fit(sep, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 4, iters = 3)
    val rank = (exact: Boolean) =>
      Pq.adcTopK(sep, sep.filter(col("vec_id") === 0L),
        col("vec_id"), col("embedding"), k = 7, ms, exact = exact)
        .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(rank(false) === rank(true))
  }

  test("LUT scan equals the fused-loop distance formulation: ranks, values, invalid-query verdicts (round-14 internals pin)") {
    // The production scan computes adist from per-query lookup tables
    // (PqAdcLutDistance) instead of re-walking the query vector per
    // candidate (PqAdcDistance). Totals are sums of m per-subspace
    // partials rather than one dim-term fold, so values may differ in
    // the last ulp — this differential pins that (a) the (qid, nid,
    // rank) output is IDENTICAL to the fused formulation on a seeded
    // random fixture, (b) values agree to 1e-12 relative, and (c) an
    // invalid query still yields k null-adist rows (the fused loop's
    // verdict for a query with no scorable distance).
    val rnd = new scala.util.Random(1234)
    val n = 300
    val base = (0 until n).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 4f - 2f))
    }
    val c = base.toDF("vec_id", "embedding")
    val model = Pq.fit(c, col("vec_id"), col("embedding"), dim = 8, m = 4,
      ksub = 8, iters = 2)
    val qs = c.filter(col("vec_id") < 15L)
    val got = Pq.adcTopK(c, qs, col("vec_id"), col("embedding"), k = 6, model)
    // fused-loop reference: same candidates, PqAdcDistance per row
    val enc = Pq.encode(c.select(col("vec_id").as("nid"),
      col("embedding").as("nv")), col("nv"), model).drop("nv")
    val valid = enc.filter(
      (0 until model.m).map(j => col(s"code$j").isNotNull).reduce(_ && _))
    val q = qs.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ref = valid.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        org.apache.spark.sql.graft.VectorExpressions.pqAdcDistance(
          col("qv"), array((0 until model.m).map(j => col(s"code$j")): _*),
          model.dim, model.codebooks).as("adist"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("adist"), col("nid"))))
      .filter(col("rank") <= 6)
    val g = got.select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val r = ref.select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(g === r)
    val vals = got.select(col("qid"), col("nid"), col("adist").as("a"))
      .join(ref.select(col("qid"), col("nid"), col("adist").as("b")),
        Seq("qid", "nid"))
      .select(max(abs(col("a") - col("b")) /
        greatest(abs(col("b")), lit(1e-30)))).head().getDouble(0)
    assert(vals < 1e-12, s"relative adist divergence $vals")
    // invalid query (NaN component): k null-adist rows, like the
    // fused loop produced
    val withBad = c.union(Seq((9999L, Array(Float.NaN, 0f, 0f, 0f, 0f, 0f,
      0f, 0f))).toDF("vec_id", "embedding"))
    val bad = Pq.adcTopK(withBad, withBad.filter(col("vec_id") === 9999L),
      col("vec_id"), col("embedding"), k = 4, model)
    val badRows = bad.collect()
    assert(badRows.length === 4 && badRows.forall(_.isNullAt(2)))
  }

  test("ivfPqTopK equals ADC restricted to the probed buckets (pruning differential)") {
    import graft.operators.Similarity
    val pts = Seq(
      Array(0f, 0f, 4f, 4f), Array(8f, 8f, -4f, -4f),
      Array(0f, 0f, -4f, -4f), Array(8f, 8f, 4f, 4f))
    val c = pts.zipWithIndex.flatMap { case (p, i) =>
      Seq((i.toLong, p), (i + 100L, p)) }.toDF("vec_id", "embedding")
    val model = Pq.fit(c, col("vec_id"), col("embedding"), dim = 4, m = 2,
      ksub = 4, iters = 3)
    val q = c.filter(col("vec_id") === 0L)
    val got = Pq.ivfPqTopK(c, q, col("vec_id"), col("embedding"), k = 7,
        model, nCentroids = 4, nProbe = 2, ivfIters = 2)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    // expected: restrict the corpus to the probed buckets by the SAME
    // centroids/probe rule, then plain ADC over that subset
    val cents = Similarity.ivfCentroids(c, col("vec_id"), col("embedding"),
      nCentroids = 4, iters = 2)
    val probed = q.select(
        explode(Similarity.probeCentroids(col("embedding"), cents, 2)).as("cid"))
      .as[Int].collect().toSet
    val bucketed = c.filter(
      Similarity.assignCentroid(col("embedding"), cents).isin(probed.toSeq: _*))
    val exp = Pq.adcTopK(bucketed, q, col("vec_id"), col("embedding"),
        k = 7, model)
      .orderBy("rank").select("nid").as[Long].collect().toSeq
    assert(got === exp)
    assert(got.nonEmpty && got.size < 7, // pruning really dropped buckets
      s"expected a pruned candidate set, got $got")
  }

  test("guards: dim not divisible, cell bound, empty corpus, bad k") {
    assertThrows[IllegalArgumentException] {
      Pq.fit(corpus, col("vec_id"), col("embedding"), dim = 4, m = 3)
    }
    assertThrows[IllegalArgumentException] {
      Pq.fit(corpus, col("vec_id"), col("embedding"), dim = 4, m = 2,
        ksub = 40000)
    }
    assertThrows[IllegalArgumentException] {
      Pq.fit(corpus.filter(col("vec_id") < 1), col("vec_id"),
        col("embedding"), dim = 4, m = 2, ksub = 2)
    }
    assertThrows[IllegalArgumentException] {
      Pq.adcTopK(corpus, corpus, col("vec_id"), col("embedding"),
        k = 0, fitModel())
    }
  }
}
