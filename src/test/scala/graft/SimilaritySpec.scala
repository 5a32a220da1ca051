package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => SCTest, Prop}
import graft.sim.Similarity

class SimilaritySpec extends GraftSpec {
  import spark.implicits._

  test("cosine is 1 for self, within [-1, 1], symmetric (property)") {
    val gen = Gen.listOfN(8, Gen.choose(-10.0, 10.0))
      .suchThat(v => v.exists(_ != 0.0))
    val prop = Prop.forAllNoShrink(gen, gen) { (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("va", "vb")
        .select(Similarity.cosine("va", "vb").as("ab"),
          Similarity.cosine("vb", "va").as("ba"),
          Similarity.cosine("va", "va").as("self"))
      val r = df.as[(Double, Double, Double)].head()
      math.abs(r._1 - r._2) < 1e-12 &&
        r._1 >= -1.0 - 1e-12 && r._1 <= 1.0 + 1e-12 &&
        math.abs(r._3 - 1.0) < 1e-12
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("topK returns k rows in non-increasing score order") {
    val e = Tables.embeddings(spark, sf())
    val top = Similarity.topK(e, e.filter(col("vec_id") === 0), 10)
      .as[(Long, Int, Double)].collect()
    assert(top.length == 10)
    assert(top.head._1 == 0L && top.head._3 == 1.0) // query itself first
    assert(top.sliding(2).forall(p => p(0)._3 >= p(1)._3))
  }

  test("centroid of identical vectors is that vector") {
    val df = Seq((1, Array(1.0f, 2.0f)), (1, Array(1.0f, 2.0f)))
      .toDF("label", "embedding")
    val c = Similarity.centroids(df).as[(Int, Array[Double])].head()
    assert(c._2.toSeq == Seq(1.0, 2.0))
  }

  test("kmeans iteration never increases the clustering objective") {
    val e = Tables.embeddings(spark, sf())
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
    // Seed the codebook with 4 arbitrary data points.
    val seed = e.filter(col("vec_id") % 125 === 0).limit(4)
      .select((col("vec_id") / 125).cast("int").as("cell"),
        col("vec").as("centroid"))
    def objective(cb: org.apache.spark.sql.DataFrame): Double =
      Similarity.assign(e, cb).agg(sum(col("d2"))).as[Double].head()
    val cb1 = Similarity.kmeansIter(e, seed).cache()
    val cb2 = Similarity.kmeansIter(e, cb1).cache()
    val (o0, o1, o2) = (objective(seed), objective(cb1), objective(cb2))
    assert(o1 <= o0 + 1e-6, s"$o1 > $o0")
    assert(o2 <= o1 + 1e-6, s"$o2 > $o1")
    // Centroid means are true means of their assigned sets.
    val dim = 64
    val c1 = cb1.as[(Int, Array[Double])].collect()
    assert(c1.forall(_._2.length == dim))
  }

  test("assignment is the argmin cell with deterministic tie-break") {
    val vecs = Seq((1L, Array(0.0, 0.0)), (2L, Array(10.0, 10.0)))
      .toDF("vec_id", "vec")
    val cb = Seq((0, Array(1.0, 1.0)), (1, Array(9.0, 9.0)))
      .toDF("cell", "centroid")
    val a = Similarity.assign(vecs, cb)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(a == Map(1L -> 0, 2L -> 1))
  }

  test("PQ encodes to the nearest codebook entry and ADC-scores it (N_SIM8)") {
    // dim 4, m=2×subDim=2: vec i = [i, 1, 0, i] → subspaces [i,1] and
    // [0,i]; vectors 0..15 ARE the codebook
    val vecs = (0 until 16).map(i =>
      (i.toLong, "a", Array(i.toFloat, 1f, 0f, i.toFloat))) ++ Seq(
      (100L, "b", Array(3f, 1f, 0f, 3f)),     // == codebook vec 3
      (101L, "b", Array(7.2f, 1f, 0f, 6.9f))) // nearest 7 both subspaces
    val df = vecs.toDF("vec_id", "label", "embedding")
    val out = Similarity.pqTopK(df,
      df.filter(col("vec_id") === 0), k = 50, m = 2, subDim = 2).cache()
    val codes = out.select(col("vec_id"), col("codes"))
      .as[(Long, String)].collect().toMap
    assert(codes(100L) == "3|3", codes)
    assert(codes(101L) == "7|7", codes)
    // ADC of a codebook vector is the exact quantized dot with the
    // query: q=[0,1,0,0], vec 3 → dot sub0 = 1 (×10⁴), sub1 = 0
    val s3 = out.filter(col("vec_id") === 3)
      .select(col("ascore_q")).as[Long].head()
    assert(s3 == 10000L)
    out.unpersist()
  }

  test("PQ rerank emits exact cosine order over the ADC candidates (N_SIM9)") {
    val e = Tables.embeddings(spark, sf())
    val q = e.filter(col("vec_id") === 0)
    val out = Similarity.pqRerankTopK(e, q, k = 10, c = 50)
      .as[(Long, Int, Long, Double)].collect()
    assert(out.length == 10)
    // stage 2 is EXACT cosine: the query itself survives the ADC cut
    // and re-ranks first with self-similarity 1.0
    assert(out.head._1 == 0L && out.head._4 == 1.0, out.head)
    // re-ranked order is by the exact score, not the ADC score
    assert(out.sliding(2).forall(p => p(0)._4 >= p(1)._4))
    // every emitted score matches the brute-force exact computation
    val exact = Similarity.topK(e, q, 500)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out.forall(r => exact(r._1) == r._4), out.toSeq)
  }

  test("semDedup removes exactly the lower-id-partnered near-dups (N_DEDUP9)") {
    // two planted clusters: ids 0/1 are the nc=2 codebook; 8 and 9
    // duplicate 0 (cell 0), 10 near-duplicates 1 (cell 1)
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (8L, Array(0.99f, 0.01f)), (9L, Array(1.01f, 0f)),
      (10L, Array(0.1f, 0.9f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, nc = 2, tau = 0.95)
      .as[(Long, Int, Long, Long)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId.keySet == Set(8L, 9L, 10L), out.toSeq)
    assert(byId(8L)._2 == 0 && byId(8L)._3 == 0L) // cell 0, keeper 0
    assert(byId(9L)._2 == 0 && byId(9L)._3 == 0L)
    assert(byId(10L)._2 == 1 && byId(10L)._3 == 1L)
    // 9 pairs with both 0 and 8 (all three are mutual near-dups)
    assert(byId(9L)._4 == 2L, byId(9L))
  }

  test("semDedup refuses a repeated vec_id instead of multiplying its pairs") {
    // 9 appears twice: the per-id assignment would re-join both rows
    // and count each of 9's partners twice
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (8L, Array(0.99f, 0.01f)), (9L, Array(1.01f, 0f)),
      (9L, Array(1.01f, 0f)), (10L, Array(0.1f, 0.9f)))
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(vecs.toDF("vec_id", "embedding"), nc = 2,
        tau = 0.95)
    }
    assert(e.getMessage.contains("unique vec_id"), e.getMessage)
    assert(e.getMessage.contains("repeated: 9"), e.getMessage)
  }
}
