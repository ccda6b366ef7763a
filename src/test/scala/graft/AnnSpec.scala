package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Similarity-search operators vs in-JVM brute force. Synthetic embeddings
  * with PLANTED near-duplicates (id 1000+i = id i plus small noise). */
class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val dim = 16
  val base: Vector[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(5)
    Vector.tabulate(300)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }
  val planted: Vector[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(6)
    base.take(12).map { case (id, v) =>
      (1000L + id, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
  }
  val vecs: Vector[(Long, Array[Float])] = base ++ planted
  lazy val embDf = spark.createDataset(vecs).toDF("vec_id", "embedding")

  def brute(q: Array[Float], k: Int, restrict: Long => Boolean = _ => true): Seq[(Long, Double)] =
    vecs.filter(v => restrict(v._1))
      .map { case (id, v) => (id, BigDecimal(VectorOps.cosine(v, q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, c) => (-c, id) }.take(k)

  test("brute-force cosine top-k == in-JVM brute force") {
    val q = vecs(3)._2
    val got = Ann.bruteForceTopK(spark, embDf, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute(q, 10))
    assert(got.head._1 == 3L, "the query vector itself ranks first")
    assert(got.take(2).map(_._1).contains(1003L), "planted near-dup in the top 2")
  }

  test("IVF: probed-bucket rank identity + partition pruning in the scan") {
    val dir = TestDirs.fresh("graft-ivf")
    val centroids = Ivf.build(spark, embDf, "vec_id", "embedding", dir, nCentroids = 16)
    val q = vecs(7)._2
    val nProbe = 4
    val got = Ivf.search(spark, dir, centroids, q, nProbe, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // rank identity vs brute force RESTRICTED to the probed buckets
    val probed = Ivf.probeSet(centroids, q, nProbe).toSet
    val inProbed = vecs.map { case (id, v) => id -> probed.contains(Ivf.assign(centroids, v)) }.toMap
    assert(got == brute(q, 10, restrict = inProbed))
    // the probed search must still find the query vector + its planted dup
    assert(got.map(_._1).contains(7L))
    // partition pruning: the scan's plan carries the centroid partition filter
    val plan = Ivf.search(spark, dir, centroids, q, nProbe, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid"),
      s"expected centroid partition pruning in:\n$plan")
  }

  test("IVF store reopens from persisted centroids (load == build, search identical)") {
    val dir = TestDirs.fresh("graft-ivf-reload")
    val built = Ivf.build(spark, embDf, "vec_id", "embedding", dir, nCentroids = 16)
    val loaded = Ivf.load(spark, dir)
    assert(loaded.length == built.length)
    built.zip(loaded).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    val q = vecs(11)._2
    val fromBuilt = Ivf.search(spark, dir, built, q, nProbe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fromLoaded = Ivf.search(spark, dir, loaded, q, nProbe = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromBuilt == fromLoaded)
  }

  test("IVF recall@10 at nProbe=8/16 is high on clustered queries") {
    val dir = TestDirs.fresh("graft-ivf2")
    val centroids = Ivf.build(spark, embDf, "vec_id", "embedding", dir, nCentroids = 16)
    val qs = Seq(0, 5, 9).map(i => vecs(i)._2)
    val recalls = qs.map { q =>
      val approx = Ivf.search(spark, dir, centroids, q, nProbe = 8, k = 10)
        .collect().map(_.getLong(0)).toSet
      val exact = brute(q, 10).map(_._1).toSet
      (approx & exact).size.toDouble / exact.size
    }
    assert(recalls.forall(_ >= 0.5), s"recalls=$recalls")
  }

  test("embedding near-dup: every reported pair exact-cosine-verified; planted pairs found") {
    val tau = 0.9
    val got = EmbeddingNearDup.pairs(spark, embDf, "vec_id", "embedding", tau)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val byId = vecs.toMap
    got.foreach { case ((a, b), c) =>
      val exact = BigDecimal(VectorOps.cosine(byId(a), byId(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(c == exact && exact >= BigDecimal(tau).toDouble - 1e-6, s"pair ($a,$b)")
    }
    // at cos >= ~0.99 (the planted pairs) sign-LSH recall is ~1: all found
    val plantedPairs = base.take(12).map(_._1).map(id => (id, 1000L + id))
      .filter { case (a, b) => VectorOps.cosine(byId(a), byId(b)) >= tau }
    assert(plantedPairs.nonEmpty)
    plantedPairs.foreach { p => assert(got.contains(p), s"planted pair $p missed") }
    // no pair below threshold leaks
    assert(got.values.forall(_ >= 0.9 - 1e-6))
  }
}
