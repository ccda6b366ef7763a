package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.search.Geo

/** LatLonPoint analogue: box predicate (incl. dateline crossing), two-phase
  * distance query vs a brute-force haversine oracle, nearest-k. */
class GeoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic scatter of points incl. near-pole and near-dateline cases
  private val pts: Seq[(Long, Double, Double)] = (0L until 2000L).map { i =>
    (i, (i * 7919 % 18000) / 100.0 - 90.0, (i * 104729 % 36000) / 100.0 - 180.0)
  }
  private lazy val df = pts.toDF("id", "lat", "lon")

  private def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat1) - math.toRadians(lat2)
    val dLon = math.toRadians(lon1) - math.toRadians(lon2)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * Geo.EarthRadiusKm * math.asin(math.sqrt(a))
  }

  test("withinDistance == brute-force haversine filter (box prefilter loses nothing)") {
    for ((clat, clon, r) <- Seq((40.0, -74.0, 3000.0), (85.0, 10.0, 1500.0), (0.0, 179.5, 800.0))) {
      val got = Geo.withinDistance(df, "lat", "lon", clat, clon, r)
        .select("id").as[Long].collect().toSet
      val want = pts.filter { case (_, la, lo) => haversine(la, lo, clat, clon) <= r }
        .map(_._1).toSet
      assert(got == want, s"center=($clat,$clon) r=$r")
      // distances agree with the oracle to float noise
      val gotD = Geo.withinDistance(df, "lat", "lon", clat, clon, r)
        .select("id", "dist_km").as[(Long, Double)].collect().toMap
      gotD.foreach { case (id, d) =>
        val (_, la, lo) = pts(id.toInt)
        assert(math.abs(d - haversine(la, lo, clat, clon)) < 1e-6)
      }
    }
  }

  test("dateline-crossing box selects both sides; plain box matches manual filter") {
    val cross = df.where(Geo.inBox(col("lat"), col("lon"), -10, 10, 170, -170))
      .select("id").as[Long].collect().toSet
    val wantCross = pts.filter { case (_, la, lo) =>
      la >= -10 && la <= 10 && (lo >= 170 || lo <= -170)
    }.map(_._1).toSet
    assert(cross == wantCross && cross.nonEmpty)
    val plain = df.where(Geo.inBox(col("lat"), col("lon"), 0, 45, -120, -60))
      .select("id").as[Long].collect().toSet
    val wantPlain = pts.filter { case (_, la, lo) =>
      la >= 0 && la <= 45 && lo >= -120 && lo <= -60
    }.map(_._1).toSet
    assert(plain == wantPlain && plain.nonEmpty)
  }

  private def oracleNearest(clat: Double, clon: Double, k: Int): Seq[Long] =
    pts.map { case (id, la, lo) =>
      (id, BigDecimal(haversine(la, lo, clat, clon))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

  test("nearest-k equals sort-take-k of the oracle distances") {
    val got = Geo.nearest(df, "lat", "lon", 48.0, 2.0, 15, "id")
      .select("id").as[Long].collect().toSeq
    assert(got == oracleNearest(48.0, 2.0, 15))
  }

  test("expanding-ring nearest == exhaustive nearest across centers, k, and start radii") {
    for {
      (clat, clon) <- Seq((48.0, 2.0), (85.0, 10.0), (0.0, 179.5), (-33.0, -70.0))
      k <- Seq(1, 5, 40)
      r0 <- Seq(1.0, 25.0, 5000.0)
    } {
      val pruned = Geo.nearest(df, "lat", "lon", clat, clon, k, "id", initialRadiusKm = r0)
        .select("id").as[Long].collect().toSeq
      val full = Geo.nearestExhaustive(df, "lat", "lon", clat, clon, k, "id")
        .select("id").as[Long].collect().toSeq
      assert(pruned == full, s"center=($clat,$clon) k=$k r0=$r0")
      assert(pruned == oracleNearest(clat, clon, k))
    }
  }

  test("k larger than any ring falls back to the exhaustive path, still correct") {
    val k = pts.size // every point requested
    val got = Geo.nearest(df, "lat", "lon", 10.0, 20.0, k, "id")
      .select("id").as[Long].collect().toSeq
    assert(got == oracleNearest(10.0, 20.0, k))
  }

  test("the first ring's scan is box-pruned (filters pushed to the parquet scan)") {
    val dir = TestDirs.fresh("graft-geo-parquet")
    df.write.mode("overwrite").parquet(dir)
    val pdf = spark.read.parquet(dir)
    val ring = Geo.withinDistance(pdf, "lat", "lon", 48.0, 2.0, 25.0)
    val plan = ring.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(lat") && plan.contains("LessThanOrEqual(lat"),
      s"expected lat box pushdown in:\n$plan")
  }
}
