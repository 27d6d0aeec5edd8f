package graft

import graft.matching.DistributionDistance
import graft.outlier.DBoost
import graft.profile.Benford
import org.apache.spark.sql.functions._

/** Specs for Benford (A11), stream stats (A23), GMM outliers (A29)
  * and KS/Wasserstein distances (F13). */
class StatExtrasSpec extends SparkSpec {

  test("benford distribution and conformity") {
    import spark.implicits._
    // values with first digits following Benford ~exactly on 100 rows
    val counts = (1 to 9).map(d => d -> math.round(100 * Benford.expected(d)).toInt)
    val values = counts.flatMap { case (d, n) => Seq.fill(n)(d * 11.0) }
    val df = values.toDF("x")
    val dist = Benford.distribution(df, "x").collect()
      .map(r => r.getAs[Int]("digit") -> r.getAs[Long]("cnt")).toMap
    assert(dist(1) === counts.toMap.apply(1).toLong)
    assert(Benford.conformity(df, "x") > 0.98)
    // uniform digits conform poorly
    val uniform = (1 to 9).flatMap(d => Seq.fill(10)(d * 1.0)).toDF("x")
    assert(Benford.conformity(uniform, "x") < 0.85)
  }

  test("stream stats") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val s = DBoost.streamStats(df, Seq("x"), exact = true).collect().head
    assert(s.getAs[Long]("cnt") === 4L)
    assert(math.abs(s.getAs[Double]("mean") - 2.5) < 1e-9)
    assert(s.getAs[Double]("min") === 1.0)
    assert(s.getAs[Double]("max") === 4.0)
    assert(s.getAs[Long]("distinct_capped") === 4L)
    // cap respected
    val big = (1 to 100).map(_.toDouble).toDF("x")
    val capped = DBoost.streamStats(big, Seq("x"), cardinalityCap = 25,
      exact = true).collect().head
    assert(capped.getAs[Long]("distinct_capped") === 25L)
  }

  test("histogram outliers: rare values of peaked low-cardinality columns only") {
    import spark.implicits._
    def rep(column: String, value: String, n: Int) = Seq.fill(n)(column -> value)
    val long = (
      rep("a", "x", 39) ++ rep("a", "y", 1) ++                    // 1/40 < 5%: flagged
      rep("d", "x", 38) ++ rep("d", "y", 1) ++ rep("d", "z", 1) ++ // two rare values
      rep("e", "k", 19) ++ rep("e", "l", 1) ++                    // exactly 5%: kept
      rep("b", "p", 14) ++ rep("b", "q", 5) ++ rep("b", "r", 1) ++ // top mass 0.7: not peaked
      rep("c", "m", 200) ++ (1 to 16).flatMap(i => rep("c", s"v$i", 1)) // 17 classes
    ).toDF("column", "value")
    val got = DBoost.histogramOutliers(long)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "y", 1L), ("d", "y", 1L), ("d", "z", 1L)))
  }

  test("gmm outliers flag a planted point") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val cluster1 = Seq.fill(200)(10.0 + rng.nextGaussian() * 0.5)
    val cluster2 = Seq.fill(200)(50.0 + rng.nextGaussian() * 0.5)
    val data = (cluster1 ++ cluster2 :+ 1000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = data.toDF("id", "x")
    val out = DBoost.gmmOutliers(df, "x", "id", k = 2, cutoff = 1e-6)
      .collect().map(_.getAs[Long]("row_id"))
    assert(out.contains(400L)) // the planted 1000.0
    assert(out.length < 10)    // and not half the data
  }

  test("fixed-point correlation kernel matches the decimal kernel") {
    // the fast Long-sum kernel must agree with the exact Decimal(38,10)
    // reference at the gate's rounding on real data...
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("r", round(col("r"), 6)).orderBy("col_a", "col_b").collect().toSeq
    assert(rows(DBoost.correlationPairsFixedPoint(li, cols)) ===
      rows(DBoost.correlationPairs(li, cols)))

    // ...including negative fixed-point values (the hi/lo split must
    // carry the sign through % and the exact double division)
    import spark.implicits._
    val neg = Seq((-1.25, 3.50), (2.75, -4.00), (-3.10, -0.05), (0.0, 1.15))
      .toDF("a", "b")
    assert(rows(DBoost.correlationPairsFixedPoint(neg, Seq("a", "b"))) ===
      rows(DBoost.correlationPairs(neg, Seq("a", "b"))))
  }

  test("ks and wasserstein — identical and shifted distributions") {
    import spark.implicits._
    val a = (1 to 100).map(_.toDouble).toDF("x")
    val same = DistributionDistance.ksAndWasserstein(a, "x", a, "x").collect().head
    assert(same.getAs[Double]("ks") === 0.0)
    assert(same.getAs[Double]("wasserstein") === 0.0)
    // b = a + 10 → KS well below 1, W1 = shift = 10
    val b = (1 to 100).map(i => i + 10.0).toDF("x")
    val shifted = DistributionDistance.ksAndWasserstein(a, "x", b, "x").collect().head
    assert(math.abs(shifted.getAs[Double]("wasserstein") - 10.0) < 1e-9)
    assert(math.abs(shifted.getAs[Double]("ks") - 0.1) < 1e-9)
  }

  test("x8 gate query: exact seeded GMM outlier ids at sf0.001") {
    // The driver only rows-checks x8 (an iterative MLlib fit has no SQL
    // oracle); this pins the exact ids the seeded fit flags.
    val ids = graft.queries.StatQueries.gmmOutliers(spark, sf)
      .collect().map(_.getAs[Long]("row_id"))
    assert(ids === Array(25L, 88L, 107L, 288L, 556L, 574L, 645L))
  }
}
