package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed examples for the distribution-comparison statistics
  * (Mann-Whitney/AUC, KS, Kendall tau-b, Gini, Benford), plus
  * partition invariance — every statistic is an order-free integer
  * fold, so re-shuffling the input must not change a single bit.
  */
class StatTestsSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  test("mannWhitney: ranks, ties, AUC on a hand example") {
    // A = {1,2,3}, B = {2,3,4}. Pooled avg ranks: 1→1, 2→2.5, 3→4.5,
    // 4→6. R_A = 8, U_A = 8 − 3·4/2 = 2, AUC = 2/9.
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r = StatTests.mannWhitney(df, "g", "A", "B", col("v")).collect()(0)
    assert(r.getAs[Long]("n_a") === 3L && r.getAs[Long]("n_b") === 3L)
    assert(math.abs(r.getAs[Double]("auc") - 2.0 / 9.0) < 1e-12)
    // z must be negative (A stochastically smaller) and finite
    val z = r.getAs[Double]("z")
    assert(z < 0 && !z.isNaN && !z.isInfinite)
  }

  test("mannWhitney: AUC=1 on perfectly separated groups") {
    val df = Seq(("A", 10L), ("A", 11L), ("B", 1L), ("B", 2L), ("B", 3L))
      .toDF("g", "v")
    val r = StatTests.mannWhitney(df, "g", "A", "B", col("v")).collect()(0)
    assert(math.abs(r.getAs[Double]("auc") - 1.0) < 1e-12)
  }

  test("ksTest: disjoint supports give D=1; identical give D=0") {
    val dis = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r1 = StatTests.ksTest(dis, "g", "A", "B", col("v")).collect()(0)
    assert(math.abs(r1.getAs[Double]("d") - 1.0) < 1e-12)
    val same = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L)).toDF("g", "v")
    val r2 = StatTests.ksTest(same, "g", "A", "B", col("v")).collect()(0)
    assert(r2.getAs[Double]("d") === 0.0)
  }

  test("ksTest: hand CDF example") {
    // A = {1,1,3}, B = {2,3}. At v=1: F_A=2/3, F_B=0 → diff 2/3 (max).
    val df = Seq(("A", 1L), ("A", 1L), ("A", 3L), ("B", 2L), ("B", 3L))
      .toDF("g", "v")
    val r = StatTests.ksTest(df, "g", "A", "B", col("v")).collect()(0)
    assert(math.abs(r.getAs[Double]("d") - 2.0 / 3.0) < 1e-12)
  }

  test("kendallTauB: monotone gives 1, hand example with discordance") {
    val mono = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val r1 = StatTests.kendallTauB(mono, col("x"), col("y")).collect()(0)
    assert(math.abs(r1.getAs[Double]("tau_b") - 1.0) < 1e-12)
    // (1,2),(2,1),(3,3): C=2, D=1, no ties → tau = 1/3
    val mix = Seq((1L, 2L), (2L, 1L), (3L, 3L)).toDF("x", "y")
    val r2 = StatTests.kendallTauB(mix, col("x"), col("y")).collect()(0)
    assert(r2.getAs[Long]("concordant") === 2L)
    assert(r2.getAs[Long]("discordant") === 1L)
    assert(math.abs(r2.getAs[Double]("tau_b") - 1.0 / 3.0) < 1e-12)
  }

  test("kendallTauB: tie correction on a tied example") {
    // (1,1),(1,2),(2,3): x-tie pair excluded from C/D. C=2, D=0,
    // T_x = 2·1 = 2, T_y = 0, n(n−1) = 6 → tau = 4/sqrt(4·6) ≈ 0.8165
    val df = Seq((1L, 1L), (1L, 2L), (2L, 3L)).toDF("x", "y")
    val r = StatTests.kendallTauB(df, col("x"), col("y")).collect()(0)
    assert(r.getAs[Long]("concordant") === 2L)
    assert(r.getAs[Long]("discordant") === 0L)
    assert(math.abs(r.getAs[Double]("tau_b") - 4.0 / math.sqrt(24.0)) < 1e-12)
  }

  test("giniByGroup: uniform is 0, concentrated hand example") {
    val df = Seq(("u", 5L), ("u", 5L), ("u", 5L),
      ("c", 0L), ("c", 0L), ("c", 0L), ("c", 4L)).toDF("g", "v")
    val out = StatTests.giniByGroup(df, "g", col("v"))
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("gini"))
      .toMap
    assert(out("u") === 0.0)
    // ranks of zeros avg 2 (doubled 4), 4 at rank 4: 2Σrx = 32,
    // G = 32/(4·4) − 5/4 = 0.75
    assert(math.abs(out("c") - 0.75) < 1e-12)
  }

  test("benfordProfile: shares sum to 1, digits from string arithmetic") {
    val df = (1 to 9).flatMap(d => Seq.fill(d)(d * 100.0 + 0.5)).toDF("p")
    val rows = StatTests.benfordProfile(df, col("p")).collect()
    assert(rows.map(_.getAs[Int]("digit")).sorted === (1 to 9).toArray)
    val shares = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-12)
    val d9 = rows.find(_.getAs[Int]("digit") === 9).get
    assert(d9.getAs[Long]("n_obs") === 9L)
  }

  test("partition invariance: identical bits under any layout") {
    val base = (1 to 400).map { i =>
      (if (i % 3 == 0) "A" else "B", (i * 37 % 50).toLong + 1L)
    }
    for (parts <- Seq(1, 7)) {
      val df = spark.createDataFrame(base).toDF("g", "v")
        .repartition(parts)
      val mw = StatTests.mannWhitney(df, "g", "A", "B", col("v"))
        .collect()(0)
      val ks = StatTests.ksTest(df, "g", "A", "B", col("v")).collect()(0)
      val gi = StatTests.giniByGroup(df, "g", col("v"))
        .orderBy("g").collect().map(_.getAs[Double]("gini")).toSeq
      val one = spark.createDataFrame(base).toDF("g", "v").coalesce(1)
      val mw1 = StatTests.mannWhitney(one, "g", "A", "B", col("v"))
        .collect()(0)
      val ks1 = StatTests.ksTest(one, "g", "A", "B", col("v")).collect()(0)
      val gi1 = StatTests.giniByGroup(one, "g", col("v"))
        .orderBy("g").collect().map(_.getAs[Double]("gini")).toSeq
      assert(mw.getAs[Double]("auc") === mw1.getAs[Double]("auc"))
      assert(mw.getAs[Double]("z") === mw1.getAs[Double]("z"))
      assert(ks.getAs[Double]("d") === ks1.getAs[Double]("d"))
      assert(gi === gi1)
    }
  }
}
