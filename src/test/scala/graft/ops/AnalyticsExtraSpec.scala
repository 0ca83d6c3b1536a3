package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand examples for HITS, mutual information parts, burst z, and
  * RAKE keyword scoring. */
class AnalyticsExtraSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  test("hits: star authority dominates after two rounds") {
    // t1 seen by u1,u2,u3; t2 only by u1. deg(u1)=2, deg(u2)=deg(u3)=1.
    // a1(t1)=4, a1(t2)=2; h2(u1)=6, h2(u2)=h2(u3)=4; a2(t1)=14, a2(t2)=6.
    val e = Seq((1L, "t1"), (2L, "t1"), (3L, "t1"), (1L, "t2"))
      .toDF("u", "t")
    val out = Graphs.hits(e, "u", "t").collect()
      .map(r => r.getAs[String]("authority") ->
        (r.getAs[Long]("a1"), r.getAs[Long]("a2"),
          r.getAs[Double]("share"))).toMap
    assert(out("t1")._1 === 4L && out("t1")._2 === 14L)
    assert(out("t2")._1 === 2L && out("t2")._2 === 6L)
    assert(math.abs(out("t1")._3 - 14.0 / 20.0) < 1e-12)
  }

  test("mutual information parts: independent table sums to ~0") {
    // perfectly independent 2x2: each cell n/4 -> every mi_part 0
    val rows = Seq.fill(10)(("A", "O")) ++ Seq.fill(10)(("A", "F")) ++
      Seq.fill(10)(("B", "O")) ++ Seq.fill(10)(("B", "F"))
    val df = rows.toDF("x", "y")
    val cells = df.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      .withColumn("nx", sum(col("n_xy")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("x")))
      .withColumn("ny", sum(col("n_xy")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("y")))
      .withColumn("n", sum(col("n_xy")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(expr("""(CAST(n_xy AS DOUBLE)/CAST(n AS DOUBLE)) *
          ln((CAST(n_xy AS DOUBLE)*CAST(n AS DOUBLE)) /
             (CAST(nx AS DOUBLE)*CAST(ny AS DOUBLE)))""").as("mi_part"))
      .collect().map(_.getAs[Double]("mi_part"))
    assert(cells.forall(p => math.abs(p) < 1e-12))
  }

  test("rake: degree/frequency scoring on a hand corpus") {
    // "red apple" and "apple" as phrases: freq(apple)=2, deg(apple)=3,
    // freq(red)=1, deg(red)=2 -> s(red)=2000, s(apple)=1500;
    // score(red apple)=3500, score(apple)=1500
    val df = Seq("red apple and apple").toDF("text")
    val out = Rake.keywords(df, "text", 10).collect()
      .map(r => r.getAs[String]("phrase") ->
        (r.getAs[Long]("n"), r.getAs[Long]("score1000"))).toMap
    assert(out("red apple") === ((1L, 3500L)))
    assert(out("apple") === ((1L, 1500L)))
  }

  test("rake: punctuation breaks phrases") {
    val df = Seq("big dog, small dog").toDF("text")
    val out = Rake.keywords(df, "text", 10).collect()
      .map(_.getAs[String]("phrase")).toSet
    assert(out === Set("big dog", "small dog"))
  }

  test("gramMatrix: hand 2-d example with exact population covariance") {
    // vectors (1,2) and (3,4): all three cells have cov 1.0
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val out = Embeddings.gramMatrix(df, "embedding", dims = 2).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("gram_q"),
          r.getAs[Double]("cov"))).toMap
    assert(out.keySet === Set((0L, 0L), (0L, 1L), (1L, 1L)))
    assert(out((0L, 0L))._2 === 1.0e7)
    assert(out((0L, 1L))._2 === 1.4e7)
    assert(out((1L, 1L))._2 === 2.0e7)
    assert(out.values.forall(v => v._1 === 2L && math.abs(v._3 - 1.0) < 1e-12))
  }

  test("burst z: flat history then an impulse crosses 3 sigma") {
    def at(day: Int): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d 10:00:00")
    // 10/day for 7 days, then 30 on day 7: z = (30-10)/sqrt(10) ≈ 6.3
    val evs = (0 until 7).flatMap(d => Seq.fill(10)(("x", at(d)))) ++
      Seq.fill(30)(("x", at(7)))
    val df = evs.toDF("event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("dn").rowsBetween(-7, -1)
    val out = df.select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("dn"))
      .groupBy("event_type", "dn").agg(count(lit(1)).as("cnt"))
      .withColumn("cw", count(lit(1)).over(w))
      .withColumn("sumw",
        when(col("cw") === 7, sum(col("cnt")).over(w)))
      .withColumn("d7", lit(7L) * col("cnt") - col("sumw"))
      .select(col("dn"), col("cnt"),
        expr("""CASE WHEN sumw IS NULL OR sumw = 0 THEN NULL
            ELSE CAST(d7 AS DOUBLE)/(7.0*sqrt(CAST(sumw AS DOUBLE)/7.0))
            END""").as("z"))
      .orderBy("dn").collect()
    // days 0..6 have < 7 prior observed days -> NULL z
    assert(out.init.forall(_.isNullAt(2)))
    // day 7: d7 = 7·30 − 70 = 140, z = 140/(7·√10) = 20/√10 ≈ 6.32
    assert(math.abs(out.last.getAs[Double]("z") - 20.0 / math.sqrt(10.0))
      < 1e-9)
  }
}
