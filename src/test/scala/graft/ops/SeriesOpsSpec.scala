package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand examples for the calendar-series operators: seasonal
  * decomposition, lagged cross-correlation, sliding distinct actives,
  * and the readability counts. All are order-free integer folds, so
  * partition layout must not change a bit.
  */
class SeriesOpsSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  private def at(day: Int, hourOfDay: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-${day + 1}%02d $hourOfDay%02d:30:00")

  test("seasonalDecompose: constant series decomposes to zeros") {
    // one event per hour for 48 hours: trend 1.0 on complete windows,
    // seasonal and remainder exactly 0
    val rows = for (h <- 0 until 48) yield (h.toLong, at(h / 24, h % 24))
    val df = rows.toDF("id", "ts")
    val out = SeriesOps.seasonalDecompose(df, "ts").collect()
    assert(out.length === 48)
    val complete = out.filter(!_.isNullAt(2))
    assert(complete.length === 48 - 23) // 11 head + 12 tail edges null
    assert(complete.forall(_.getAs[Double]("trend") === 1.0))
    assert(complete.forall(_.getAs[Double]("remainder") === 0.0))
    assert(out.forall(r => math.abs(r.getAs[Double]("seasonal")) < 1e-12))
  }

  test("crossCorrelation: impulse alignment peaks at the true lag") {
    // b leads a by 2 days: a spikes day 7, b spikes day 5
    val evs = (0 to 9).flatMap { d =>
      val na = if (d == 7) 10 else 1
      val nb = if (d == 5) 10 else 1
      Seq.fill(na)(("purchase", at(d, 12))) ++
        Seq.fill(nb)(("click", at(d, 13)))
    }
    val df = evs.toDF("event_type", "ts")
    val r = SeriesOps
      .crossCorrelation(df, "event_type", "ts", "purchase", "click", 3)
      .collect().map(x => x.getAs[Long]("lag") ->
        (x.getAs[Long]("n_days"), x.getAs[Double]("r"))).toMap
    assert(r(2L)._2 > 0.999)
    assert(r(0L)._2 < 0.5)
    // lag L drops L pairs off the 10-day overlap
    assert(r(0L)._1 === 10L && r(3L)._1 === 7L)
  }

  test("slidingDistinctActives: hand-merged intervals") {
    // u1 {0,3} merges, u2 {8}, u3 {0,10} splits, u4 {3}
    val evs = Seq((1L, 0), (1L, 3), (2L, 8), (3L, 0), (3L, 10), (4L, 3))
      .map { case (u, d) => (u, at(d, 10)) }
    val df = evs.toDF("user_id", "ts")
    val out = SeriesOps.slidingDistinctActives(df, "user_id", "ts", 7)
      .orderBy("day_n").collect()
      .map(r => r.getAs[Long]("wau"))
    assert(out.toSeq === Seq(2L, 3L, 3L, 2L))
  }

  test("slidingDistinctActives: partition invariance") {
    val evs = (1 to 300).map { i =>
      ((i % 37).toLong, at(i % 28, i % 24))
    }
    def run(parts: Int): Seq[(Long, Long)] =
      SeriesOps.slidingDistinctActives(
        spark.createDataFrame(evs).toDF("user_id", "ts")
          .repartition(parts), "user_id", "ts", 7)
        .orderBy("day_n").collect()
        .map(r => (r.getAs[Long]("day_n"), r.getAs[Long]("wau"))).toSeq
    assert(run(1) === run(7))
  }

  test("readability counts on a hand sentence") {
    val df = Seq((1L, "Hello world. This is a test!")).toDF("doc_id", "text")
    val r = df.select(
      TextOps.wordCount(col("text")).as("n_words"),
      TextOps.sentenceCount(col("text")).as("n_sents"),
      TextOps.vowelGroupCount(col("text")).as("n_syll"))
      .withColumn("flesch", expr(TextOps.FleschExpr))
      .collect()(0)
    assert(r.getAs[Long]("n_words") === 6L)
    assert(r.getAs[Long]("n_sents") === 2L)
    assert(r.getAs[Long]("n_syll") === 7L)
    val expected = 206.835 - 1.015 * (6.0 / 2.0) - 84.6 * (7.0 / 6.0)
    assert(math.abs(r.getAs[Double]("flesch") - expected) < 1e-9)
  }
}
