package graft.ops

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Golden-model tests for the ExactSubstr-style duplicated-span
  * detector: the engine's distributed anchor→digest-join→island
  * pipeline must reproduce a sequential single-machine model computed
  * with the same md5-nibble anchor rule.
  */
class SubstrDedupSpec extends AnyFunSuite with graft.GraftSuite {

  import spark.implicits._

  private val K = 30

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Sequential model: anchors, cross-doc digest cut, interval merge. */
  private def model(docs: Seq[(Long, String)])
      : Map[Long, Seq[(Long, Long, Long)]] = {
    val anchors = for {
      (id, t) <- docs
      i <- 1 to t.length - K + 1
      dg = md5hex(t.substring(i - 1, i - 1 + K))
      if dg.startsWith("0")
    } yield (id, i.toLong, dg)
    val dupDg = anchors.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    anchors.filter(a => dupDg(a._3))
      .groupBy(_._1)
      .map { case (id, as) =>
        val spans = as.map(_._2).sorted
          .foldLeft(Vector.empty[(Long, Long, Long)]) {
            case (acc :+ ((s, e, n)), p) if p <= e =>
              acc :+ ((s, math.max(e, p + K), n + 1))
            case (acc, p) => acc :+ ((p, p + K, 1L))
          }
        id -> spans
      }
  }

  // Long shared block so several of its 30-char windows anchor; the
  // distinct prefixes/suffixes shift the block to different offsets
  // in each doc — content-defined anchors must still line up.
  private val shared =
    "the quick brown fox jumps over the lazy dog while seventy seven " +
    "trombones led the big parade with a hundred and ten cornets close " +
    "at hand riding on a wave of golden horns and silver strings"
  private val docs = Seq(
    1L -> ("alpha preamble text before the block " + shared + " trailer one"),
    2L -> ("z " + shared + " a different much longer trailing segment two"),
    3L -> "entirely unrelated content that repeats nothing from the others",
    4L -> "short")

  test("dupSpans matches the sequential model and stays inside the shared block") {
    val got = SubstrDedup.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text", K)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1).toSeq
      }
    val want = model(docs)
    assert(want.keySet == Set(1L, 2L), "model sanity: the block must anchor")
    assert(got == want)
    // every reported span lies within the shared block's extent
    for ((id, t) <- docs if got.contains(id)) {
      val off = t.indexOf(shared) + 1
      for ((s, e, _) <- got(id)) {
        assert(s >= off && e <= off + shared.length)
      }
    }
  }

  test("dupStats aggregates the spans; unique and short docs are absent") {
    val got = SubstrDedup.dupStats(docs.toDF("doc_id", "text"), "doc_id", "text", K)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = model(docs).map { case (id, spans) =>
      id -> ((spans.size.toLong,
        spans.map(s => s._2 - s._1).sum, spans.map(_._3).sum))
    }
    assert(got == want)
    assert(!got.contains(3L) && !got.contains(4L))
  }

  test("scrubSpans removes exactly the spans; untouched docs pass through") {
    val spans = model(docs)
    val got = SubstrDedup.scrubSpans(docs.toDF("doc_id", "text"), "doc_id", "text", K)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, t) <- docs) {
      val want = spans.get(id) match {
        case None => t
        case Some(sp) =>
          // cut [start, end) spans (1-based, end-exclusive), back to front
          sp.sortBy(-_._1).foldLeft(t) { case (acc, (s, e, _)) =>
            acc.substring(0, s.toInt - 1) + acc.substring(e.toInt - 1)
          }
      }
      assert(got(id) == want, s"doc $id")
      // cut size matches the reported dup_chars
      assert(t.length - got(id).length ==
        spans.get(id).map(_.map(x => x._2 - x._1).sum).getOrElse(0L))
    }
  }

  test("within-doc repetition alone is not a duplicated span") {
    val rep = "x" * 10 + shared.take(60) + "y" * 10 + shared.take(60)
    val solo = Seq(9L -> rep, 10L -> "no overlap with anything here at all")
    val got = SubstrDedup.dupSpans(solo.toDF("doc_id", "text"), "doc_id", "text", K)
    assert(got.count() == 0L)
  }
}
