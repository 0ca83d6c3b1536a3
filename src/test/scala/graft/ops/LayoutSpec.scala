package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ZOrderExpression

/** Z-order layout: key correctness against a naive bit model, and the
  * actual file-skipping claim — a z-clustered write bounds BOTH
  * dimensions per file, so multi-dimension predicates touch fewer
  * files than under a 1-d sort (measured on real per-file min/max
  * stats, the same statistics parquet footer pruning uses).
  */
class LayoutSpec extends AnyFunSuite with graft.GraftSuite with graft.TempDirs {

  import spark.implicits._

  test("zOrderKey matches the naive per-bit interleave incl. masking") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(0L, 1L, 2L, 3L, 0x7FFFFFFFL, -1L, Long.MaxValue) ++
      (1 to 200).map(_ => rnd.nextLong())
    def naive(x: Long, y: Long): Long = {
      var z = 0L
      for (i <- 0 until 31) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val df = cases.zip(cases.reverse).toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrderExpression.zOrderKey(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == naive(r.getLong(0), r.getLong(1)))
      assert(r.getLong(2) >= 0L, "62-bit key must be non-negative")
    }
  }

  test("z-clustered files prune better than a 1-d sort for 2-d predicates") {
    val n = 32
    val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("od"))
    val tmp = tempDir("graft-zorder")
    val zDir = tmp.resolve("z").toString
    val cDir = tmp.resolve("c").toString
    Layout.clusterByZOrder(orders, col("o_custkey"), col("od"), n)
      .write.mode("overwrite").parquet(zDir)
    orders.repartitionByRange(n, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite").parquet(cDir)

    case class FileBox(xlo: Long, xhi: Long, ylo: Long, yhi: Long)
    def stats(dir: String): Seq[FileBox] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("o_custkey").as("xlo"), max("o_custkey").as("xhi"),
          min("od").as("ylo"), max("od").as("yhi"))
        .collect()
        .map(r => FileBox(r.getAs[Long]("xlo"), r.getAs[Long]("xhi"),
          r.getAs[Long]("ylo"), r.getAs[Long]("yhi"))).toSeq
    val zStats = stats(zDir)
    val cStats = stats(cDir)
    assert(zStats.size == n && cStats.size == n)

    val bounds = orders.agg(min("o_custkey"), max("o_custkey"),
      min("od"), max("od")).head()
    val (xmin, xmax, ymin, ymax) =
      (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2), bounds.getLong(3))
    def touched(s: Seq[FileBox], xlo: Long, xhi: Long, ylo: Long, yhi: Long): Int =
      s.count(b => b.xlo <= xhi && b.xhi >= xlo && b.ylo <= yhi && b.yhi >= ylo)
    def mid(lo: Long, hi: Long, num: Int, den: Int): Long = lo + (hi - lo) * num / den

    // date-only slice (middle eighth of the date domain): the
    // custkey-sorted layout cannot prune AT ALL, z-order can
    val (dlo, dhi) = (mid(ymin, ymax, 7, 16), mid(ymin, ymax, 9, 16))
    val zDate = touched(zStats, xmin, xmax, dlo, dhi)
    val cDate = touched(cStats, xmin, xmax, dlo, dhi)
    assert(cDate == n, s"1-d custkey sort should touch all $n files, got $cDate")
    assert(zDate * 2 <= n, s"z-order should skip >= half the files, touched $zDate/$n")

    // 2-d box (middle eighth in both dims): z-order must also prune
    val (klo, khi) = (mid(xmin, xmax, 7, 16), mid(xmin, xmax, 9, 16))
    val zBox = touched(zStats, klo, khi, dlo, dhi)
    assert(zBox * 2 <= n, s"z-order box touched $zBox/$n files")
  }

  test("hilbert-clustered files prune at least as well as z-order on 2-d boxes") {
    val n = 32
    val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("od"))
    val tmp = tempDir("graft-hilbert")
    val hDir = tmp.resolve("h").toString
    val zDir = tmp.resolve("z").toString
    Layout.clusterByHilbert(orders, col("o_custkey"), col("od"), n)
      .write.mode("overwrite").parquet(hDir)
    Layout.clusterByZOrder(orders, col("o_custkey"), col("od"), n)
      .write.mode("overwrite").parquet(zDir)
    def stats(dir: String) =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("o_custkey").as("xlo"), max("o_custkey").as("xhi"),
          min("od").as("ylo"), max("od").as("yhi"))
        .collect()
        .map(r => (r.getAs[Long]("xlo"), r.getAs[Long]("xhi"),
          r.getAs[Long]("ylo"), r.getAs[Long]("yhi"))).toSeq
    val hs = stats(hDir)
    val zs = stats(zDir)
    assert(hs.size == n && zs.size == n)
    val b = orders.agg(min("o_custkey"), max("o_custkey"),
      min("od"), max("od")).head()
    val (xmin, xmax, ymin, ymax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    def touched(s: Seq[(Long, Long, Long, Long)],
        xlo: Long, xhi: Long, ylo: Long, yhi: Long): Int =
      s.count { case (fxlo, fxhi, fylo, fyhi) =>
        fxlo <= xhi && fxhi >= xlo && fylo <= yhi && fyhi >= ylo }
    def mid(lo: Long, hi: Long, num: Int, den: Int): Long =
      lo + (hi - lo) * num / den
    // sum of files touched over a 4×4 grid of box probes — an
    // aggregate locality comparison, robust to any single lucky box
    var hTot = 0
    var zTot = 0
    for (i <- 0 until 4; j <- 0 until 4) {
      val (xl, xh) = (mid(xmin, xmax, 4 * i + 1, 16), mid(xmin, xmax, 4 * i + 3, 16))
      val (yl, yh) = (mid(ymin, ymax, 4 * j + 1, 16), mid(ymin, ymax, 4 * j + 3, 16))
      hTot += touched(hs, xl, xh, yl, yh)
      zTot += touched(zs, xl, xh, yl, yh)
    }
    assert(hTot <= zTot,
      s"hilbert touched $hTot files over the probe grid vs z-order's $zTot")
    // and both prune: far fewer than all files on every probe
    assert(hTot < 16 * n / 2, s"hilbert grid total $hTot of ${16 * n}")
  }

  test("hilbertKey matches the reference transform; consecutive keys are adjacent") {
    import graft.functions.HilbertExpression
    val rnd = new scala.util.Random(11)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (-1L, 123456789L), (Long.MaxValue, 7L)) ++
      (1 to 300).map(_ => (rnd.nextLong(), rnd.nextLong()))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"),
        HilbertExpression.hilbertKey(col("x"), col("y")).as("h"))
      .collect()
    got.foreach { r =>
      val want = HilbertExpression.xy2d(r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == want && want >= 0L && want < (1L << 32))
    }
    // the locality property that separates Hilbert from Morton:
    // walking the curve in key order moves EXACTLY one cell per step
    // (|dx| + |dy| = 1, always) — the z-curve violates this at every
    // power-of-two boundary. Check with the textbook INVERSE
    // transform: d2xy round-trips through xy2d (bijectivity on the
    // walked range) and consecutive keys land on adjacent cells.
    def d2xy(dIn: Long): (Long, Long) = {
      var x = 0L; var y = 0L; var t = dIn; var s = 1L
      while (s < HilbertExpression.N) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0L) {
          if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx; y += s * ry
        t /= 4; s *= 2
      }
      (x, y)
    }
    var prev = d2xy(0L)
    assert(HilbertExpression.xy2d(prev._1, prev._2) == 0L)
    for (d <- 1L to 30000L) {
      val cur = d2xy(d)
      assert(HilbertExpression.xy2d(cur._1, cur._2) == d, s"round-trip at $d")
      assert(math.abs(cur._1 - prev._1) + math.abs(cur._2 - prev._2) == 1,
        s"keys ${d - 1} -> $d jump from $prev to $cur")
      prev = cur
    }
  }

  test("hilbertKeyN is a unit-step bijection on full 3-d and 4-d cubes") {
    import graft.functions.HilbertExpression
    // EXHAUSTIVE validity proof on the whole cube: the key visits
    // every cell exactly once (bijection) and consecutive keys are
    // adjacent cells (Manhattan distance exactly 1) — together these
    // ARE the definition of a Hilbert tour; no property is left to
    // spot checks. d=3 at 5 bits = 32768 cells; d=4 at 3 bits = 4096.
    for ((dims, bits) <- Seq((3, 5), (4, 3))) {
      val side = 1L << bits
      val total = 1L << (bits * dims)
      def coords(c: Long): Array[Long] =
        Array.tabulate(dims)(i => (c >> (i * bits)) & (side - 1))
      val byKey = new Array[Long](total.toInt)
      java.util.Arrays.fill(byKey, -1L)
      var c = 0L
      while (c < total) {
        val k = HilbertExpression.axesToHilbert(coords(c), bits)
        assert(k >= 0 && k < total && byKey(k.toInt) == -1L,
          s"d=$dims: key $k out of range or duplicated")
        byKey(k.toInt) = c
        c += 1
      }
      var i = 1
      while (i < total) {
        val a = coords(byKey(i - 1))
        val b = coords(byKey(i))
        val dist = a.zip(b).map(t => math.abs(t._1 - t._2)).sum
        assert(dist == 1, s"d=$dims: keys ${i - 1} -> $i jump $dist cells")
        i += 1
      }
    }
    // the codegen'd expression computes the same static transform
    // (masking included) — random + boundary cases at d=3, 16 bits
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L, 0L), (65535L, 65535L, 65535L),
      (-1L, 5L, Long.MaxValue)) ++
      (1 to 200).map(_ => (rnd.nextLong(), rnd.nextLong(), rnd.nextLong()))
    val got = cases.toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        Layout.hilbertKeyN(16)(col("x"), col("y"), col("z")).as("h"))
      .collect()
    got.foreach { r =>
      val want = HilbertExpression.axesToHilbert(
        Array(r.getLong(0), r.getLong(1), r.getLong(2)), 16)
      assert(r.getLong(3) == want && want >= 0L && want < (1L << 48))
    }
  }

  test("3-d hilbert-clustered files prune 3-d boxes better than 1-d or 2-d layouts") {
    val n = 32
    val li = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("od"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("tp"))
    val tmp = tempDir("graft-h3")
    val h3Dir = tmp.resolve("h3").toString
    val z3Dir = tmp.resolve("z3").toString
    val h2Dir = tmp.resolve("h2").toString
    val sDir = tmp.resolve("s").toString
    // pre-scale EVERY dim onto the full [0, 2^16) key domain: a curve
    // far finer than the occupied data region visits the populated
    // corner in scattered stretches and file boxes degrade to near
    // the full domain — resolution must match data spread (the same
    // rule a production OPTIMIZE applies when it quantile-buckets
    // cluster columns before keying)
    val b0 = li.agg(
      min("o_custkey").as("xlo"), max("o_custkey").as("xhi"),
      min("od").as("ylo"), max("od").as("yhi"),
      min("tp").as("zlo"), max("tp").as("zhi"))
    val scaled = li.crossJoin(broadcast(b0))
      .withColumn("cks",
        ((col("o_custkey") - col("xlo")) * 65535L /
          (col("xhi") - col("xlo"))).cast("long"))
      .withColumn("ods",
        ((col("od") - col("ylo")) * 65535L / (col("yhi") - col("ylo")))
          .cast("long"))
      .withColumn("tps",
        ((col("tp") - col("zlo")) * 65535L / (col("zhi") - col("zlo")))
          .cast("long"))
    Layout.clusterByHilbertN(scaled, n, 16,
      col("cks"), col("ods"), col("tps"))
      .write.mode("overwrite").parquet(h3Dir)
    Layout.clusterByZOrderN(scaled, n, 16,
      col("cks"), col("ods"), col("tps"))
      .write.mode("overwrite").parquet(z3Dir)
    Layout.clusterByHilbert(scaled, col("cks"), col("ods"), n)
      .write.mode("overwrite").parquet(h2Dir)
    scaled.repartitionByRange(n, col("cks"))
      .sortWithinPartitions(col("cks"))
      .write.mode("overwrite").parquet(sDir)
    def stats(dir: String) =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("cks").as("xlo"), max("cks").as("xhi"),
          min("ods").as("ylo"), max("ods").as("yhi"),
          min("tps").as("zlo"), max("tps").as("zhi"))
        .collect()
        .map(r => (r.getAs[Long]("xlo"), r.getAs[Long]("xhi"),
          r.getAs[Long]("ylo"), r.getAs[Long]("yhi"),
          r.getAs[Long]("zlo"), r.getAs[Long]("zhi"))).toSeq
    val (h3, z3, h2, s1) = (stats(h3Dir), stats(z3Dir), stats(h2Dir), stats(sDir))
    assert(h3.size == n && z3.size == n && h2.size == n && s1.size == n)
    val b = scaled.agg(min("cks"), max("cks"),
      min("ods"), max("ods"), min("tps"), max("tps")).head()
    def mid(lo: Long, hi: Long, num: Int, den: Int): Long =
      lo + (hi - lo) * num / den
    def touched(st: Seq[(Long, Long, Long, Long, Long, Long)],
        p: (Long, Long, Long, Long, Long, Long)): Int =
      st.count(f => f._1 <= p._2 && f._2 >= p._1 && f._3 <= p._4 &&
        f._4 >= p._3 && f._5 <= p._6 && f._6 >= p._5)
    // Probe ensemble: for EACH axis, 9 slices narrow (1/9 width) in
    // that axis and unbounded in the others — the "a predicate on any
    // one of the clustered columns prunes" contract a multi-dim
    // layout is bought for. The 1-d sort bounds only x, the 2-d key
    // bounds x and y (every z-slice touches all its files); only the
    // 3-d key gives every axis per-file bounds. (A grid of tiny 3-d
    // boxes would NOT show this at 32 files: per-axis resolution goes
    // as files^(1/d), so 2-d boxes are individually tighter — the
    // 3-d win is coverage of all axes, and that is what we assert.)
    val axes = Seq(
      (b.getLong(0), b.getLong(1)), (b.getLong(2), b.getLong(3)),
      (b.getLong(4), b.getLong(5)))
    var t3 = 0; var t3z = 0; var t2 = 0; var ts = 0
    for (axis <- 0 until 3; i <- 0 until 9) {
      val full = axes.map { case (lo, hi) => (lo, hi) }
      val (lo, hi) = axes(axis)
      val slice = full.updated(axis,
        (mid(lo, hi, 9 * i + 4, 81), mid(lo, hi, 9 * i + 5, 81)))
      val probe = (slice(0)._1, slice(0)._2, slice(1)._1, slice(1)._2,
        slice(2)._1, slice(2)._2)
      t3 += touched(h3, probe); t3z += touched(z3, probe)
      t2 += touched(h2, probe); ts += touched(s1, probe)
    }
    assert(t3 < t2 && t3 < ts,
      s"3-d hilbert touched $t3 files vs 2-d $t2 / 1-d sort $ts")
    // same dimensionality, rotation-free curve: measured, the 3-d
    // Morton key's looser per-file boxes roughly CANCEL its extra
    // bounded axis against the tighter 2-d hilbert at this
    // file count (436 vs 423 on first capture) — at 32 files the
    // Hilbert rotation is what makes the third dimension pay, which
    // is exactly why both keys ship. Assert what the data supports:
    // 3-d z beats the 1-d sort, and the rotation never loses to the
    // rotation-free curve (the 2-d invariant, one d up).
    assert(t3z < ts,
      s"3-d z-order touched $t3z files vs 1-d sort $ts")
    assert(t3 <= t3z,
      s"3-d hilbert touched $t3 files vs 3-d z-order's $t3z")
  }

  test("zOrderKeyN matches the per-bit model; d=2/31-bit is the classic interleave") {
    import graft.functions.ZOrderExpression
    def naive(xs: Seq[Long], bits: Int): Long = {
      val mask = (1L << bits) - 1
      var d = 0L
      for (b <- bits - 1 to 0 by -1; x <- xs)
        d = (d << 1) | (((x & mask) >> b) & 1L)
      d
    }
    val rnd = new scala.util.Random(23)
    for (dims <- 2 to 4; bits <- Seq(1, 4, 63 / dims)) {
      for (_ <- 1 to 100) {
        val xs = Seq.fill(dims)(rnd.nextLong())
        val got = ZOrderExpression.interleaveN(xs.toArray, bits)
        assert(got == naive(xs, bits) && got >= 0L,
          s"d=$dims bits=$bits xs=$xs")
      }
    }
    // d=2 at 31 bits is the classic spread-interleave with the
    // dimension roles swapped (MSB-first packing puts the LAST dim
    // at the even positions)
    for (_ <- 1 to 200) {
      val (x, y) = (rnd.nextLong(), rnd.nextLong())
      assert(ZOrderExpression.interleaveN(Array(x, y), 31) ==
        ZOrderExpression.interleave(y, x))
    }
    // the codegen'd expression computes the static transform
    val cases = (1 to 100).map(_ =>
      (rnd.nextLong(), rnd.nextLong(), rnd.nextLong()))
    val got = cases.toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        Layout.zKeyN(16)(col("x"), col("y"), col("z")).as("zk"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(3) == ZOrderExpression.interleaveN(
        Array(r.getLong(0), r.getLong(1), r.getLong(2)), 16))
    }
  }
}
