package graftbench

import org.apache.spark.sql.Row

/** The benchmark's arithmetic and its result checker, kept free of Spark
  * state so [[SelfCheck]] can exercise them on planted inputs.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Medians of four consecutive quarters of a series: drift within a run. */
  def quarters(xs: Seq[Double]): Seq[Double] =
    if (xs.length < 4) Nil else xs.grouped(math.ceil(xs.length / 4.0).toInt).map(median).toSeq

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail rule: the highest percentile, capped at 99, that still has at
    * least ten samples above it. With n samples sorted ascending that is
    * the (n-10)th-smallest sample, read as percentile 100·(n-10)/n; at
    * n ≥ 1000 the cap applies and it is the nearest-rank 99th percentile.
    * Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 11, s"tail needs at least 11 samples, got ${xs.length}")
    val s = xs.sorted
    val n = s.length
    // nearest rank, 1-based, in integer arithmetic: ceil(0.99·n) or n-10
    val rank = math.min((99 * n + 99) / 100, n - 10)
    (s(rank - 1), math.min(99.0, 100.0 * rank / n))
  }

  /** Floating values compared to 9 significant digits: two correct plans
    * may add the same doubles in different orders.
    */
  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => if (d == 0.0) "0" else f"$d%.8e"
    case f: Float => norm(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case o => o.toString
  }

  /** Rows as a sorted multiset of normalised strings. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(norm).sorted

  /** Empty when `got` equals `want` as a multiset of rows; otherwise a
    * one-line description of the first difference.
    */
  def diff(got: Seq[Row], want: Seq[Row]): Option[String] = {
    val (g, w) = (canon(got), canon(want))
    if (g == w) None
    else {
      val missing = w.diff(g)
      val extra = g.diff(w)
      Some(s"got ${g.length} rows, want ${w.length}; missing ${missing.take(2).mkString(" ")}" +
        s"; unexpected ${extra.take(2).mkString(" ")}")
    }
  }
}

/** Checks of the arithmetic and the checker on planted inputs; any
  * failure aborts the run before anything is measured.
  */
object SelfCheck {
  private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  def failures(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) out += what

    expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of odd count")
    expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "median of even count")
    expect(near(Stats.geomean(Seq(1.0, 10.0, 100.0)), 10.0), "geomean of 1,10,100")
    expect(near(Stats.geomean(Seq(2.0, 8.0)), 4.0), "geomean of 2,8")
    val hundred = (1 to 100).map(_.toDouble)
    // 100 samples: percentile 90, the 90th value, ten samples above it
    expect(Stats.tail(hundred) == ((90.0, 90.0)), s"tail of 1..100 = ${Stats.tail(hundred)}")
    val eleven = (1 to 11).map(_.toDouble)
    expect(Stats.tail(eleven)._1 == 1.0, "tail of 11 samples is the smallest")
    val thousands = (1 to 2000).map(_.toDouble)
    // capped at p99: nearest rank 1980, twenty samples above it
    expect(Stats.tail(thousands) == ((1980.0, 99.0)), s"tail of 1..2000 = ${Stats.tail(thousands)}")
    (11 to 500 by 7).foreach { n =>
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val v = Stats.tail(xs)._1
      expect(xs.count(_ > v) >= 10, s"tail of $n samples leaves fewer than ten above")
    }

    val want = Seq(Row(1L, "user_1", 1.0), Row(2L, "user_2", 2.0))
    expect(Stats.diff(want.reverse, want).isEmpty, "row order must not matter")
    expect(Stats.diff(Seq(Row(1L, "user_1", 1.0), Row(2L, "user_2", 2.0 + 1e-13)), want).isEmpty,
      "float noise below 9 digits must not matter")
    expect(Stats.diff(Seq(Row(1L, "user_1", 1.0), Row(2L, "user_X", 2.0)), want).nonEmpty,
      "checker missed a planted wrong row")
    expect(Stats.diff(Seq(Row(1L, "user_1", 1.0)), want).nonEmpty, "checker missed a planted missing row")
    expect(Stats.diff(want :+ want.head, want).nonEmpty, "checker missed a planted duplicate row")
    out.toSeq
  }
}
