package perfbench

/** Tests of the benchmark's pure parts; `SelfTest [BENCHMARK.json]`.
  * Prints one line per passing test and exits non-zero on the first
  * failure. */
object SelfTest {
  private def test(name: String)(body: => Unit): Unit = {
    body
    println(s"ok $name")
  }

  private def eq[T](got: T, want: T): Unit =
    require(got == want, s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("tail percentile keeps ten samples beyond it") {
      eq(Stats.tailPercentile(5), None)
      eq(Stats.tailPercentile(20), Some(50.0))
      eq(Stats.tailPercentile(99), Some(50.0))
      eq(Stats.tailPercentile(100), Some(90.0))
      eq(Stats.tailPercentile(999), Some(90.0))
      eq(Stats.tailPercentile(1000), Some(99.0))
      eq(Stats.tailPercentile(10000), Some(99.9))
      for (n <- 1 to 20000; p <- Stats.tailPercentile(n))
        require(n * (1 - p / 100) >= 10 - 1e-9, s"n=$n p=$p")
    }

    test("quantiles interpolate between order statistics") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
      eq(Stats.quantile(Seq(0.0, 10.0), 0.9), 9.0)
    }

    test("self time subtracts the union of child intervals") {
      val p = Span(0, "p", -1, "r", 0, 100)
      def ch(a: Long, b: Long) = Span(1, "c", 0, "r", a, b)
      eq(Spans.selfNanos(p, Nil), 100L)
      // [10,50] merged from overlapping children, [60,70], [90,100] clipped
      eq(Spans.selfNanos(p, Seq(ch(20, 50), ch(10, 30), ch(60, 70),
        ch(90, 120))), 40L)
      eq(Spans.selfNanos(p, Seq(ch(0, 100), ch(40, 60))), 0L)
      eq(Spans.selfNanos(p, Seq(ch(100, 150))), 100L)
    }

    test("metric names use [A-Za-z0-9_.-] and start alphanumeric") {
      Seq("setup_s", "curate_batch.dedup.near.yield", "env.load1",
        "a-b_c.9").foreach(n => require(Stats.validName(n), n))
      Seq("", "_x", ".x", "a b", "a/b", "é", "x" * 65)
        .foreach(n => require(!Stats.validName(n), n))
    }

    test("generators repeat for a seed and differ across seeds") {
      eq(Gen.crawl(7, 500), Gen.crawl(7, 500))
      require(Gen.crawl(7, 500) != Gen.crawl(8, 500))
      // neighbouring seeds must not give shifted copies of one sequence
      val a = Gen.crawl(7, 50).pages.map(_.html).toSet
      require(Gen.crawl(8, 50).pages.count(p => a.contains(p.html)) == 0)
      eq(Gen.orderLog(7, 100, 400, 500), Gen.orderLog(7, 100, 400, 500))
    }

    test("planted structure matches the generator's own accounting") {
      val c = Gen.crawl(11, 2000)
      eq(c.pages.map(_.id).distinct.size, c.pages.size)
      eq(c.pages.map(_.group).distinct.size, c.groups)
      eq(c.pages.size, c.groups + c.exactCopies + c.nearCopies)
      require(c.pages.count(_.fate != Gen.Keep) == c.dropped)
      eq(c.clusterSize.size, c.groups - c.dropped)
    }

    args.headOption.foreach { path =>
      test("BENCHMARK.json names and units are well-formed") {
        val text = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        val names = "\"name\"\\s*:\\s*\"([^\"]*)\"".r
          .findAllMatchIn(text).map(_.group(1)).toSeq
        require(names.nonEmpty, "no names")
        eq(names.distinct.size, names.size)
        names.foreach(n => require(Stats.validName(n), n))
        "\"unit\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(text)
          .map(_.group(1)).foreach(u => require(u.nonEmpty && u.length <= 16 &&
            u.forall(c => c.isLetterOrDigit && c < 128 || "_/%.-".contains(c)), u))
      }
    }
  }
}
