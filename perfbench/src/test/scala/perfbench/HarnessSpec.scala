package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def rows(g: TickGen, k: Int): Seq[Seq[Any]] = {
    val it = g.wideRows(k).iterator()
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().toSeq).toSeq
  }

  test("the same seed gives identical bars; another seed gives different bars") {
    val a = new TickGen(7, 12)
    val b = new TickGen(7, 12)
    val c = new TickGen(8, 12)
    for (k <- Seq(-1, 0, 5)) {
      assert(rows(a, k) == rows(b, k))
      assert(rows(a, k) != rows(c, k))
    }
  }

  test("a tick re-delivers 7/8 of the previous tick's keys and corrects a few") {
    val g = new TickGen(3, 40)
    val (h0, h1) = (g.hoursOf(4), g.hoursOf(5))
    assert(h0.intersect(h1).length == g.windowHours - g.stepHours)
    val redelivered = for (i <- 0 until 40; h <- h0.intersect(h1)) yield g.bar(i, h, 4) != g.bar(i, h, 5)
    val corrected = redelivered.count(identity)
    assert(corrected > 0 && corrected < redelivered.length / 10)
  }

  test("weekends have no rate; business days do") {
    val g = new TickGen(1, 4)
    val sat = java.time.LocalDate.of(2025, 1, 11)
    assert(g.rate("EUR", sat).isEmpty)
    assert(g.rate("EUR", sat.plusDays(2)).nonEmpty)
  }

  test("the tail rule needs at least 10 samples beyond the percentile") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(11) == Some(9))
    assert(Stats.tailPercentile(20) == Some(50))
    assert(Stats.tailPercentile(100) == Some(90))
    for (n <- 11 to 300) {
      val xs = (1 to n).map(_.toDouble)
      val (p, v) = Stats.tail(xs).get
      assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
      // one percentile higher would leave fewer than 10 beyond
      if (p < 100) assert(xs.count(_ > Stats.nearestRank(xs, p + 1)) < 10, s"n=$n p=$p")
    }
  }

  test("self time subtracts the union of direct children, not grandchildren") {
    val spans = Seq(
      Span(0, -1, "tick", 0, 100, "r"),
      Span(1, 0, "commit", 10, 50, "r"),
      Span(2, 1, "lake", 20, 40, "r"),
      Span(3, 0, "read", 40, 70, "r"), // overlaps commit by 10
      Span(4, 0, "read", 90, 120, "r")) // runs past its parent's end
    val self = SpanMath.selfTimes(spans)
    assert(self(0) == 100 - (70 - 10) - 10)
    assert(self(1) == 40 - 20)
    assert(self(2) == 20)
    assert(self(3) == 30)
  }

  test("interval union merges overlaps and ignores empty intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
    assert(Stats.clip(Seq((0L, 10L), (20L, 30L)), 5, 25) == Seq((5L, 10L), (20L, 25L)))
  }

  test("metric names use only the allowed characters") {
    assert(Stats.validName("lake.merge_quotes_s"))
    assert(Stats.validName("plans.GlobalRank.hits"))
    assert(!Stats.validName("_leading"))
    assert(!Stats.validName("has space"))
    assert(!Stats.validName("x" * 65))
    val q = (QuerySets.market ++ QuerySets.corpus).map(n => s"q.${n}_s")
    assert(q.forall(Stats.validName))
  }

  test("call-site frames map to their graft layer and method") {
    val o = Origin.of(
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:1)
        |graft.etl.CurrencyConverter$.distinctPairs(CurrencyConverter.scala:55)
        |graft.etl.Pipeline$.$anonfun$runLake$2(Pipeline.scala:250)
        |perfbench.Ingest.runTick(Ingest.scala:9)""".stripMargin)
    assert(o.layerClass == "graft.etl.CurrencyConverter")
    assert(o.has("graft.etl.CurrencyConverter.distinctPairs"))
    assert(o.lineOf("graft.etl.Pipeline.runLake") == Some(250))
    assert(Origin.of("perfbench.Main.main(Main.scala:1)").layerClass == "bench")
  }
}
