package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("percentile: nearest rank, so p95 of 314 samples leaves 15 beyond it") {
    val xs = (1 to 314).map(_.toDouble)
    assert(Stats.percentile(xs, 95) == 299.0)
    assert(xs.count(_ > Stats.percentile(xs, 95)) == 15)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 50) == 5.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 100) == 3.0)
    assert(Stats.percentile(Seq(7.0), 1) == 7.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
  }

  test("failure accounting: a throwing or wrong-count call is failed, not dropped") {
    def count(n: Long)(expected: Option[Long]) =
      Op.run("q", "G")(n)(identity)(Op.checkCount(expected))
    val ops = Seq(
      count(5)(Some(5)),
      count(4)(Some(5)),
      count(5)(None),
      Op.run("q", "G")(throw new IllegalStateException("build"))((_: Long) => 1L)(_ => None),
      Op.run("q", "G")(1L)((_: Long) => throw new RuntimeException("execute"))(
        (_: Long) => None))
    assert(ops.map(_.ok) == Seq(true, false, false, false, false))
    assert(ops(1).error.get.contains("count 4, expected 5"))
    assert(ops(3).error.get.contains("build"))
    assert(ops(4).error.get.contains("execute"))
    assert(ops.count(!_.ok) == 4)
    // failures stay in the latency samples as +Infinity
    val lat = ops.map(_.latencyS)
    assert(lat.size == 5 && lat.count(_.isInfinite) == 4)
    assert(Stats.percentile(lat, 50).isInfinite)
    assert(Stats.percentile(lat, 20).isFinite)
  }

  test("a call's time splits into build and execute") {
    val op = Op.run("q", "G") { Thread.sleep(20); 1L } { n => Thread.sleep(20); n }(_ => None)
    assert(op.buildS >= 0.02 && op.executeS >= 0.02)
    assert(math.abs(op.buildS + op.executeS - op.latencyS) < 1e-9)
  }

  test("seeded order: a permutation fixed by (seed, pass), whatever the input order") {
    val names = (1 to 50).map(i => f"q$i%02d")
    val a = Order.permute(names, 7, 0)
    assert(a.sorted == names.sorted)
    assert(Order.permute(names.reverse, 7, 0) == a)
    assert(Order.permute(names, 7, 1) != a)
    assert(Order.permute(names, 8, 0) != a)
  }

  test("query modules: every SparkEntry query is attributed to one of the four") {
    val modules = Contract.modules(Paths.get("../src/main/scala/graft/SparkEntry.scala"))
    assert(modules.keySet == graft.SparkEntry.queries.keySet)
    assert(modules.values.toSet == Contract.Modules.values.toSet)
  }

  test("expected rows: one recorded count per query") {
    val rows = Contract.expectedRows(Paths.get("expected/sf0.01_rows.json"))
    assert(rows.keySet == graft.SparkEntry.queries.keySet)
  }

  test("selection: 15 queries in the modules' library shares, with a kernel-head query") {
    val modules = Contract.modules(Paths.get("../src/main/scala/graft/SparkEntry.scala"))
    val sel = Contract.Selection
    assert(sel.distinct.size == 15 && sel.forall(graft.SparkEntry.queries.contains))
    assert(sel.groupBy(modules).view.mapValues(_.size).toMap == Map(
      "EventQueries" -> 8, "TextQueries" -> 4, "RelationalQueries" -> 2, "CurationQueries" -> 1))
    assert(sel.exists(q => Seq("q279", "q179", "q297", "q126").exists(h => q.startsWith(h + "_"))))
  }

  test("generator: the same rows at any partition count, other rows for another seed") {
    val spark = SparkSession.builder().master("local[2]").appName("RrDataSpec")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val scale = RrData.Scale(5000)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val e1 = rows(RrData.events(spark, scale, 11, 1))
      assert(e1.size == 5000)
      assert(rows(RrData.events(spark, scale, 11, 7)) == e1)
      assert(rows(RrData.events(spark, scale, 12, 3)) != e1)
      assert(rows(RrData.props(spark, scale, 11, 1)) == rows(RrData.props(spark, scale, 11, 5)))
      // BaselineBench's event mix: ~94.1% views, ~2.4% add-to-carts
      val kinds = RrData.events(spark, RrData.Scale(100000), 11, 4)
        .groupBy("event").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(math.abs(kinds("view") / 1e5 - 0.941) < 0.005)
      assert(math.abs(kinds("addtocart") / 1e5 - 0.024) < 0.003)
    } finally spark.stop()
  }
}
