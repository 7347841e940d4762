package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The fused bench forms compute their corpus queries: one instance of
  * `Bench.fused` minus its `__rep` tag is the corpus output, row for row
  * in order, and at two instances each `__rep` slice of a keyed query is.
  */
class FusedParitySpec extends SparkSpec {

  private val d = Bench.warmDir

  /** Numbers widened (integral to Long) so an Int and a Long id compare
    * equal; doubles are compared within 1e-9 relative.
    */
  private def norm(v: Any): Any = v match {
    case x: Byte => x.toLong
    case x: Short => x.toLong
    case x: Int => x.toLong
    case x: Float => x.toDouble
    case x: scala.collection.Seq[_] => x.map(norm)
    case x: Row => x.toSeq.map(norm)
    case x => x
  }

  private def same(a: Any, b: Any): Boolean = (norm(a), norm(b)) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x, y) => x == y
  }

  private def assertSameRows(what: String, got: Seq[Row], want: Seq[Row]): Unit = {
    assert(got.size == want.size, s"$what: ${got.size} rows vs ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(same(g, w), s"$what: row $i differs: $g vs $w")
    }
  }

  private def corpus(name: String): DataFrame = SparkEntry.queries(name)(spark, d)

  private val names = Seq("q1_agg", "j1_multiway_join", "w1_window", "a8_pivot",
    "sketch_kmv_distinct", "dedup_passages", "graph_pagerank", "ts_sessionize")

  // the queries whose fused output carries __rep in its keys
  private val keyed = Seq("q1_agg", "j1_multiway_join", "w1_window", "a8_pivot",
    "sketch_kmv_distinct")

  names.foreach { name =>
    test(s"$name: one fused instance equals the corpus query") {
      val want = corpus(name)
      val fused = Bench.fused(name, spark, d, 1)
      val got = if (fused.columns.contains("__rep")) fused.drop("__rep") else fused
      assert(got.columns.toSeq == want.columns.toSeq)
      val rows = want.collect().toSeq
      assert(rows.nonEmpty, s"$name is empty at $d: the check would be vacuous")
      assertSameRows(name, got.collect().toSeq, rows)
    }
  }

  keyed.foreach { name =>
    test(s"$name: each __rep slice of two fused instances equals the corpus query") {
      val want = corpus(name).collect().toSeq
      val fused = Bench.fused(name, spark, d, 2)
      assert(fused.columns.head == "__rep")
      val rows = fused.collect().toSeq
      assert(rows.map(_.getLong(0)).distinct == Seq(0L, 1L),
        s"$name: the replicas must come out in __rep order")
      Seq(0L, 1L).foreach { r =>
        val slice = rows.filter(_.getLong(0) == r)
          .map(row => Row.fromSeq(row.toSeq.tail))
        assertSameRows(s"$name __rep=$r", slice, want)
      }
    }
  }
}
