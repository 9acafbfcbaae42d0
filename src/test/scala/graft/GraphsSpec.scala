package graft

import graft.graph.Graphs
import org.apache.spark.sql.functions._

/** PageRank power iteration: hand-replayed recurrence, mass
  * conservation, dangling handling, determinism. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  // A->B, A->C, B->C; C dangling
  private def triangle = Seq(("A", "B"), ("A", "C"), ("B", "C")).toDF("s", "d")

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank matches the recurrence replayed by hand") {
    val got = ranksOf(Graphs.pageRank(triangle, "s", "d", iterations = 4))
    // replay the same damped recurrence in plain scala
    var r = Map("A" -> 1.0 / 3, "B" -> 1.0 / 3, "C" -> 1.0 / 3)
    val deg = Map("A" -> 2.0, "B" -> 1.0)
    val in = Map("A" -> Seq(), "B" -> Seq("A"), "C" -> Seq("A", "B"))
    for (_ <- 1 to 4) {
      val dangling = r("C")
      r = r.keys.map { v =>
        val contrib = in(v).map(u => r(u) / deg(u)).sum
        v -> (0.15 / 3 + 0.85 * (contrib + dangling / 3))
      }.toMap
    }
    r.foreach { case (v, expect) =>
      assert(math.abs(got(v) - expect) < 1e-12, s"$v: got ${got(v)}, want $expect")
    }
    // dangling redistribution conserves total mass exactly
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // authority ordering: C receives from both, B from one, A from none
    assert(got("C") > got("B") && got("B") > got("A"))
  }

  test("pageRank: parallel edges collapse, nulls drop, determinism") {
    val messy = triangle
      .unionByName(Seq(("A", "B")).toDF("s", "d")) // parallel edge
      .unionByName(Seq((null.asInstanceOf[String], "B")).toDF("s", "d"))
    val a = ranksOf(Graphs.pageRank(messy, "s", "d", iterations = 3))
    val b = ranksOf(Graphs.pageRank(triangle, "s", "d", iterations = 3))
    assert(a == b)
  }

  test("pageRank: driver-local fast path ≡ distributed loop (r21)") {
    // a denser asymmetric graph: hub, chain, dangling sink, self-loop
    val g = Seq(
      ("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("C", "A"),
      ("D", "E"), ("E", "A"), ("B", "E"), ("C", "C"), ("F", "A"))
      .toDF("s", "d")
    def rows(bound: Int): Seq[(String, Double)] =
      Graphs.pageRankImpl(g, "s", "d", iterations = 7, damping = 0.85, bound)
        .orderBy("id").as[(String, Double)].collect().toSeq
    val local = rows(Graphs.LocalPrMaxEdges)
    val dist = rows(0) // gate off: the unchanged distributed loop
    assert(local.map(_._1) === dist.map(_._1))
    local.zip(dist).foreach { case (l, d) =>
      // both paths run the identical contraction; the operator contract
      // is agreement under the 6-decimal rounding every caller applies
      assert(math.abs(l._2 - d._2) < 1e-9, s"rank at ${l._1}: ${l._2} vs ${d._2}")
    }
    // schema parity: the full StructType — names, types, nullability and
    // metadata (the id column carries metadata through the src ∪ dst union)
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("src", "hosts").build()
    val tagged = g.withColumn("s", $"s".as("s", meta))
    val lf = Graphs.pageRankImpl(tagged, "s", "d", 1, 0.85, Graphs.LocalPrMaxEdges)
    val df = Graphs.pageRankImpl(tagged, "s", "d", 1, 0.85, 0)
    assert(lf.schema === df.schema, s"${lf.schema.treeString} vs ${df.schema.treeString}")
    // mass conservation on the local path
    assert(math.abs(local.map(_._2).sum - 1.0) < 1e-9)
  }
}
