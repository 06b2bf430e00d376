package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (String, String)*) = es.toDF("src", "dst")

  /** Reference implementation: dense driver-side PageRank with the same
    * dangling-redistribution semantics, for cross-checking the
    * distributed operator on small graphs. */
  private def densePageRank(es: Seq[(String, String)], iters: Int,
      d: Double = 0.85): Map[String, Double] = {
    val dedup = es.distinct
    val nodes = dedup.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = dedup.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(pr).sum
      val contrib = dedup.groupBy(_._2).view.mapValues(
        _.map(e => pr(e._1) / out(e._1)).sum).toMap
      pr = nodes.map(v => v ->
        ((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    pr
  }

  private val diamond = Seq( // b,c feed d; d is dangling; a fans out
    ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))

  test("pageRank matches the dense reference on a dangling diamond") {
    val got = Graphs.pageRank(edges(diamond: _*), iterations = 3)
      .as[(String, Double)].collect().toMap
    val want = densePageRank(diamond, 3)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}") }
  }

  test("rank mass is conserved (sums to 1) with dangling redistribution") {
    for (iters <- Seq(0, 1, 4)) {
      val total = Graphs.pageRank(edges(diamond: _*), iters)
        .agg(sum(col("pr"))).head().getDouble(0)
      assert(math.abs(total - 1.0) < 1e-9, s"iters=$iters total=$total")
    }
  }

  test("distributed path (threshold 0) equals the small-graph driver path") {
    val dist = Graphs.pageRank(edges(diamond: _*), 3, smallGraphThreshold = 0L)
      .as[(String, Double)].collect().toMap
    val local = Graphs.pageRank(edges(diamond: _*), 3)
      .as[(String, Double)].collect().toMap
    assert(dist.keySet == local.keySet)
    dist.foreach { case (k, v) => assert(math.abs(v - local(k)) < 1e-12, s"$k") }
  }

  test("multi-edges are deduplicated: a repeated link is one vote") {
    val noisy = diamond ++ Seq(("a", "b"), ("a", "b"))
    val got = Graphs.pageRank(edges(noisy: _*), 2).as[(String, Double)].collect().toMap
    val clean = Graphs.pageRank(edges(diamond: _*), 2).as[(String, Double)].collect().toMap
    got.foreach { case (k, v) => assert(math.abs(v - clean(k)) < 1e-12) }
  }

  test("a cycle converges toward uniform; a sink pair accumulates from its feeder") {
    val cycle = Seq(("x", "y"), ("y", "z"), ("z", "x"))
    val pr = Graphs.pageRank(edges(cycle: _*), 10).as[(String, Double)].collect().toMap
    pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9))
    // feeder → sink: the sink must outrank the feeder
    val pair = Graphs.pageRank(edges(("u", "v")), 5).as[(String, Double)].collect().toMap
    assert(pair("v") > pair("u"))
  }

  test("degreeStats counts distinct in/out edges with zero-filled absences") {
    val st = Graphs.degreeStats(edges(diamond :+ ("a", "b"): _*))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(st == Seq(("a", 2L, 0L), ("b", 1L, 1L), ("c", 1L, 1L), ("d", 0L, 2L)))
  }

  test("empty edge list yields an empty ranking") {
    assert(Graphs.pageRank(edges(), 3).count() == 0)
  }

  test("reachability: BFS min-depths, unreachable nodes excluded, early exit under the cap") {
    // a → b → c → d, a → c shortcut, e isolated, cycle back d → a
    val g = edges(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"))
    val src = Seq("a").toDF("node")
    val got = Graphs.reachability(g, src, maxDepth = 10)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    // shortcut wins: c at depth 1, not 2; cycle does not revisit a
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    // depth cap truncates the walk
    val capped = Graphs.reachability(g, src, maxDepth = 1)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(capped === Map("a" -> 0, "b" -> 1, "c" -> 1))
    // multi-source: seeds at depth 0, shared frontier merges
    val multi = Graphs.reachability(g, Seq("a", "d").toDF("node"), maxDepth = 10)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(multi === Map("a" -> 0, "d" -> 0, "b" -> 1, "c" -> 1))
  }

  test("reachability: driver BFS fast path equals the distributed loop") {
    // shortcut + cycle + a dst-only node reached through two hops
    val g = edges(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"),
      ("c", "e"))
    val src = Seq("a").toDF("node")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1))).toMap
    // smallGraphThreshold = 0 pins the distributed path; default takes local
    val dist = asMap(Graphs.reachability(g, src, maxDepth = 10,
      smallGraphThreshold = 0L))
    val local = asMap(Graphs.reachability(g, src, maxDepth = 10))
    assert(local === dist)
    // depth cap agrees across paths too
    val dist1 = asMap(Graphs.reachability(g, src, maxDepth = 1,
      smallGraphThreshold = 0L))
    val local1 = asMap(Graphs.reachability(g, src, maxDepth = 1))
    assert(local1 === dist1)
    // a small edge list with more sources than the threshold falls
    // through to the distributed loop, which starts from the same sources
    val many = (Seq("a") ++ (1 to 6).map("z" + _)).toDF("node")
    assert(asMap(Graphs.reachability(g, many, maxDepth = 10, smallGraphThreshold = 6L)) ===
      asMap(Graphs.reachability(g, many, maxDepth = 10)))
    // long-id graphs (the x_graph_reach shape) keep their column type
    val gl = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val rl = Graphs.reachability(gl, Seq(0L).toDF("node"), maxDepth = 10)
    assert(rl.schema("node").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rl.collect().map(r => (r.getLong(0), r.getInt(1))).toMap ===
      Map(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("triangleStats: K4 has 4 triangles and clustering 1.0") {
    val k4 = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b) yield (a, b)
    val r = Graphs.triangleStats(edges(k4: _*)).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) == (4L, 6L, 4L, 1.0))
  }

  test("triangleStats ignores direction, duplicates and self-loops") {
    // triangle a-b-c plus a pendant d, written with reversals/dups/loops
    val r = Graphs.triangleStats(edges(
      ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a"), ("c", "d"), ("c", "d"))).collect()(0)
    // wedges: deg a=2,b=2,c=3,d=1 → 1+1+3+0 = 5; clustering = 3/5
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) == (4L, 4L, 1L, 0.6))
  }

  test("triangleStats: triangle-free bipartite graph reports zero") {
    val bip = for (a <- Seq("l1", "l2"); b <- Seq("r1", "r2")) yield (a, b)
    val r = Graphs.triangleStats(edges(bip: _*)).collect()(0)
    assert(r.getLong(2) == 0L && r.getDouble(3) == 0.0)
  }
}
