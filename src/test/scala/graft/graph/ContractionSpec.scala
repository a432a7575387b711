package graft.graph

import graft.SparkSpec

class ContractionSpec extends SparkSpec {
  import spark.implicits._

  test("SCC: two cycles joined by a one-way bridge") {
    // cycle A: 1→2→3→1; cycle B: 4→5→4; bridge 3→4; pendant 6
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (3L, 4L), (4L, 6L)).toDF("src", "dst")
    val scc = Contraction.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc(1L) == scc(2L) && scc(2L) == scc(3L))
    assert(scc(4L) == scc(5L))
    assert(scc(1L) != scc(4L))
    assert(scc(6L) == 6L)
    // phase 1 confirms {1, 2, 3} only: 4 and 5 take colour 1 over the bridge
    intercept[IllegalStateException](Contraction.stronglyConnectedComponents(e, maxPhases = 1).collect())
  }

  test("SCC: DAG → all singletons") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val scc = Contraction.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("SCC: matches a local Tarjan on a seeded random digraph") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    val scc = Contraction.stronglyConnectedComponents(pairs.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tarjan.components(pairs)
    assert(want.values.toSet.size < want.size, "the digraph has a non-trivial SCC")
    assert(scc == want)
  }

  test("MSF: known minimum spanning tree") {
    //   1-2 (1), 2-3 (2), 1-3 (10), 3-4 (3)  → MST = {1-2, 2-3, 3-4}, w=6
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 10.0), (3L, 4L, 3.0))
      .toDF("src", "dst", "weight")
    val msf = Contraction.minimumSpanningForest(e)
    val edges = msf.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(edges == Set((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 3.0)))
  }

  test("SCC: long chain of interlocking 2-cycles (adversarial for phase caps)") {
    // 0⇄1, 1⇄2, ..., 19⇄20 — one big SCC of 21 vertices reachable only
    // after many forward/backward rounds; must converge with NO fallback.
    val n = 20
    val fwd = (0 until n).map(i => (i.toLong, (i + 1).toLong))
    val bwd = (0 until n).map(i => ((i + 1).toLong, i.toLong))
    val e = (fwd ++ bwd).toDF("src", "dst")
    val scc = Contraction.stronglyConnectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc.size == n + 1)
    assert(scc.values.toSet.size == 1)
  }

  test("MSF: matches local Kruskal on a random graph (weight + edge count)") {
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(600)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong,
        (rnd.nextInt(1000) + 1).toDouble))
      .filter { case (a, b, _) => a != b }
    val e = raw.toDF("src", "dst", "weight")
    val msf = Contraction.minimumSpanningForest(e)
    val got = msf.agg(org.apache.spark.sql.functions.sum("weight"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .collect()(0)
    // local Kruskal with the same (weight, src, dst) tie-break over the
    // same canonicalized min-deduped undirected edges
    val canon = raw.map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy(t => (t._1, t._2)).map(_._2.minBy(_._3)).toSeq
      .sortBy(t => (t._3, t._1, t._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    var (w, cnt) = (0.0, 0L)
    canon.foreach { case (a, b, wt) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); w += wt; cnt += 1 }
    }
    assert(got.getLong(1) == cnt)
    assert(math.abs(got.getDouble(0) - w) < 1e-6)
  }

  test("MSF: forest over two components") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 5.0), (1L, 3L, 2.0),
      (10L, 11L, 7.0)).toDF("src", "dst", "weight")
    val msf = Contraction.minimumSpanningForest(e)
    val total = msf.agg(org.apache.spark.sql.functions.sum("weight"))
      .collect()(0).getDouble(0)
    assert(total == 1.0 + 2.0 + 7.0)
    assert(msf.count() == 3)
  }
}
