package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contraction-phase algorithms — the reference's strongly-connected
  * components (`example_apps/stronglyconnectedcomponents.cpp:146-317`)
  * and minimum spanning forest (`example_apps/minimumspanningforest.cpp:
  * 126-370`). Both are driver-orchestrated phase loops whose per-phase
  * work is declarative DataFrame algebra; phase outputs are eagerly
  * checkpointed (the Spark analog of the reference's
  * `sharded_graph_output` re-shard between phases).
  */
object Contraction {

  /** Strongly connected components by trim + forward/backward coloring.
    * Phases mirror the reference: trim vertices with in==0 or out==0
    * (each is its own SCC), forward min-color flood, backward
    * confirmation within equal color, peel, repeat.
    * Returns (id, scc).
    */
  def stronglyConnectedComponents(edges: DataFrame, maxPhases: Int = 10000): DataFrame = {
    val spark = edges.sparkSession
    var e = PropertyGraph.fromEdges(edges.select("src", "dst")).withoutSelfEdges.edges
      .distinct().transform(graft.graph.Iterate.ckpt)
    // every count below comes from its frame's checkpoint job
    // (Iterate.ckptN), not from a count() action of its own
    var (remaining, live) =
      graft.graph.Iterate.ckptN(PropertyGraph.fromEdges(e).vertices)
    // assigned SCCs: lazy projections over frames the loop already
    // checkpoints, unioned once at the end
    var assignedParts = Vector.empty[DataFrame]

    var phase = 0
    while (live > 0 && phase < maxPhases) {
      // --- trim: vertices with no in- or no out-edge are singleton SCCs
      // (stronglyconnectedcomponents.cpp:146-180)
      var trimmed = true
      while (trimmed) {
        val haveIn = e.select(col("dst").as("id")).distinct()
        val haveOut = e.select(col("src").as("id")).distinct()
        // `both` is read once, inside single's checkpoint
        val both = haveIn.join(haveOut, "id")
        val (single, nSingle) = graft.graph.Iterate.ckptN(
          remaining.join(both, Seq("id"), "left_anti"))
        if (nSingle == 0L) trimmed = false
        else {
          assignedParts :+= single.select(col("id"), col("id").as("scc"))
          val (rem2, live2) = graft.graph.Iterate.ckptN(
            remaining.join(single, Seq("id"), "left_anti"))
          remaining = rem2
          live = live2
          e = e.join(single.withColumnRenamed("id", "t1"), col("src") === col("t1"), "left_anti")
            .join(single.withColumnRenamed("id", "t2"), col("dst") === col("t2"), "left_anti")
            .transform(graft.graph.Iterate.ckpt)
        }
      }
      if (live > 0) {
        // --- forward min-color flood to fixpoint: only recolored
        // vertices send, and the run ends at the first superstep that
        // recolors nothing
        val (color, _) = Pregel.run(remaining, e,
          initial = Map("color" -> col("id")),
          sendMsg = col("src_color"),
          aggMsg = min(col("msg")),
          update = Map("color" -> least(col("color"), col("msg"))),
          maxIter = Int.MaxValue, activeOnly = true)
        // --- backward confirm: reverse-BFS from each color root through
        // vertices of the same color; reached set = that SCC. At the
        // flood's fixpoint an edge v→u has color(u) <= color(v), so over
        // the reversed edges a vertex hears only colors <= its own, and
        // the largest it hears equals its own color iff a confirmed
        // out-neighbour shares it.
        val (confirmed, _) = Pregel.run(color,
          e.select(col("dst").as("src"), col("src").as("dst")),
          initial = Map("color" -> col("color"),
            "scc" -> when(col("id") === col("color"), col("color"))),
          sendMsg = col("src_scc"),
          aggMsg = max(col("msg")),
          update = Map("color" -> col("color"),
            "scc" -> coalesce(col("scc"), when(col("msg") === col("color"), col("msg")))),
          maxIter = Int.MaxValue, activeOnly = true)
        val reached = confirmed.filter(col("scc").isNotNull).select("id", "scc")
        assignedParts :+= reached
        val (rem2, live2) = graft.graph.Iterate.ckptN(
          remaining.join(reached, Seq("id"), "left_anti"))
        remaining = rem2
        live = live2
        // only a later phase reads the edge set
        if (live > 0)
          e = e.join(reached.withColumnRenamed("id", "t1").select("t1"),
              col("src") === col("t1"), "left_anti")
            .join(reached.withColumnRenamed("id", "t2").select("t2"),
              col("dst") === col("t2"), "left_anti")
            .transform(graft.graph.Iterate.ckpt)
      }
      phase += 1
    }
    // Every phase removes at least one SCC (the forward-flood roots are
    // confirmed backward), so the loop always drains; the phase cap is a
    // runaway guard only. Never fabricate labels — fail loudly instead
    // (the reference iterates to empty too,
    // stronglyconnectedcomponents.cpp:146-317).
    if (live > 0)
      throw new IllegalStateException(
        s"SCC did not converge within $maxPhases phases ($live vertices left)")
    val emptyAssigned = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("scc",
          org.apache.spark.sql.types.LongType))))
    (emptyAssigned +: assignedParts).reduce(_ unionAll _)
  }

  /** Minimum spanning forest by Borůvka contraction — per-component
    * minimum outgoing edge, merge, repeat (`minimumspanningforest.cpp:
    * 126-370`, min-edge dedup filter `:98-102`). Ties broken by
    * (weight, src, dst) so the forest is deterministic. Returns the
    * forest edges (src, dst, weight).
    */
  def minimumSpanningForest(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // undirected canonical edges
    var e = PropertyGraph.fromEdges(edges).withoutSelfEdges.edges.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("weight"))
      .groupBy("src", "dst").agg(min("weight").as("weight"))
      .transform(graft.graph.Iterate.ckpt)
    var comp = PropertyGraph.fromEdges(e).vertices
      .withColumn("comp", col("id")).transform(graft.graph.Iterate.ckpt)
    // the forest: lazy projections over each round's checkpointed
    // minEdge, unioned and reduced to (src, dst) min weight once at the end
    var forestParts = Vector.empty[DataFrame]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      // the cross-component edges `ec` run lazily inside the minEdge
      // checkpoint, both orientations from ONE explode; minEdge is empty
      // iff ec is, and min_by's total order (weight, src, dst) makes it
      // independent of row order
      val ec = e
        .join(comp.select(col("id").as("src"), col("comp").as("csrc")), "src")
        .join(comp.select(col("id").as("dst"), col("comp").as("cdst")), "dst")
        .filter(col("csrc") =!= col("cdst"))
      val cand = ec.select(explode(array(
          struct(col("csrc").as("c"), col("src"), col("dst"),
            col("weight"), col("cdst").as("other")),
          struct(col("cdst").as("c"), col("src"), col("dst"),
            col("weight"), col("csrc").as("other")))).as("x"))
        .select(col("x.c").as("c"), col("x.src").as("src"),
          col("x.dst").as("dst"), col("x.weight").as("weight"),
          col("x.other").as("other"))
      // the done-check count rides the checkpoint job
      val (minEdge, nMin) = graft.graph.Iterate.ckptN(
        cand.groupBy("c")
          .agg(min_by(struct(col("src"), col("dst"), col("weight"), col("other")),
            struct(col("weight"), col("src"), col("dst"))).as("e"))
          .select(col("c"), col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.weight").as("weight"), col("e.other").as("other")))
      if (nMin == 0L) done = true
      else {
        forestParts :+= minEdge.select("src", "dst", "weight")
        // contract: merge components along chosen edges. The merge graph
        // c → other is a pseudo-forest (one out-edge per component), and
        // because min_by uses the total order (weight, src, dst), its only
        // cycles are mutual pairs — so rooting the smaller endpoint of
        // each mutual pair yields a forest, and pointer jumping reaches
        // the roots in O(log depth) tiny supersteps. (Replaces a full CC
        // fixpoint per round — the round-1 bench bottleneck.)
        val p0 = minEdge.select(col("c"), col("other"))
        val mutualRoots = p0.as("a")
          .join(p0.as("b"),
            col("a.other") === col("b.c") && col("b.other") === col("a.c") &&
              col("a.c") < col("a.other"), "left_semi")
          .select(col("c"))
        var parent = p0.join(mutualRoots.withColumnRenamed("c", "r"),
            col("c") === col("r"), "left")
          .select(col("c"), when(col("r").isNotNull, col("c"))
            .otherwise(col("other")).as("p"))
          .transform(graft.graph.Iterate.ckpt)
        var jumping = true
        while (jumping) {
          // one job per jump: the changed count rides the checkpoint
          val (jumped, changed) = graft.graph.Iterate.ckptSum(
            parent.as("x")
              .join(parent.select(col("c").as("pc"), col("p").as("pp")),
                col("p") === col("pc"), "left")
              .select(col("c"), coalesce(col("pp"), col("p")).as("np"),
                (coalesce(col("pp"), col("p")) =!= col("p"))
                  .cast("long").as("chg")),
            "chg")
          parent = jumped.select(col("c"), col("np").as("p"))
          jumping = changed > 0
        }
        comp = comp.join(parent.select(col("c").as("comp"), col("p")), Seq("comp"), "left")
          .select(col("id"), coalesce(col("p"), col("comp")).as("comp"))
          .transform(graft.graph.Iterate.ckpt)
        round += 1
      }
    }
    // Borůvka at least halves the component count per round, so 64 rounds
    // covers any graph; hitting the cap means a bug, not a big input.
    if (!done)
      throw new IllegalStateException(s"MSF did not converge in $maxRounds rounds")
    val empty = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    (empty +: forestParts).reduce(_ unionAll _)
      .groupBy("src", "dst").agg(min("weight").as("weight"))
  }
}
