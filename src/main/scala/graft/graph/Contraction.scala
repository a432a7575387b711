package graft.graph

import java.util.BitSet

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Contraction-phase algorithms — the reference's strongly-connected
  * components (`example_apps/stronglyconnectedcomponents.cpp:146-317`)
  * and minimum spanning forest (`example_apps/minimumspanningforest.cpp:
  * 126-370`). SCC's phases are [[ArrayGraph]] supersteps over the graph
  * and its reversed view. MSF is a driver-orchestrated phase loop of
  * DataFrame algebra whose phase outputs are eagerly checkpointed (the
  * Spark analog of the reference's `sharded_graph_output` re-shard
  * between phases).
  */
object Contraction {

  /** SCC's state of one partition: `alive`, the vertices in no SCC yet;
    * `label`, a live vertex's colour and a dead one's SCC; `liveIn` and
    * `liveOut`, the live in- and out-degrees; `dead`, the deaths that the
    * degrees of the neighbours do not count yet; `sends`, the vertices
    * that send in the next flood or confirm superstep.
    */
  private final case class Scc(alive: BitSet, label: Array[Long], liveIn: Array[Int], liveOut: Array[Int],
      dead: BitSet, sends: BitSet)

  /** Strongly connected components by trim + forward/backward colouring
    * in phases, as in the reference, with the selective scheduling of its
    * `bitset_scheduler.hpp:38-96`: only the vertices that changed send.
    * Each phase
    *  - trims (`stronglyconnectedcomponents.cpp:146-180`): a vertex with
    *    no live in- or out-edge is its own SCC and dies; in the next
    *    superstep it lowers the live in-degrees of its out-neighbours,
    *    over the graph, and the live out-degrees of its in-neighbours,
    *    over the reversed view; until a superstep kills no vertex;
    *  - floods each live vertex's colour, the least live id that reaches
    *    it, forward over live vertices;
    *  - confirms backward from each root, a vertex whose colour is its
    *    own id: a live vertex joins its colour's SCC once a confirmed
    *    out-neighbour has that colour. The confirmed vertices die.
    * Each SCC is labelled by its minimum id. The vertices are the
    * endpoints of the non-self-loop edges, so self-loops alone give no
    * rows. Returns (id, scc).
    */
  def stronglyConnectedComponents(edges: DataFrame, maxPhases: Int = 10000): DataFrame = {
    val g = ArrayGraph.directed(PropertyGraph.fromEdges(edges).withoutSelfEdges.edges)
    val r = g.reversed
    var state = g.parts.map { p =>
      val all = new BitSet(p.size)
      all.set(0, p.size)
      Scc(all, p.ids.clone(), Array.tabulate(p.size)(p.inDegree), p.outDegree.clone(), new BitSet, new BitSet)
    }
    var live = g.total(g.parts)(_.size.toLong)
    val tell: (ArrayGraph.Part, Scc) => (Array[Long], Int => Boolean) =
      (p, s) => (Array.tabulate(p.size)(v => if (s.dead.get(v)) 1L else 0L), s.dead.get _)
    var phase = 0
    while (live > 0 && phase < maxPhases) {
      val (trimmed, died) = g.converge(state, Int.MaxValue)(_.dead.cardinality.toLong) { s =>
        r.superstep(g.superstep(s)(tell) { (p, s, in) =>
          for (v <- 0 until p.size; j <- 0 until in.gather(v)) s.liveIn(v) -= in.values(j).toInt
          s
        })(tell) { (p, s, in) =>
          val dead = new BitSet(p.size)
          for (v <- 0 until p.size) {
            for (j <- 0 until in.gather(v)) s.liveOut(v) -= in.values(j).toInt
            if (s.alive.get(v) && (s.liveIn(v) == 0 || s.liveOut(v) == 0)) dead.set(v)
          }
          // a trimmed vertex is its own SCC, and a flood starts from the live ids
          for (v <- 0 until p.size if s.alive.get(v)) s.label(v) = p.ids(v)
          s.alive.andNot(dead)
          s.copy(dead = dead, sends = s.alive.clone().asInstanceOf[BitSet])
        }
      }
      live -= died.sum
      state = trimmed
      if (live > 0) {
        // a dead vertex ships Long.MaxValue, which lowers no colour
        val (flooded, _) = g.converge(trimmed, Int.MaxValue)(_.sends.cardinality.toLong) {
          g.superstep(_) { (p, s) =>
            (Array.tabulate(p.size)(v => if (s.alive.get(v)) s.label(v) else Long.MaxValue), s.sends.get _)
          } { (p, s, in) =>
            val moved = new BitSet(p.size)
            for (v <- 0 until p.size if s.alive.get(v); j <- 0 until in.gather(v) if in.values(j) < s.label(v)) {
              s.label(v) = in.values(j)
              moved.set(v)
            }
            s.copy(sends = moved)
          }
        }
        // A root confirms itself. A live vertex that is not a root ships
        // Long.MaxValue, which equals no live colour: only a root can have
        // it. A dead vertex ships its SCC, a dead id, which is no live
        // colour either, unless it joined in this phase.
        val (confirmed, joined) = g.converge(flooded, Int.MaxValue)(_.sends.cardinality.toLong) {
          r.superstep(_) { (p, s) =>
            val root = (v: Int) => s.alive.get(v) && s.label(v) == p.ids(v)
            (Array.tabulate(p.size)(v => if (s.alive.get(v) && !root(v)) Long.MaxValue else s.label(v)),
              v => s.sends.get(v) || root(v))
          } { (p, s, in) =>
            val joined = new BitSet(p.size)
            for (v <- 0 until p.size if s.alive.get(v))
              if (s.label(v) == p.ids(v) || (0 until in.gather(v)).exists(in.values(_) == s.label(v))) joined.set(v)
            s.alive.andNot(joined)
            s.dead.or(joined)
            s.copy(sends = joined)
          }
        }
        live -= joined.sum
        state = confirmed
      }
      phase += 1
    }
    // Every phase confirms at least its roots, so the loop drains; the
    // phase cap is a runaway guard only. Never fabricate labels — fail
    // loudly instead.
    if (live > 0)
      throw new IllegalStateException(s"SCC did not converge within $maxPhases phases ($live vertices left)")
    g.column(state, "scc", LongType)(_.label)
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
