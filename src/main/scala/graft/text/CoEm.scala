package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CoEM — co-training entity classification over the noun ↔ context
  * bipartite graph (`toolkits/text_analysis/coem.cpp`): vertices carry
  * a D-probability vector, positive/negative seed nouns are pinned
  * (`coem.cpp:125-155` `load_seeds_from_txt_file`), and every other
  * vertex relaxes to α·self + (1−α)·(Σ cooccurrence·neighbor)/(Σ
  * cooccurrence) (`coem.cpp:104-120` update) — exactly
  * [[graft.graph.Algorithms.seededLabelPropagation]] with the
  * co-occurrence counts as edge weights, run over the symmetrized
  * bipartite edge set so one superstep updates both sides like the
  * reference's whole-graph engine iteration.
  *
  * Ingestion mirrors the reference's two-dictionary load
  * (`coem.cpp:181-186`: noun and context maps + a bipartite
  * MatrixMarket adjacency): nouns take dense ids 0..M-1, contexts
  * M..M+N-1.
  */
object CoEm {

  final case class Graph(nounDict: DataFrame, contextDict: DataFrame,
                         edges: DataFrame)

  /** (noun, context, cnt) co-occurrence counts from raw text: noun =
    * each lowercased whitespace token, context = its
    * `predecessor_successor` pattern with `^`/`$` at document bounds —
    * the noun-phrase/context pair shape of the CoEM corpus build the
    * reference cites (`coem.cpp:89-90`, Betteridge's CoEM corpus).
    */
  def nounContextPairs(docs: DataFrame, textCol: String): DataFrame = {
    val toks = TextAnalysis.wsTokens(lower(col(textCol)))
    docs.select(toks.as("ts"))
      .select(col("ts"), posexplode(col("ts")).as(Seq("i", "noun")))
      .select(col("noun"),
        concat_ws("_",
          coalesce(get(col("ts"), col("i") - 1), lit("^")),
          coalesce(get(col("ts"), col("i") + 1), lit("$"))).as("context"))
      .groupBy("noun", "context").agg(count(lit(1)).as("cnt"))
  }

  /** Dense-id bipartite graph from the pair counts: noun ids 0..M-1,
    * context ids M..M+N-1 (sorted-name order — deterministic where the
    * reference's first-seen order is a single-process artifact), edges
    * symmetrized with the co-occurrence count as weight.
    */
  def buildGraph(pairs: DataFrame): Graph = {
    val nounDict = graft.graph.Generators.stringDictionary(
      pairs.select(col("noun").as("name")), "name")
    val m = nounDict.count()
    val contextDict = graft.graph.Generators.stringDictionary(
        pairs.select(col("context").as("name")), "name")
      .select(col("name"), (col("id") + m).as("id"))
    val fwd = pairs
      .join(nounDict.select(col("name").as("noun"), col("id").as("nid")), "noun")
      .join(contextDict.select(col("name").as("context"), col("id").as("cid")),
        "context")
      .select(col("nid").as("src"), col("cid").as("dst"),
        col("cnt").cast("double").as("weight"))
    Graph(nounDict, contextDict,
      graft.graph.PropertyGraph.fromEdges(fwd).bothDirections.edges)
  }

  /** End-to-end CoEM: extract pairs, build the bipartite graph, pin the
    * positive (label 0) / negative (label 1) seed nouns, propagate.
    * Returns per-noun (noun, id, p_pos, label) — the reference's `_U.mm`
    * output matrix rows (`coem.cpp:160-163`), with p_pos = the
    * positive-class probability.
    */
  def run(docs: DataFrame, textCol: String,
          posSeeds: Seq[String], negSeeds: Seq[String],
          iterations: Int = 5, alpha: Double = 0.15): DataFrame = {
    val pairs = nounContextPairs(docs, textCol)
      .transform(graft.graph.Iterate.ckpt)
    val g = buildGraph(pairs)
    val seeds = g.nounDict.filter(col("name").isin(posSeeds: _*))
        .select(col("id"), lit(0).as("label"))
      .union(g.nounDict.filter(col("name").isin(negSeeds: _*))
        .select(col("id"), lit(1).as("label")))
    val res = graft.graph.Algorithms.seededLabelPropagation(
      g.edges, seeds, numLabels = 2, iterations = iterations, alpha = alpha)
    res.join(g.nounDict.select(col("name").as("noun"), col("id")), "id")
      .select(col("noun"), col("id"), col("dist").getItem(0).as("p_pos"),
        col("label"), col("dist"))
  }
}
