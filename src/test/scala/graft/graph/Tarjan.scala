package graft.graph

/** Strongly connected components by Tarjan's algorithm, the reference
  * for [[Contraction.stronglyConnectedComponents]]: the vertices are the
  * endpoints of the non-self-loop edges, and each component is labelled
  * by its minimum id.
  */
object Tarjan {
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val edges = pairs.filter { case (a, b) => a != b }
    val out = edges.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val stack = scala.collection.mutable.Stack[Long]()
    val label = scala.collection.mutable.Map[Long, Long]()
    def visit(v: Long): Unit = {
      index(v) = index.size; low(v) = index(v); stack.push(v)
      for (w <- out.getOrElse(v, Nil)) {
        if (!index.contains(w)) { visit(w); low(v) = math.min(low(v), low(w)) }
        else if (stack.contains(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val comp = Iterator.continually(stack.pop()).takeWhile(_ != v).toSeq :+ v
        comp.foreach(label(_) = comp.min)
      }
    }
    edges.flatMap { case (a, b) => Seq(a, b) }.distinct.foreach(v => if (!index.contains(v)) visit(v))
    label.toMap
  }
}
