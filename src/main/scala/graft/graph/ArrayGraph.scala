package graft.graph

import java.util.Arrays

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** A graph as dense co-partitioned arrays, and the one superstep that
  * PageRank, connected components, k-core, coreness and label
  * propagation run on: the reference's in-memory vertex values updated
  * over the edges of each interval (`pagerank.cpp:121-146`), partitioned
  * as in GraphX. Vertices are hash-partitioned by id into
  * `spark.sql.shuffle.partitions` partitions, each holding its ids
  * sorted; a vertex's local index is its position in that order.
  *
  * One shuffle of edge blocks, which sends each edge to its source's and
  * to its destination's partition, builds, once per graph, a cached
  * [[ArrayGraph.Part]] per partition. Per target partition, its sender
  * side lists the local vertices with an out-edge there, in id order:
  * the slots of the partition pair. Its receiver side is a CSR of each
  * local vertex's in-edges as (source partition, slot). Both sides number
  * a pair's slots by sorted source id, so they agree without exchanging
  * a routing table.
  *
  * A [[superstep]] is one narrow pass that ships each pair's slot values
  * as one `Array[Long]` (nothing when none of the pair's vertices sends;
  * PageRank ships its doubles' raw bits), one shuffle, and one narrow
  * pass in which each vertex folds its in-values, gathered in (source
  * partition, slot) order, so every fold is bit-reproducible for a given
  * partition count. Each partition also ships its own state to itself in
  * that shuffle: a state's lineage ends at its superstep's shuffle, and a
  * dropped cached state recomputes from the shuffle's files.
  * Fixed-iteration runs chain supersteps lazily into the caller's job;
  * convergent runs use [[converge]].
  */
private[graph] final class ArrayGraph private (spark: SparkSession,
    val parts: RDD[ArrayGraph.Part]) {
  import ArrayGraph._

  private val byIndex = new HashPartitioner(parts.getNumPartitions) // an Int key is its own partition

  /** One superstep from per-partition `state`: `send` gives each local
    * vertex's value and which vertices send; `next` the next state from
    * the old one and the in-values.
    */
  def superstep[S: ClassTag](state: RDD[S])(send: (Part, S) => (Array[Long], Int => Boolean))(
      next: (Part, S, Inbox) => S): RDD[S] = {
    val shipped = parts.zipPartitions(state)(new Named((ps: Iterator[Part], ss: Iterator[S]) => {
      val (p, s) = (ps.next(), ss.next())
      val (values, sends) = send(p, s)
      Iterator[(Int, Either[S, (Int, Array[Long])])]((p.index, Left(s))) ++
        p.ship(values, sends).map { case (q, m) => (q, Right((p.index, m))) }
    })).partitionBy(byIndex)
    parts.zipPartitions(shipped)(new Named((ps: Iterator[Part], ms: Iterator[(Int, Either[S, (Int, Array[Long])])]) => {
      val p = ps.next()
      val from = new Array[Array[Long]](p.out.length)
      var own: Option[S] = None
      ms.foreach {
        case (_, Left(s)) => own = Some(s)
        case (_, Right((src, m))) => from(src) = m
      }
      Iterator(next(p, own.get, new Inbox(p, from)))
    }))
  }

  /** Supersteps `step` from `state` until one counts 0 or `maxIter` have
    * run. Each superstep's state is persisted by one job whose collected
    * result is the sum of `count` over the partitions, exact under task
    * retry. Returns the last state and the count of each superstep.
    */
  def converge[S: ClassTag](state: RDD[S], maxIter: Int)(count: S => Long)(
      step: RDD[S] => RDD[S]): (RDD[S], Seq[Long]) = {
    var s = state
    val counts = ArrayBuffer.empty[Long]
    while (counts.length < maxIter && !counts.lastOption.contains(0L)) {
      val next = step(s).persist(StorageLevel.MEMORY_AND_DISK)
      counts += spark.sparkContext.runJob(next, new Named((_: TaskContext, ss: Iterator[S]) => count(ss.next()))).sum
      s.unpersist(blocking = false)
      s = next
    }
    (s, counts.toSeq)
  }

  /** The frame (`id`, `name`) of each vertex's value in `values(state)`. */
  def column[S: ClassTag](state: RDD[S], name: String, t: DataType)(values: S => Array[_]): DataFrame =
    spark.createDataFrame(parts.zipPartitions(state) { (ps, ss) =>
      val (ids, x) = (ps.next().ids, values(ss.next()))
      ids.indices.iterator.map(v => Row(ids(v), x(v)))
    }, StructType(Seq(StructField("id", LongType, nullable = false), StructField(name, t, nullable = false))))
}

private[graph] object ArrayGraph {

  /** The directed multigraph of `edges`' (`src`, `dst`) rows: duplicate
    * edges and self-loops count. Rows with a null endpoint are skipped.
    */
  def directed(edges: DataFrame): ArrayGraph = build(edges, undirected = false)

  /** The undirected graph of `edges` as [[PropertyGraph.symmetrize]]
    * gives it: each edge in both directions, duplicates once, a self-loop
    * as one `(v, v)` edge. Rows with a null endpoint are skipped.
    */
  def undirected(edges: DataFrame): ArrayGraph = build(edges, undirected = true)

  val All: Int => Boolean = _ => true // every vertex sends

  /** `f` as a function that Spark's closure cleaner leaves alone: it would
    * parse the class file that declares `f` each time a superstep runs.
    */
  private final class Named[A, B, C](f: (A, B) => C) extends ((A, B) => C) with Serializable {
    def apply(a: A, b: B): C = f(a, b)
  }

  private def build(edges: DataFrame, undirected: Boolean): ArrayGraph = {
    val n = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    new ArrayGraph(edges.sparkSession,
      edges.select(col("src").cast(LongType), col("dst").cast(LongType))
        .queryExecution.toRdd
        .mapPartitions(route(n, _))
        .partitionBy(new HashPartitioner(n))
        .mapPartitionsWithIndex((p, blocks) => Iterator(Part(p, n, undirected, blocks.map(_._2))))
        .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** One vertex partition: `ids` sorted; `outDegree` per local vertex;
    * per target partition q, `out(q)` holds the pair's slots, the local
    * vertices with an out-edge into q in ascending order; local vertex
    * v's in-edges are the entries `inOff(v) until inOff(v + 1)`, entry e
    * coming from slot `inSlot(e)` of source partition `inFrom(e)`, sorted
    * by (`inFrom`, `inSlot`).
    */
  final class Part(val index: Int, val ids: Array[Long], val outDegree: Array[Int],
      val out: Array[Array[Int]], val inOff: Array[Int], val inFrom: Array[Int],
      val inSlot: Array[Int]) extends Serializable {

    def size: Int = ids.length

    def inDegree(v: Int): Int = inOff(v + 1) - inOff(v)

    /** (target partition, its slots' values) per target with a sender. */
    def ship(values: Array[Long], sends: Int => Boolean): Iterator[(Int, Array[Long])] =
      out.indices.iterator.filter(q => out(q).exists(sends)).map { q =>
        val m = new Array[Long](out(q).length)
        var k = 0
        while (k < m.length) { m(k) = values(out(q)(k)); k += 1 }
        (q, m)
      }
  }

  /** What a partition received in one superstep: per source partition,
    * its shipped slot values, or null.
    */
  final class Inbox(p: Part, from: Array[Array[Long]]) {
    /** The in-values of the vertex last gathered. */
    val values = new Array[Long]((0 until p.size).foldLeft(0)((d, v) => math.max(d, p.inDegree(v))))

    /** Gathers local vertex v's in-values into [[values]], in (source
      * partition, slot) order; returns how many there are.
      */
    def gather(v: Int): Int = {
      var k = 0
      var e = p.inOff(v)
      while (e < p.inOff(v + 1)) {
        val m = from(p.inFrom(e))
        if (m != null) { values(k) = m(p.inSlot(e)); k += 1 }
        e += 1
      }
      k
    }
  }

  /** A vertex id's partition, after a 64-bit mix so that strided ids spread. */
  def partOf(id: Long, n: Int): Int =
    Math.floorMod(java.lang.Long.hashCode(scala.util.hashing.byteswap64(id)), n)

  /** Pairs per edge block of [[route]]. */
  private val Block = 4096

  /** The edge rows of one input partition as blocks keyed by vertex
    * partition: each edge goes to its source's partition as an out-edge
    * (src, dst) and to its destination's as an in-edge (dst, src),
    * interleaved into `Array[Long]`s of at most [[Block]] pairs, flagged
    * `true` for in-edges. Rows with a null endpoint are skipped.
    */
  private def route(n: Int, rows: Iterator[InternalRow]): Iterator[(Int, (Boolean, Array[Long]))] = {
    val bufs = Array.fill(2 * n)(new ArrayBuilder.ofLong) // 2p: out-edges of p, 2p + 1: in-edges
    def take(b: Int) = { val a = bufs(b).result(); bufs(b).clear(); (b / 2, (b % 2 == 1, a)) }
    rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).flatMap { r =>
      val (s, d) = (r.getLong(0), r.getLong(1))
      val (o, i) = (2 * partOf(s, n), 2 * partOf(d, n) + 1)
      bufs(o).addOne(s).addOne(d)
      bufs(i).addOne(d).addOne(s)
      if (bufs(o).length < 2 * Block && bufs(i).length < 2 * Block) Iterator.empty
      else Iterator(o, i).filter(bufs(_).length >= 2 * Block).map(take)
    } ++ bufs.indices.iterator.filter(bufs(_).length > 0).map(take)
  }

  private object Part {
    /** Partition `index`'s arrays from its [[route]] blocks. An undirected
      * graph takes its out-edges and its in-edges alike from the distinct
      * pairs of both.
      */
    def apply(index: Int, n: Int, undirected: Boolean,
              blocks: Iterator[(Boolean, Array[Long])]): Part = {
      // (local end, remote end) of the out-edges and of the in-edges
      val (oLoc, oRem, iLoc, iRem) = unzip(blocks)
      val ids = sortedDistinct(Array.concat(oLoc, iLoc))
      val (outLoc, outRem, inLoc, inRem) =
        if (!undirected) (oLoc.map(local(ids, _)), oRem, iLoc.map(local(ids, _)), iRem)
        else {
          val (loc, rem) = (Array.concat(oLoc, iLoc), Array.concat(oRem, iRem))
          val rems = sortedDistinct(rem.clone())
          val pairs = sortedDistinct(Array.tabulate(loc.length)(e =>
            (local(ids, loc(e)).toLong << 32) | local(rems, rem(e))))
          val (l, r) = (pairs.map(k => (k >>> 32).toInt), pairs.map(k => rems(k.toInt)))
          (l, r, l, r)
        }
      val outDegree = new Array[Int](ids.length)
      outLoc.foreach(v => outDegree(v) += 1)
      // sender: per target partition, the distinct local sources
      val out = Array.fill(n)(new ArrayBuilder.ofInt)
      sortedDistinct(Array.tabulate(outLoc.length)(e => (partOf(outRem(e), n).toLong << 32) | outLoc(e)))
        .foreach(k => out((k >>> 32).toInt).addOne(k.toInt))
      // receiver: the distinct sources ranked by (partition, id), each
      // rank's partition and slot, and the in-edges sorted by (local
      // destination, rank)
      val srcs = sortedDistinct(inRem.clone())
      val byPart = sortedDistinct(Array.tabulate(srcs.length)(r => (partOf(srcs(r), n).toLong << 32) | r))
      val (rank, from, slot) = (new Array[Int](srcs.length), byPart.map(k => (k >>> 32).toInt),
        new Array[Int](srcs.length))
      val slots = new Array[Int](n)
      for (k <- byPart.indices) { rank(byPart(k).toInt) = k; slot(k) = slots(from(k)); slots(from(k)) += 1 }
      val csr = Array.tabulate(inLoc.length)(e => (inLoc(e).toLong << 32) | rank(local(srcs, inRem(e))))
      Arrays.sort(csr)
      val inOff = new Array[Int](ids.length + 1)
      csr.foreach(k => inOff((k >>> 32).toInt + 1) += 1)
      for (v <- ids.indices) inOff(v + 1) += inOff(v)
      new Part(index, ids, outDegree, out.map(_.result()), inOff,
        csr.map(k => from(k.toInt)), csr.map(k => slot(k.toInt)))
    }

    /** (out-edge src, out-edge dst, in-edge dst, in-edge src) of the blocks. */
    private def unzip(blocks: Iterator[(Boolean, Array[Long])]) = {
      val (oSrc, oDst, iDst, iSrc) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong,
        new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
      blocks.foreach { case (in, pairs) =>
        val (a, b) = if (in) (iDst, iSrc) else (oSrc, oDst)
        var k = 0
        while (k < pairs.length) { a.addOne(pairs(k)); b.addOne(pairs(k + 1)); k += 2 }
      }
      (oSrc.result(), oDst.result(), iDst.result(), iSrc.result())
    }

    /** Sorts `xs` in place and returns its distinct values. */
    private def sortedDistinct(xs: Array[Long]): Array[Long] = {
      Arrays.sort(xs)
      var k = 0
      for (i <- xs.indices if i == 0 || xs(i) != xs(i - 1)) { xs(k) = xs(i); k += 1 }
      Arrays.copyOf(xs, k)
    }

    /** `x`'s index in the sorted `xs`. */
    private def local(xs: Array[Long], x: Long): Int = Arrays.binarySearch(xs, x)
  }
}
