package graft.graph

import java.util.Arrays

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** A graph as dense co-partitioned arrays, and the one superstep that
  * PageRank, connected components, k-core, coreness, label propagation,
  * SCC and ALS run on: the reference's in-memory vertex values updated
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
  * a routing table. A graph built with a payload (ALS's rating and
  * weight) also carries each edge's doubles, aligned with the in-edge
  * CSR; a graph without one carries nothing more.
  *
  * A [[superstep]] is one narrow pass that ships each pair's slot values
  * as one `Array[Long]` of `width` values per slot (nothing when none of
  * the pair's vertices sends; PageRank ships its doubles' raw bits, ALS
  * a rank-wide factor per slot), one shuffle, and one narrow
  * pass in which each vertex folds its in-values, gathered in (source
  * partition, slot) order, so every fold is bit-reproducible for a given
  * partition count. Each partition also ships its own state to itself in
  * that shuffle: a state's lineage ends at its superstep's shuffle, and a
  * dropped cached state recomputes from the shuffle's files.
  * Fixed-iteration runs chain supersteps lazily into the caller's job;
  * convergent runs use [[converge]].
  *
  * [[reversed]] is the graph with every edge turned round, laid out from
  * the same routed edge blocks, so it costs no second edge shuffle. Both
  * layouts number the vertices of a partition alike (its sorted ids), so
  * one state RDD zips with either.
  */
private[graft] final class ArrayGraph private (spark: SparkSession,
    routed: RDD[(Int, (Boolean, Array[Long]))], undirected: Boolean, payload: Int, flipped: Boolean) {
  import ArrayGraph._

  val parts: RDD[Part] = layout(routed, undirected, payload, flipped)

  /** This graph with every edge reversed, each keeping its payload. */
  lazy val reversed: ArrayGraph = new ArrayGraph(spark, routed, undirected, payload, !flipped)

  private val byIndex = new HashPartitioner(parts.getNumPartitions) // an Int key is its own partition

  /** One superstep from per-partition `state`: `send` gives each local
    * vertex's `width` values (local vertex v's at `width * v`) and which
    * vertices send; `next` the next state from the old one and the
    * in-values. `next` may update the state it is given in place: that is
    * the partition's own copy, read back from the shuffle.
    */
  def superstep[S: ClassTag](state: RDD[S], width: Int = 1)(send: (Part, S) => (Array[Long], Int => Boolean))(
      next: (Part, S, Inbox) => S): RDD[S] = {
    val shipped = parts.zipPartitions(state)(new Named((ps: Iterator[Part], ss: Iterator[S]) => {
      val (p, s) = (ps.next(), ss.next())
      val (values, sends) = send(p, s)
      Iterator[(Int, Either[S, (Int, Array[Long])])]((p.index, Left(s))) ++
        p.ship(values, sends, width).map { case (q, m) => (q, Right((p.index, m))) }
    })).partitionBy(byIndex)
    parts.zipPartitions(shipped)(new Named((ps: Iterator[Part], ms: Iterator[(Int, Either[S, (Int, Array[Long])])]) => {
      val p = ps.next()
      val from = new Array[Array[Long]](p.out.length)
      var own: Option[S] = None
      ms.foreach {
        case (_, Left(s)) => own = Some(s)
        case (_, Right((src, m))) => from(src) = m
      }
      Iterator(next(p, own.get, new Inbox(p, from, width)))
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
      counts += total(next)(count)
      s.unpersist(blocking = false)
      s = next
    }
    (s, counts.toSeq)
  }

  /** The sum of `count` over the partitions of `state`, in one job. */
  def total[S](state: RDD[S])(count: S => Long): Long = each(state)(count).sum

  /** `f` of each partition's state, in partition order, in one job. */
  def each[S, T: ClassTag](state: RDD[S])(f: S => T): Array[T] =
    spark.sparkContext.runJob(state, new Named((_: TaskContext, ss: Iterator[S]) => f(ss.next())))

  /** The frame (`id`, `name`) of each vertex's value in `values(state)`;
    * a vertex whose value is null has no row.
    */
  def column[S: ClassTag](state: RDD[S], name: String, t: DataType)(values: S => Array[_]): DataFrame =
    GraftShims.internalFrame(spark, parts.zipPartitions(state)(new Named((ps: Iterator[Part], ss: Iterator[S]) => {
      val (ids, x) = (ps.next().ids, values(ss.next()))
      ids.indices.iterator.map(v => InternalRow(ids(v), x(v))).filter(!_.isNullAt(1))
    })), StructType(Seq(StructField("id", LongType, nullable = false), StructField(name, t, nullable = false))))
}

private[graft] object ArrayGraph {

  /** The directed multigraph of `edges`' (`src`, `dst`) rows: duplicate
    * edges and self-loops count. Each edge carries the doubles of
    * `payload`, evaluated over its row ([[Part.inData]]). Rows with a null
    * endpoint or payload value are skipped.
    */
  def directed(edges: DataFrame, payload: Column*): ArrayGraph = build(edges, undirected = false, payload)

  /** The undirected graph of `edges` as [[PropertyGraph.symmetrize]]
    * gives it: each edge in both directions, duplicates once, a self-loop
    * as one `(v, v)` edge. Rows with a null endpoint are skipped.
    */
  def undirected(edges: DataFrame): ArrayGraph = build(edges, undirected = true, Nil)

  val All: Int => Boolean = _ => true // every vertex sends

  /** `f` as a function that Spark's closure cleaner leaves alone: it would
    * parse the class file that declares `f` each time a superstep runs.
    */
  private final class Named[A, B, C](f: (A, B) => C) extends ((A, B) => C) with Serializable {
    def apply(a: A, b: B): C = f(a, b)
  }

  private def build(edges: DataFrame, undirected: Boolean, payload: Seq[Column]): ArrayGraph = {
    val n = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w = payload.length
    new ArrayGraph(edges.sparkSession,
      edges.select(col("src").cast(LongType) +: col("dst").cast(LongType) +: payload.map(_.cast(DoubleType)): _*)
        .queryExecution.toRdd
        .mapPartitions(route(n, w, _))
        .partitionBy(new HashPartitioner(n)), undirected, w, flipped = false)
  }

  /** The cached parts of the routed blocks; `flipped` reads each out-edge
    * block as an in-edge block and the reverse, which reverses the graph.
    */
  private def layout(routed: RDD[(Int, (Boolean, Array[Long]))], undirected: Boolean, payload: Int,
                     flipped: Boolean): RDD[Part] = {
    val n = routed.getNumPartitions
    routed.mapPartitionsWithIndex((p, blocks) =>
      Iterator(Part(p, n, undirected, payload, blocks.map { case (_, (in, edges)) => (in != flipped, edges) })))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** One vertex partition: `ids` sorted; `outDegree` per local vertex;
    * per target partition q, `out(q)` holds the pair's slots, the local
    * vertices with an out-edge into q in ascending order; local vertex
    * v's in-edges are the entries `inOff(v) until inOff(v + 1)`, entry e
    * coming from slot `inSlot(e)` of source partition `inFrom(e)`, sorted
    * by (`inFrom`, `inSlot`). In a graph built with a payload of w
    * doubles, in-edge e carries `inData(w * e until w * e + w)`; entries
    * equal in (`inFrom`, `inSlot`) are ordered by their payload's bits.
    */
  final class Part(val index: Int, val ids: Array[Long], val outDegree: Array[Int],
      val out: Array[Array[Int]], val inOff: Array[Int], val inFrom: Array[Int],
      val inSlot: Array[Int], val inData: Array[Double]) extends Serializable {

    def size: Int = ids.length

    def inDegree(v: Int): Int = inOff(v + 1) - inOff(v)

    /** (target partition, its slots' `width` values each) per target with
      * a sender.
      */
    def ship(values: Array[Long], sends: Int => Boolean, width: Int): Iterator[(Int, Array[Long])] =
      out.indices.iterator.filter(q => out(q).exists(sends)).map { q =>
        val (slots, m) = (out(q), new Array[Long](width * out(q).length))
        var k = 0
        while (k < slots.length) { System.arraycopy(values, width * slots(k), m, width * k, width); k += 1 }
        (q, m)
      }
  }

  /** What a partition received in one superstep: per source partition,
    * its shipped slot values, `width` per slot, or null.
    */
  final class Inbox(p: Part, from: Array[Array[Long]], width: Int) {
    /** The in-values of the vertex last gathered, `width` per in-value. */
    val values = new Array[Long](width * (0 until p.size).foldLeft(0)((d, v) => math.max(d, p.inDegree(v))))

    /** Gathers local vertex v's in-values into [[values]], in (source
      * partition, slot) order; returns how many there are.
      */
    def gather(v: Int): Int = {
      var k = 0
      var e = p.inOff(v)
      while (e < p.inOff(v + 1)) {
        val m = from(p.inFrom(e))
        if (m != null) { System.arraycopy(m, width * p.inSlot(e), values, width * k, width); k += 1 }
        e += 1
      }
      k
    }
  }

  /** A vertex id's partition, after a 64-bit mix so that strided ids spread. */
  def partOf(id: Long, n: Int): Int =
    Math.floorMod(java.lang.Long.hashCode(scala.util.hashing.byteswap64(id)), n)

  /** Edges per edge block of [[route]]. */
  private val Block = 4096

  /** The edge rows of one input partition, (src, dst) and `w` payload
    * doubles, as blocks keyed by vertex partition: each edge goes to its
    * source's partition as an out-edge (src, dst, payload bits) and to
    * its destination's as an in-edge (dst, src, payload bits),
    * interleaved into `Array[Long]`s of at most [[Block]] edges, flagged
    * `true` for in-edges. Rows with a null value are skipped.
    */
  private def route(n: Int, w: Int, rows: Iterator[InternalRow]): Iterator[(Int, (Boolean, Array[Long]))] = {
    val (bufs, stride) = (Array.fill(2 * n)(new ArrayBuilder.ofLong), 2 + w) // 2p: out-edges of p, 2p + 1: in-edges
    def take(b: Int) = { val a = bufs(b).result(); bufs(b).clear(); (b / 2, (b % 2 == 1, a)) }
    def complete(r: InternalRow) = !r.isNullAt(0) && !r.isNullAt(1) && (w == 0 || (2 until stride).forall(!r.isNullAt(_)))
    rows.filter(complete).flatMap { r =>
      val (s, d) = (r.getLong(0), r.getLong(1))
      val (o, i) = (2 * partOf(s, n), 2 * partOf(d, n) + 1)
      bufs(o).addOne(s).addOne(d)
      bufs(i).addOne(d).addOne(s)
      if (w > 0) for (j <- 2 until stride) {
        val x = java.lang.Double.doubleToRawLongBits(r.getDouble(j))
        bufs(o).addOne(x); bufs(i).addOne(x)
      }
      if (bufs(o).length < stride * Block && bufs(i).length < stride * Block) Iterator.empty
      else Iterator(o, i).filter(bufs(_).length >= stride * Block).map(take)
    } ++ bufs.indices.iterator.filter(bufs(_).length > 0).map(take)
  }

  private object Part {
    /** Partition `index`'s arrays from its [[route]] blocks of edges with
      * `w` payload values. An undirected graph, which has no payload,
      * takes its out-edges and its in-edges alike from the distinct pairs
      * of both.
      */
    def apply(index: Int, n: Int, undirected: Boolean, w: Int,
              blocks: Iterator[(Boolean, Array[Long])]): Part = {
      // (local end, remote end) of the out-edges and of the in-edges, and the in-edges' payload bits
      val (oLoc, oRem, iLoc, iRem, iPay) = unzip(blocks, w)
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
      val keys = Array.tabulate(inLoc.length)(e => (inLoc(e).toLong << 32) | rank(local(srcs, inRem(e))))
      val (csr, inData) = if (w == 0) { Arrays.sort(keys); (keys, Array.emptyDoubleArray) } else {
        // the payload follows its own edge: sort the edges, with equal keys in payload order
        val order = Array.tabulate[Integer](keys.length)(Int.box)
        Arrays.sort(order, (a: Integer, b: Integer) => java.lang.Long.compare(keys(a), keys(b)) match {
          case 0 => Arrays.compare(iPay, w * a, w * a + w, iPay, w * b, w * b + w)
          case c => c
        })
        (order.map(keys(_)),
          Array.tabulate(w * order.length)(k => java.lang.Double.longBitsToDouble(iPay(w * order(k / w) + k % w))))
      }
      val inOff = new Array[Int](ids.length + 1)
      csr.foreach(k => inOff((k >>> 32).toInt + 1) += 1)
      for (v <- ids.indices) inOff(v + 1) += inOff(v)
      new Part(index, ids, outDegree, out.map(_.result()), inOff,
        csr.map(k => from(k.toInt)), csr.map(k => slot(k.toInt)), inData)
    }

    /** (out-edge src, out-edge dst, in-edge dst, in-edge src, in-edge
      * payload bits) of the blocks of edges with `w` payload values.
      */
    private def unzip(blocks: Iterator[(Boolean, Array[Long])], w: Int) = {
      val (oSrc, oDst, iDst, iSrc, iPay) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong,
        new ArrayBuilder.ofLong, new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
      blocks.foreach { case (in, edges) =>
        val (a, b) = if (in) (iDst, iSrc) else (oSrc, oDst)
        var k = 0
        while (k < edges.length) {
          a.addOne(edges(k)); b.addOne(edges(k + 1))
          if (in && w > 0) iPay.addAll(edges, k + 2, w)
          k += 2 + w
        }
      }
      (oSrc.result(), oDst.result(), iDst.result(), iSrc.result(), iPay.result())
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
