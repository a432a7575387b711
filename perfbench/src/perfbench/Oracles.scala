package perfbench

/** Single-threaded reference answers in plain arrays, independent of
  * Spark and of the program under test. Vertex ids are dense in [0, n).
  */
object Oracles {

  /** PageRank with the program's rules: every rank starts at 1.0, a step
    * sets pr(v) = reset + (1 - reset)·Σ pr(u)/outdeg(u) over in-edges
    * (duplicate edges count twice), and a vertex without out-edges emits
    * nothing. Returns ranks for the vertices that touch an edge, NaN
    * elsewhere.
    */
  def pageRank(n: Int, src: Array[Long], dst: Array[Long], iterations: Int,
               reset: Double = 0.15): Array[Double] = {
    val odeg = new Array[Int](n)
    val seen = new Array[Boolean](n)
    var e = 0
    while (e < src.length) {
      odeg(src(e).toInt) += 1; seen(src(e).toInt) = true; seen(dst(e).toInt) = true
      e += 1
    }
    var pr = Array.fill(n)(1.0)
    var it = 0
    while (it < iterations) {
      val acc = new Array[Double](n)
      e = 0
      while (e < src.length) {
        val s = src(e).toInt
        acc(dst(e).toInt) += pr(s) / odeg(s)
        e += 1
      }
      var v = 0
      while (v < n) { acc(v) = reset + (1 - reset) * acc(v); v += 1 }
      pr = acc
      it += 1
    }
    var v = 0
    while (v < n) { if (!seen(v)) pr(v) = Double.NaN; v += 1 }
    pr
  }

  /** Connected components by union-find; each vertex that touches an
    * edge is labelled with the smallest id in its component, -1 elsewhere.
    */
  def components(n: Int, src: Array[Long], dst: Array[Long]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    val seen = new Array[Boolean](n)
    var e = 0
    while (e < src.length) {
      val a = find(src(e).toInt); val b = find(dst(e).toInt)
      // the smaller root wins, so every root is its component's minimum
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      seen(src(e).toInt) = true; seen(dst(e).toInt) = true
      e += 1
    }
    Array.tabulate(n)(v => if (seen(v)) find(v).toLong else -1L)
  }

  /** Exact triangle count of the simple undirected graph under the edge
    * list (self-loops and duplicates dropped): orient each edge from the
    * lower to the higher (degree, id), then intersect sorted out-lists.
    */
  def triangles(n: Int, src: Array[Long], dst: Array[Long]): Long = {
    val packed = new Array[Long](src.length)
    var m = 0
    var e = 0
    while (e < src.length) {
      val a = math.min(src(e), dst(e)); val b = math.max(src(e), dst(e))
      if (a != b) { packed(m) = (a << 32) | b; m += 1 }
      e += 1
    }
    java.util.Arrays.sort(packed, 0, m)
    var k = 0
    e = 0
    while (e < m) {
      if (e == 0 || packed(e) != packed(e - 1)) { packed(k) = packed(e); k += 1 }
      e += 1
    }
    val deg = new Array[Int](n)
    e = 0
    while (e < k) { deg((packed(e) >>> 32).toInt) += 1; deg((packed(e) & 0xFFFFFFFFL).toInt) += 1; e += 1 }
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val off = new Array[Int](n + 1)
    val us = new Array[Int](k); val vs = new Array[Int](k)
    e = 0
    while (e < k) {
      val a = (packed(e) >>> 32).toInt; val b = (packed(e) & 0xFFFFFFFFL).toInt
      val (u, v) = if (before(a, b)) (a, b) else (b, a)
      us(e) = u; vs(e) = v; off(u + 1) += 1
      e += 1
    }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val adj = new Array[Int](k)
    val fill = off.clone()
    e = 0
    while (e < k) { adj(fill(us(e))) = vs(e); fill(us(e)) += 1; e += 1 }
    v = 0
    while (v < n) { java.util.Arrays.sort(adj, off(v), off(v + 1)); v += 1 }
    var count = 0L
    e = 0
    while (e < k) {
      var i = off(us(e)); val ie = off(us(e) + 1)
      var j = off(vs(e)); val je = off(vs(e) + 1)
      while (i < ie && j < je) {
        if (adj(i) == adj(j)) { count += 1; i += 1; j += 1 }
        else if (adj(i) < adj(j)) i += 1
        else j += 1
      }
      e += 1
    }
    count
  }

  /** Root-mean-square error of `pred` against `truth`. */
  def rmse(truth: Array[Double], pred: Array[Double]): Double = {
    var se = 0.0
    var i = 0
    while (i < truth.length) { val d = truth(i) - pred(i); se += d * d; i += 1 }
    math.sqrt(se / truth.length)
  }
}
