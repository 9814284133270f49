package perfbench

import scala.collection.mutable

/** Plain-Scala reference answers the library's outputs are checked
  * against. Each checker returns the mismatches it found (empty = pass),
  * capped so a wholly wrong output stays readable. */
object Oracles {

  final class Mismatches(op: String) {
    private val msgs = mutable.ArrayBuffer[String]()
    private var n = 0
    def apply(ok: Boolean, msg: => String): Unit =
      if (!ok) { n += 1; if (msgs.size < 3) msgs += s"$op: $msg" }
    def result: Seq[String] =
      if (n > msgs.size) msgs.toSeq :+ s"$op: ${n - msgs.size} more" else msgs.toSeq
  }

  /** Hop distances from `src`; -1 = not reached. */
  def bfs(a: Adj, src: Int): Array[Int] = {
    val d = Array.fill(a.off.length - 1)(-1)
    d(src) = 0
    val q = mutable.Queue(src)
    while (q.nonEmpty) {
      val u = q.dequeue()
      for (i <- a.off(u) until a.off(u + 1)) {
        val v = a.nbr(i)
        if (d(v) < 0) { d(v) = d(u) + 1; q.enqueue(v) }
      }
    }
    d
  }

  /** Dijkstra distances from `src`, keeping only those `<= cutoff`;
    * -1 = beyond the cutoff or not reached. */
  def dijkstra(a: Adj, src: Int, cutoff: Double): Array[Long] = {
    val d = Array.fill(a.off.length - 1)(Long.MaxValue)
    d(src) = 0
    val pq = mutable.PriorityQueue((0L, src))(Ordering.by[(Long, Int), Long](-_._1))
    while (pq.nonEmpty) {
      val (du, u) = pq.dequeue()
      if (du == d(u)) for (i <- a.off(u) until a.off(u + 1)) {
        val v = a.nbr(i); val nd = du + a.wt(i)
        if (nd < d(v) && nd <= cutoff) { d(v) = nd; pq.enqueue((nd, v)) }
      }
    }
    d.map(x => if (x == Long.MaxValue) -1L else x)
  }

  /** Compares (vertex, distance) output rows with oracle distances, where
    * -1 means the vertex must be absent. */
  def distances(op: String, want: Array[Long], got: Seq[(Int, Double)]): Seq[String] = {
    val m = new Mismatches(op)
    val reached = want.count(_ >= 0)
    m(got.size == reached && got.map(_._1).distinct.size == got.size, s"reached ${got.size}, want $reached")
    got.foreach { case (v, d) => m(d == want(v).toDouble, s"distance of $v is $d, want ${want(v)}") }
    m.result
  }

  /** Union-find root of every vertex over the given pairs. */
  def components(n: Int, pairs: Iterable[(Int, Int)]): Array[Int] = {
    val p = Array.range(0, n)
    def find(x: Int): Int = { var r = x; while (p(r) != r) { p(r) = p(p(r)); r = p(r) }; r }
    pairs.foreach { case (u, v) => val (a, b) = (find(u), find(v)); if (a != b) p(math.max(a, b)) = math.min(a, b) }
    Array.tabulate(n)(find)
  }

  /** Fixed-iteration unweighted PageRank over the present vertices, with
    * the library's contract: uniform start and reset, dangling mass
    * redistributed by the reset vector. */
  def pagerank(a: Adj, present: Array[Boolean], iters: Int, alpha: Double = 0.85): Array[Double] = {
    val n = present.length
    val nV = present.count(identity).toDouble
    var pr = Array.tabulate(n)(v => if (present(v)) 1.0 / nV else 0.0)
    for (_ <- 0 until iters) {
      val dangling = (0 until n).filter(v => present(v) && a.degree(v) == 0).map(pr).sum
      val next = Array.tabulate(n)(v => if (present(v)) (1 - alpha) / nV + alpha * dangling / nV else 0.0)
      for (u <- 0 until n if a.degree(u) > 0; i <- a.off(u) until a.off(u + 1))
        next(a.nbr(i)) += alpha * pr(u) / a.degree(u)
      pr = next
    }
    pr
  }

  /** Modularity Q = Σ_c (in_c / 2m − (tot_c / 2m)²) of a labelling of the
    * present vertices (resolution 1, both edge directions counted). */
  def modularity(g: GraphData, label: Int => Long): Double = {
    val tot = mutable.HashMap[Long, Double]().withDefaultValue(0.0)
    val in = mutable.HashMap[Long, Double]().withDefaultValue(0.0)
    var m2 = 0.0
    for (i <- 0 until g.numEdges) {
      val (cu, cv, w) = (label(g.src(i)), label(g.dst(i)), g.w(i).toDouble)
      m2 += 2 * w
      tot(cu) += w; tot(cv) += w
      if (cu == cv) in(cu) += 2 * w
    }
    tot.iterator.map { case (c, t) => in(c) / m2 - math.pow(t / m2, 2) }.sum
  }

  /** Word 3-gram shingle set of a document, as the library tokenizes it. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
