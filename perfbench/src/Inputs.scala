package perfbench

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A simple undirected weighted graph over vertex indices `[0, n)`, one
  * row per edge with `src < dst`. */
final case class GraphData(n: Int, src: Array[Int], dst: Array[Int], w: Array[Int]) {
  def numEdges: Int = src.length
  lazy val adj: Adj = Adj(this)
}

/** Both-direction adjacency (CSR) of a [[GraphData]]. */
final case class Adj(off: Array[Int], nbr: Array[Int], wt: Array[Int]) {
  def degree(v: Int): Int = off(v + 1) - off(v)
}
object Adj {
  def apply(g: GraphData): Adj = {
    val off = new Array[Int](g.n + 1)
    for (i <- 0 until g.numEdges) { off(g.src(i) + 1) += 1; off(g.dst(i) + 1) += 1 }
    for (v <- 0 until g.n) off(v + 1) += off(v)
    val pos = off.clone()
    val nbr = new Array[Int](2 * g.numEdges)
    val wt = new Array[Int](2 * g.numEdges)
    for (i <- 0 until g.numEdges) {
      val (a, b) = (g.src(i), g.dst(i))
      nbr(pos(a)) = b; wt(pos(a)) = g.w(i); pos(a) += 1
      nbr(pos(b)) = a; wt(pos(b)) = g.w(i); pos(b) += 1
    }
    Adj(off, nbr, wt)
  }
}

final case class Doc(id: Long, text: String)
final case class CorpusData(corpus: IndexedSeq[Doc], batch: IndexedSeq[Doc])

/** Seeded input generators. Every generator is plain Scala driven by one
  * `SplittableRandom(seed)`, so a seed and a size fix the inputs exactly;
  * [[Inputs.write]] stores them as Parquet and prints a digest of their
  * content. The library only ever sees those
  * Parquet files. */
object Inputs {

  /** Graph500-style RMAT (a=.57, b=.19, c=.19): `edgeFactor << scale`
    * draws, vertex labels permuted by the seed so hubs do not sit at low
    * ids, self-loops and repeated pairs dropped, weights 1–9. */
  def rmat(scale: Int, edgeFactor: Int, seed: Long): GraphData = {
    val (a, b, c) = (0.57, 0.19, 0.19)
    val n = 1 << scale
    val rnd = new SplittableRandom(seed)
    val perm = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val seen = mutable.LongMap[Unit]()
    val (src, dst, w) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int],
      mutable.ArrayBuilder.make[Int])
    for (_ <- 0L until edgeFactor.toLong << scale) {
      var u = 0; var v = 0
      for (l <- 0 until scale) {
        val r = rnd.nextDouble()
        if (r >= a + b) u |= 1 << l
        if ((r >= a && r < a + b) || r >= a + b + c) v |= 1 << l
      }
      val (x, y) = (math.min(perm(u), perm(v)), math.max(perm(u), perm(v)))
      val wt = 1 + rnd.nextInt(9)
      if (x != y && !seen.contains(x.toLong << 32 | y)) {
        seen(x.toLong << 32 | y) = ()
        src += x; dst += y; w += wt
      }
    }
    GraphData(n, src.result(), dst.result(), w.result())
  }

  /** Corpus of `nDocs` documents over a Zipf(1.1) vocabulary of 4000
    * words, 30–89 tokens each. One document in five is a near-duplicate
    * of an earlier one (each token replaced with probability 0.05, or an
    * exact copy one time in ten), so duplicate families form. The ingest
    * batch holds `nDocs / 8` documents: a third exact copies of corpus
    * documents, a third near-duplicates, a third new. */
  def corpus(nDocs: Int, seed: Long): CorpusData = {
    val rnd = new SplittableRandom(seed)
    val vocab = 4000
    val cdf = {
      val p = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 1, 1.1))
      p.scanLeft(0.0)(_ + _).tail.map(_ / p.sum)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      "w" + math.min(if (i >= 0) i else -i - 1, vocab - 1)
    }
    def fresh(): Array[String] = Array.fill(30 + rnd.nextInt(60))(word())
    def edit(t: Array[String]): Array[String] =
      if (rnd.nextInt(10) == 0) t.clone()
      else t.map(x => if (rnd.nextDouble() < 0.05) word() else x)
    val docs = mutable.ArrayBuffer[Array[String]]()
    for (_ <- 0 until nDocs)
      docs += (if (docs.nonEmpty && rnd.nextInt(5) == 0) edit(docs(rnd.nextInt(docs.size)))
               else fresh())
    val nBatch = nDocs / 8
    val batch = (0 until nBatch).map { i =>
      val t = i % 3 match {
        case 0 => docs(rnd.nextInt(nDocs)).clone()
        case 1 => docs(rnd.nextInt(nDocs)).map(x => if (rnd.nextDouble() < 0.05) word() else x)
        case _ => fresh()
      }
      Doc(nDocs.toLong + i, t.mkString(" "))
    }
    CorpusData(docs.zipWithIndex.map { case (t, i) => Doc(i.toLong, t.mkString(" ")) }.toIndexedSeq,
      batch)
  }

  /** Writes `rows` as Parquet under `dir` and returns their content
    * digest. It writes on every run, even when an earlier run left the same
    * files, so that a run does the same work before its warm-up whether or
    * not its seed was seen before. Four fixed slices keep the files
    * identical on any core count. */
  def write(spark: SparkSession, dir: File, schema: StructType, rows: IndexedSeq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    val digest = md.digest().map("%02x".format(_)).mkString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(dir.getPath)
    val bytes = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    System.err.println(s"[perfbench] input ${dir.getName}: rows=${rows.size} bytes=$bytes sha256=$digest")
    digest
  }

  val edgeSchemaStr: StructType = StructType(Seq(StructField("src", StringType, false),
    StructField("dst", StringType, false), StructField("w", IntegerType, false)))
  val docSchema: StructType = StructType(Seq(StructField("doc_id", LongType, false),
    StructField("text", StringType, false)))

  /** `k` distinct elements of `xs`, drawn with `rnd`. */
  def pick[A](xs: IndexedSeq[A], k: Int, rnd: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- 0 until k) {
      val j = i + rnd.nextInt(a.length - i); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).toIndexedSeq.map(_.asInstanceOf[A])
  }

  /** External id of RMAT vertex `v`. */
  def vid(v: Int): String = "v" + v
  def unVid(s: String): Int = s.substring(1).toInt
}
