package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.pipeline.Dedup
import graft.prims.Iterate

/** Zipf-vocabulary corpus with planted near-duplicate families: the
  * shingle index is the setup; the solve mines MinHash-LSH pairs, resolves
  * them into clusters, keeps one document per cluster, and dedups a new
  * ingest batch against the corpus. CPU-bound md5 hashing in `pipeline`,
  * which the graph workloads never touch. */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val Docs = 800
  /** Jaccard threshold of `Dedup.minhashLshPairs`' default. */
  val Threshold = 0.2

  def instance(spark: SparkSession, dataDir: File, seed: Long, reduced: Boolean): Instance = {
    val nDocs = if (reduced) Docs / 4 else Docs
    val data = Inputs.corpus(nDocs, seed)
    val corpusDir = new File(dataDir, s"$name-$nDocs-$seed-corpus")
    val batchDir = new File(dataDir, s"$name-$nDocs-$seed-batch")
    Inputs.write(spark, corpusDir, Inputs.docSchema, data.corpus.map(d => Row(d.id, d.text)))
    Inputs.write(spark, batchDir, Inputs.docSchema, data.batch.map(d => Row(d.id, d.text)))
    val text = data.corpus.map(d => d.id -> d.text).toMap
    lazy val shingleSets = text.map { case (d, t) => d -> Oracles.shingles(t) }
    def shingles(d: Long): Set[String] = shingleSets(d)
    def tokenCount(d: Long): Long = text(d).split(" ", -1).length.toLong
    lazy val corpusMd5 = data.corpus.map(d => Oracles.md5(d.text)).toSet
    lazy val batchMd5 = data.batch.map(d => d.id -> Oracles.md5(d.text)).toMap
    new Instance {
      def setup(tr: Tracer): Built = {
        val docs = spark.read.parquet(corpusDir.getPath)
        val batch = spark.read.parquet(batchDir.getPath)
        val sh = tr.span("pipeline.shingle")(Iterate.materialize(Dedup.shingleFrame(docs)))
        new Built {
          private var pairs: DataFrame = _
          private var clusters: DataFrame = _

          def ops: Seq[Op] = Seq(
            Op("pipeline.lsh_pairs", () => {
              pairs = Iterate.materialize(Dedup.minhashLshPairs(docs, shinglesPre = Some(sh)))
              Workload.noop(pairs)
              Check(checkPairs(pairs.collect()))
            }),
            Op("pipeline.resolve_clusters", () => {
              clusters = Iterate.materialize(Dedup.resolveClusters(docs, pairs))
              Workload.noop(clusters)
              Check(checkClusters(pairs.collect(), clusters.collect()))
            }),
            Op("pipeline.keep_best", () => {
              val k = Dedup.keepBest(docs, clusters)
              Workload.noop(k)
              Check(checkKeepBest(clusters.collect(), k.collect()))
            }),
            Op("pipeline.ingest", () => {
              val r = Dedup.incrementalDedup(docs, batch)
              Workload.noop(r)
              Check(checkIngest(r.collect()))
            }))
        }
      }

      /** Reported pairs are distinct, ordered, at or above the threshold,
        * and carry their exact shingle Jaccard (rounded to 6 places). */
      private def checkPairs(rows: Array[Row]): Seq[String] = {
        val m = new Oracles.Mismatches("pipeline.lsh_pairs")
        m(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length, "repeated pair")
        rows.foreach { r =>
          val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
          val exact = Oracles.jaccard(shingles(a), shingles(b))
          m(a < b && j >= Threshold && math.abs(j - exact) < 1e-6, s"pair ($a, $b) jaccard $j, exact $exact")
        }
        m.result
      }

      /** Clusters are the union-find components of the pairs, each named
        * by its smallest document id, one row per corpus document. */
      private def checkClusters(pairs: Array[Row], rows: Array[Row]): Seq[String] = {
        val m = new Oracles.Mismatches("pipeline.resolve_clusters")
        val root = Oracles.components(nDocs, pairs.map(r => (r.getLong(0).toInt, r.getLong(1).toInt)))
        m(rows.length == nDocs && rows.map(_.getLong(0)).distinct.length == nDocs, s"rows ${rows.length}")
        rows.foreach { r =>
          val (d, c, canon) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
          m(c == root(d.toInt) && canon == (d == c), s"doc $d in cluster $c, want ${root(d.toInt)}")
        }
        m.result
      }

      /** Per cluster, the kept document is the longest, ties to the lowest id. */
      private def checkKeepBest(clusters: Array[Row], rows: Array[Row]): Seq[String] = {
        val m = new Oracles.Mismatches("pipeline.keep_best")
        val members = clusters.groupBy(_.getLong(1)).map { case (c, xs) => c -> xs.map(_.getLong(0)) }
        m(rows.length == members.size, s"rows ${rows.length}, want ${members.size}")
        rows.foreach { r =>
          val (c, kept, tokens, n) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          val ms = members.getOrElse(c, Array.empty[Long])
          val best = ms.sortBy(d => (-tokenCount(d), d)).headOption
          m(best.contains(kept) && tokens == tokenCount(kept) && n == ms.length,
            s"cluster $c kept $kept, want $best")
        }
        m.result
      }

      /** One row per batch document; exact_dup is md5 membership in the
        * corpus, an exact copy is also a near-duplicate, and only documents
        * that are neither are kept. */
      private def checkIngest(rows: Array[Row]): Seq[String] = {
        val m = new Oracles.Mismatches("pipeline.ingest")
        m(rows.length == data.batch.size && rows.map(_.getLong(0)).distinct.length == rows.length,
          s"rows ${rows.length}, want ${data.batch.size}")
        rows.foreach { r =>
          val (d, exact, near, keep) = (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))
          val want = batchMd5.get(d).exists(corpusMd5.contains)
          m(exact == want && (!exact || near) && keep == (!exact && !near), s"batch doc $d")
        }
        m.result
      }
    }
  }
}
