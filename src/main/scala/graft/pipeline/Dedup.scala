package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.prims.Mat._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the point of each operator is the 100 TB shape, not the
  * fixture): nothing here is ever all-pairs over the corpus. Candidate
  * generation is always an equi-join on a short key (md5 of the text, an
  * LSH band key, a shared shingle, an embedding bucket), which Spark
  * executes as a shuffle hash join partitioned by that key — the classic
  * "group by band, compare within bucket" MinHash-LSH layout. Only the
  * candidate pairs (tiny vs n²) are scored exactly.
  */
object Dedup {
  import TextOps._

  /** Exact duplicate groups keyed by md5(text): every doc annotated with its
    * group id, group size, and whether it is the canonical survivor
    * (min doc_id). One hash shuffle; group key is 128-bit so collision-safe
    * at any corpus size. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val h = docs.select(col(idCol), md5(col(textCol)).as("grp"))
    val g = h.groupBy("grp").agg(count(lit(1)).as("grp_size"), min(idCol).as("canonical"))
    h.join(g, "grp")
      .select(col(idCol), col("grp"), col("grp_size"),
        (col(idCol) === col("canonical")).as("is_canonical"))
  }

  /** Distinct (doc, shingle) rows — the shared input of minhash signatures
    * and exact Jaccard scoring. The explode + distinct over the corpus is
    * the dominant cost of the whole LSH pipeline, so pipelines computing
    * both (minhashLshPairs) build this ONCE, materialized. */
  def shingleFrame(docs: DataFrame, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(shingles(tokens(col(textCol)), n)).as("s"))
      .distinct()

  /** MinHash signatures: k independent 60-bit min-hashes over distinct word
    * n-gram shingles. Columns mh0..mh{k-1}. One explode + one hash-agg —
    * map-side partial min makes the shuffle tiny regardless of doc length. */
  def minhash(docs: DataFrame, n: Int = 3, k: Int = 8,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashFromShingles(shingleFrame(docs, n, idCol, textCol), k, idCol)

  private def minhashFromShingles(sh: DataFrame, k: Int, idCol: String): DataFrame =
    sh.groupBy(idCol)
      .agg(min(hash60(col("s"), 0)).as("mh0"),
        (1 until k).map(j => min(hash60(col("s"), j)).as(s"mh$j")): _*)

  /** MinHash-LSH candidate pairs, verified with exact n-gram Jaccard.
    * Signatures are split into `bands` bands of `rowsPerBand` rows; docs
    * sharing any band key become candidates (equi-join on the band key —
    * the only shuffle that touches all docs); candidates are then scored
    * exactly and filtered at `threshold`.
    * Reference capability: all-pairs similarity with topk/threshold
    * (`link_prediction/jaccard.py:197`), re-expressed at corpus scale. */
  def minhashLshPairs(docs: DataFrame, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                      threshold: Double = 0.2,
                      idCol: String = "doc_id", textCol: String = "text",
                      shinglesPre: Option[DataFrame] = None): DataFrame = {
    val k = bands * rowsPerBand
    // ONE shingle build feeds both the signatures and the exact scoring —
    // the explode + distinct it saves was the pipeline's single biggest
    // cost (2x end-to-end on the documents fixture). Callers holding an
    // already-materialized (doc, shingle) frame pass it via shinglesPre
    // (r11-opt: the session-shared fixture serves the whole n=3 family).
    val sh = shinglesPre.getOrElse(shingleFrame(docs, n, idCol, textCol).mat)
    val mh = minhashFromShingles(sh, k, idCol).mat
    val bandKeys = bandKeyFrame(mh, bands, rowsPerBand, idCol)
    val cand = bandKeys.as("a")
      .join(bandKeys.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val j = jaccardFromShingles(sh, cand, idCol)
    j.filter(col("jaccard") >= threshold)
  }

  /** LSH band keys from a minhash signature frame: md5 over each band's
    * signature slice — the join key of every LSH candidate step. */
  private def bandKeyFrame(mh: DataFrame, bands: Int, rowsPerBand: Int,
                           idCol: String): DataFrame =
    (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j").cast("string"))
      mh.select(col(idCol), lit(b).as("band"), md5(concat_ws("_", cols: _*)).as("bk"))
    }.reduce(_ union _)

  /** Incremental ingest dedup: annotate a NEW batch of documents against
    * an EXISTING corpus — the nightly-snapshot shape, where re-mining the
    * whole corpus for every ingest would be quadratic over time. A batch
    * doc is `exact_dup` when its md5 matches any corpus doc, `near_dup`
    * when it shares any minhash band key with one (same hash family as
    * [[minhashLshPairs]]), and `keep` otherwise.
    * Both probes are left-semi equi-joins of the (small) batch against
    * corpus-derived key sets; at scale the corpus's md5 and band-key
    * tables are computed once per snapshot and stored, so an ingest only
    * pays its own signature build plus two hash joins.
    * Output (doc_id, exact_dup, near_dup, keep), one row per batch doc. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, n: Int = 3,
                       bands: Int = 4, rowsPerBand: Int = 2,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = bands * rowsPerBand
    val exactHit = batch.select(col(idCol), md5(col(textCol)).as("h"))
      .join(corpus.select(md5(col(textCol)).as("h")).distinct(), Seq("h"), "left_semi")
      .select(col(idCol)).withColumn("_ex", lit(true))
    def bk(df: DataFrame) = bandKeyFrame(
      minhashFromShingles(shingleFrame(df, n, idCol, textCol), k, idCol),
      bands, rowsPerBand, idCol)
    val nearHit = bk(batch)
      .join(bk(corpus).select("band", "bk").distinct(), Seq("band", "bk"), "left_semi")
      .select(col(idCol)).distinct().withColumn("_nr", lit(true))
    batch.select(col(idCol))
      .join(exactHit, Seq(idCol), "left")
      .join(nearHit, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_ex"), lit(false)).as("exact_dup"),
        coalesce(col("_nr"), lit(false)).as("near_dup"))
      .withColumn("keep", !col("exact_dup") && !col("near_dup"))
  }

  /** Eval-set decontamination: score every training document by the
    * fraction of its distinct word n-grams that appear anywhere in a
    * benchmark/eval document set — the pre-training hygiene pass that keeps
    * downstream eval numbers from measuring memorization (the GPT-3
    * appendix-C / Llama n-gram overlap rule). `maxFraction = 0.0` (the
    * default) is the strict any-hit rule: one shared n-gram contaminates.
    *
    * Complement of [[TextAnalysis.contamination]], which is the REPORT side
    * (which benchmark docs leak into which training docs — hit counts and
    * distinct-bench-doc counts, rows only for hits): this is the DECISION
    * side the filter step consumes — every corpus doc scored (clean docs
    * included), a fraction against the doc's own n-gram count, and the
    * keep/drop verdict under a threshold, with the eval side counted and
    * broadcast under the tracked-size gate rather than hinted blindly.
    *
    * Scale shape: the eval side is benchmark-sized (MBs against a 100 TB
    * corpus), so its distinct n-gram set is counted once and broadcast
    * under the tracked-size gate — the corpus then pays exactly one
    * explode + one distinct shuffle (the same dominant cost every shingle
    * pipeline pays) + a map-side hash probe + one hash-agg. Corpus text is
    * never joined, re-shuffled, or compared pairwise; past the broadcast
    * gate the probe degrades to a shuffled left join on the n-gram key.
    * Output one row per corpus doc:
    * (doc_id, ngrams, hit_ngrams, hit_frac, contaminated). */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, n: Int = 5,
                    maxFraction: Double = 0.0,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (evalGrams, nEval) = graft.prims.Iterate.materializeCount(
      evalSet.select(explode(shingles(tokens(col(textCol)), n)).as("s"))
        .distinct().withColumn("_hit", lit(true)),
      count(lit(1)), _.count())
    val scored = shingleFrame(corpus, n, idCol, textCol)
      .join(graft.prims.Hint.state(evalGrams, nEval), Seq("s"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("ngrams"), count(col("_hit")).as("hit_ngrams"))
    val frac = when(col("ngrams") > 0,
      col("hit_ngrams").cast("double") / col("ngrams")).otherwise(lit(0.0))
    corpus.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("ngrams"), lit(0L)).as("ngrams"),
        coalesce(col("hit_ngrams"), lit(0L)).as("hit_ngrams"))
      .select(col(idCol), col("ngrams"), col("hit_ngrams"),
        round(frac, 6).as("hit_frac"),
        (frac > maxFraction).as("contaminated"))
  }

  /** Character-level edit-distance rescoring of candidate pairs — the
    * precision pass after LSH recall (banded Levenshtein is the classic
    * near-dup verifier). Only LSH-surviving pairs are scored, so the
    * O(len²) distance never touches the full corpus; at very long
    * documents swap in Spark's thresholded `levenshtein(l, r, max)` for
    * the early-exit band. Output (id_a, id_b, dist, edit_sim) with
    * edit_sim = 1 − dist/max(len). */
  def editDistancePairs(docs: DataFrame, pairs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = docs.select(col(idCol), col(textCol))
    val lev = levenshtein(col("ta"), col("tb"))
    pairs.select(col("id_a"), col("id_b"))
      .join(t.select(col(idCol).as("id_a"), col(textCol).as("ta")), "id_a")
      .join(t.select(col(idCol).as("id_b"), col(textCol).as("tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        lev.cast("long").as("dist"),
        round(lit(1.0) - lev / greatest(length(col("ta")), length(col("tb")))
          .cast("double"), 6).as("edit_sim"))
  }

  /** Exact word-n-gram Jaccard for given candidate pairs (id_a, id_b):
    * intersection via a join on the shared shingle, sizes via a per-doc
    * count — the same neighborhood-intersection shape as the reference's
    * similarity kernel (`link_prediction/detail/similarity_impl.cuh`). */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    jaccardFromShingles(shingleFrame(docs, n, idCol, textCol).mat, pairs, idCol)

  private def jaccardFromShingles(sh: DataFrame, pairs: DataFrame,
                                  idCol: String): DataFrame = {
    // Restrict the shingle stream to docs that appear in some candidate
    // pair BEFORE the (id, shingle) equi-join: the intersection join's
    // shuffle then moves O(candidate-doc shingles), not O(corpus
    // shingles). Exactness is untouched (a semi-join keeps every shingle
    // row of every doc it keeps). At the r9 scale-26 probe (2.56M docs,
    // 373k candidate pairs) the un-restricted join re-shuffled the whole
    // ~128M-row shingle frame against a 19M-row probe stream — the single
    // hottest stage of the LSH pipeline (272s of a 443s wall); candidates
    // touch only a fraction of the corpus, which is exactly the asymmetry
    // a 100 TB near-dup pass lives on.
    // `pairs` is referenced three times below (candidate ids, the probe
    // stream, the final join) — materialize ONCE so the candidate
    // generator (typically a band self-join) doesn't replay per reference,
    // and so its row count can size-gate the broadcast of the id set: a
    // broadcast semi-join prunes the shingle stream WITHOUT re-exchanging
    // it (a shuffled semi-join would move the whole corpus's shingles,
    // which is the cost this pruning exists to avoid).
    val pM = pairs.mat
    val nPairs = pM.count()
    // The prune only pays when the id set BROADCASTS: a shuffled semi-join
    // would re-exchange the whole corpus shingle frame — the exact cost the
    // pruning exists to avoid — and the downstream id_a/id_b joins shuffle
    // shC again, so past the broadcast gate the prune is a strict extra
    // full-corpus shuffle. Skip it entirely there (candidates covering most
    // of the corpus also gain little from pruning).
    val shC =
      if (graft.prims.Regime.fits(2 * nPairs)) {
        val candIds = pM.select(col("id_a").as(idCol))
          .union(pM.select(col("id_b").as(idCol))).distinct()
        sh.join(broadcast(candIds), Seq(idCol), "left_semi")
      } else sh
    val cnt = shC.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val inter = pM
      .join(shC.select(col(idCol).as("id_a"), col("s")), "id_a")
      .join(shC.select(col(idCol).as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    pM.join(inter, Seq("id_a", "id_b"), "left")
      .join(cnt.select(col(idCol).as("id_a"), col("n_sh").as("na")), "id_a")
      .join(cnt.select(col(idCol).as("id_b"), col("n_sh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L))), 6).as("jaccard"))
  }

  /** All near-dup pairs above `threshold` by exact n-gram Jaccard, with
    * candidate generation via shared-shingle join (prefix-filter shape:
    * only pairs sharing at least one shingle are ever materialized).
    *
    * `maxShingleDf > 0` caps the document frequency of shingles used for
    * CANDIDATE GENERATION: a boilerplate shingle occurring in D documents
    * contributes D² join rows, which is the quadratic blowup that kills
    * the shared-shingle join on web-scale corpora. Capped mode mines
    * candidates from rare shingles only, then scores those pairs with
    * their EXACT full-set Jaccard — only pairs whose every common shingle
    * is a hub can be missed (recall on realistic corpora stays ≥ 0.95;
    * see PipelineSpec). */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.2,
                        idCol: String = "doc_id", textCol: String = "text",
                        maxShingleDf: Int = 0,
                        shinglesPre: Option[DataFrame] = None): DataFrame = {
    val sh = shinglesPre.getOrElse(docs
      .select(col(idCol), explode(shingles(tokens(col(textCol)), n)).as("s"))
      .distinct().mat)
    val cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val inter =
      if (maxShingleDf <= 0) {
        sh.as("x").join(sh.as("y"),
            col("x.s") === col("y.s") && col(s"x.$idCol") < col(s"y.$idCol"))
          .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
          .agg(count(lit(1)).as("inter"))
      } else {
        // shingle sets partition into rare/hub by global df, so
        //   |A∩B| = |rare(A)∩rare(B)| + |hub(A)∩hub(B)|.
        // The rare part IS the candidate join's count; the hub part joins
        // each candidate pair against the few hub shingles per document —
        // never against a hub posting list.
        val dfTab = sh.groupBy("s").agg(count(lit(1)).as("df")).mat
        val rare = sh.join(dfTab.filter(col("df") <= maxShingleDf).select("s"),
          Seq("s"), "left_semi")
        val hub = sh.join(dfTab.filter(col("df") > maxShingleDf).select("s"),
          Seq("s"), "left_semi")
        val rareInter = rare.as("x").join(rare.as("y"),
            col("x.s") === col("y.s") && col(s"x.$idCol") < col(s"y.$idCol"))
          .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
          .agg(count(lit(1)).as("rare_i"))
        val hubInter = rareInter.select("id_a", "id_b")
          .join(hub.select(col(idCol).as("id_a"), col("s").as("sa")), "id_a")
          .join(hub.select(col(idCol).as("id_b"), col("s").as("sa")), Seq("id_b", "sa"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("hub_i"))
        rareInter.join(hubInter, Seq("id_a", "id_b"), "left")
          .select(col("id_a"), col("id_b"),
            (col("rare_i") + coalesce(col("hub_i"), lit(0L))).as("inter"))
      }
    inter
      .join(cnt.select(col(idCol).as("id_a"), col("n_sh").as("na")), "id_a")
      .join(cnt.select(col(idCol).as("id_b"), col("n_sh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-document duplicated SPANS — the fixed-length-window
    * approximation of exact substring deduplication (the suffix-array
    * method of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL'22 — public method; fixed k-token windows are the
    * standard distributed approximation of its duplicated-substring
    * output). Every k-token window whose token sequence occurs in at
    * least two DISTINCT documents is a duplicated window (within-doc
    * repeats are `repetitionRatio`'s concern); per document, duplicated
    * windows whose token ranges overlap or touch merge into maximal
    * spans. Output (doc_id, span_start, span_end, span_len, n_windows),
    * token indices 0-based inclusive.
    *
    * Scale shape: windows are keyed by a 60-bit hash of the window text,
    * duplication is decided by ONE hash-shuffle aggregation
    * (min(doc) ≠ max(doc) — no countDistinct expansion), marked windows
    * come back via one equi-join against the 1-row-per-key dup side, and
    * span merging is a per-document gaps-and-islands window (lag + running
    * sum). Nothing is all-pairs: a boilerplate window shared by a million
    * documents costs one aggregation row and a million join probes, never
    * 10¹² join rows — this is why the window approximation, not the
    * literal suffix array, is what runs at 100 TB. */
  def duplicateSpans(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // materialized ONCE (r11-opt): the window stream feeds both the dup-key
    // aggregation and the mark-back join — as a lazy frame the tokenize +
    // per-window md5 (the kernel's dominant CPU) ran twice, once per
    // consumer subtree.
    val wins = docs.select(col(idCol),
        posexplode(shingles(tokens(col(textCol)), k)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos").cast("long").as("pos"), hash60(col("g")).as("h"))
      .mat
    val dup = wins.groupBy("h")
      .agg(min(idCol).as("_mn"), max(idCol).as("_mx"))
      .filter(col("_mn") =!= col("_mx")).select("h")
    val marked = wins.join(dup, "h").select(col(idCol), col("pos"))
    val wOrd = Window.partitionBy(idCol).orderBy("pos")
    // windows at p < q merge iff q ≤ p + k (ranges [p,p+k-1],[q,q+k-1]
    // overlap or touch); null lag (first window) starts island 0
    val islands = marked
      .withColumn("_new",
        when(col("pos") - lag("pos", 1).over(wOrd) > k, 1).otherwise(0))
      .withColumn("island", sum("_new").over(wOrd))
    islands.groupBy(col(idCol), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + k - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
  }

  /** Strip duplicated spans from every document — the aggressive
    * boilerplate cut a web corpus applies corpus-wide (all copies go; the
    * keep-one-copy decision for whole-document duplicates is
    * [[resolveClusters]]' concern). Tokens covered by any merged span from
    * [[duplicateSpans]] are removed; untouched documents pass through.
    * Output (doc_id, clean_text, n_tokens_kept, n_tokens_removed).
    * The span list is collected per document (bounded by document length,
    * never corpus size) and applied as a codegen'd filter-with-index
    * lambda — no UDF, no second pass over the corpus text. */
  def removeDuplicateSpans(docs: DataFrame, k: Int = 5, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    removeDuplicateSpansFrom(docs, duplicateSpans(docs, k, idCol, textCol),
      idCol, textCol)

  /** [[removeDuplicateSpans]] over a PRECOMPUTED [[duplicateSpans]] table —
    * callers running both the mining report and the strip share one mining
    * pass (the corpus-wide window hash agg is the dominant cost). */
  def removeDuplicateSpansFrom(docs: DataFrame, spanTable: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame = {
    val spans = spanTable
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol), tokens(col(textCol)).as("ws"), col("spans"))
      .select(col(idCol), col("ws"),
        when(col("spans").isNull, col("ws"))
          .otherwise(filter(col("ws"), (w, i) => !exists(col("spans"),
            s => i >= s.getField("span_start") && i <= s.getField("span_end"))))
          .as("kept"))
      .select(col(idCol),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("n_tokens_removed"))
  }

  /** 32-bit SimHash fingerprint over term-frequency-weighted tokens.
    * Row shape: docs × distinct tokens × 32 bit positions — fully
    * aggregated map-side; the per-doc fingerprint is a single long.
    * Hamming-near pairs can then be found by joining on rotated bit-bands
    * (same LSH shape as minhashLshPairs). */
  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: weakly-connected
    * components over the pair graph (the graph engine eating its own dog
    * food), canonical survivor = min doc id per cluster; docs in no pair
    * are their own singleton cluster. Output (doc_id, cluster, is_canonical).
    * This is the step that turns pair mining into an actual dedup decision
    * at corpus scale. */
  def resolveClusters(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id"): DataFrame = {
    import graft.core.{PropertyGraph, Structure, GraphProperties}
    val e = pairs.select(col(pairs.columns(0)).as(graft.core.Gr.SRC),
      col(pairs.columns(1)).as(graft.core.Gr.DST))
    val verts = docs.select(col(idCol).as(graft.core.Gr.ID))
    val g = PropertyGraph(verts, e, GraphProperties(directed = false))
    val wcc = graft.algos.Components.wcc(g)
    docs.select(col(idCol))
      .join(wcc.withColumnRenamed(graft.core.Gr.ID, idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("cluster"))
      .withColumn("is_canonical", col(idCol) === col("cluster"))
  }

  /** Canonical-representative selection — the step every production dedup
    * ends with: per duplicate cluster, KEEP exactly one member and drop
    * the rest. Policy here: keep the longest document (token count, ties
    * → lowest id) — the common "keep the most complete copy" rule; any
    * per-doc score column composes the same way. One hash-agg over the
    * cluster assignment (scan-shaped — no joins beyond the score attach,
    * no windows, so it scales as a single groupBy at any corpus size).
    * Output (cluster, kept_id, kept_tokens, n_members), one row per
    * cluster — singletons keep themselves with n_members = 1. */
  def keepBest(docs: DataFrame, clusters: DataFrame,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    clusters.select(col(idCol), col("cluster")).join(tok, idCol)
      .groupBy("cluster")
      .agg(
        max_by(struct(col(idCol), col("n_tokens")),
          struct(col("n_tokens"), (-col(idCol)).as("ni"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), col(s"k.$idCol").as("kept_id"),
        col("k.n_tokens").as("kept_tokens"), col("n_members"))
  }

  def simhash(docs: DataFrame, bits: Int = 32,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(idCol, "t").agg(count(lit(1)).as("tf"))
      .withColumn("h", hash60(col("t")))
    // the shift amount is a column, so the per-bit contribution uses expr
    val contrib = tf
      .select(col(idCol), col("tf"), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("bit"))
      .select(col(idCol), col("bit"),
        expr("CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END").as("c"))
    contrib.groupBy(idCol, "bit").agg(sum("c").as("s"))
      .groupBy(idCol)
      .agg(sum(expr("CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END"))
        .as("simhash"))
  }

  /** Semantic dedup, k-means-bucketed (the SemDeDup shape — Abbas et al.
    * 2023, public method): vectors are assigned to `nlist` coarse k-means
    * clusters (deterministic training, shared with `Ann.kmeansCentroids`),
    * and exact cosine runs ONLY within a cluster — the corpus-side work is
    * an equi-join on cluster id, so a 100 TB embedding table is pruned to
    * per-cluster blocks before any pair is materialized. Complements
    * [[embeddingDupPairs]]' random-hyperplane buckets with
    * geometry-adaptive ones: recall concentrates exactly where semantic
    * duplicates live (same cluster) instead of being uniform over random
    * cuts. Feed the pairs to [[resolveClusters]] for the keep-one
    * decision. Output (id_a, id_b, cosine). */
  def embeddingDupPairsIvf(emb: DataFrame, threshold: Double, nlist: Int = 16,
                           iters: Int = 3,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", TextOps.norm(col("v"))).mat
    val cents = Ann.kmeansCentroids(emb, nlist, iters, idCol, vecCol).mat
    val bucketed = Ann.assignToCentroids(e, cents, idCol, Seq("v", "nrm"))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.cid") === col("b.cid") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(TextOps.cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding near-duplicates: pairs with cosine ≥ threshold.
    * Candidate generation buckets vectors by random-hyperplane LSH signature
    * (`planes` hash-derived hyperplanes); exact cosine is computed only
    * within a bucket (equi-join on the signature — the scale path, and the
    * DEFAULT). `planes = 0` switches to exact all-pairs via a cartesian
    * self-join: recall 1, but quadratic — fixture-scale/oracle use only. */
  def embeddingDupPairs(emb: DataFrame, threshold: Double, planes: Int = 8,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", TextOps.norm(col("v"))).mat
    val pairs =
      if (planes <= 0)
        e.as("a").join(e.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      else {
        // sign signature under `planes` pseudo-random hyperplanes; vectors
        // sharing a signature land in one bucket (recall < 1, scale >> 1)
        val sig = e.select(col(idCol).as("_sid"), col("v"))
          .withColumn("sig", concat_ws("", (0 until planes).map { p =>
            val plane = transform(sequence(lit(0), size(col("v")) - 1),
              i => pmod(TextOps.hash60(concat(lit(s"p$p:"), i.cast("string"))), lit(2001)) - 1000)
            when(TextOps.dot(col("v"), plane.cast("array<double>")) >= 0, lit("1")).otherwise(lit("0"))
          }: _*))
          .select(col("_sid"), col("sig"))
        val withSig = e.join(sig, e(idCol) === sig("_sid")).drop("_sid")
        withSig.as("a").join(withSig.as("b"),
          col("a.sig") === col("b.sig") && col(s"a.$idCol") < col(s"b.$idCol"))
      }
    pairs.select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(TextOps.cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
