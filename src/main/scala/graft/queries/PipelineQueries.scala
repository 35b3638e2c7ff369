package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AnnIndex, Dedup, DedupIndex, Multimodal, Packing, Sampling, Similarity, Sketches, TextOps, UrlOps}

/** LLM-training-data pipeline operators as first-class engine queries
  * (BASELINE.json north star): dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard / embedding cosine), similarity search (brute-force +
  * IVF), text analysis (lang-ID, quality, token stats, fingerprints).
  *
  * DuckDB oracles replicate the exact arithmetic (md5-derived hashes,
  * sequential double folds), so even float outputs hash-match. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  // Widened variant (guide §2.5): the fixture files are single-row-group
  // parquet — an unwidened scan runs every tokenizer/hash kernel downstream
  // on ONE core (t06 measured as one 2.46 s task at sf0.1; 0.39 s widened).
  // Opt-in per query: only the text kernels whose per-row compute dominates
  // (t06/t16/t19/t20, the substring scrub family) win; for the cheap or
  // multi-pass queries the extra exchange is pure overhead (t15 measured
  // 2.0→3.2 s widened). widen() is a no-op whenever the scan is already
  // cores-wide (any cluster-scale table).
  private def docsW(s: SparkSession, dir: String): DataFrame =
    Tables.widen(Tables.load(s, dir, "documents"))
  // embeddings stays UNWIDENED: 2 000 vectors at sf0.1 — the s-family is
  // driver/planning-bound, and a widened source just adds stages (measured
  // s07 2.7→3.9 s with the exchange in).
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Shared oracle CTE: lowercased alphanumeric tokens per doc. */
  private val toksCte =
    "toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents)"

  /** Shared oracle CTE chain: 16-seed MinHash over 3-token shingles with the
    * same (a·h+b) mod P permutation family as Dedup.minhashWide — one md5
    * per shingle, integer arithmetic after. */
  private val constsValues = Dedup.coeffs.zipWithIndex
    .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
  /** The tokenize→shingle→minhash→band stages, alias-prefixable so the d16
    * oracle can run the SAME chain over two sources in one statement —
    * one copy of the arithmetic, every consumer desynchronizes together or
    * not at all. Expects `consts(seed, a, b)` defined upstream. */
  private[queries] def bandChainCte(src: String, p: String): String = s"""
      ${p}toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM $src),
      ${p}idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM ${p}toks WHERE len(tk) >= 3),
      ${p}sh AS (SELECT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle FROM ${p}idx),
      ${p}hh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % ${Dedup.P} AS hm FROM ${p}sh),
      ${p}sig AS (SELECT doc_id, seed, min((a * hm + b) % ${Dedup.P}) AS minh
              FROM ${p}hh, consts GROUP BY doc_id, seed),
      ${p}bands AS (SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band,
                       string_agg(minh, ',' ORDER BY seed) AS band_sig
                FROM ${p}sig GROUP BY doc_id, seed // 4)"""

  private def minhashCteFor(src: String, cap: Int) = s"""
      WITH consts(seed, a, b) AS (VALUES $constsValues),${bandChainCte(src, "")},
      bcount AS (SELECT band, band_sig, count(*) AS bucket_n
                 FROM bands GROUP BY band, band_sig),
      bandsok AS (SELECT b.doc_id, b.band, b.band_sig
                  FROM bands b JOIN bcount c
                    ON b.band = c.band AND b.band_sig = c.band_sig
                   AND c.bucket_n <= $cap),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM bandsok a JOIN bandsok b
                  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)"""

  private val minhashCte = minhashCteFor("documents", 1000)

  // ---------------------------------------------------------------- d01
  private val d01 = QueryDef(
    "d01_dedup_exact",
    (s, dir) => Dedup.exactMark(docs(s, dir), "text", "doc_id"),
    Some("""
      SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h,
             doc_id = min(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS keeper
      FROM documents"""))

  // ---------------------------------------------------------------- d02
  private val d02 = QueryDef(
    "d02_minhash_signature",
    (s, dir) => Dedup.minhash(docs(s, dir), "text", "doc_id"),
    Some(s"""$minhashCte
      SELECT doc_id, CAST(seed AS BIGINT) AS seed, minh FROM sig"""))

  // ---------------------------------------------------------------- d03
  private val d03 = QueryDef(
    "d03_lsh_candidate_pairs",
    (s, dir) => Dedup.candidatePairs(
      Dedup.bandSignatures(Dedup.minhashWide(docs(s, dir), "text", "doc_id"), "doc_id"), "doc_id"),
    Some(s"""$minhashCte
      SELECT doc_a, doc_b FROM pairs"""))

  // ---------------------------------------------------------------- d08
  // Skew torture for the LSH chain (VERDICT r3 "Next round #2"): 30% of the
  // corpus rewritten to ONE shared boilerplate text — the 100 TB norm. All
  // those docs collide into a single (band, band_sig) bucket per band; the
  // maxBucket guard must drop the hot buckets (m² pair emission for no
  // near-dup signal) while organic candidates among untouched docs survive.
  // cap=100 so the guard ENGAGES at oracle scale (450 boilerplate docs at
  // sf0.01) — the default 1000 is exercised by d03 on the organic corpus.
  private val skewBoiler =
    "standard corporate boilerplate header this document is provided as is " +
      "without warranty of any kind express or implied"
  private def skewedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      when(col("doc_id") % 10 < 3, lit(skewBoiler)).otherwise(col("text")))
  private val skewedSql =
    s"(SELECT doc_id, CASE WHEN doc_id % 10 < 3 THEN '$skewBoiler' ELSE text END AS text FROM documents)"
  private val d08 = QueryDef(
    "d08_lsh_skew_guard",
    (s, dir) => Dedup.candidatePairs(
      Dedup.bandSignatures(Dedup.minhashWide(skewedDocs(s, dir), "text", "doc_id"), "doc_id"),
      "doc_id", maxBucket = 100),
    Some(s"""${minhashCteFor(skewedSql, 100)}
      SELECT doc_a, doc_b FROM pairs"""))

  // ---------------------------------------------------------------- d09
  // The full "dedup the corpus" step: LSH candidates → Jaccard verify →
  // CONNECTED COMPONENTS (near-dup is not transitive, clusters are) →
  // every doc labeled with its cluster's min doc_id + a keeper flag.
  // Spark side runs alternating large-star/small-star (O(log n) shuffle
  // rounds, no neighbor lists); the oracle replays the same clusters as a
  // recursive-CTE transitive closure — valid because min-id component
  // labeling is algorithm-independent.
  private val d09 = QueryDef(
    "d09_dedup_cluster",
    (s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.candidatePairs(
        Dedup.bandSignatures(Dedup.minhashWide(d, "text", "doc_id"), "doc_id"), "doc_id")
        .persist()
      val verified = Dedup.jaccardOnPairs(pairs, d, "text", "doc_id")
        .filter(col("jaccard") >= 0.8)
      Dedup.clusterAssign(d, verified, "doc_id")
    },
    Some(s"""${minhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
      shsets AS (SELECT doc_id, list_distinct(list(shingle)) AS dtk FROM sh GROUP BY doc_id),
      jac AS (SELECT p.doc_a, p.doc_b
              FROM pairs p JOIN shsets a ON p.doc_a = a.doc_id
                           JOIN shsets b ON p.doc_b = b.doc_id
              WHERE len(list_intersect(a.dtk, b.dtk))::DOUBLE
                    / (len(a.dtk) + len(b.dtk) - len(list_intersect(a.dtk, b.dtk))) >= 0.8),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM jac
                UNION SELECT doc_b, doc_a FROM jac),
      reach(src, dst) AS (SELECT u, v FROM edges
                          UNION
                          SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
      comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
               FROM reach GROUP BY src)
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keeper
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id"""))

  // ---------------------------------------------------------------- d10
  // Eval-set decontamination: training docs sharing any 8-token n-gram
  // with the held-out set (doc_id % 50 == 0 plays the benchmark) get
  // flagged with the shared-distinct-gram count. The near-dup structure
  // planted in the corpus guarantees real hits (an eval doc has a train
  // near-duplicate), so the flag path is exercised, not vacuously green.
  private val d10 = QueryDef(
    "d10_decontaminate",
    (s, dir) => Dedup.contaminationMark(docs(s, dir), "text", "doc_id",
      col("doc_id") % 50 === 0),
    Some("""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
      ng AS (SELECT doc_id,
               CASE WHEN len(tk) >= 8 THEN list_distinct(list_transform(
                 generate_series(1, len(tk) - 7),
                 i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5], tk[i+6], tk[i+7])))
               ELSE [] END AS g
             FROM toks),
      ex AS (SELECT doc_id, unnest(g) AS gram FROM ng),
      ev AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 50 = 0),
      hits AS (SELECT t.doc_id, count(DISTINCT t.gram) AS n_shared
               FROM ex t JOIN ev e ON t.gram = e.gram
               WHERE t.doc_id % 50 <> 0 GROUP BY t.doc_id)
      SELECT n.doc_id,
             coalesce(h.n_shared, 0) AS n_shared_grams,
             coalesce(h.n_shared, 0) > 0 AS contaminated
      FROM ng n LEFT JOIN hits h ON n.doc_id = h.doc_id
      WHERE n.doc_id % 50 <> 0"""))

  // ---------------------------------------------------------------- d04
  private val d04 = QueryDef(
    "d04_simhash",
    (s, dir) => Dedup.simhash16(docs(s, dir), "text", "doc_id"),
    Some("""
      WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok FROM documents),
      h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h32 FROM tok),
      bits AS (SELECT doc_id, h32, unnest(generate_series(0, 15)) AS bit FROM h),
      sums AS (SELECT doc_id, bit, sum(CASE WHEN (h32 >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
               FROM bits GROUP BY doc_id, bit)
      SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM sums GROUP BY doc_id"""))

  // ---------------------------------------------------------------- d05
  private val d05 = QueryDef(
    "d05_jaccard_verify",
    (s, dir) => {
      val d = docs(s, dir)
      // jaccardOnPairs consumes `pairs` twice (suspect-id extraction + the
      // final pair join); persisting it cuts the minhash→LSH generation
      // chain from two evaluations to one. Scale-safe: pairs IS the
      // candidate set — tiny relative to the corpus by construction.
      val pairs = Dedup.candidatePairs(
        Dedup.bandSignatures(Dedup.minhashWide(d, "text", "doc_id"), "doc_id"), "doc_id")
        .persist()
      Dedup.jaccardOnPairs(pairs, d, "text", "doc_id")
    },
    Some(s"""$minhashCte,
      shsets AS (SELECT doc_id, list_distinct(list(shingle)) AS dtk FROM sh GROUP BY doc_id)
      SELECT p.doc_a, p.doc_b,
             len(list_intersect(a.dtk, b.dtk))::DOUBLE
               / (len(a.dtk) + len(b.dtk) - len(list_intersect(a.dtk, b.dtk))) AS jaccard
      FROM pairs p JOIN shsets a ON p.doc_a = a.doc_id JOIN shsets b ON p.doc_b = b.doc_id"""))

  // ---------------------------------------------------------------- d06
  private val d06 = QueryDef(
    "d06_embedding_neardup",
    (s, dir) => {
      val e = emb(s, dir)
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      val cos = Similarity.cosine("ea", "eb")
      a.join(b, col("vec_b") === col("vec_a") + 1)
        .select(col("vec_a"), col("vec_b"), cos.as("cos_sim"), (cos > 0.95).as("near_dup"))
    },
    Some(s"""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ${Similarity.cosineSql("a.embedding", "b.embedding")} AS cos_sim,
             ${Similarity.cosineSql("a.embedding", "b.embedding")} > 0.95 AS near_dup
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1"""))

  // ---------------------------------------------------------------- s01
  private val s01 = QueryDef(
    "s01_ann_bruteforce_topk",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.bruteForceTopK(queries, candidates, 10)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      scored AS (SELECT q_id, vec_id, ${Similarity.cosineSql("qv", "cv")} AS cos_sim FROM q, c),
      ranked AS (SELECT q_id, vec_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank, cos_sim
                 FROM scored)
      SELECT q_id, vec_id, rank, cos_sim FROM ranked WHERE rank <= 10"""))

  // ---------------------------------------------------------------- s02
  // IVF ANN. Centroid folds are vec_id-ordered (deterministic), so the full
  // route-then-probe chain replays exactly in DuckDB — hash-checkable.
  private val s02 = QueryDef(
    "s02_ann_ivf_topk",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.ivfTopK(queries, candidates, 10)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, label, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.centroidsSql("c")},
      routed AS (
        SELECT q_id, qv, label FROM (
          SELECT q.q_id, q.qv, cent.label,
                 row_number() OVER (PARTITION BY q.q_id
                   ORDER BY ${Similarity.cosineSql("qv", "centroid")} DESC, cent.label) AS cr
          FROM q, cent) x
        WHERE cr = 1),
      scored AS (
        SELECT r.q_id, c.vec_id, ${Similarity.cosineSql("r.qv", "c.cv")} AS cos_sim
        FROM routed r JOIN c ON c.label = r.label),
      ranked AS (
        SELECT q_id, vec_id,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank,
               cos_sim
        FROM scored)
      SELECT q_id, vec_id, rank, cos_sim FROM ranked WHERE rank <= 10"""))

  // ---------------------------------------------------------------- s04
  // Learned-centroid IVF: deterministic seeded k-means (md5-picked seeds,
  // fixed 2 iterations, decimal-sum centroid updates) + nprobe=2 routing.
  // Every arithmetic step is order-independent or id-tied, so the whole
  // chain — including the k-means itself — replays exactly in DuckDB.
  private val s04 = QueryDef(
    "s04_ann_ivf_learned",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      Similarity.ivfTopKLearned(queries, candidates, 10, kCells = 4, iters = 2, nprobe = 2)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.ivfLearnedSql(10, kCells = 4, iters = 2, nprobe = 2)}"""))

  // ---------------------------------------------------------------- s08
  // SEMDEDUP: semantic dedup where the learned k-means clusters BOUND the
  // pairwise work — cosine runs only within a cluster, never corpus-wide.
  // The oracle replays the whole chain (k-means included) in SQL, so the
  // cluster-bounding itself is under the hash gate. Threshold 0.35 matches
  // s03's corpus calibration (max pairwise cosine ≈ 0.51) so the flag is
  // observably true for some rows.
  private val s08 = QueryDef(
    "s08_semdedup",
    (s, dir) => Similarity.semDedup(
      emb(s, dir).select(col("vec_id"), col("embedding")),
      threshold = 0.35, kCells = 4, iters = 2),
    Some(s"""
      WITH c AS (SELECT vec_id, embedding AS cv FROM embeddings),
      ${Similarity.semDedupSql(threshold = 0.35, kCells = 4, iters = 2)}"""))

  // ---------------------------------------------------------------- s15
  // MATRYOSHKA (MRL) PREFIX-DIM two-stage ANN: coarse cosine over the
  // first 16 of 64 dims (a 4× FLOP/bandwidth cut with no codebook), exact
  // full-dim rerank over the top-30 candidates. Whole chain replayed in
  // SQL — a prefix off-by-one, candidate-set drift, or rerank slip fails
  // rows AND hash.
  private val s15 = QueryDef(
    "s15_ann_mrl_rerank",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.mrlRerankTopK(queries, candidates, k = 10, dPrefix = 16, kCand = 30)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.mrlRerankSql(10, dPrefix = 16, kCand = 30)}"""))

  // ---------------------------------------------------------------- s16
  // RECALL@10 of the MRL prefix-dim rerank against the exact top-10 —
  // what truncating to a quarter of the dims costs (or doesn't) is itself
  // under the hash gate, like the PQ (s12) and SQ8 (s13) siblings.
  private val s16 = QueryDef(
    "s16_ann_mrl_rerank_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.rerankRecallAtK(queries, candidates, k = 10, kCand = 30,
        "mrl", dPrefix = 16)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.mrlRerankCtes(dPrefix = 16, kCand = 30)}${Similarity.recallTailSql(10)}"""))

  // ---------------------------------------------------------------- s17
  // PERSISTED ANN INDEX — the index LIFECYCLE at 100 TB: train once, store
  // the centroid model as a native Delta table, serve every search from
  // the stored rows. Build is idempotent per scale dir (first run trains +
  // writes, every later run — and every later SESSION — loads without
  // retraining; AnnIndexSpec pins zero training jobs on the search path).
  // The model is the same deterministic k-means as s04's inline path, so
  // the persisted-and-served search is bit-identical to inline training —
  // the oracle replays the one deterministic chain.
  private def annScratch(dir: String): String =
    FormatQueries.exportRoot(dir)
  private val s17 = QueryDef(
    "s17_ann_index_persisted",
    (s, dir) => {
      val e = emb(s, dir)
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val idx = s"${annScratch(dir)}/ann_ivf_index"
      AnnIndex.ensureIvf(candidates, idx, kCells = 4, iters = 2)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      AnnIndex.searchIvf(s, idx, queries, candidates, 8, nprobe = 1)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.ivfLearnedSql(8, kCells = 4, iters = 2, nprobe = 1)}"""))

  // ---------------------------------------------------------------- s18
  // INCREMENTAL APPEND-THEN-REPROBE: the persisted index (trained on the
  // BASE corpus only) serves a search over base ∪ appended — new vectors
  // are assigned to the EXISTING cells by the same projection, no retrain.
  // The oracle trains its k-means on c_base but assigns/search over c
  // (the grown corpus), replaying exactly that lifecycle.
  private val s18 = QueryDef(
    "s18_ann_index_append",
    (s, dir) => {
      val e = emb(s, dir)
      val base = e.filter(col("vec_id") >= 5 && col("vec_id") % 5 =!= 0)
        .select(col("vec_id"), col("embedding"))
      val appended = e.filter(col("vec_id") >= 5 && col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
      val idx = s"${annScratch(dir)}/ann_ivf_index_base"
      AnnIndex.ensureIvf(base, idx, kCells = 4, iters = 2)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      AnnIndex.searchIvf(s, idx, queries, base.unionByName(appended), 8, nprobe = 2)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c_base AS (SELECT vec_id, embedding AS cv FROM embeddings
                 WHERE vec_id >= 5 AND vec_id % 5 <> 0),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.ivfRankedCtes(kCells = 4, iters = 2, nprobe = 2,
        trainRel = "c_base", assignRel = "c")}
      SELECT q_id, vec_id, rank, cos_sim FROM ranked WHERE rank <= 8"""))

  // ---------------------------------------------------------------- s14
  // CLUSTER-BALANCED SAMPLING: diversity-capped selection over the learned
  // k-means cells — over-dense embedding regions are capped at 25 rows per
  // cell under a deterministic md5 pick order. The oracle replays the FULL
  // chain (k-means included) in SQL, so the balance itself is under the
  // hash gate: a drifted centroid, a mis-assigned cell, or a biased pick
  // order all change rows AND hash.
  private val s14 = QueryDef(
    "s14_cluster_balanced_sample",
    (s, dir) => Similarity.clusterBalancedSample(
      emb(s, dir).select(col("vec_id"), col("embedding")),
      capPerCell = 25, kCells = 4, iters = 2),
    Some(s"""
      WITH c AS (SELECT vec_id, embedding AS cv FROM embeddings),
      ${Similarity.clusterBalancedSampleSql(capPerCell = 25, kCells = 4, iters = 2)}"""))

  // ---------------------------------------------------------------- s09
  // RECALL@10 of the learned-IVF search against the exact top-10 — ANN
  // quality measured under the same hash gate as the operators themselves
  // (nprobe=2 of 4 cells recovers a verifiable, non-trivial fraction).
  private val s09 = QueryDef(
    "s09_ann_recall_eval",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      Similarity.recallAtK(queries, candidates, 10, kCells = 4, iters = 2, nprobe = 2)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.recallAtKSql(10, kCells = 4, iters = 2, nprobe = 2)}"""))

  // ---------------------------------------------------------------- d07
  // KMV distinct sketch vs exact: deterministic over a fixed hash, so the
  // ESTIMATE itself hash-matches DuckDB (unlike HLL). Buffer is 64 longs —
  // the shuffle carries sketches, not values.
  private val d07 = QueryDef(
    "d07_kmv_distinct",
    (s, dir) => graft.Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        Sketches.kmvDistinct(col("user_id")).as("est_distinct"),
        countDistinct(col("user_id")).as("exact_distinct")),
    Some(s"""
      SELECT k.event_type, k.est_distinct, e.exact_distinct
      FROM (${Sketches.kmvDistinctSql("user_id", "events", "event_type")}) k
      JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY event_type) e USING (event_type)"""))

  // ---------------------------------------------------------------- s03
  // Embedding near-dup via hyperplane LSH: bucketed candidates (never
  // all-pairs), capped hot buckets, exact cosine verify on candidates only.
  // threshold 0.35 fits this corpus (max pairwise cosine ≈ 0.51 — the
  // synthetic embeddings plant no true duplicates); production near-dup
  // filtering would use the operator's 0.9 default.
  private val s03 = QueryDef(
    "s03_cosine_lsh_neardup",
    (s, dir) => Similarity.cosineNearDupLsh(emb(s, dir), "vec_id", "embedding", threshold = 0.35),
    Some(Similarity.cosineLshSql(threshold = 0.35)))

  // ---------------------------------------------------------------- s05
  // The SIZING LEVER under the gate: same near-dup chain as s03 but the
  // band width derives from lshBitsFor(count(*)) — at sf0.01 that lands on
  // the 8-bit floor (same buckets as s03); at the stress ladder's sf1 the
  // corpus is 10× and bits grow to keep bucket occupancy ~64 instead of
  // letting candidates grow linearly per bucket. The oracle replays the
  // derivation in SQL, so the auto-sizing itself is hash-checked at every
  // scale the gate runs — not dead code exercised only at toy k.
  private val s05 = QueryDef(
    "s05_cosine_lsh_autosized",
    (s, dir) => Similarity.cosineNearDupLshAuto(emb(s, dir), "vec_id", "embedding",
      threshold = 0.35),
    Some(Similarity.cosineLshAutoSql(threshold = 0.35)))

  // ---------------------------------------------------------------- m01
  // Multimodal metadata pipeline over binary payloads with planted container
  // magics: size, content hash, magic-byte mime sniff, and validity against
  // a (deliberately sometimes-wrong) declared mime.
  private val m01 = QueryDef(
    "m01_multimodal_meta",
    (s, dir) => {
      val d = docs(s, dir)
      val payload =
        when(col("doc_id") % 3 === 0,
          concat(unhex(lit("89504E470D0A1A0A")), encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 3 === 1,
          concat(unhex(lit("FFD8FFE000104A46")), encode(col("text"), "UTF-8")))
        .otherwise(encode(col("text"), "UTF-8"))
      val declared = when(col("doc_id") % 3 === 2, "application/octet-stream")
        .otherwise("image/png") // wrong for the jpeg third — is_valid catches it
      d.select(col("doc_id"), payload.as("payload"), declared.as("declared_mime"))
        .select(
          col("doc_id"),
          Multimodal.sizeBytes(col("payload")).as("size_bytes"),
          Multimodal.sniffMime(col("payload")).as("mime"),
          Multimodal.contentHash(col("payload")).as("content_md5"),
          Multimodal.isValid(col("payload"), col("declared_mime")).as("is_valid"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN from_hex('89504E470D0A1A0A') || text::BLOB
                    WHEN doc_id % 3 = 1 THEN from_hex('FFD8FFE000104A46') || text::BLOB
                    ELSE text::BLOB END AS payload,
               CASE WHEN doc_id % 3 = 2 THEN 'application/octet-stream'
                    ELSE 'image/png' END AS declared_mime
        FROM documents),
      m AS (
        SELECT doc_id, payload, declared_mime,
               CASE WHEN left(hex(payload), 16) = '89504E470D0A1A0A' THEN 'image/png'
                    WHEN left(hex(payload), 6) = 'FFD8FF' THEN 'image/jpeg'
                    WHEN left(hex(payload), 8) = '47494638' THEN 'image/gif'
                    WHEN left(hex(payload), 8) = '52494646' AND substring(hex(payload), 17, 8) = '57415645' THEN 'audio/wav'
                    WHEN left(hex(payload), 8) = '52494646' AND substring(hex(payload), 17, 8) = '41564920' THEN 'video/avi'
                    WHEN left(hex(payload), 10) = '255044462D' THEN 'application/pdf'
                    ELSE 'application/octet-stream' END AS mime
        FROM p)
      SELECT doc_id, octet_length(payload) AS size_bytes, mime,
             md5(hex(payload)) AS content_md5,
             (octet_length(payload) > 0 AND mime = declared_mime) AS is_valid
      FROM m"""))

  // ---------------------------------------------------------------- m02
  // One-to-many multimodal decode shape: payload → fixed-stride frames via
  // a partition-local flatMap. The stub frame hash runs over the HEX
  // rendering, so DuckDB replays every output bit (frame count, hash,
  // timestamp) with substring(hex(payload)) — an oracle over an
  // imperative mapPartitions pipeline.
  private val m02 = QueryDef(
    "m02_frame_sample",
    (s, dir) => {
      val d = docs(s, dir)
      val payload =
        when(col("doc_id") % 3 === 0,
          concat(unhex(lit("89504E470D0A1A0A")), encode(col("text"), "UTF-8")))
        .when(col("doc_id") % 3 === 1,
          concat(unhex(lit("FFD8FFE000104A46")), encode(col("text"), "UTF-8")))
        .otherwise(encode(col("text"), "UTF-8"))
      Multimodal.frameSampleStub(
        d.select(col("doc_id"), payload.as("payload")), "payload", "doc_id",
        frameBytes = 128)
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN from_hex('89504E470D0A1A0A') || text::BLOB
                    WHEN doc_id % 3 = 1 THEN from_hex('FFD8FFE000104A46') || text::BLOB
                    ELSE text::BLOB END AS payload
        FROM documents),
      h AS (SELECT doc_id, hex(payload) AS hx FROM p),
      f AS (SELECT doc_id, hx, unnest(generate_series(0, len(hx) // 256 - 1)) AS fi
            FROM h WHERE len(hx) >= 256)
      SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
             md5(substring(hx, fi * 256 + 1, 256)) AS frame_md5,
             CAST(fi * 40 AS BIGINT) AS ts_ms
      FROM f"""))

  /** m03/m04 fixture frame: one REAL PNG per doc (deterministic geometry +
    * pixels, Multimodal.fixturePng), except every 5th doc carries a PNG
    * magic followed by text bytes — a payload that passes any magic sniff
    * but fails actual decoding, exercising the decode_ok=false path. */
  private def imageFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val payload =
            if (id % 5 == 4)
              Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A) ++
                text.getBytes("UTF-8")
            else Multimodal.fixturePng(id)
          (id, payload)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Oracle arithmetic mirror of Multimodal.fixture{Width,Height,Sample}. */
  private val fixtureDimsSql =
    "8 + 2*(doc_id % 16) AS w, 8 + 2*((doc_id*7) % 12) AS h"
  private def fixtureSampleSql(xExpr: String, yExpr: String) =
    s"(doc_id*31 + 7*($xExpr) + 13*($yExpr)) % 256"

  // ---------------------------------------------------------------- m08
  // IMAGE PATCH GRID over the real PNG fixtures — the ViT preprocessing
  // shape: decode, split into 8×8 cells (edge cells partial), per-cell
  // pixel count + exact sample sum. The oracle knows no decoder: it
  // regenerates the fixture's pixel arithmetic and groups by integer-
  // division cell coordinates, so a patch-boundary off-by-one, a dropped
  // edge cell, or a raster mis-read fails rows AND hash. Corrupt payloads
  // (every 5th doc) degrade to one decode_ok=false row.
  private val m08 = QueryDef(
    "m08_image_patches",
    (s, dir) => Multimodal.imagePatches(imageFixture(s, dir), "payload",
      "doc_id", patch = 8),
    Some(s"""
      WITH ok AS (SELECT doc_id, $fixtureDimsSql
                  FROM documents WHERE doc_id % 5 <> 4),
      xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM ok),
      px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
      cell AS (SELECT doc_id, y // 8 AS pr, x // 8 AS pc,
                      ${fixtureSampleSql("x", "y")} AS v
               FROM px)
      SELECT doc_id, CAST(pr AS BIGINT) AS patch_row, CAST(pc AS BIGINT) AS patch_col,
             CAST(count(*) AS BIGINT) AS n_pixels, CAST(sum(v) AS BIGINT) AS pix_sum,
             true AS decode_ok
      FROM cell GROUP BY doc_id, pr, pc
      UNION ALL
      SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), false AS decode_ok
      FROM documents WHERE doc_id % 5 = 4"""))

  // ---------------------------------------------------------------- m03
  // REAL image resize: decode the fixture PNG with ImageIO, bilinear
  // half-scale (exact 2× bilinear = 2×2 box average, floor), re-encode PNG,
  // re-decode the emitted bytes and report their dims + pixel sum. The
  // oracle replays the DECODED geometry and resize arithmetic in closed
  // form (it cannot replay PNG bytes — zlib — which is exactly the point:
  // only a real decode of the re-encoded output produces these numbers).
  private val m03 = QueryDef(
    "m03_resize",
    (s, dir) =>
      Multimodal.resizeImage(imageFixture(s, dir), "payload", "doc_id")
        .select(col("doc_id"), col("out_width"), col("out_height"),
          col("out_pix_sum"), col("decode_ok")),
    Some("""
      WITH ok AS (
        SELECT doc_id, (8 + 2*(doc_id % 16)) // 2 AS ow,
               (8 + 2*((doc_id*7) % 12)) // 2 AS oh
        FROM documents WHERE doc_id % 5 <> 4),
      xs AS (SELECT doc_id, ow, oh, unnest(generate_series(0, ow - 1)) AS x FROM ok),
      px AS (SELECT doc_id, ow, oh, x, unnest(generate_series(0, oh - 1)) AS y FROM xs),
      summed AS (
        SELECT doc_id, any_value(ow) AS ow, any_value(oh) AS oh,
               sum(((doc_id*31 + 7*(2*x)   + 13*(2*y))   % 256
                  + (doc_id*31 + 7*(2*x+1) + 13*(2*y))   % 256
                  + (doc_id*31 + 7*(2*x)   + 13*(2*y+1)) % 256
                  + (doc_id*31 + 7*(2*x+1) + 13*(2*y+1)) % 256) // 4) AS ps
        FROM px GROUP BY doc_id)
      SELECT doc_id, CAST(ow AS BIGINT) AS out_width, CAST(oh AS BIGINT) AS out_height,
             CAST(ps AS BIGINT) AS out_pix_sum, true AS decode_ok
      FROM summed
      UNION ALL
      SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), false
      FROM documents WHERE doc_id % 5 = 4"""))

  // ---------------------------------------------------------------- m04
  // REAL image decode: true ImageIO-decoded width/height/band-count plus
  // the exact integer sum of every raster sample. The corrupt fifth (PNG
  // magic + text bytes) fools any sniffer but not the decoder.
  private val m04 = QueryDef(
    "m04_image_decode",
    (s, dir) => Multimodal.decodeImage(imageFixture(s, dir), "payload", "doc_id"),
    Some(s"""
      WITH ok AS (
        SELECT doc_id, $fixtureDimsSql
        FROM documents WHERE doc_id % 5 <> 4),
      xs AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM ok),
      px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
      summed AS (
        SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
               sum(${fixtureSampleSql("x", "y")}) AS ps
        FROM px GROUP BY doc_id)
      SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(1 AS BIGINT) AS channels, CAST(ps AS BIGINT) AS pix_sum,
             true AS decode_ok
      FROM summed
      UNION ALL
      SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), false
      FROM documents WHERE doc_id % 5 = 4"""))

  // ---------------------------------------------------------------- m05
  // REAL video-container demux: each doc carries a spec-conform RIFF/AVI
  // file (deterministic frame payloads), and Multimodal.aviFrames walks the
  // actual chunk grammar — ids, sizes, even-padding, movi LIST — to emit
  // every frame payload's stream/index/offset/size/hash. The oracle knows
  // NO demuxer: it recomputes offsets and hashes in closed form, so a
  // parser that mis-walks the grammar by one byte fails the hash. Only the
  // pixel decode of the demuxed payloads still needs codecs (stub m02).
  private val m05 = QueryDef(
    "m05_avi_demux",
    (s, dir) => {
      import s.implicits._
      val withPayload = docs(s, dir).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.fixtureAvi(id))))
        .toDF("doc_id", "payload")
      Multimodal.aviFrames(withPayload, "payload", "doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, 2 + doc_id % 4 AS nframes FROM documents),
      f AS (SELECT doc_id, unnest(generate_series(0, nframes - 1)) AS k FROM d),
      sized AS (SELECT doc_id, k, 32 + 8 * (k % 2) AS sz FROM f)
      SELECT doc_id, CAST(k AS BIGINT) AS frame_idx, '00' AS stream,
             CAST(32 + 40 * k + 8 * (k // 2) AS BIGINT) AS offset,
             CAST(sz AS BIGINT) AS size_bytes,
             md5(array_to_string(
               list_transform(range(0, sz),
                 i -> printf('%02X', (doc_id * 7 + k * 11 + i) % 256)), '')) AS frame_md5
      FROM sized"""))

  // ---------------------------------------------------------------- m06
  // REAL audio decode: each doc carries a spec-conform PCM WAV (16-bit
  // mono, deterministic samples, an ODD-sized JUNK chunk to force the RIFF
  // even-padding rule), and Multimodal.wavFeatures parses the container AND
  // the samples — count, peak, exact energy. The oracle knows NO wav
  // parser: it replays the sample arithmetic closed-form, so a reader that
  // miswalks a chunk, flips endianness, or drops a sample fails the hash.
  // Corrupt payloads (every 7th doc) must degrade to decode_ok=false rows.
  private val m06 = QueryDef(
    "m06_wav_decode",
    (s, dir) => {
      import s.implicits._
      val withPayload = docs(s, dir).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val payload =
            if (id % 7 == 3) s"not a wav $id".getBytes("UTF-8")
            else Multimodal.fixtureWav(id)
          (id, payload)
        }).toDF("doc_id", "payload")
      Multimodal.wavFeatures(withPayload, "payload", "doc_id")
    },
    Some("""
      WITH ok AS (SELECT doc_id, 50 + doc_id % 37 AS n FROM documents
                  WHERE doc_id % 7 <> 3),
      seqs AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM ok),
      v AS (SELECT doc_id, n, ((doc_id * 31 + i * 17) % 65536) - 32768 AS smp FROM seqs),
      agg AS (SELECT doc_id, any_value(n) AS n, max(abs(smp)) AS peak,
                     sum(smp * smp) AS energy
              FROM v GROUP BY doc_id)
      SELECT doc_id, CAST(1 AS BIGINT) AS channels, CAST(8000 AS BIGINT) AS sample_rate,
             CAST(n AS BIGINT) AS n_samples, CAST(peak AS BIGINT) AS peak_abs,
             CAST(energy AS BIGINT) AS energy, true AS decode_ok
      FROM agg
      UNION ALL
      SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), false AS decode_ok
      FROM documents WHERE doc_id % 7 = 3"""))

  // ---------------------------------------------------------------- m07
  // AUDIO FRAME WINDOWING over the m06 WAV fixtures: the real container
  // walk + PCM decode, then fixed 16-sample frames with per-frame integer
  // stats — the flatMap feature-extraction shape (one row in, nframes
  // out). The oracle knows NO wav parser: it regenerates the sample
  // arithmetic closed-form and windows it with integer division, so an
  // off-by-one in frame boundaries, a dropped tail frame, or a byte-order
  // slip fails rows AND hash. Corrupt payloads (every 7th doc) must
  // degrade to a single decode_ok=false row.
  private val m07 = QueryDef(
    "m07_audio_frames",
    (s, dir) => {
      import s.implicits._
      val withPayload = docs(s, dir).select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val payload =
            if (id % 7 == 3) s"not a wav $id".getBytes("UTF-8")
            else Multimodal.fixtureWav(id)
          (id, payload)
        }).toDF("doc_id", "payload")
      Multimodal.wavFrames(withPayload, "payload", "doc_id", frameSize = 16)
    },
    Some("""
      WITH ok AS (SELECT doc_id, 50 + doc_id % 37 AS n FROM documents
                  WHERE doc_id % 7 <> 3),
      seqs AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM ok),
      v AS (SELECT doc_id, i // 16 AS k,
                   ((doc_id * 31 + i * 17) % 65536) - 32768 AS smp
            FROM seqs),
      agg AS (SELECT doc_id, k, count(*) AS nf, max(abs(smp)) AS peak,
                     sum(smp * smp) AS energy
              FROM v GROUP BY doc_id, k)
      SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
             CAST(nf AS BIGINT) AS n_in_frame, CAST(peak AS BIGINT) AS peak_abs,
             CAST(energy AS BIGINT) AS energy, true AS decode_ok
      FROM agg
      UNION ALL
      SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), false AS decode_ok
      FROM documents WHERE doc_id % 7 = 3"""))

  // ---------------------------------------------------------------- t01
  private val t01 = QueryDef(
    "t01_token_stats",
    (s, dir) => docs(s, dir).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      size(array_distinct(TextOps.tokens(col("text")))).cast("long").as("n_uniq"),
      TextOps.bpeishCount(col("text")).as("n_bpeish")),
    Some("""
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_uniq,
             len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]')) AS n_bpeish
      FROM documents"""))

  // ---------------------------------------------------------------- t02
  private val t02 = QueryDef(
    "t02_fingerprint",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy(col("fp"))))
    },
    Some("""
      SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
      FROM (SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS fp
            FROM documents) f"""))

  // ---------------------------------------------------------------- t03
  private val t03 = QueryDef(
    "t03_langid",
    (s, dir) => docs(s, dir).select(
      col("doc_id"), col("lang"), TextOps.langId(col("text")).as("pred_lang")),
    Some {
      val scores = TextOps.langMarkers.map { case (lang, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(tk, t -> t IN ($set))) AS s_$lang"
      }.mkString(",\n             ")
      val langs = TextOps.langMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val pick = langs.map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'").mkString(" ")
      s"""
      WITH $toksCte,
      scored AS (SELECT doc_id, lang, $scores FROM (SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents) x),
      withbest AS (SELECT *, $best AS best FROM scored)
      SELECT doc_id, lang, CASE $pick ELSE 'und' END AS pred_lang FROM withbest"""
    })

  // ---------------------------------------------------------------- t04
  private val t04 = QueryDef(
    "t04_quality_score",
    (s, dir) => {
      val cols = TextOps.qualityColumns(col("text"), col("n_chars"))
      val m = cols.toMap
      docs(s, dir).select(
        Seq(col("doc_id")) ++ cols.map { case (n, c) => c.as(n) } ++ Seq(
          (lit(0.4) * m("uniq_ratio")
            + lit(0.3) * least(m("avg_token_len") / 8.0, lit(1.0))
            + lit(0.3) * m("alpha_ratio")).as("quality")): _*)
    },
    Some("""
      WITH base AS (
        SELECT doc_id, n_chars,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tk,
               length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
        FROM documents),
      c AS (SELECT doc_id,
                   len(tk) AS n_tokens,
                   len(list_distinct(tk))::DOUBLE / len(tk) AS uniq_ratio,
                   list_reduce(list_transform(tk, t -> length(t)), (a, b) -> a + b)::DOUBLE / len(tk) AS avg_token_len,
                   n_alpha::DOUBLE / n_chars AS alpha_ratio
            FROM base)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, uniq_ratio, avg_token_len, alpha_ratio,
             0.4 * uniq_ratio + 0.3 * least(avg_token_len / 8.0, 1.0) + 0.3 * alpha_ratio AS quality
      FROM c"""))

  // ---------------------------------------------------------------- t05
  // Winnowing (rolling-hash) fingerprints: shared runs of >= w+k-1 tokens
  // share a fingerprint. Scalar projections of the per-doc set keep the
  // oracle compare hash-stable.
  private val t05 = QueryDef(
    "t05_winnowing",
    (s, dir) => docs(s, dir)
      // one projection per stage so every lambda references a BOUND column
      // — inline chains re-evaluate per element (no CSE in HOF lambdas)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), Dedup.shinglesFromTokens(col("tk")).as("sh"))
      .select(col("doc_id"), TextOps.hashShingles(col("sh")).as("hs"))
      // Generate barrier: three aggregates extract from fps below — a plain
      // projection would collapse and re-run the winnow pass per aggregate
      .select(col("doc_id"), explode(array(TextOps.winnowFromHashes(col("hs")))).as("fps"))
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x)").as("fp_sum")),
    Some(s"""
      WITH $toksCte,
      idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3),
      sh AS (SELECT doc_id, i, ('0x' || substr(md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2])), 1, 15))::BIGINT % ${Dedup.P} AS h
             FROM idx),
      hs AS (SELECT doc_id, list(h ORDER BY i) AS hl FROM sh GROUP BY doc_id),
      fp AS (SELECT doc_id,
                    CASE WHEN len(hl) >= 4 THEN
                      list_distinct(list_transform(generate_series(1, len(hl) - 3),
                        i -> list_aggregate(hl[i:i+3], 'min')))
                    ELSE [list_aggregate(hl, 'min')] END AS fps
             FROM hs)
      SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
             list_aggregate(fps, 'min') AS fp_min,
             list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a, x) -> a + x) AS fp_sum
      FROM fp"""))

  // ---------------------------------------------------------------- d12
  // Duplicate-passage pairs: docs sharing >= 2 winnowing fingerprints (the
  // MOSS guarantee: that many distinct multi-token passages in common) —
  // suffix-array-style substring dedup without a global suffix sort. Same
  // join-free capped-bucket shape as d03; the corpus's planted near-dups
  // guarantee observable pairs. The oracle replays winnowing + buckets +
  // pair counting in SQL.
  private val d12 = QueryDef(
    "d12_passage_pairs",
    (s, dir) => Dedup.passagePairs(docs(s, dir), "text", "doc_id", minShared = 2),
    Some(s"""
      WITH $toksCte,
      idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3),
      sh AS (SELECT doc_id, i, ('0x' || substr(md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2])), 1, 15))::BIGINT % ${Dedup.P} AS h
             FROM idx),
      hs AS (SELECT doc_id, list(h ORDER BY i) AS hl FROM sh GROUP BY doc_id),
      fp AS (SELECT doc_id,
                    CASE WHEN len(hl) >= 4 THEN
                      list_distinct(list_transform(generate_series(1, len(hl) - 3),
                        i -> list_aggregate(hl[i:i+3], 'min')))
                    ELSE [list_aggregate(hl, 'min')] END AS fps
             FROM hs),
      u AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM fp),
      b AS (SELECT f, count(*) AS n FROM u GROUP BY f),
      ok AS (SELECT u.doc_id, u.f FROM u JOIN b USING (f) WHERE b.n BETWEEN 2 AND 1000),
      p AS (SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
            FROM ok a JOIN ok b2 ON a.f = b2.f AND a.doc_id < b2.doc_id)
      SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM p GROUP BY doc_a, doc_b HAVING count(*) >= 2"""))

  // ---------------------------------------------------------------- d14
  // EXACT SUBSTRING SCRUB (Lee et al. 2021's removal step, distributed):
  // every 8-token gram shared by >= 2 docs marks its positions for removal
  // in ALL occurrences; survivors reassemble in order. A PLANTED shared
  // passage on doc_id%6 (the d08/d11 planted-signal pattern — 10 words, so
  // 3 overlapping dup grams cover the full run) guarantees the scrub has
  // observable work at every scale; the oracle replays plant + gram
  // frequency + coverage + reassembly relationally.
  private[queries] val scrubK = 8
  private[queries] val plantPassage =
    "large scale training corpora require careful duplicate span removal today"
  private[queries] def plantedDocs(s: SparkSession, dir: String): DataFrame =
    docsW(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(" " + plantPassage)).otherwise(lit(""))))
  private val d14 = QueryDef(
    "d14_substring_scrub",
    (s, dir) => Dedup.substringScrub(plantedDocs(s, dir), "text", "doc_id", scrubK),
    Some(s"""
      WITH src AS (SELECT doc_id,
                     text || CASE WHEN doc_id % 6 = 0 THEN ' $plantPassage' ELSE '' END AS text
                   FROM documents),
      t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM src
            WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 1),
      g AS (SELECT doc_id, i AS s,
                   md5(array_to_string(tk[i:i+${scrubK - 1}], ' ')) AS h
            FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${scrubK - 1})) AS i
                  FROM t WHERE len(tk) >= $scrubK)),
      dup AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT doc_id, s + d AS p
              FROM (SELECT doc_id, s FROM g JOIN dup USING (h)),
                   unnest(generate_series(0, ${scrubK - 1})) AS u(d)),
      pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p FROM t),
      m AS (SELECT pos.doc_id, pos.p, pos.tk[pos.p] AS tok,
                   cov.p IS NOT NULL AS removed
            FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(*) FILTER (WHERE removed) AS BIGINT) AS n_removed,
             string_agg(tok, ' ' ORDER BY p) FILTER (WHERE NOT removed) AS clean_text
      FROM m GROUP BY doc_id"""))

  // ---------------------------------------------------------------- d15
  // BLOOM-GATED INCREMENTAL DEDUP — the cross-epoch shape: a new shard is
  // deduped against the full historical corpus via a bloom filter built in
  // one history scan, applied row-locally (Spark's own codegen'd
  // BloomFilterMightContain over the broadcast-as-literal sketch), with the
  // maybe-positive sliver exact-verified through two broadcast joins —
  // history is never shuffled (plan shape pinned in OperatorsSpec). The
  // fixture has no natural exact dups, so the batch is synthesized from
  // documents itself: even ids replay history text verbatim (every one must
  // be bloom-positive AND verified-present → dropped), odd ids carry a
  // deterministic suffix (unseen → kept; any bloom false positive must be
  // killed by the exact verify). The oracle knows NO bloom filter — plain
  // NOT IN — so fpp artifacts of any kind fail rows AND hash.
  private val d15 = QueryDef(
    "d15_incremental_gate",
    (s, dir) => {
      val d = docs(s, dir)
      val batch = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" fresh "),
            col("doc_id").cast("string"))).as("text"))
      Dedup.incrementalGate(batch, d, "text", "doc_id")
    },
    Some("""
      WITH hist AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
                    FROM documents),
      batch AS (SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN text
                            ELSE text || ' fresh ' || doc_id::VARCHAR END AS text
                FROM documents),
      new AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
              FROM batch)
      SELECT doc_id, h FROM new WHERE h NOT IN (SELECT h FROM hist)"""))

  // ---------------------------------------------------------------- d16
  // FUZZY (MinHash-band) INCREMENTAL DEDUP — the near-dup sibling of d15's
  // cross-epoch gate: batch rows band-collide against the FULL history
  // without joining it (bloom over history's band keys, row-local gate,
  // broadcast semi/anti exact verify — history scanned twice, shuffled
  // never; plan pinned in OperatorsSpec). The batch carries three behavior
  // classes: even ids replay history verbatim (all 4 bands must hit),
  // ids %4==1 append one token (most shingles survive — whether a band
  // still collides is decided by the replayed minhash arithmetic, not by
  // this comment), ids %4==3 are wholly fresh text (no band may hit). The
  // oracle replays the ENTIRE minhash→band chain on both sides and joins
  // band sets exactly — fpp artifacts of any kind fail rows AND hash.
  private val d16 = QueryDef(
    "d16_fuzzy_incremental_gate",
    (s, dir) => {
      // widened: the gate runs the minhash band chain over history TWICE
      // (bloom build + present-key derivation) and the batch once — five
      // ~0.5 s single-task jobs on the unsplittable fixture scan (profiled
      // r16); the conditional widen parallelizes the chain and adds no
      // join shuffle (the OperatorsSpec broadcast-verify pin still holds)
      val d = docsW(s, dir)
      val batch = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" extra")))
          .otherwise(concat(lit("fresh doc "), col("doc_id").cast("string"),
            lit(" payload alpha beta"))).as("text"))
      Dedup.fuzzyIncrementalGate(batch, d, "text", "doc_id")
    },
    Some(s"""
      WITH consts(seed, a, b) AS (VALUES $constsValues),
      batch AS (SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN text
                            WHEN doc_id % 4 = 1 THEN text || ' extra'
                            ELSE 'fresh doc ' || doc_id::VARCHAR || ' payload alpha beta'
                       END AS text
                FROM documents),
      ${bandChainCte("documents", "h_")},
      ${bandChainCte("batch", "n_")},
      hd AS (SELECT DISTINCT band, band_sig FROM h_bands),
      hits AS (SELECT n.doc_id, count(*) AS n_hit
               FROM n_bands n JOIN hd ON hd.band = n.band AND hd.band_sig = n.band_sig
               GROUP BY n.doc_id)
      SELECT d.doc_id, CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit_bands,
             coalesce(hits.n_hit, 0) = 0 AS keep
      FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id"""))

  // ---------------------------------------------------------------- d17
  // PERSISTED DEDUP HISTORY INDEX — the production lifecycle the d15 gate
  // lacks: the history's bloom + key table are built ONCE as a native Delta
  // artifact (epoch 0 = even docs), grown incrementally (epoch 1 append =
  // odd docs), and the gate serves from the persisted rows with ZERO scans
  // of the raw history (DedupIndexSpec pins it via DedupIndex.historyPasses
  // — the s17/trainingRuns pattern). Per-epoch blooms OR-fold row-locally
  // at gate time (the documented >1e9-key epoch-partitioning escape, now an
  // API); the maybe sliver exact-verifies against the persisted key table.
  // The gate batch cuts across BOTH epochs (%3 vs the %2 epoch split), so a
  // single-epoch shortcut would fail rows; the oracle knows no bloom, no
  // epochs — plain NOT IN over all of documents — so any fpp artifact or
  // stale-index row fails rows AND hash.
  private val d17 = QueryDef(
    "d17_dedup_index_gate",
    (s, dir) => {
      val d = docs(s, dir)
      val idx = s"${annScratch(dir)}/dedup_hist_index"
      if (DedupIndex.ensure(d.filter(col("doc_id") % 2 === 0), "text", idx))
        DedupIndex.append(d.filter(col("doc_id") % 2 =!= 0), "text", idx)
      val batch = d.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" novel "),
            col("doc_id").cast("string"))).as("text"))
      DedupIndex.gate(batch, idx, "text", "doc_id")
    },
    Some("""
      WITH hist AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
                    FROM documents),
      batch AS (SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN text
                            ELSE text || ' novel ' || doc_id::VARCHAR END AS text
                FROM documents),
      new AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
              FROM batch)
      SELECT doc_id, h FROM new WHERE h NOT IN (SELECT h FROM hist)"""))

  // ---------------------------------------------------------------- d18
  // PERSISTED FUZZY HISTORY INDEX — the near-dup sibling of d17 (and the
  // persisted lifecycle of d16's inline gate): the history's MinHash band
  // keys build ONCE as the index's key table (epoch 0 = even docs, epoch 1
  // append = odd docs, each with its own sized bloom), and the gate bands
  // the batch row-locally, OR-folds the per-epoch blooms, and exact-
  // verifies only the maybe-band sliver against the persisted band-key
  // table — ZERO raw-history scans (DedupIndexSpec-pinned). Same batch
  // classes as d16 (verbatim / one-token-appended / fresh), same oracle
  // shape: the ENTIRE minhash→band chain replayed on both sides, epochs
  // invisible to the oracle — a stale epoch, fpp artifact or band-key
  // drift fails rows AND hash.
  private val d18 = QueryDef(
    "d18_fuzzy_index_gate",
    (s, dir) => {
      val d = docs(s, dir)
      val idx = s"${annScratch(dir)}/dedup_fuzzy_index"
      if (DedupIndex.ensureFuzzy(d.filter(col("doc_id") % 2 === 0), "text", "doc_id", idx))
        DedupIndex.appendFuzzy(d.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", idx)
      val batch = d.select(col("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" extra")))
          .otherwise(concat(lit("fresh doc "), col("doc_id").cast("string"),
            lit(" payload alpha beta"))).as("text"))
      DedupIndex.gateFuzzy(batch, idx, "text", "doc_id")
    },
    Some(s"""
      WITH consts(seed, a, b) AS (VALUES $constsValues),
      batch AS (SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN text
                            WHEN doc_id % 4 = 1 THEN text || ' extra'
                            ELSE 'fresh doc ' || doc_id::VARCHAR || ' payload alpha beta'
                       END AS text
                FROM documents),
      ${bandChainCte("documents", "h_")},
      ${bandChainCte("batch", "n_")},
      hd AS (SELECT DISTINCT band, band_sig FROM h_bands),
      hits AS (SELECT n.doc_id, count(*) AS n_hit
               FROM n_bands n JOIN hd ON hd.band = n.band AND hd.band_sig = n.band_sig
               GROUP BY n.doc_id)
      SELECT d.doc_id, CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit_bands,
             coalesce(hits.n_hit, 0) = 0 AS keep
      FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id"""))

  // ---------------------------------------------------------------- t06
  // Repetition stats (the Gopher/Dolma quality-rule family, token-wise):
  // most-frequent-bigram mass, duplicated-trigram mass, longest same-token
  // run — over a 256-token prefix window so the per-doc cost is bounded at
  // any document length. The oracle derives the run length independently
  // via gaps-and-islands (i - row_number()) instead of the fold, so the two
  // engines cross-check different algorithms for the same statistic.
  private val t06 = QueryDef(
    "t06_repetition_stats",
    (s, dir) => TextOps.repetitionStats(docsW(s, dir), "text", "doc_id"),
    Some("""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')[1:256] AS tk
                    FROM documents),
      g AS (SELECT doc_id, tk, len(tk) AS n,
              CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS bg,
              CASE WHEN len(tk) >= 3 THEN list_transform(generate_series(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) ELSE [] END AS tg
            FROM toks),
      u AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM toks),
      u2 AS (SELECT doc_id, tk[i] AS tok, i FROM u),
      r AS (SELECT doc_id, tok, i - row_number() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
            FROM u2),
      runlen AS (SELECT doc_id, count(*) AS rl FROM r GROUP BY doc_id, tok, grp),
      mr AS (SELECT doc_id, max(rl) AS max_run FROM runlen GROUP BY doc_id)
      SELECT g.doc_id,
             CAST(g.n AS BIGINT) AS n_window_tokens,
             CASE WHEN len(bg) > 0 THEN
               list_max(list_transform(list_distinct(bg),
                 b -> len(list_filter(bg, x -> x = b))))::DOUBLE / len(bg) END AS top_bigram_frac,
             CASE WHEN len(tg) > 0 THEN
               len(list_filter(tg, t -> len(list_filter(tg, x -> x = t)) > 1))::DOUBLE / len(tg)
             END AS dup_trigram_frac,
             CAST(coalesce(mr.max_run, 0) AS BIGINT) AS max_token_run
      FROM g LEFT JOIN mr ON mr.doc_id = g.doc_id"""))

  // ---------------------------------------------------------------- t07
  // PII scrub: per-pattern counts + redacted text, both hash-checked. The
  // synthetic corpus carries no PII, so a deterministic injection (1 doc
  // in 7 gains an email + IP + phone tail) makes the detector's hits —
  // and the redaction — observable; both engines apply the same injection.
  private val piiTail =
    " reach me at jane.doe+spam@mail-example.org or 10.0.42.7 or call 415-555-2671"
  private val t07 = QueryDef(
    "t07_pii_scrub",
    (s, dir) => {
      val d = docs(s, dir).withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(piiTail)))
          .otherwise(col("text")))
      val counts = TextOps.piiCounts(col("text"))
      d.select(Seq(col("doc_id")) ++ counts.map { case (n, c) => c.as(n) }
        :+ TextOps.piiRedact(col("text")).as("text_clean"): _*)
    },
    Some {
      val Seq((_, email, eTok), (_, ipv4, iTok), (_, phone, pTok)) = TextOps.piiPatterns
      s"""
      WITH p AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN text || '$piiTail' ELSE text END AS text
                 FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ipv4,
             CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
             regexp_replace(regexp_replace(regexp_replace(text,
               '$email', '$eTok', 'g'), '$ipv4', '$iTok', 'g'), '$phone', '$pTok', 'g') AS text_clean
      FROM p"""
    })

  // ---------------------------------------------------------------- t08
  // Deterministic train/val/test split: md5-bucket assignment, stable
  // across reruns and engines (Sampling.scala scaladoc). Membership is
  // hash-checked row by row — not just the split sizes.
  private val t08 = QueryDef(
    "t08_split_assign",
    (s, dir) => Sampling.splitAssign(docs(s, dir).select(col("doc_id")), "doc_id"),
    Some("""
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 AS bucket,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents"""))

  // ---------------------------------------------------------------- t09
  // Stratified deterministic sampling over the events stream table:
  // per-stratum keep rates ride as a projection (no join, no shuffle);
  // unlisted strata drop. Exercises a second table + downsampling the
  // over-represented classes, the classic training-mix rebalance.
  private val t09 = QueryDef(
    "t09_stratified_sample",
    (s, dir) => Sampling.stratifiedSample(
      Tables.load(s, dir, "events").select(col("event_id"), col("event_type")),
      "event_id", "event_type",
      Map("click" -> 10, "view" -> 3, "purchase" -> 100)),
    Some("""
      SELECT event_id, event_type FROM events
      WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::BIGINT % 100 <
            CASE event_type WHEN 'click' THEN 10 WHEN 'view' THEN 3
                            WHEN 'purchase' THEN 100 ELSE -1 END"""))

  // ---------------------------------------------------------------- t12
  // Temperature-mixed domain sampling (α=0.5): per-source keep rates from
  // the cancelled-normalizer form — every arithmetic step a single
  // correctly-rounded IEEE op, so the RATES (not just membership)
  // hash-match DuckDB. The synthetic sources are uniform, so the corpus is
  // re-skewed first (60% head / 30% mid / tail = real sources, the 100 TB
  // web-crawl shape): head's rate lands at sqrt(n_tail/n_head) ≈ 0.08 and
  // the smallest tail source is kept whole — the α-flattening is
  // OBSERVABLE, not a vacuous all-rates-1 pass.
  private def skewedDomain(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 10 < 6, lit("head"))
        .when(col("doc_id") % 10 < 9, lit("mid"))
        .otherwise(col("source")).as("domain"))
  private val skewedDomainSql =
    """(SELECT doc_id, CASE WHEN doc_id % 10 < 6 THEN 'head'
                            WHEN doc_id % 10 < 9 THEN 'mid'
                            ELSE source END AS domain FROM documents)"""
  private val t12 = QueryDef(
    "t12_temperature_mix",
    (s, dir) => Sampling.temperatureMix(
      skewedDomain(s, dir), "doc_id", "domain", alpha = 0.5),
    Some(Sampling.temperatureMixSql(skewedDomainSql, "doc_id", "domain")))

  // ---------------------------------------------------------------- t13
  // Per-domain document cap over the SAME re-skewed corpus as t12 (60%
  // head / 30% mid / tail): cap=40 bites hard on head (300→40) and mid
  // (150→40) while the 25-doc tail sources pass untouched. Membership is
  // the md5 lattice, so the oracle checks WHICH rows survive, not just
  // how many.
  private val t13 = QueryDef(
    "t13_domain_cap",
    (s, dir) => Sampling.domainCap(skewedDomain(s, dir), "doc_id", "domain", cap = 40),
    Some(Sampling.domainCapSql(skewedDomainSql, "doc_id", "domain", cap = 40)))

  // ---------------------------------------------------------------- s07
  // Product quantization with ADC search: per-subspace seeded L2 k-means
  // codebooks, m-byte encoding, and the asymmetric-distance top-k, all
  // replayed in SQL -- the oracle hash-checks the whole quantizer.
  private val s07 = QueryDef(
    "s07_ann_pq_adc",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.pqTopK(queries, candidates, 10)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.pqSql(10)}"""))

  // ---------------------------------------------------------------- s06
  // int8 scalar quantization of the embedding column: scale, code checksum
  // and max reconstruction error all replayed in SQL — the oracle checks
  // the QUANTIZER (rounding, symmetric scale, reconstruction), not just
  // result shapes.
  private val s06 = QueryDef(
    "s06_embedding_quantize_int8",
    (s, dir) => Similarity.quantizeInt8(emb(s, dir)),
    Some("""
      WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
      sc AS (SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x::DOUBLE))) AS scale FROM e),
      q AS (SELECT vec_id, v, scale,
              CASE WHEN scale > 0 THEN
                list_transform(v, x -> CAST(round(x::DOUBLE * 127 / scale) AS INT))
              ELSE list_transform(v, x -> 0) END AS qc
            FROM sc)
      SELECT vec_id, CAST(len(qc) AS BIGINT) AS dim, scale,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(qc, x -> CAST(x AS BIGINT))), (a, b) -> a + b) AS q_sum,
             CASE WHEN scale > 0 THEN
               list_max(list_transform(generate_series(1, len(v)),
                 i -> abs(v[i]::DOUBLE - qc[i] * scale / 127)))
             ELSE 0.0 END AS max_abs_err
      FROM q"""))

  // ---------------------------------------------------------------- d11
  // LINE-LEVEL corpus scrub (CCNet/Dolma boilerplate removal). The base
  // corpus is single-line, so the query first derives a deterministic
  // multi-line corpus — token stream chunked into 4-token lines, plus
  // PLANTED boilerplate lines on doc_id%5 / doc_id%7 (the d08/d10/t07
  // planted-signal pattern: the oracle replays the construction, and the
  // plants guarantee the scrub has real work to do at every scale).
  private val lineChunk = 4
  private val boiler1 = "subscribe to our newsletter today"
  private val boiler2 = "all rights reserved worldwide"

  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
      .filter(size(col("__tk")) > 0)
      // nChunks as its own projection step (the no-CSE-in-lambdas rule)
      .withColumn("__nc", expr(s"(size(__tk) + ${lineChunk - 1}) DIV $lineChunk"))
      .select(col("doc_id"), concat(
        array_join(transform(sequence(lit(1L), col("__nc")),
          i => concat_ws(" ",
            slice(col("__tk"), ((i - lit(1L)) * lineChunk + 1).cast("int"), lit(lineChunk)))), "\n"),
        when(col("doc_id") % 5 === 0, lit("\n" + boiler1)).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("\n" + boiler2)).otherwise(lit("")))
        .as("text"))

  private val d11 = QueryDef(
    "d11_line_dedup",
    (s, dir) => Dedup.lineScrub(linedDocs(s, dir), "text", "doc_id", 3),
    Some(s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
      chunks AS (SELECT doc_id, i,
                   array_to_string(tk[((i-1)*$lineChunk+1):((i-1)*$lineChunk+$lineChunk)], ' ') AS line
                 FROM (SELECT doc_id, tk, unnest(generate_series(1, (len(tk)+${lineChunk - 1})//$lineChunk)) AS i
                       FROM toks WHERE len(tk) > 0)),
      lined AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS body
                FROM chunks GROUP BY doc_id),
      corpus AS (SELECT doc_id, body
                   || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '$boiler1' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '$boiler2' ELSE '' END AS text
                 FROM lined),
      la AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
      lx AS (SELECT doc_id, i, ls[i] AS line
             FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM la)),
      freq AS (SELECT md5(line) AS h, count(*) AS c FROM lx GROUP BY 1),
      j AS (SELECT doc_id, i, line, c FROM lx JOIN freq ON md5(line) = h)
      SELECT doc_id,
             count(*) AS n_lines,
             count(*) FILTER (WHERE c >= 3) AS n_removed,
             string_agg(line, chr(10) ORDER BY i) FILTER (WHERE c < 3) AS clean_text
      FROM j GROUP BY doc_id"""))

  // ---------------------------------------------------------------- t10
  // Deterministic sequence packing: every doc's offset on the global token
  // stream + its training-sequence assignment, via the distributed prefix
  // sum in Packing.scala (NO single-partition window — see its scaladoc).
  // The oracle IS the naive global window: the two must agree exactly,
  // which is precisely the partition-independence claim under test.
  private val seqLen = 256
  private val t10 = QueryDef(
    "t10_sequence_pack",
    (s, dir) => Packing.packOffsets(
      docs(s, dir).select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", seqLen),
    Some(s"""
      WITH n AS (SELECT doc_id,
                   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
                 FROM documents),
      c AS (SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
            FROM n)
      SELECT doc_id, n_tokens,
             CAST(start_off AS BIGINT) AS start_off,
             CAST(start_off // $seqLen AS BIGINT) AS seq_id,
             (start_off // $seqLen) != ((start_off + greatest(n_tokens, 1) - 1) // $seqLen) AS crosses_seq
      FROM c"""))

  // ---------------------------------------------------------------- t11
  // EXACT corpus heavy hitters via the two-pass Misra-Gries shape
  // (Sketches.frequentTokens): the oracle is the brute-force HAVING-count
  // — agreement proves the sketch pass lost nothing above the support
  // threshold, per the mergeable-summaries guarantee.
  private val hhPpm = 30000L // 3% support
  private val t11 = QueryDef(
    "t11_heavy_hitters",
    (s, dir) => Sketches.frequentTokens(docs(s, dir), "text", hhPpm),
    Some(s"""
      WITH toks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
      tok AS (SELECT unnest(tk) AS token FROM toks)
      SELECT token, CAST(count(*) AS BIGINT) AS cnt,
             (SELECT CAST(count(*) AS BIGINT) FROM tok) AS n_total
      FROM tok
      GROUP BY token
      HAVING count(*) * 1000000 >= (SELECT count(*) FROM tok) * $hhPpm"""))

  // ---------------------------------------------------------------- t14
  // URL-LEVEL DEDUP (crawl curation): documents get deterministic synthetic
  // URLs exercising every canonicalization hazard — mixed-case scheme/host,
  // explicit default port, www. prefix, trailing slash, tracking query,
  // fragment, two-part TLDs — then canonicalize + registrable-domain +
  // min-id keeper mark. The oracle replays the URL synthesis AND the whole
  // regex chain in DuckDB (RE2-compatible by construction), so a single
  // mis-canonicalized byte or a wrong keeper breaks the hash.
  private val urlSynthSql =
    """SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.'
                   WHEN doc_id % 3 = 1 THEN 'https://www.'
                   ELSE 'http://' END ||
              source || '-site' ||
              CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END ||
              CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
              '/P/' || CAST(doc_id % 211 AS VARCHAR) ||
              CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
              CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id=1' ELSE '' END ||
              CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
       FROM documents"""
  private def urlSynth(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
        .when(col("doc_id") % 3 === 1, lit("https://www."))
        .otherwise(lit("http://")),
      col("source"), lit("-site"),
      when(col("doc_id") % 5 === 0, lit(".co.uk")).otherwise(lit(".com")),
      when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
      lit("/P/"), (col("doc_id") % 211).cast("string"),
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("?utm_source=feed&id=1")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("#frag")).otherwise(lit(""))).as("url"))
  private val t14 = QueryDef(
    "t14_url_dedup",
    (s, dir) => UrlOps.urlDedupMark(urlSynth(s, dir), "url", "doc_id"),
    Some(UrlOps.urlDedupMarkSql(urlSynthSql, "url", "doc_id")))

  // ---------------------------------------------------------------- s10
  // TWO-STAGE ANN under the gate: the PQ/ADC coarse stage surfaces 30
  // candidates per query from compressed codes, the exact cosine rerank
  // picks the final top-10 over only those rows — the production
  // retrieval shape (quantizer recall, exact precision, full vectors read
  // for a bounded candidate set only). The oracle replays BOTH stages, so
  // a drifted codebook, a mis-ranked candidate, or a rerank tie broken
  // differently all fail the hash.
  private val s10 = QueryDef(
    "s10_ann_pq_rerank",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.pqRerankTopK(queries, candidates, k = 10, kCand = 30)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.pqRerankSql(10, kCand = 30)}"""))

  // ---------------------------------------------------------------- s11
  // TWO-STAGE ANN via int8 SCALAR QUANTIZATION (the SQ8 production shape,
  // sibling to s10's PQ/ADC): coarse ranking over the 4×-smaller codes —
  // the per-vector scale cancels out of cosine, so the coarse pass never
  // dequantizes — then an exact cosine rerank over only the candidates.
  // The oracle replays the quantizer, the scale-free coarse cosine, and
  // the rerank; a rounding drift in the codes or a candidate-set
  // off-by-one breaks the hash.
  private val s11 = QueryDef(
    "s11_ann_sq_rerank",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.sqRerankTopK(queries, candidates, k = 10, kCand = 30)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.sqRerankSql(10, kCand = 30)}"""))

  // ---------------------------------------------------------------- s12
  // RECALL@10 of the s10 PQ-rerank search against the exact top-10 — the
  // kCand lever's quality, measured under the same hash gate as the
  // search (s09 covers learned-IVF only; the rerank paths answer a
  // different question: how much recall the coarse quantizer's candidate
  // set preserves before the exact rerank).
  private val s12 = QueryDef(
    "s12_ann_pq_rerank_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.rerankRecallAtK(queries, candidates, k = 10, kCand = 30, "pq")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.pqRerankCtes(kCand = 30)}${Similarity.recallTailSql(10)}"""))

  // ---------------------------------------------------------------- s13
  // RECALL@10 of the s11 SQ8-rerank search against the exact top-10 —
  // same gate for the scalar-quantized sibling, pinning that the int8
  // coarse pass loses (or keeps) exactly what the oracle's replay says.
  private val s13 = QueryDef(
    "s13_ann_sq_rerank_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val candidates = e.filter(col("vec_id") >= 5)
      Similarity.rerankRecallAtK(queries, candidates, k = 10, kCand = 30, "sq")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.sqRerankCtes(kCand = 30)}${Similarity.recallTailSql(10)}"""))

  // ---------------------------------------------------------------- t15
  // Corpus-LM quality score (the CCNet perplexity-filter idea, log-free so
  // the cross-engine gate is EXACT — see TextOps.lmQualityScore): the
  // bigram model trains on the documents themselves, every count and every
  // smoothed probability replays in SQL, and the per-doc fold order is
  // pinned, so the hash gate checks the model AND the scoring.
  private val t15 = QueryDef(
    "t15_lm_quality",
    (s, dir) => TextOps.lmQualityScore(docs(s, dir), "text", "doc_id"),
    Some(TextOps.lmQualityScoreSql("SELECT doc_id, text FROM documents",
      "text", "doc_id")))

  // ---------------------------------------------------------------- d13
  // FUZZY eval-set decontamination: MinHash-LSH banding against a
  // broadcast held-out set — catches the paraphrase-level overlap d10's
  // exact 8-gram marker cannot. Planted near-dups (doc e+1 becomes eval
  // doc e's text plus a short suffix, jaccard ≈ 0.9 — NOT exact copies)
  // guarantee real fuzzy hits; the oracle replays the self-join
  // derivation AND the full minhash/band/flag chain in SQL, so a band
  // boundary off-by-one or a dropped eval signature breaks the hash.
  private def contamDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val eval = d.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 1).as("doc_id"), col("text").as("__etext"))
    d.join(broadcast(eval), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__etext").isNotNull,
          concat(col("__etext"), lit(" zz extra trailing token")))
          .otherwise(col("text")).as("text"))
  }
  private val d13 = QueryDef(
    "d13_fuzzy_decontaminate",
    (s, dir) => Dedup.fuzzyContaminationMark(contamDocs(s, dir), "text", "doc_id",
      col("doc_id") % 23 === 0),
    Some(s"""
      WITH src AS (SELECT d.doc_id,
              CASE WHEN e.doc_id IS NOT NULL
                   THEN e.text || ' zz extra trailing token' ELSE d.text END AS text
            FROM documents d LEFT JOIN
              (SELECT doc_id + 1 AS doc_id, text FROM documents WHERE doc_id % 23 = 0) e
              USING (doc_id)),
      toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM src),
      idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3),
      sh AS (SELECT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle FROM idx),
      hh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % ${Dedup.P} AS hm FROM sh),
      consts(seed, a, b) AS (VALUES $constsValues),
      sig AS (SELECT doc_id, seed, min((a * hm + b) % ${Dedup.P}) AS minh
              FROM hh, consts GROUP BY doc_id, seed),
      bands AS (SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band,
                       string_agg(minh, ',' ORDER BY seed) AS band_sig
                FROM sig GROUP BY doc_id, seed // 4),
      eb AS (SELECT DISTINCT band, band_sig FROM bands WHERE doc_id % 23 = 0),
      cb AS (SELECT * FROM bands WHERE doc_id % 23 <> 0),
      hits AS (SELECT doc_id, CAST(count(DISTINCT band) AS BIGINT) AS n
               FROM cb JOIN eb USING (band, band_sig) GROUP BY doc_id)
      SELECT b.doc_id, coalesce(n, 0) AS n_shared_bands,
             coalesce(n, 0) > 0 AS fuzzy_contaminated
      FROM (SELECT DISTINCT doc_id FROM cb) b LEFT JOIN hits USING (doc_id)"""))

  // ---------------------------------------------------------------- t16
  // GOPHER QUALITY-FILTER RULES (Rae et al. 2021 §A1.1) — the published
  // MassiveWeb document filter, all 7 rules as row-local projections. The
  // synthetic corpus is token soup (no lines, no symbols, no stop words),
  // so a deterministic derivation plants every failure mode: doc_id%4
  // repeats the tokens 8× (word-count rule varies), %13 bullets every
  // line, %17 ellipsis-ends every line, %11 appends a hash-glyph line
  // (symbol ratio), %3 appends stop words. The oracle replays the
  // derivation AND all 7 measures in DuckDB — every ratio is one integer
  // count divided once, so the doubles hash-match bit-for-bit.
  private val gChunk = 4
  private val gHashes = Seq.fill(24)("#").mkString(" ")
  private val gStops = "the and of that have with"
  private def gopherDocs(s: SparkSession, dir: String): DataFrame =
    docsW(s, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk0"))
      .filter(size(col("__tk0")) > 0)
      // every derived column its own projection step (no CSE in lambdas)
      .withColumn("__tk", flatten(transform(
        sequence(lit(1), when(col("doc_id") % 4 === 0, 8).otherwise(1)),
        _ => col("__tk0"))))
      .withColumn("__nc", expr(s"(size(__tk) + ${gChunk - 1}) DIV $gChunk"))
      .select(col("doc_id"), concat(
        array_join(transform(sequence(lit(1L), col("__nc")), i => concat(
          when(col("doc_id") % 13 === 0, lit("- ")).otherwise(lit("")),
          concat_ws(" ",
            slice(col("__tk"), ((i - lit(1L)) * gChunk + 1).cast("int"), lit(gChunk))),
          when(col("doc_id") % 17 === 0, lit(" ...")).otherwise(lit("")))), "\n"),
        when(col("doc_id") % 11 === 0, lit("\n" + gHashes)).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("\n" + gStops)).otherwise(lit("")))
        .as("text"))
  private val t16 = QueryDef(
    "t16_gopher_rules",
    (s, dir) => {
      val cols = TextOps.gopherColumns(col("text"))
      gopherDocs(s, dir).select(
        col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk0
                    FROM documents),
      nz AS (SELECT doc_id, tk0 FROM toks WHERE len(tk0) > 0),
      rep AS (SELECT doc_id, flatten(list_transform(
                generate_series(1, CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 1 END),
                x -> tk0)) AS tk FROM nz),
      chunks AS (SELECT doc_id, i,
          CASE WHEN doc_id % 13 = 0 THEN '- ' ELSE '' END ||
          array_to_string(tk[((i-1)*$gChunk+1):((i-1)*$gChunk+$gChunk)], ' ') ||
          CASE WHEN doc_id % 17 = 0 THEN ' ...' ELSE '' END AS line
        FROM (SELECT doc_id, tk,
                unnest(generate_series(1, (len(tk)+${gChunk - 1})//$gChunk)) AS i
              FROM rep)),
      corpus AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i)
          || CASE WHEN doc_id % 11 = 0 THEN chr(10) || '$gHashes' ELSE '' END
          || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$gStops' ELSE '' END AS text
        FROM chunks GROUP BY doc_id),
      m AS (SELECT doc_id,
          regexp_extract_all(text, '\\S+') AS words,
          string_split(text, chr(10)) AS lines,
          list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tkd,
          len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
        FROM corpus),
      x AS (SELECT doc_id,
          CAST(len(words) AS BIGINT) AS n_words,
          list_reduce(list_transform(words, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b)::DOUBLE / len(words) AS mean_word_len,
          n_sym::DOUBLE / len(words) AS symbol_ratio,
          len(list_filter(lines, l -> l LIKE '- %'))::DOUBLE / len(lines) AS bullet_ratio,
          len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE / len(lines) AS ellipsis_ratio,
          len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE / len(words) AS alpha_word_ratio,
          CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
            sw -> list_contains(tkd, sw))) AS BIGINT) AS n_stop_words
        FROM m)
      SELECT *, (n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
             AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
             AND n_stop_words >= 2) AS keep
      FROM x"""))

  // ---------------------------------------------------------------- t17
  // RAG CHUNK WINDOWS: 32-token chunks, 8-token overlap (stride 24) —
  // the retrieval-indexing shape. Exact integer chunk-count arithmetic,
  // row-local explode, zero shuffle; the oracle replays the windowing
  // with generate_series + list slices, chunk text included, so a
  // off-by-one in stride or a dropped tail token breaks the hash.
  private val t17 = QueryDef(
    "t17_chunk_windows",
    (s, dir) => TextOps.chunkWindows(docs(s, dir), "text", "doc_id", 32, 8),
    Some("""
      WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
                    FROM documents),
      c AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks WHERE len(tk) > 0),
      x AS (SELECT doc_id, tk,
              unnest(generate_series(1, 1 + (greatest(n - 32, 0) + 23) // 24)) AS i
            FROM c)
      SELECT doc_id, i AS chunk_id,
             CAST((i-1)*24 + 1 AS BIGINT) AS start_tok,
             CAST(len(tk[((i-1)*24+1):((i-1)*24+32)]) AS BIGINT) AS n_tokens,
             array_to_string(tk[((i-1)*24+1):((i-1)*24+32)], ' ') AS chunk_text
      FROM x"""))

  // ---------------------------------------------------------------- t18
  // DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al., "Data Selection for
  // Language Models via Importance Resampling" — hashed n-gram features):
  // score every raw document by how target-like its token distribution is.
  // Tokens hash into 64 buckets (md5-derived, the suite's shared hash
  // convention); ONE aggregation pass estimates the target (lang='en') and
  // raw bucket distributions simultaneously (conditional count — the
  // corpus is scanned once); per-bucket scores are INTEGER-quantized
  // add-one ratios ((t+1)*1e6 div (r+1)) computed on the driver from the
  // 64 collected counts, so the per-document weight is an exact integer
  // sum — associative, shuffle-free, and bit-identical in the oracle
  // (a float log-ratio sum would be order-dependent; the quantized ratio
  // preserves the ranking DSIR needs). The scoring pass is a row-local
  // codegen projection against a 64-entry literal array: at 100 TB the
  // cost is one distribution aggregation (64 groups, partial map-side)
  // plus one scan — no joins, no explode in the scoring path.
  /** DSIR bucket-score derivation shared by t18 and the x27 streaming gate:
    * ONE corpus pass estimates target (lang='en') and raw token
    * distributions over 64 hashed buckets, integer-quantized add-one ratio
    * per bucket — a 64-entry driver literal. */
  def dsirScores(s: SparkSession, dir: String): Array[Long] = {
    val counts = docs(s, dir)
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(TextOps.dsirBucket(col("tok")).as("b"))
      .agg(count(lit(1)).as("r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"))
      .collect().map(row => row.getLong(0).toInt -> (row.getLong(1), row.getLong(2))).toMap
    Array.tabulate(64) { i =>
      val (r, t) = counts.getOrElse(i, (0L, 0L))
      (t + 1L) * 1000000L / (r + 1L)
    }
  }

  private val t18 = QueryDef(
    "t18_dsir_weights",
    (s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
        TextOps.dsirWeight(col("text"), dsirScores(s, dir)).as("weight"))
    },
    Some("""
      WITH tok AS (SELECT doc_id, lang,
                          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                   FROM documents),
      tb AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 6))::BIGINT % 64 AS b
             FROM tok),
      dist AS (SELECT ('0x' || substr(md5(tok), 1, 6))::BIGINT % 64 AS bk,
                      count(*) AS r,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
               FROM tok GROUP BY 1),
      sc AS (SELECT g.range AS bk,
                    (coalesce(d.t, 0) + 1) * 1000000 // (coalesce(d.r, 0) + 1) AS s
             FROM range(0, 64) g LEFT JOIN dist d ON d.bk = g.range),
      w AS (SELECT tb.doc_id, sum(sc.s) AS weight
            FROM tb JOIN sc ON sc.bk = tb.b GROUP BY tb.doc_id)
      SELECT d.doc_id, CAST(coalesce(w.weight, 0) AS BIGINT) AS weight
      FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id"""))

  // ---------------------------------------------------------------- t19
  // EXACT BPE TOKENIZATION: a true merge-table byte-pair-encoding apply
  // loop (fixed priority merges as a driver literal — the shape a learned
  // merges.txt ships in), not t02's regex approximation. Each merge round
  // is one CASE/replace projection over a '|'-delimited per-word string,
  // so the WHOLE loop — round order, replace scan order, fixpoint —
  // replays verbatim in DuckDB and sits under the hash gate.
  private val t19 = QueryDef(
    "t19_bpe_tokenize",
    (s, dir) => TextOps.bpeTokenStats(docsW(s, dir), "text", "doc_id"),
    Some(s"""
      WITH $toksCte,
      w AS (SELECT doc_id, unnest(tk) AS w FROM toks),
      ${TextOps.bpeCtes("doc_id")}
      SELECT d.doc_id,
             CAST(coalesce(b.n_words, 0) AS BIGINT) AS n_words,
             CAST(coalesce(b.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
      FROM documents d LEFT JOIN bpe b ON d.doc_id = b.doc_id"""))

  // ---------------------------------------------------------------- t20
  // TOKEN-EXACT SEQUENCE PACKING: t10's distributed prefix-sum packing
  // driven by the exact BPE counts of t19 instead of the whitespace-ish
  // approximation — offsets and sequence ids now land on real training
  // token budgets. Same no-single-partition-window scale shape.
  private val t20 = QueryDef(
    "t20_sequence_pack_bpe",
    (s, dir) => Packing.packOffsets(
      TextOps.bpeTokenStats(docsW(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
      "doc_id", "n_tokens", seqLen),
    Some(s"""
      WITH $toksCte,
      w AS (SELECT doc_id, unnest(tk) AS w FROM toks),
      ${TextOps.bpeCtes("doc_id")},
      n AS (SELECT d.doc_id, CAST(coalesce(b.n_bpe_tokens, 0) AS BIGINT) AS n_tokens
            FROM documents d LEFT JOIN bpe b ON d.doc_id = b.doc_id),
      c AS (SELECT doc_id, n_tokens,
              coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
            FROM n)
      SELECT doc_id, n_tokens,
             CAST(start_off AS BIGINT) AS start_off,
             CAST(start_off // $seqLen AS BIGINT) AS seq_id,
             (start_off // $seqLen) != ((start_off + greatest(n_tokens, 1) - 1) // $seqLen) AS crosses_seq
      FROM c"""))

  // ---------------------------------------------------------------- s19
  // PERSISTED SQ8 CODE TABLE — the index matrix completed: unlike s17/
  // x32's bounded centroid models, the SQ artifact is the encoded corpus
  // itself (per-vector int8 codes under the shared index layout, built and
  // served fully DISTRIBUTED — the 4×-smaller table every search's coarse
  // pass reads instead of re-encoding the embeddings per invocation, which
  // is what inline s11 pays). The quantizer is deterministic, so the
  // persisted-and-served search is bit-identical to the inline chain and
  // s11's replay SQL oracles the whole lifecycle.
  private val s19 = QueryDef(
    "s19_ann_index_sq",
    (s, dir) => {
      val e = emb(s, dir)
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val idx = s"${annScratch(dir)}/ann_sq_index"
      AnnIndex.ensureSq(candidates, idx)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      AnnIndex.searchSq(s, idx, queries, candidates, 10, kCand = 30)
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${Similarity.sqRerankSql(10, kCand = 30)}"""))

  val all: Seq[QueryDef] = Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13, d14, d15, d16, d17, d18, s01, s02, s03, s04, s05, s06, s07, s08, s09, m01, m02, m03, m04, m05, m06, m07, m08, t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13, t14, t15, t16, t17, t18, t19, t20, s10, s11, s12, s13, s14, s15, s16, s17, s18, s19)
}
