package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Clusters, Corpus, Dedup, Events, Multimodal, TextOps, VectorOps}
import Relational.Q

/** SURVEY §2.2: training-data pipeline operators as oracle-checked queries.
  *
  * Oracle-stability rules (SURVEY §6): every float the oracle sees is
  * either (a) a ratio of exact integers computed with one division in an
  * identical expression shape, (b) an exact decimal sum cast to double, or
  * (c) arithmetic over integer-quantized vectors whose partial sums are
  * exact in IEEE double — so Spark and DuckDB agree bit-for-bit.
  * LSH/MinHash/SimHash/fingerprint queries are rows-only (no portable SQL).
  */
object PipelinePack {

  // ---- dedup ------------------------------------------------------------

  private val d01 = Q(
    "d01_dedup_exact",
    // plain load, NOT loadParallel: a repartition before hashing would
    // shuffle the full document text; Dedup.exact hashes at the scan and
    // its groupBy exchange carries only (hash, id)
    (s, dir) => Dedup.exact(Tables.load(s, dir, "documents"), "text", "doc_id")
      .orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
              COUNT(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY 1"""))

  private val d02 = Q(
    "d02_dedup_jaccard",
    (s, dir) => Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
      "text", "doc_id", tauNum = 1, tauDen = 2).orderBy("id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
              raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i FROM t),
              tok AS (SELECT doc_id, w,
                        row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
                      FROM raw WHERE w <> ''),
              big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
                      FROM tok a JOIN tok b
                        ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
              sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
              com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
                      FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b,
                   CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
            FROM com JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
            WHERE c * 2 >= (sa.n + sb.n - c) * 1
            ORDER BY 1, 2"""))

  private val d39 = Q(
    "d39_threshold_sweep",
    // dedup threshold sensitivity: pair count, affected-doc count and
    // affected fraction at each candidate Jaccard cutoff — the knob
    // table a release pins its dedup threshold from BEFORE committing
    // a corpus to it (s22's tuning-curve idea applied to the dedup
    // family). One exact pair pass at the LOOSEST tau; the sweep is a
    // 6-row broadcast — hash-exact
    (s, dir) => {
      import s.implicits._
      // the pair frame feeds BOTH the pair-count and affected-doc
      // rollups: persist, never checkpoint (the multi-consumer rule —
      // without it the O(pairs) inverted-index join runs twice
      // whenever exchange reuse is defeated)
      val pairs = Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
        "text", "doc_id", tauNum = 1, tauDen = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the hint sits on the cross join, where the sweep is the build
      // side; the left outer joins below keep every tau on the left,
      // which Spark cannot build
      val sw = Seq(0.25, 0.4, 0.5, 0.6, 0.75, 0.9).toDF("tau")
      val hit = pairs.crossJoin(broadcast(sw))
        .filter(col("jaccard") >= col("tau"))
      val nTotal = broadcast(Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs")))
      val perTau = hit.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
      val aff = hit
        .select(col("tau"),
          explode(array(col("id_a"), col("id_b"))).as("d"))
        .distinct()
        .groupBy("tau").agg(count(lit(1)).as("n_docs_affected"))
      // cache hygiene (r12 advice): the 6-row sweep result is
      // localCheckpoint'ed eagerly so the pairs cache can be freed
      // HERE instead of leaking into a library caller's session (the
      // contaminationHops discipline)
      val res = sw.join(perTau, Seq("tau"), "left")
        .join(aff, Seq("tau"), "left")
        .crossJoin(nTotal)
        .select(col("tau"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_affected"), lit(0L))
            .as("n_docs_affected"),
          (coalesce(col("n_docs_affected"), lit(0L)).cast("double") /
            col("n_docs").cast("double")).as("affected_frac"))
        .orderBy("tau")
        .localCheckpoint()
      pairs.unpersist(blocking = false)
      res
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
            com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pr AS (SELECT ia, ib,
                CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
              FROM com JOIN sz sa ON ia = sa.doc_id
                JOIN sz sb ON ib = sb.doc_id
              WHERE c * 4 >= (sa.n + sb.n - c) * 1),
            sw AS (SELECT unnest([0.25E0, 0.4E0, 0.5E0, 0.6E0,
                0.75E0, 0.9E0]) AS tau),
            hit AS (SELECT tau, ia, ib FROM pr JOIN sw ON j >= tau),
            np AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs
              FROM hit GROUP BY 1),
            af AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_aff
              FROM (SELECT DISTINCT tau, d FROM
                (SELECT tau, unnest([ia, ib]) AS d FROM hit))
              GROUP BY 1),
            nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents)
            SELECT sw.tau,
              COALESCE(n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
              COALESCE(n_aff, CAST(0 AS BIGINT)) AS n_docs_affected,
              CAST(COALESCE(n_aff, CAST(0 AS BIGINT)) AS DOUBLE)
                / CAST(n_docs AS DOUBLE) AS affected_frac
            FROM sw LEFT JOIN np USING (tau) LEFT JOIN af USING (tau)
            CROSS JOIN nd ORDER BY tau"""))

  private val d03 = Q(
    "d03_dedup_minhash",
    (s, dir) => Dedup.minHashLsh(Tables.load(s, dir, "documents"),
      "text", "doc_id", bands = 32, rowsPerBand = 4, tauNum = 1, tauDen = 2)
      .orderBy("id_a", "id_b"),
    None) // LSH banding has no portable SQL analog -> rows-only

  private val d40 = Q(
    "d40_minhash_calibration",
    // MinHash estimator calibration: per true-Jaccard decile, signature
    // match-fraction vs exact bigram Jaccard (Dedup.minhashCalibration)
    // — the d03 index-quality card. Rows-only: the estimate rides the
    // engine's fixed permutation constants; DedupSpec gates the
    // exact-dup decile at 1.0 and the binomial error envelope.
    (s, dir) => Dedup.minhashCalibration(Tables.load(s, dir, "documents"),
        "text", "doc_id", tauNum = 1, tauDen = 4, numHashes = 128,
        maxGramDf = 20)
      .orderBy("jac_decile"),
    None)

  private val d04 = Q(
    "d04_dedup_simhash",
    (s, dir) => Dedup.simHashPairs(Tables.load(s, dir, "documents"),
      "text", "doc_id", maxHamming = 3).orderBy("id_a", "id_b"),
    None) // rows-only

  private val d05 = Q(
    "d05_dedup_embedding",
    (s, dir) => VectorOps.cosinePairs(Tables.load(s, dir, "embeddings"),
      "vec_id", "embedding", tau = 0.4).orderBy("id_a", "id_b"),
    Some("""WITH q AS (SELECT vec_id,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              pair AS (SELECT a.vec_id ia, b.vec_id ib, SUM(a.v * b.v) dot
                       FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
                       GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b,
                   dot / sqrt(na.nn * nb.nn) AS cos
            FROM pair JOIN nrm na ON ia = na.vec_id JOIN nrm nb ON ib = nb.vec_id
            WHERE dot / sqrt(na.nn * nb.nn) >= 0.4
            ORDER BY 1, 2"""))

  // ---- similarity search ------------------------------------------------

  private val s01 = Q(
    "s01_knn_brute",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.knnBrute(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10).orderBy("probe_id", "rk")
    },
    Some("""WITH q AS (SELECT vec_id,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                       FROM q p JOIN q c ON p.i = c.i
                       WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                       GROUP BY 1, 2),
              scored AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                         FROM dotp JOIN nrm np ON pid = np.vec_id
                                   JOIN nrm nc ON cid = nc.vec_id),
              ranked AS (SELECT pid, cid, cos,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY cos DESC, cid ASC) rk
                         FROM scored)
            SELECT pid AS probe_id, cid AS corpus_id, cos, rk
            FROM ranked WHERE rk <= 10 ORDER BY probe_id, rk"""))

  private val s20 = Q(
    "s20_ild_diversity",
    // intra-list diversity of the s01 exact top-10 lists (Smyth &
    // McClave 2001): mean pairwise cosine within each probe's results +
    // ild = 1 - mean_sim — the redundancy dial s17's MMR optimizes,
    // measured. Pair cosines are the quantized-integer dots; the
    // 45-term mean accumulates DECIMAL(18,12) per pair (the s13 trick)
    // before ONE final division
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.ildDiversity(
        VectorOps.knnBrute(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", k = 10),
        emb, "vec_id", "embedding")
        .orderBy("probe_id")
    },
    Some("""WITH q AS (SELECT vec_id,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                       FROM q p JOIN q c ON p.i = c.i
                       WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                       GROUP BY 1, 2),
              scored AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                         FROM dotp JOIN nrm np ON pid = np.vec_id
                                   JOIN nrm nc ON cid = nc.vec_id),
              ranked AS (SELECT pid, cid, cos,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY cos DESC, cid ASC) rk
                         FROM scored),
              top AS (SELECT pid, cid FROM ranked WHERE rk <= 10),
              pr AS (SELECT a.pid, a.cid AS ia, b.cid AS ib
                     FROM top a JOIN top b
                       ON a.pid = b.pid AND a.cid < b.cid),
              pd AS (SELECT pr.pid, pr.ia, pr.ib, SUM(x.v * y.v) AS dot
                     FROM pr JOIN q x ON x.vec_id = pr.ia
                             JOIN q y ON y.vec_id = pr.ib AND x.i = y.i
                     GROUP BY 1, 2, 3),
              ps AS (SELECT pd.pid,
                       CAST(pd.dot / sqrt(na.nn * nb.nn)
                         AS DECIMAL(18, 12)) AS cs
                     FROM pd JOIN nrm na ON pd.ia = na.vec_id
                             JOIN nrm nb ON pd.ib = nb.vec_id)
            SELECT pid AS probe_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(SUM(cs) AS DOUBLE) / COUNT(*) AS mean_sim,
              1.0 - CAST(SUM(cs) AS DOUBLE) / COUNT(*) AS ild
            FROM ps GROUP BY pid ORDER BY probe_id"""))

  private val s03 = Q(
    "s03_knn_ivf",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // 32 lists, probe 8: ~25% of the corpus scanned per probe; at
      // cluster scale nCentroids grows with corpus/target-list-size and
      // nProbe stays a small constant
      VectorOps.knnIvf(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, nCentroids = 32, nProbe = 8)
        .orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only (recall gate vs s01 in RecallSpec)

  private val s04 = Q(
    "s04_kmeans",
    // embedding-space clustering for corpus curation (SemDeDup-style
    // semantic grouping / diversity balancing): deterministic Lloyd's
    // over quantized vectors. Distortion-monotonicity gate in RecallSpec.
    (s, dir) => VectorOps.kmeansAssign(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 10, iters = 3)
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy("vec_id"),
    None) // float centroids -> rows-only

  private val s12 = Q(
    "s12_embed_pool",
    // chunk -> document embedding: mean-pool per synthetic doc group
    // (vec_id div 50 — both engines derive it identically, the t13
    // pattern); quantized integer sums + ONE division per (group, dim)
    // keep it oracle-exact
    (s, dir) => VectorOps.meanPool(
        Tables.load(s, dir, "embeddings")
          .withColumn("group_id", expr("vec_id div 50")),
        "group_id", "embedding")
      .orderBy("group_id", "dim"),
    Some("""WITH q AS (SELECT vec_id // 50 AS group_id,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                generate_subscripts(embedding, 1) AS dim
              FROM embeddings)
            SELECT group_id, CAST(dim AS BIGINT) AS dim,
              CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_q
            FROM q GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val s21 = Q(
    "s21_embed_drift",
    // per-dimension embedding drift between md5 release halves: the
    // monitor that catches an embedder/mix change before it silently
    // degrades the standing IVF/PQ/SQ8 indexes trained on the old
    // distribution. Milli-quantized exact sums, one fixed IEEE tree
    (s, dir) => VectorOps.embedDrift(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy("dim"),
    Some("""WITH q AS (SELECT
                CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS side,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS v,
                generate_subscripts(embedding, 1) AS dim
              FROM embeddings)
            SELECT CAST(dim AS BIGINT) AS dim,
              CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
              CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_b,
              CAST(SUM(CASE WHEN side = 0 THEN v ELSE 0 END) AS BIGINT)
                AS sum_a,
              CAST(SUM(CASE WHEN side = 1 THEN v ELSE 0 END) AS BIGINT)
                AS sum_b,
              CAST(SUM(CASE WHEN side = 1 THEN v ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE)
              - CAST(SUM(CASE WHEN side = 0 THEN v ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS mean_shift_q
            FROM q GROUP BY 1 ORDER BY 1"""))

  private val s22 = Q(
    "s22_ivf_tuning",
    // IVF probe-count tuning curve: recall@10 vs nProbe over ONE shared
    // trained index against the exact ground truth — the knob table an
    // ANN deployment pins its probe setting from (FAISS's standard
    // sweep as a DataFrame). Rows-only (trained centroids);
    // RecallSpec-class gates: monotone recall, full-sweep ~1.0
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.ivfTuningCurve(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, nCentroids = 32,
        probeSweep = Seq(1, 2, 4, 8, 16, 32))
        .orderBy("n_probe")
    },
    None)

  private val s23 = Q(
    "s23_ivf_balance",
    // IVF list-occupancy audit: per-list sizes, coverage residuals, and
    // the nLists*max/N imbalance factor — the ANN tail-latency page of
    // the index-health card (p99 probe cost tracks MAX list size while
    // recall tracks nProbe). Rows-only (trained centroids); RecallSpec
    // gates conservation, sane imbalance, and finite residuals
    (s, dir) => VectorOps.ivfBalanceAudit(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = 32)
      .orderBy("list"),
    None)

  private val s24 = Q(
    "s24_centroid_migration",
    // re-index migration audit: per old IVF list, the fraction of its
    // vectors a retrain on the grown corpus would move — the number
    // that decides whether a release reuses the standing index or pays
    // the rebuild. Old model trains on the md5 release-half (s21's
    // split), new on the full corpus; both assignments are fused
    // argmins in one scan pass. Rows-only (trained centroids);
    // VectorOpsSpec pins conservation, [0,1] fractions, and zero
    // migration under identical models
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val half = emb.filter(
        substring(md5(col("vec_id").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"))
      val mOld = VectorOps.trainIvfModel(half, "vec_id", "embedding",
        nCentroids = 16)
      val mNew = VectorOps.trainIvfModel(emb, "vec_id", "embedding",
        nCentroids = 16)
      VectorOps.centroidMigration(emb, "vec_id", "embedding", mOld, mNew)
        .orderBy("list_old")
    },
    None)

  private val s13 = Q(
    "s13_hybrid_rrf",
    // hybrid more-like-this retrieval: for probes 0..3 (the multimodal
    // corpus — documents and embeddings share the id space), fuse the
    // dense cosine top-20 (s01 machinery) with the BM25 top-20 under
    // the probe doc's own distinct tokens (t34 machinery, self
    // excluded) by reciprocal-rank fusion at rrfK=60. Ranks are exact
    // ints, each reciprocal ONE IEEE division, sums through
    // DECIMAL(18,12) — the whole chain is oracle-exact
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val docs = Tables.load(s, dir, "documents")
      val dense = VectorOps.knnBrute(emb.filter(col("vec_id") < 4), emb,
          "vec_id", "embedding", k = 20)
        .select(col("probe_id").as("query_id"),
          col("corpus_id").as("id"), col("rk"))
      val queries = docs.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      val sparse = Corpus.bm25TopK(docs, "doc_id", "text", queries,
          k = 20, excludeQueryDoc = true)
        .select(col("query_id"), col("doc_id").as("id"), col("rk"))
      Corpus.rrfFuse(Seq(dense, sparse), "query_id", "id", "rk", k = 10)
        .orderBy("query_id", "rk")
    },
    Some("""WITH tok AS (SELECT doc_id,
                unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS token
              FROM documents),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf
                   FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, SUM(dl) AS a FROM dl),
            dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            qt AS (SELECT DISTINCT doc_id AS qid, token AS term
                   FROM tok WHERE doc_id < 4),
            bmscore AS (
              SELECT qt.qid, tf.doc_id,
                SUM(CAST(
                  CAST(44 * a * tf.tf * length(bin(n // df)) AS DOUBLE) /
                  CAST(20 * a * tf.tf + 6 * a + 18 * dl.dl * n AS DOUBLE)
                  AS DECIMAL(18, 6))) AS s
              FROM qt JOIN tf ON qt.term = tf.token
              JOIN dft ON dft.token = tf.token
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats
              WHERE tf.doc_id <> qt.qid
              GROUP BY 1, 2),
            sparse AS (SELECT qid, doc_id AS id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY s DESC, doc_id) AS rk
              FROM bmscore),
            qv AS (SELECT vec_id,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                generate_subscripts(embedding, 1) i
              FROM embeddings),
            nrm AS (SELECT vec_id, SUM(v * v) nn FROM qv GROUP BY 1),
            dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                     FROM qv p JOIN qv c ON p.i = c.i
                     WHERE p.vec_id < 4 AND p.vec_id <> c.vec_id
                     GROUP BY 1, 2),
            cosd AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                     FROM dotp JOIN nrm np ON pid = np.vec_id
                               JOIN nrm nc ON cid = nc.vec_id),
            dense AS (SELECT pid AS qid, cid AS id,
                row_number() OVER (PARTITION BY pid
                  ORDER BY cos DESC, cid) AS rk
              FROM cosd),
            unioned AS (
              SELECT qid, id, rk FROM sparse WHERE rk <= 20
              UNION ALL
              SELECT qid, id, rk FROM dense WHERE rk <= 20),
            fused AS (SELECT qid, id,
                SUM(CAST(1.0 / (60 + rk) AS DECIMAL(18, 12))) AS s,
                COUNT(*) AS n_lists
              FROM unioned GROUP BY 1, 2),
            ranked AS (SELECT qid, id, s, n_lists,
                row_number() OVER (PARTITION BY qid
                  ORDER BY s DESC, id) AS rk
              FROM fused)
            SELECT qid AS query_id, rk, id, CAST(s AS DOUBLE) AS rrf,
              n_lists
            FROM ranked WHERE rk <= 10 ORDER BY query_id, rk"""))

  private val s14 = Q(
    "s14_hybrid_rrf_ivf",
    // s13's SCALE path: the dense side swaps the exact cross join for
    // the IVF list equi-join (s03 machinery — work = probed list sizes,
    // never O(corpus)); the sparse side and the fusion are unchanged.
    // The trained lists have no SQL mirror (rows-only); RecallSpec
    // gates the fused top-10 against the exact s13 fusion
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val docs = Tables.load(s, dir, "documents")
      val dense = VectorOps.knnIvf(emb.filter(col("vec_id") < 4), emb,
          "vec_id", "embedding", k = 20, nCentroids = 32, nProbe = 8)
        .select(col("probe_id").as("query_id"),
          col("corpus_id").as("id"), col("rk"))
      val queries = docs.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      val sparse = Corpus.bm25TopK(docs, "doc_id", "text", queries,
          k = 20, excludeQueryDoc = true)
        .select(col("query_id"), col("doc_id").as("id"), col("rk"))
      Corpus.rrfFuse(Seq(dense, sparse), "query_id", "id", "rk", k = 10)
        .orderBy("query_id", "rk")
    },
    None)

  private val s15 = Q(
    "s15_retrieval_metrics",
    // the s-tier's self-measurement rung: score s13's hybrid fusion
    // against a PLANTED relevance set — the exact dense cosine top-5
    // per probe (both engines derive it from the same embeddings, so
    // the label set is oracle-shared, not injected data). recall@10 and
    // RR are one-division exact rationals; nDCG@10 runs entirely over
    // driver-injected DECIMAL(18,12) discount literals (no libm log in
    // either engine) with one final IEEE division
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val docs = Tables.load(s, dir, "documents")
      val dense = VectorOps.knnBrute(emb.filter(col("vec_id") < 4), emb,
          "vec_id", "embedding", k = 20)
        .select(col("probe_id").as("query_id"),
          col("corpus_id").as("id"), col("rk"))
      val queries = docs.filter(col("doc_id") < 4)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
      val sparse = Corpus.bm25TopK(docs, "doc_id", "text", queries,
          k = 20, excludeQueryDoc = true)
        .select(col("query_id"), col("doc_id").as("id"), col("rk"))
      val fused = Corpus.rrfFuse(Seq(dense, sparse),
        "query_id", "id", "rk", k = 10)
      val relevance = dense.filter(col("rk") <= 5)
        .select("query_id", "id")
      Corpus.retrievalMetrics(fused, relevance,
          "query_id", "id", "rk", k = 10)
        .orderBy("query_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id,
                unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS token
              FROM documents),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf
                   FROM tok GROUP BY 1, 2),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n, SUM(dl) AS a FROM dl),
            dft AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
            qt AS (SELECT DISTINCT doc_id AS qid, token AS term
                   FROM tok WHERE doc_id < 4),
            bmscore AS (
              SELECT qt.qid, tf.doc_id,
                SUM(CAST(
                  CAST(44 * a * tf.tf * length(bin(n // df)) AS DOUBLE) /
                  CAST(20 * a * tf.tf + 6 * a + 18 * dl.dl * n AS DOUBLE)
                  AS DECIMAL(18, 6))) AS s
              FROM qt JOIN tf ON qt.term = tf.token
              JOIN dft ON dft.token = tf.token
              JOIN dl ON dl.doc_id = tf.doc_id
              CROSS JOIN stats
              WHERE tf.doc_id <> qt.qid
              GROUP BY 1, 2),
            sparse AS (SELECT qid, doc_id AS id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY s DESC, doc_id) AS rk
              FROM bmscore),
            qv AS (SELECT vec_id,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                generate_subscripts(embedding, 1) i
              FROM embeddings),
            nrm AS (SELECT vec_id, SUM(v * v) nn FROM qv GROUP BY 1),
            dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                     FROM qv p JOIN qv c ON p.i = c.i
                     WHERE p.vec_id < 4 AND p.vec_id <> c.vec_id
                     GROUP BY 1, 2),
            cosd AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                     FROM dotp JOIN nrm np ON pid = np.vec_id
                               JOIN nrm nc ON cid = nc.vec_id),
            dense AS (SELECT pid AS qid, cid AS id,
                row_number() OVER (PARTITION BY pid
                  ORDER BY cos DESC, cid) AS rk
              FROM cosd),
            unioned AS (
              SELECT qid, id, rk FROM sparse WHERE rk <= 20
              UNION ALL
              SELECT qid, id, rk FROM dense WHERE rk <= 20),
            fused AS (SELECT qid, id,
                SUM(CAST(1.0 / (60 + rk) AS DECIMAL(18, 12))) AS s
              FROM unioned GROUP BY 1, 2),
            res AS (SELECT qid, id,
                row_number() OVER (PARTITION BY qid
                  ORDER BY s DESC, id) AS rk
              FROM fused),
            rel AS (SELECT qid, id FROM dense WHERE rk <= 5),
            hitagg AS (SELECT r.qid, COUNT(*) AS hits,
                MIN(r.rk) AS first_rel_rk,
                SUM(${Corpus.ndcgDiscountCaseSql("r.rk", 10)}) AS dcg
              FROM res r JOIN rel ON r.qid = rel.qid AND r.id = rel.id
              WHERE r.rk <= 10
              GROUP BY 1),
            nrel AS (SELECT qid, COUNT(*) AS n_rel FROM rel GROUP BY 1)
            SELECT nrel.qid AS query_id, n_rel,
              COALESCE(hits, 0) AS hits,
              CAST(COALESCE(hits, 0) AS DOUBLE) / CAST(n_rel AS DOUBLE)
                AS recall,
              COALESCE(CAST(1 AS DOUBLE) / CAST(first_rel_rk AS DOUBLE),
                CAST(0 AS DOUBLE)) AS rr,
              COALESCE(CAST(dcg AS DOUBLE), CAST(0 AS DOUBLE)) /
                CAST(${Corpus.idcgCaseSql("least(n_rel, 10)", 10)}
                  AS DOUBLE) AS ndcg
            FROM nrel LEFT JOIN hitagg ON nrel.qid = hitagg.qid
            ORDER BY query_id"""))

  private val s16 = Q(
    "s16_dim_truncation",
    // truncated-dimension retrieval quality (the Matryoshka/MRL
    // deployment question — Kusupati et al. 2022: how much recall does
    // serving the first d dims of a 64-dim embedding give up?): for
    // d in {8, 16}, brute-force cosine top-10 over `slice(embedding,
    // 1, d)` scored by s15's metrics against the FULL-dim exact top-10
    // as relevance. The whole chain — truncation, quantized cosine,
    // ranking, CASE-literal nDCG — mirrors in one DuckDB SQL,
    // hash-exact
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val full = VectorOps.knnBrute(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", k = 10)
        .select(col("probe_id").as("query_id"),
          col("corpus_id").as("id"), col("rk"))
      val relevance = full.select("query_id", "id")
      Seq(8, 16).map { d =>
        val tr = emb.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        val res = VectorOps.knnBrute(tr.filter(col("vec_id") < 8), tr,
            "vec_id", "embedding", k = 10)
          .select(col("probe_id").as("query_id"),
            col("corpus_id").as("id"), col("rk"))
        Corpus.retrievalMetrics(res, relevance,
            "query_id", "id", "rk", k = 10)
          .withColumn("dim", lit(d))
      }.reduce(_ unionByName _)
        .select("dim", "query_id", "n_rel", "hits", "recall", "rr",
          "ndcg")
        .orderBy("dim", "query_id")
    },
    Some(s"""WITH q AS (SELECT vec_id,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                generate_subscripts(embedding, 1) i
              FROM embeddings),
            nrmf AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
            dotf AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                     FROM q p JOIN q c ON p.i = c.i
                     WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                     GROUP BY 1, 2),
            cosf AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                     FROM dotf JOIN nrmf np ON pid = np.vec_id
                               JOIN nrmf nc ON cid = nc.vec_id),
            rel AS (SELECT pid AS qid, cid AS id FROM (
                SELECT pid, cid, row_number() OVER (PARTITION BY pid
                  ORDER BY cos DESC, cid) AS rk FROM cosf)
              WHERE rk <= 10),
            dims AS (SELECT * FROM (VALUES (8), (16)) AS d(dim)),
            qd AS (SELECT dim, vec_id, v, i FROM q CROSS JOIN dims
                   WHERE i <= dim),
            nrmd AS (SELECT dim, vec_id, SUM(v * v) nn FROM qd
                     GROUP BY 1, 2),
            dotd AS (SELECT p.dim, p.vec_id pid, c.vec_id cid,
                SUM(p.v * c.v) dot
              FROM qd p JOIN qd c ON p.i = c.i AND p.dim = c.dim
              WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
              GROUP BY 1, 2, 3),
            cosd AS (SELECT d.dim, d.pid, d.cid,
                d.dot / sqrt(np.nn * nc.nn) AS cos
              FROM dotd d
              JOIN nrmd np ON d.pid = np.vec_id AND d.dim = np.dim
              JOIN nrmd nc ON d.cid = nc.vec_id AND d.dim = nc.dim),
            res AS (SELECT dim, pid AS qid, cid AS id, rk FROM (
                SELECT dim, pid, cid, row_number() OVER (
                  PARTITION BY dim, pid
                  ORDER BY cos DESC, cid) AS rk FROM cosd)
              WHERE rk <= 10),
            hitagg AS (SELECT r.dim, r.qid, COUNT(*) AS hits,
                MIN(r.rk) AS first_rel_rk,
                SUM(${Corpus.ndcgDiscountCaseSql("r.rk", 10)}) AS dcg
              FROM res r JOIN rel ON r.qid = rel.qid AND r.id = rel.id
              GROUP BY 1, 2),
            nrel AS (SELECT qid, COUNT(*) AS n_rel FROM rel GROUP BY 1),
            grid AS (SELECT d.dim, n.qid, n.n_rel
              FROM dims d CROSS JOIN nrel n)
            SELECT grid.dim, grid.qid AS query_id, grid.n_rel,
              COALESCE(hits, 0) AS hits,
              CAST(COALESCE(hits, 0) AS DOUBLE) /
                CAST(grid.n_rel AS DOUBLE) AS recall,
              COALESCE(CAST(1 AS DOUBLE) / CAST(first_rel_rk AS DOUBLE),
                CAST(0 AS DOUBLE)) AS rr,
              COALESCE(CAST(dcg AS DOUBLE), CAST(0 AS DOUBLE)) /
                CAST(${Corpus.idcgCaseSql("least(grid.n_rel, 10)", 10)}
                  AS DOUBLE) AS ndcg
            FROM grid LEFT JOIN hitagg
              ON grid.dim = hitagg.dim AND grid.qid = hitagg.qid
            ORDER BY grid.dim, query_id"""))

  private val d10 = Q(
    "d10_dedup_semantic",
    // SemDeDup (cluster-then-pairs): the O(N²) cosine dedup of d05
    // restricted to within-k-means-cluster pairs — Σ|cluster|² work.
    // Approximate (cross-cluster dups unseen) -> rows-only; RecallSpec
    // gates drops ⊆ exact drops (precision 1 by construction) + recall.
    // nAssign=3: recall 0.472/0.755/0.981 at nAssign=1/2/3 (sf0.01,
    // RecallSpec curve) for ≤ (3/2)² the pair work of nAssign=2 — and the
    // maxClusterSize rank-band cap bounds every cluster's work linearly
    (s, dir) => VectorOps.semanticDedup(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", k = 10, iters = 3, tau = 0.4, nAssign = 3)
      .select(col("id").as("vec_id"), col("keep"))
      .orderBy("vec_id"),
    None)

  private val d21 = Q(
    "d21_semantic_decontaminate",
    // embedding-space decontamination: train vectors too cosine-similar
    // to the held-out eval slice (every 10th id), with their strongest
    // eval match — the paraphrase leak d07/d12/d20's lexical checks
    // can't see. Eval is the broadcast side; train streams once.
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.semanticDecontaminate(
          emb.filter(col("vec_id") % 10 =!= 0),
          emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", tau = 0.4)
        .orderBy("train_id")
    },
    Some("""WITH q AS (SELECT vec_id,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              dotp AS (SELECT c.vec_id tid, p.vec_id eid, SUM(c.v * p.v) dot
                       FROM q c JOIN q p ON c.i = p.i
                       WHERE c.vec_id % 10 <> 0 AND p.vec_id % 10 = 0
                       GROUP BY 1, 2),
              scored AS (SELECT tid, eid, dot / sqrt(nc.nn * np.nn) AS cos
                         FROM dotp JOIN nrm nc ON tid = nc.vec_id
                                   JOIN nrm np ON eid = np.vec_id),
              hits AS (SELECT tid, eid, cos,
                         ROW_NUMBER() OVER (PARTITION BY tid
                           ORDER BY cos DESC, eid ASC) rk
                       FROM scored WHERE cos >= 0.4)
            SELECT tid AS train_id, eid AS eval_id, cos
            FROM hits WHERE rk = 1 ORDER BY train_id"""))

  /** The unrolled PageRank iterations of d26's oracle, CTE-for-CTE the
    * Spark loop in `Clusters.graphRank`: sk = floor-divided neighbor
    * contributions, rk = teleport + damped sum, all integer (`//`).
    */
  private def rankIterCtes(iters: Int, scale: String): String =
    (1 to iters).map { k =>
      s"""s$k AS (SELECT e.dst AS id,
              SUM(r${k - 1}.rank // e.deg) AS sum_c
            FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id GROUP BY 1),
          r$k AS (SELECT d.src AS id,
              (15 * $scale // (100 * nn.n))
                + (COALESCE(s$k.sum_c, 0) * 85 // 100) AS rank
            FROM deg d CROSS JOIN nn
            LEFT JOIN s$k ON d.src = s$k.id)"""
    }.mkString(",\n")

  private val d26 = Q(
    "d26_graph_rank",
    // PageRank centrality over the d02 near-dup pair graph (tau relaxed
    // to 1/4 so the similarity neighborhood, not just the dup pairs,
    // carries edges) — the third canonical-pick signal beside min-id
    // (d08) and quality (d18): the most-connected variant is the one
    // the most other variants derive from. Scaled-integer arithmetic
    // with floor division at every step makes the fixed 5-round
    // iteration bit-deterministic, so the oracle replays it exactly
    (s, dir) => Clusters.graphRank(
        Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
          "text", "doc_id", tauNum = 1, tauDen = 4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", iters = 5)
      .orderBy(col("rank").desc, col("id").asc),
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
            com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS MATERIALIZED (SELECT ia, ib FROM com
              JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
              WHERE c * 4 >= (sa.n + sb.n - c) * 1),
            e0 AS (SELECT ia AS src, ib AS dst FROM pairs
              UNION ALL SELECT ib, ia FROM pairs),
            deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg
              FROM e0 GROUP BY 1),
            nn AS (SELECT COUNT(*) AS n FROM deg),
            e AS MATERIALIZED (SELECT e0.src, e0.dst, deg.deg
              FROM e0 JOIN deg USING (src)),
            r0 AS (SELECT src AS id, 1000000000000 // nn.n AS rank
              FROM deg CROSS JOIN nn),
            ${rankIterCtes(5, "1000000000000")}
            SELECT d.src AS id, d.deg,
              CAST(r5.rank AS BIGINT) AS rank
            FROM deg d JOIN r5 ON d.src = r5.id
            ORDER BY rank DESC, id ASC"""))

  private val d28 = Q(
    "d28_triangle_count",
    // per-node triangle counts + local clustering coefficient over the
    // SAME d02 near-dup pair graph d26 ranks (tau = 1/4): the cohesion
    // signal that separates true template clusters (coef -> 1) from
    // hub docs stitching unrelated texts (high degree, low coef — the
    // inverted-index false-positive shape). Degree-ordered counting
    // (Suri & Vassilvitskii 2011) keeps the wedge join O(m^1.5); all
    // counts exact longs, the coefficient ONE IEEE division
    (s, dir) => Clusters.triangleStats(
        Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
          "text", "doc_id", tauNum = 1, tauDen = 4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b")
      .orderBy(col("tri").desc, col("id").asc),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
            com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS MATERIALIZED (SELECT ia, ib FROM com
              JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
              WHERE c * 4 >= (sa.n + sb.n - c) * 1),
            und AS MATERIALIZED (SELECT DISTINCT least(ia, ib) u,
                greatest(ia, ib) v
              FROM pairs WHERE ia <> ib),
            deg AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
                SELECT u AS id FROM und
                UNION ALL SELECT v FROM und) GROUP BY 1),
            wd AS (SELECT und.u, und.v, a.deg AS du, b.deg AS dv
              FROM und JOIN deg a ON und.u = a.id
                JOIN deg b ON und.v = b.id),
            ore AS MATERIALIZED (SELECT
                CASE WHEN du < dv OR (du = dv AND u < v)
                  THEN u ELSE v END AS src,
                CASE WHEN du < dv OR (du = dv AND u < v)
                  THEN v ELSE u END AS dst,
                CASE WHEN du < dv OR (du = dv AND u < v)
                  THEN dv ELSE du END AS ddeg
              FROM wd),
            wed AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
              FROM ore x JOIN ore y ON x.src = y.src
              WHERE x.ddeg < y.ddeg
                OR (x.ddeg = y.ddeg AND x.dst < y.dst)),
            tri AS (SELECT w.a, w.b, w.c FROM wed w
              JOIN ore e ON w.b = e.src AND w.c = e.dst),
            pn AS (SELECT id, COUNT(*) AS tri FROM (
                SELECT a AS id FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri) GROUP BY 1)
            SELECT d.id, d.deg,
              CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri,
              CASE WHEN d.deg < 2 THEN NULL
                ELSE CAST(2 * COALESCE(pn.tri, 0) AS DOUBLE)
                  / CAST(d.deg * (d.deg - 1) AS DOUBLE)
              END AS coef
            FROM deg d LEFT JOIN pn USING (id)
            ORDER BY tri DESC, id ASC"""))

  /** The unrolled peel rounds of d29's oracle, CTE-for-CTE the Spark
    * loop in `Clusters.kCoreNodes`: each round recomputes degrees over
    * the surviving edges and keeps edges whose BOTH endpoints clear k.
    */
  private def kcoreIterCtes(rounds: Int, k: Int): String =
    (1 to rounds).map { r =>
      // MATERIALIZED: each round references its predecessor three
      // times — inlined CTEs would expand the base pipeline 3^rounds
      // times (observed: DuckDB ran out of file handles re-opening the
      // parquet)
      s"""dg$r AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
              SELECT u AS id FROM e${r - 1}
              UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
          kp$r AS (SELECT id FROM dg$r WHERE deg >= $k),
          e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
            JOIN kp$r a ON e.u = a.id JOIN kp$r b ON e.v = b.id)"""
    }.mkString(",\n")

  private val d29 = Q(
    "d29_kcore",
    // 2-core of the SAME d02 near-dup pair graph d26 ranks and d28
    // triangulates (Seidman 1983): the DEPTH signal — docs surviving
    // the 2-core sit inside duplication structure, pendant one-off
    // boilerplate hits peel away. Bounded 6-round peel (fixpoint on
    // the probe graphs spec-asserted) so the oracle unrolls the loop
    // CTE-for-CTE; all arithmetic exact longs
    (s, dir) => Clusters.kCoreNodes(
        Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
          "text", "doc_id", tauNum = 1, tauDen = 4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", k = 2, rounds = 6)
      .orderBy(col("deg").desc, col("id").asc),
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
            com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (SELECT ia, ib FROM com
              JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
              WHERE c * 4 >= (sa.n + sb.n - c) * 1),
            e0 AS MATERIALIZED (SELECT DISTINCT least(ia, ib) u,
                greatest(ia, ib) v
              FROM pairs WHERE ia <> ib),
            ${kcoreIterCtes(6, 2)}
            SELECT id, CAST(deg AS BIGINT) AS deg FROM (
              SELECT id, COUNT(*) AS deg FROM (
                SELECT u AS id FROM e6
                UNION ALL SELECT v FROM e6) GROUP BY 1)
            WHERE deg >= 2
            ORDER BY deg DESC, id ASC"""))

  private val d34 = Q(
    "d34_prefix_jaccard",
    // prefix-filtered exact Jaccard join (SSJoin/All-Pairs/PPJoin,
    // Chaudhuri et al. 2006 / Bayardo et al. 2007 / Xiao et al. 2008):
    // d02's output contract with PROVABLY complete candidates and no
    // hot-gram cap — the oracle is the plain uncapped all-pairs SQL,
    // so the hash-equality row is itself a completeness proof on real
    // data. tau = 3/5 (a distinct operating point from d02's 1/2)
    (s, dir) => Dedup.prefixJaccard(Tables.load(s, dir, "documents"),
      "text", "doc_id", tauNum = 3, tauDen = 5).orderBy("id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
              raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i FROM t),
              tok AS (SELECT doc_id, w,
                        row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
                      FROM raw WHERE w <> ''),
              big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
                      FROM tok a JOIN tok b
                        ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
              sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
              com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
                      FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b,
                   CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
            FROM com JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
            WHERE c * 5 >= (sa.n + sb.n - c) * 3
            ORDER BY 1, 2"""))

  private val d35 = Q(
    "d35_assortativity",
    // degree assortativity (Newman 2002) over the SAME tau=1/4
    // near-dup graph d26 ranks: Pearson correlation of edge-end
    // degrees. Strongly negative = template-hub signature (one
    // boilerplate doc paired with many singletons). Both-orientation
    // summing makes the marginals equal, collapsing r to
    // (M*Sxy - Sx^2)/(M*Sx2 - Sx^2) — exact longs, ONE IEEE division
    (s, dir) => Clusters.assortativity(
        Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
          "text", "doc_id", tauNum = 1, tauDen = 4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
            com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (SELECT ia, ib FROM com
              JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
              WHERE c * 4 >= (sa.n + sb.n - c) * 1),
            und AS (SELECT DISTINCT least(ia, ib) u, greatest(ia, ib) v
              FROM pairs WHERE ia <> ib),
            sym AS (SELECT u AS src, v AS dst FROM und
              UNION ALL SELECT v, u FROM und),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
              FROM sym GROUP BY 1),
            ends AS (SELECT a.deg AS dx, b.deg AS dy
              FROM sym JOIN deg a ON sym.src = a.src
                JOIN deg b ON sym.dst = b.src),
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_ends,
                CAST(SUM(dx) AS BIGINT) AS sx,
                CAST(SUM(dx * dy) AS BIGINT) AS sxy,
                CAST(SUM(dx * dx) AS BIGINT) AS sx2 FROM ends)
            SELECT m_ends, sx, sxy, sx2,
              m_ends * sxy - sx * sx AS num,
              m_ends * sx2 - sx * sx AS den,
              CASE WHEN m_ends * sx2 - sx * sx = 0 THEN NULL
                ELSE CAST(m_ends * sxy - sx * sx AS DOUBLE)
                  / (m_ends * sx2 - sx * sx) END AS r
            FROM m"""))

  private val d30 = Q(
    "d30_source_overlap",
    // pairwise source-overlap matrix: the fraction of each source's
    // distinct word bigrams that also occur in every other source —
    // the cross-corpus contamination diagnostic a release card prints
    // before mixing sources (asymmetric: a small curated slice can be
    // fully contained in a crawl while covering almost none of it).
    // One distinct (source, gram) rollup + a gram-keyed self-join
    // bounded by sources^2 per gram; coverage one IEEE division
    (s, dir) => Dedup.sourceOverlap(
        Tables.load(s, dir, "documents"), "text", "source")
      .orderBy("src_a", "src_b"),
    Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, source, unnest(l) w,
                generate_subscripts(l, 1) i FROM t),
            tok AS (SELECT doc_id, source, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.source, a.w || ' ' || b.w AS g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT source, COUNT(*) AS n FROM big GROUP BY 1),
            com AS (SELECT a.source sa, b.source sb, COUNT(*) AS c
              FROM big a JOIN big b
                ON a.g = b.g AND a.source <> b.source
              GROUP BY 1, 2)
            SELECT x.source AS src_a, y.source AS src_b,
              CAST(COALESCE(c, 0) AS BIGINT) AS n_common,
              CAST(x.n AS BIGINT) AS n_a,
              CASE WHEN x.n = 0 THEN NULL
                ELSE CAST(COALESCE(c, 0) AS DOUBLE) / x.n
              END AS cover
            FROM sz x JOIN sz y ON x.source <> y.source
            LEFT JOIN com ON sa = x.source AND sb = y.source
            ORDER BY src_a, src_b"""))

  private val d31 = Q(
    "d31_edit_distance",
    // character-level Levenshtein near-dups at normalized distance
    // <= 1/4: the order-SENSITIVE rung between exact-normalized dedup
    // and set-based Jaccard. Candidates from the d02 inverted index
    // restricted to cold grams (df <= 20), length-gap prefilter, DP
    // verify on survivors only; integer distances, hash-exact oracle
    (s, dir) => Dedup.editDistancePairs(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        tauNum = 1, tauDen = 4, maxGramDf = 20)
      .orderBy("id_a", "id_b"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            cold AS (SELECT g FROM big GROUP BY g HAVING COUNT(*) <= 20),
            cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              JOIN cold c ON a.g = c.g),
            d AS (SELECT ia, ib,
                levenshtein(x.text, y.text) AS dist,
                greatest(length(x.text), length(y.text)) AS mx
              FROM cand JOIN documents x ON ia = x.doc_id
              JOIN documents y ON ib = y.doc_id
              WHERE abs(length(x.text) - length(y.text)) * 4 <= 1 *
                greatest(length(x.text), length(y.text)))
            SELECT ia AS id_a, ib AS id_b, CAST(dist AS BIGINT) AS dist,
              CAST(mx AS BIGINT) AS max_len
            FROM d WHERE dist * 4 <= mx * 1
            ORDER BY id_a, id_b"""))

  /** Unrolled synchronous-LPA rounds of d32's oracle, CTE-for-CTE the
    * Spark loop in `Clusters.labelProp`: count neighbor labels, adopt
    * the most frequent with ties to the smallest label.
    */
  private def lpaIterCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""cnt$r AS (SELECT s.dst AS id, l.lab, COUNT(*) AS c
            FROM sym s JOIN lbl${r - 1} l ON s.src = l.id GROUP BY 1, 2),
          lbl$r AS MATERIALIZED (SELECT id, lab FROM (
            SELECT id, lab, row_number() OVER (PARTITION BY id
              ORDER BY c DESC, lab ASC) AS rn FROM cnt$r) WHERE rn = 1)"""
    }.mkString(",\n")

  private val d32 = Q(
    "d32_lpa_communities",
    // synchronous label propagation (Raghavan et al. 2007) over the
    // SAME d02 pair graph d26 ranks, d28 triangulates, and d29 peels:
    // the DENSITY-aware community split CC cannot make (one bridge
    // edge merges two dense groups under min-label closure; majority
    // vote keeps them apart). Deterministic min-label tie-break, 4
    // fixed sweeps — the oracle unrolls the loop CTE-for-CTE
    (s, dir) => Clusters.labelProp(
        Dedup.nGramJaccard(Tables.load(s, dir, "documents"),
          "text", "doc_id", tauNum = 1, tauDen = 4)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", rounds = 4)
      .orderBy("lab", "id"),
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') l
              FROM documents),
            raw AS (SELECT doc_id, unnest(l) w, generate_subscripts(l, 1) i
              FROM t),
            tok AS (SELECT doc_id, w,
                row_number() OVER (PARTITION BY doc_id ORDER BY i) rn
              FROM raw WHERE w <> ''),
            big AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w g
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
            sz AS (SELECT doc_id, COUNT(*) n FROM big GROUP BY 1),
            com AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) c
              FROM big a JOIN big b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (SELECT ia, ib FROM com
              JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
              WHERE c * 4 >= (sa.n + sb.n - c) * 1),
            sym AS MATERIALIZED (SELECT ia AS src, ib AS dst FROM pairs
              UNION SELECT ib, ia FROM pairs),
            lbl0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab
              FROM sym),
            ${lpaIterCtes(4)}
            SELECT id, CAST(lab AS BIGINT) AS lab
            FROM lbl4 ORDER BY lab, id"""))

  private val s18 = Q(
    "s18_graded_ndcg",
    // graded-relevance nDCG@10 (the TREC-qrel form above s15's binary
    // triple) measuring truncated-dim serving quality against a GRADED
    // ideal: relevance = full-dim exact top-5 per probe graded 3/2/1
    // by rank, results = brute top-10 over the first 16 dims. Gains
    // 2^rel−1 exact longs, discounts injected DECIMAL literals, one
    // IEEE division at the end — the whole chain mirrors in DuckDB
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val full = VectorOps.knnBrute(emb.filter(col("vec_id") < 8), emb,
          "vec_id", "embedding", k = 5)
        .select(col("probe_id").as("query_id"),
          col("corpus_id").as("id"),
          expr("CASE rk WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1 END")
            .as("rel"))
      val tr = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val res = VectorOps.knnBrute(tr.filter(col("vec_id") < 8), tr,
          "vec_id", "embedding", k = 10)
        .select(col("probe_id").as("query_id"),
          col("corpus_id").as("id"), col("rk"))
      Corpus.gradedNdcg(res, full, "query_id", "id", "rk", "rel",
          k = 10, maxRel = 3)
        .orderBy("query_id")
    },
    Some(s"""WITH q AS (SELECT vec_id,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                generate_subscripts(embedding, 1) i
              FROM embeddings),
            nrmf AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
            dotf AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                     FROM q p JOIN q c ON p.i = c.i
                     WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                     GROUP BY 1, 2),
            cosf AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                     FROM dotf JOIN nrmf np ON pid = np.vec_id
                               JOIN nrmf nc ON cid = nc.vec_id),
            rel AS (SELECT pid AS qid, cid AS id,
                CASE rk WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1 END AS rel
              FROM (SELECT pid, cid, row_number() OVER (PARTITION BY pid
                  ORDER BY cos DESC, cid) AS rk FROM cosf)
              WHERE rk <= 5),
            nrmt AS (SELECT vec_id, SUM(v * v) nn FROM q
                     WHERE i <= 16 GROUP BY 1),
            dott AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                     FROM q p JOIN q c ON p.i = c.i AND p.i <= 16
                     WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                     GROUP BY 1, 2),
            cost AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                     FROM dott JOIN nrmt np ON pid = np.vec_id
                               JOIN nrmt nc ON cid = nc.vec_id),
            res AS (SELECT pid AS qid, cid AS id, rk
              FROM (SELECT pid, cid, row_number() OVER (PARTITION BY pid
                  ORDER BY cos DESC, cid) AS rk FROM cost)
              WHERE rk <= 10),
            dcg AS (SELECT r.qid,
                SUM(CAST((${Corpus.gainCaseSql("l.rel", 3)}) AS
                    DECIMAL(6, 0))
                  * ${Corpus.ndcgDiscountCaseSql("r.rk", 10)}) AS dcg
              FROM res r JOIN rel l ON r.qid = l.qid AND r.id = l.id
              GROUP BY 1),
            ideal AS (SELECT qid,
                SUM(CAST((${Corpus.gainCaseSql("rel", 3)}) AS
                    DECIMAL(6, 0))
                  * ${Corpus.ndcgDiscountCaseSql("ir", 10)}) AS idcg
              FROM (SELECT qid, rel, row_number() OVER (PARTITION BY qid
                  ORDER BY rel DESC, id ASC) AS ir FROM rel)
              WHERE ir <= 10 GROUP BY 1),
            nr AS (SELECT qid, COUNT(*) AS n_rel FROM rel GROUP BY 1)
            SELECT nr.qid AS query_id, nr.n_rel,
              CAST(COALESCE(dcg.dcg, 0) AS DOUBLE) AS dcg,
              CAST(ideal.idcg AS DOUBLE) AS idcg,
              CAST(COALESCE(dcg.dcg, 0) AS DOUBLE)
                / CAST(ideal.idcg AS DOUBLE) AS ndcg
            FROM nr LEFT JOIN dcg ON nr.qid = dcg.qid
                    JOIN ideal ON nr.qid = ideal.qid
            ORDER BY query_id"""))

  private val s19 = Q(
    "s19_bitext_margin",
    // CCMatrix/LASER margin-based pair mining (Artetxe & Schwenk
    // 2019): label-0 vectors mined against label-1 — each left's
    // forward top-4 candidates scored by cos / mean-of-local-kNN-
    // averages, argmax kept; the ratio demotes hub vectors that raw
    // cosine would select for every probe. Quantized dots, decimal-
    // accumulated neighborhood averages, three IEEE divisions
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.marginMine(emb.filter(col("label") === 0),
          emb.filter(col("label") === 1), "vec_id", "embedding", k = 4)
        .orderBy(col("margin").desc, col("lid").asc)
    },
    Some("""WITH q AS (SELECT vec_id, label,
                round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                generate_subscripts(embedding, 1) i
              FROM embeddings WHERE label IN (0, 1)),
            nrm AS (SELECT vec_id, SUM(v * v) n2 FROM q GROUP BY 1),
            dots AS (SELECT l.vec_id lid, r.vec_id rid,
                SUM(l.v * r.v) dot
              FROM q l JOIN q r ON l.i = r.i
              WHERE l.label = 0 AND r.label = 1 GROUP BY 1, 2),
            cosa AS (SELECT lid, rid,
                dot / sqrt(nl.n2 * nr.n2) AS cos
              FROM dots JOIN nrm nl ON lid = nl.vec_id
                        JOIN nrm nr ON rid = nr.vec_id),
            fwd AS (SELECT lid, rid, cos FROM (SELECT lid, rid, cos,
                row_number() OVER (PARTITION BY lid
                  ORDER BY cos DESC, rid ASC) rk FROM cosa)
              WHERE rk <= 4),
            bwd AS (SELECT lid, rid, cos FROM (SELECT lid, rid, cos,
                row_number() OVER (PARTITION BY rid
                  ORDER BY cos DESC, lid ASC) rk FROM cosa)
              WHERE rk <= 4),
            al AS (SELECT lid, CAST(SUM(CAST(cos AS DECIMAL(18, 6)))
                AS DOUBLE) / COUNT(*) AS avg_l FROM fwd GROUP BY 1),
            ar AS (SELECT rid, CAST(SUM(CAST(cos AS DECIMAL(18, 6)))
                AS DOUBLE) / COUNT(*) AS avg_r FROM bwd GROUP BY 1),
            sc AS (SELECT f.lid, f.rid, f.cos,
                f.cos / ((al.avg_l + ar.avg_r) / 2) AS margin
              FROM fwd f JOIN al ON f.lid = al.lid
                         JOIN ar ON f.rid = ar.rid),
            best AS (SELECT lid, rid, cos, margin FROM (SELECT lid,
                rid, cos, margin, row_number() OVER (PARTITION BY lid
                  ORDER BY margin DESC, rid ASC) mrk FROM sc)
              WHERE mrk = 1)
            SELECT lid, rid, cos, margin FROM best
            ORDER BY margin DESC, lid ASC"""))

  private val s17 = Q(
    "s17_mmr_rerank",
    // MMR diversified re-ranking over each probe's exact top-10: 3
    // greedy steps, each maximizing rel − max-sim-to-selected (λ=1/2 up
    // to scale). The oracle replays every greedy step CTE-for-CTE —
    // candidate ranking, bounded pairwise sims, window argmax per step
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.mmrRerank(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", kCand = 10, kSel = 3)
    },
    Some("""WITH q AS (SELECT vec_id,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                       FROM q p JOIN q c ON p.i = c.i
                       WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                       GROUP BY 1, 2),
              scored AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                         FROM dotp JOIN nrm np ON pid = np.vec_id
                                   JOIN nrm nc ON cid = nc.vec_id),
              cand AS (SELECT pid, cid, cos AS rel FROM (
                         SELECT pid, cid, cos,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY cos DESC, cid ASC) rk
                         FROM scored) WHERE rk <= 10),
              cpair AS (SELECT a.pid, a.cid AS xid, b.cid AS yid
                        FROM cand a JOIN cand b
                          ON a.pid = b.pid AND a.cid <> b.cid),
              sdot AS (SELECT cp.pid, cp.xid, cp.yid, SUM(x.v * y.v) dot
                       FROM cpair cp
                       JOIN q x ON cp.xid = x.vec_id
                       JOIN q y ON cp.yid = y.vec_id AND x.i = y.i
                       GROUP BY 1, 2, 3),
              sims AS (SELECT pid, xid, yid,
                         dot / sqrt(nx.nn * ny.nn) AS sim
                       FROM sdot JOIN nrm nx ON xid = nx.vec_id
                                 JOIN nrm ny ON yid = ny.vec_id),
              sel1 AS (SELECT pid, cid, rel AS score FROM (
                         SELECT pid, cid, rel,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY rel DESC, cid ASC) r
                         FROM cand) WHERE r = 1),
              rem1 AS (SELECT c.pid, c.cid, c.rel, s.sim AS maxsim
                       FROM cand c
                       JOIN sel1 ON c.pid = sel1.pid AND c.cid <> sel1.cid
                       JOIN sims s ON s.pid = c.pid AND s.xid = c.cid
                         AND s.yid = sel1.cid),
              sel2 AS (SELECT pid, cid, score FROM (
                         SELECT pid, cid, rel - maxsim AS score,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY rel - maxsim DESC, cid ASC) r
                         FROM rem1) WHERE r = 1),
              rem2 AS (SELECT r.pid, r.cid, r.rel,
                         greatest(r.maxsim, s.sim) AS maxsim
                       FROM rem1 r
                       JOIN sel2 ON r.pid = sel2.pid AND r.cid <> sel2.cid
                       JOIN sims s ON s.pid = r.pid AND s.xid = r.cid
                         AND s.yid = sel2.cid),
              sel3 AS (SELECT pid, cid, score FROM (
                         SELECT pid, cid, rel - maxsim AS score,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY rel - maxsim DESC, cid ASC) r
                         FROM rem2) WHERE r = 1)
            SELECT pid AS probe_id, 1 AS step, cid AS sel_id, score
            FROM sel1
            UNION ALL SELECT pid, 2, cid, score FROM sel2
            UNION ALL SELECT pid, 3, cid, score FROM sel3
            ORDER BY probe_id, step"""))

  private val s02 = Q(
    "s02_knn_lsh",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // 6 planes = 64 buckets: sized to the sf corpus (hundreds to a few
      // thousand vectors) so multi-probe candidate sets stay ~10x k; at
      // cluster scale, planes grows with log2(corpus/target-bucket-size).
      VectorOps.knnLsh(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, planes = 6).orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only

  private val s05 = Q(
    "s05_knn_pq",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // dim 64 split 8x8, 32 codewords/subspace: the corpus compresses to
      // 8 codes/vector; refine=128 caps the exact re-rank per probe. At
      // cluster scale codebookSize grows to 256 (one byte per code) and
      // the ADC scan composes with IVF lists for sub-linearity.
      VectorOps.knnPq(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, m = 8, codebookSize = 32,
        refine = 128).orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only (RecallSpec gates vs s01)

  private val s10 = Q(
    "s10_knn_sq8",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // per-dim byte codes, no codebook: corpus scans at 1 byte/dim and
      // the "model" is 2x64 doubles from one exact min/max pass;
      // refine=128 caps the exact re-rank per probe, as in s05
      VectorOps.knnSq8(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, refine = 128)
        .orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only (RecallSpec gates vs s01)

  private val s11 = Q(
    "s11_knn_ivf_sq8",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // the FAISS IVF,SQ8 shape: probed lists bound candidates, global
      // byte codes make the list scan 1 byte/dim; nProbe matches s03
      VectorOps.knnIvfSq8(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, nCentroids = 32, nProbe = 8,
        refine = 128).orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only (RecallSpec gates vs s01)

  private val s07 = Q(
    "s07_knn_filtered",
    // metadata-filtered vector search ("nearest neighbors in category
    // 2"): exact baseline — the corpus predicate composes BEFORE the
    // scoring join, so it reaches the parquet scan (PushedFilters,
    // PlanSpec) and the pair space shrinks to probes × matching rows.
    // The scale path is knnIvf's corpusFilter (shared full-corpus index,
    // filtered list scan) — RecallSpec gates it against this baseline
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.knnBrute(emb.filter(col("vec_id") < 8),
        emb.filter(col("label") === 2),
        "vec_id", "embedding", k = 10).orderBy("probe_id", "rk")
    },
    Some("""WITH q AS (SELECT vec_id, label,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                       FROM q p JOIN q c ON p.i = c.i
                       WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                         AND c.label = 2
                       GROUP BY 1, 2),
              scored AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                         FROM dotp JOIN nrm np ON pid = np.vec_id
                                   JOIN nrm nc ON cid = nc.vec_id),
              ranked AS (SELECT pid, cid, cos,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY cos DESC, cid ASC) rk
                         FROM scored)
            SELECT pid AS probe_id, cid AS corpus_id, cos, rk
            FROM ranked WHERE rk <= 10 ORDER BY probe_id, rk"""))

  private val s08 = Q(
    "s08_hard_negatives",
    // contrastive-training data: for each probe, the most similar
    // corpus vectors with a DIFFERENT label — the label inequality is a
    // join predicate (both sides), so it lives inside the scoring join,
    // not the scan
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.hardNegatives(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", "label", k = 10).orderBy("probe_id", "rk")
    },
    Some("""WITH q AS (SELECT vec_id, label,
                         round(CAST(unnest(embedding) AS DOUBLE) * 1000) v,
                         generate_subscripts(embedding, 1) i
                       FROM embeddings),
              nrm AS (SELECT vec_id, SUM(v * v) nn FROM q GROUP BY 1),
              dotp AS (SELECT p.vec_id pid, c.vec_id cid, SUM(p.v * c.v) dot
                       FROM q p JOIN q c ON p.i = c.i
                       WHERE p.vec_id < 8 AND p.vec_id <> c.vec_id
                         AND p.label IS DISTINCT FROM c.label
                       GROUP BY 1, 2),
              scored AS (SELECT pid, cid, dot / sqrt(np.nn * nc.nn) AS cos
                         FROM dotp JOIN nrm np ON pid = np.vec_id
                                   JOIN nrm nc ON cid = nc.vec_id),
              ranked AS (SELECT pid, cid, cos,
                           ROW_NUMBER() OVER (PARTITION BY pid
                             ORDER BY cos DESC, cid ASC) rk
                         FROM scored)
            SELECT pid AS probe_id, cid AS corpus_id, cos, rk
            FROM ranked WHERE rk <= 10 ORDER BY probe_id, rk"""))

  private val s09 = Q(
    "s09_hard_negatives_ivf",
    // s08's bounded scale path (r8): the label inequality applies after
    // the IVF list join and before the top-k window, so the pair space is
    // probes × probed-list rows, never probes × corpus — no cartesian
    // (PlanSpec). nProbe=12 (vs s03's 8): the inequality thins list
    // density mildly (most labels differ), a small widening holds recall
    // (RecallSpec gates vs the oracle-checked exact s08)
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      VectorOps.hardNegativesIvf(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", "label", k = 10, nCentroids = 32,
        nProbe = 12).orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only (RecallSpec gates vs s08)

  private val s06 = Q(
    "s06_knn_ivfpq",
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // IVF lists bound the candidate set (~nProbe/nCentroids of the
      // corpus), PQ codes make scanning it memory-cheap: the composition
      // that serves ANN at corpus sizes where even one full-vector scan
      // per probe is too much bandwidth
      VectorOps.knnIvfPq(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, nCentroids = 32, nProbe = 8,
        m = 8, codebookSize = 32, refine = 128).orderBy("probe_id", "rk")
    },
    None) // approximate -> rows-only (RecallSpec gates vs s01)

  // ---- text analysis ----------------------------------------------------

  /** The t01 marker-vote CASE as a bare SQL expression — shared by the
    * t01 oracle and t57's confusion rollup so the two can never drift.
    */
  private def langIdCaseSql: String = {
    def hits(markers: Seq[String]) =
      s"len(list_filter(list_distinct(list_filter(string_split(text, ' '), " +
        s"x -> x <> '')), x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"
    val scores = TextOps.langMarkers.map { case (l, ms) => l -> hits(ms) }
    val branches = scores.zipWithIndex.init.map { case ((l, sc), i) =>
      val rest = scores.drop(i + 1).map(_._2)
      s"WHEN ${rest.map(o => s"$sc >= $o").mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${branches.mkString(" ")} ELSE '${scores.last._1}' END"
  }

  private def langIdOracle: String =
    s"""SELECT doc_id, lang AS lang_label,
          $langIdCaseSql AS lang_pred
        FROM documents ORDER BY doc_id"""

  private val t01 = Q(
    "t01_lang_id",
    (s, dir) => Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("lang_label"),
        TextOps.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id"),
    Some(langIdOracle))

  private val t57 = Q(
    "t57_langid_confusion",
    // classifier AUDIT for the t01 marker language-ID: per-class
    // confusion totals and precision/recall/F1 against the lang label
    // — the eval table a gate's release card prints before trusting a
    // classifier to route documents (t27/t29 grade the QUALITY model;
    // this grades the language router). Exact long counts; P/R/F1 as
    // one fixed IEEE tree with zero-denominator guards — hash-exact
    (s, dir) => {
      // plain load (the t05 convention): the prediction is scan-stage and
      // everything after is class-keyed aggregation of narrow rows
      val preds = Tables.load(s, dir, "documents")
        .select(col("lang").as("lang"),
          TextOps.langId(col("text")).as("pred"))
      val t = preds.groupBy("lang").agg(
        count(lit(1)).as("n_true"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("tp"))
      val p = preds.groupBy(col("pred").as("lang"))
        .agg(count(lit(1)).as("n_pred"))
      t.join(p, Seq("lang"), "full")
        .select(col("lang"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision", expr(
          "CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / " +
            "CAST(n_pred AS DOUBLE) END"))
        .withColumn("recall", expr(
          "CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / " +
            "CAST(n_true AS DOUBLE) END"))
        .withColumn("f1", expr(
          "CASE WHEN precision IS NOT NULL AND recall IS NOT NULL " +
            "AND precision + recall > 0.0E0 THEN " +
            "2.0E0 * precision * recall / (precision + recall) END"))
        .orderBy("lang")
    },
    Some(s"""WITH pr AS (SELECT lang, $langIdCaseSql AS pred
              FROM documents),
            t AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true,
                CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp
              FROM pr GROUP BY 1),
            p AS (SELECT pred AS lang, CAST(COUNT(*) AS BIGINT)
                AS n_pred FROM pr GROUP BY 1),
            j AS (SELECT COALESCE(t.lang, p.lang) AS lang,
                COALESCE(n_true, CAST(0 AS BIGINT)) AS n_true,
                COALESCE(n_pred, CAST(0 AS BIGINT)) AS n_pred,
                COALESCE(tp, CAST(0 AS BIGINT)) AS tp
              FROM t FULL JOIN p ON t.lang = p.lang),
            m AS (SELECT lang, n_true, n_pred, tp,
                CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE)
                  / CAST(n_pred AS DOUBLE) END AS precision,
                CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE)
                  / CAST(n_true AS DOUBLE) END AS recall
              FROM j)
            SELECT lang, n_true, n_pred, tp, precision, recall,
              CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                AND precision + recall > 0.0E0 THEN
                2.0E0 * precision * recall / (precision + recall) END
                AS f1
            FROM m ORDER BY lang"""))

  private val t02 = Q(
    "t02_quality_score",
    (s, dir) => Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.stopwordCount(col("text")).as("n_stopwords"),
        TextOps.punctCount(col("text")).as("n_punct"),
        TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some("""WITH c AS (
              SELECT doc_id,
                len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
                len(list_filter(string_split(text, ' '),
                  x -> x IN ('the','a','of','and','is','in','to'))) AS n_stopwords,
                length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
                length(text) AS n_chars
              FROM documents)
            SELECT doc_id, n_tokens, n_stopwords, n_punct,
              0.4 * least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
              + 0.3 * (CAST(n_stopwords AS DOUBLE)
                       / greatest(CAST(n_tokens AS DOUBLE), 1.0))
              + 0.2 * (1.0 - CAST(n_punct AS DOUBLE)
                             / greatest(CAST(n_chars AS DOUBLE), 1.0))
              + 0.1 * (1.0 - CAST(n_upper AS DOUBLE)
                             / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS quality
            FROM c ORDER BY doc_id"""))

  private val t03 = Q(
    "t03_token_count",
    (s, dir) => Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
              len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS bpe_tokens
            FROM documents ORDER BY doc_id"""))

  private val t04 = Q(
    "t04_fingerprint",
    (s, dir) => Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextExpressions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    // oracle upgraded r14 (verdict #8): the rolling polynomial hash IS
    // SQL-expressible byte-exactly — hex-decode the UTF-8 bytes and
    // left-fold h -> (h*31 + byte) mod 1e9+7 with list_reduce (init 0
    // prepended); matches RollingHash's per-byte loop incl. multi-byte
    // codepoints, since both walk the same UTF-8 encoding
    Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx
              FROM documents)
            SELECT doc_id, list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                list_transform(range(len(hx) // 2),
                  i -> CAST(strpos('0123456789ABCDEF',
                      substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1
                      AS BIGINT) * 16
                    + (strpos('0123456789ABCDEF',
                      substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1))),
              (h, c) -> (h * 31 + c) % 1000000007) AS fp
            FROM h ORDER BY doc_id"""))

  // ---- events -----------------------------------------------------------

  private val e01 = Q(
    "e01_window_agg",
    (s, dir) => Events.hourlyAgg(Tables.load(s, dir, "events"))
      .orderBy("hour_epoch", "event_type"),
    Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
              event_type, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
              COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val e02 = Q(
    "e02_sessionize",
    (s, dir) => Events.sessionize(Tables.load(s, dir, "events"), 1800L)
      .orderBy("user_id", "session_idx"),
    Some("""WITH ev AS (
              -- truncate to µs so gap decisions match Spark (which reads the
              -- ns parquet column as µs); TIMESTAMP_NS would otherwise decide
              -- sub-µs stragglers differently
              SELECT user_id, event_id, value,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
              FROM events),
            flagged AS (
              SELECT user_id, event_id, value, us,
                CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS flag
              FROM ev
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
            sess AS (
              SELECT *, CAST(SUM(flag) OVER (PARTITION BY user_id
                ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS session_idx
              FROM flagged)
            SELECT user_id, session_idx, COUNT(*) AS n_events,
              MIN(event_id) AS first_event_id,
              MIN(us) // 1000000 AS start_epoch,
              MAX(us) // 1000000 AS end_epoch,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val e03 = Q(
    "e03_sessionize_salted",
    // same result as e02 by construction (skew-safe two-phase plan), so it
    // shares e02's oracle SQL verbatim — the DuckDB single-window answer
    (s, dir) => Events.sessionizeSalted(Tables.load(s, dir, "events"),
      gapSeconds = 1800L, chunkSeconds = 86400L)
      .orderBy("user_id", "session_idx"),
    e02.oracle)

  private val e04 = Q(
    "e04_asof_join",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "us")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("us"), col("us").as("vus"))
      Events.asofJoin(purchases, views, "user_id", "us",
          Seq("event_id", "vus"))
        .filter(col("asof_event_id").isNotNull) // inner as-of
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("asof_event_id").as("view_id"),
          (col("us") - col("asof_vus")).as("gap_us"))
        .orderBy("purchase_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events),
              p AS (SELECT user_id, event_id, us FROM e
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, event_id, us FROM e
                    WHERE event_type = 'view')
            SELECT p.user_id, p.event_id AS purchase_id,
              v.event_id AS view_id, p.us - v.us AS gap_us
            FROM p ASOF JOIN v
              ON p.user_id = v.user_id AND v.us <= p.us
            ORDER BY purchase_id"""))

  private val e10 = Q(
    "e10_asof_salted",
    // skew-safe two-phase as-of join: identical answer to e04 by
    // construction (local chunk fill + bounded carry pass), so it shares
    // e04's oracle SQL verbatim — the DuckDB ASOF JOIN answer
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "us")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("us"), col("us").as("vus"))
      Events.asofJoinSalted(purchases, views, "user_id", "us",
          Seq("event_id", "vus"), chunkUs = 86400L * 1000000L)
        .filter(col("asof_event_id").isNotNull) // inner as-of
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("asof_event_id").as("view_id"),
          (col("us") - col("asof_vus")).as("gap_us"))
        .orderBy("purchase_id")
    },
    e04.oracle)

  private val e05 = Q(
    "e05_funnel_count",
    (s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "us")
      val views = e.filter(col("event_type") === "view")
      Events.rangeCountJoin(purchases, views, "user_id", "us",
          windowUs = 3600L * 1000000L, leftIdCol = "event_id")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("n_matches").as("n_views"))
        .orderBy("purchase_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events),
              p AS (SELECT user_id, event_id, us FROM e
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, us FROM e WHERE event_type = 'view')
            SELECT p.user_id, p.event_id AS purchase_id,
              COUNT(v.us) AS n_views
            FROM p LEFT JOIN v
              ON p.user_id = v.user_id
              AND v.us > p.us - 3600000000 AND v.us <= p.us
            GROUP BY 1, 2 ORDER BY purchase_id"""))

  private val e06 = Q(
    "e06_retention_cohorts",
    (s, dir) => Events.retentionCohorts(
        Tables.load(s, dir, "events"), epochDate = "2024-01-01")
      .orderBy("cohort_day", "offset_day"),
    // ts is ns parquet / µs in Spark — day granularity is unaffected
    Some("""WITH act AS (SELECT DISTINCT user_id,
                datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
              FROM events),
              c AS (SELECT user_id, MIN(day) AS cohort_day
                    FROM act GROUP BY 1)
            SELECT CAST(c.cohort_day AS INTEGER) AS cohort_day,
              CAST(act.day - c.cohort_day AS INTEGER) AS offset_day,
              COUNT(*) AS n_users
            FROM act JOIN c ON act.user_id = c.user_id
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val e07 = Q(
    "e07_hopping_window",
    // sliding/hopping event-time windows (1 h size, 15 min hop): Spark's
    // native window() plans an Expand (4 rows per event, codegen'd) ahead
    // of the partial aggregation — one exchange of partially-aggregated
    // rows, no self-join. Window starts emitted as epoch seconds
    // (hop-aligned, so exact; raw timestamps would hit the ns/µs gap).
    (s, dir) => Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type"),
    // same µs arithmetic as e05: window k covers [k*hop, k*hop + size)
    Some("""WITH e AS (SELECT event_type, value,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events),
              w AS (SELECT event_type, value,
                      unnest(generate_series(
                        (us - 3600000000) // 900000000 + 1,
                        us // 900000000)) AS k
                    FROM e)
            SELECT k * 900 AS win_start, event_type, COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
            FROM w GROUP BY 1, 2 ORDER BY 1, 2"""))

  private val e08 = Q(
    "e08_json_props",
    // semi-structured payload column: extract a typed field from the JSON
    // props string IN THE SCAN STAGE (native get_json_object — single
    // parse per row, no UDF), then aggregate. The schema-on-read answer
    // to event payloads that evolve faster than tables; integer payload
    // values keep the sums oracle-exact.
    (s, dir) => Tables.load(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type"),
    Some("""SELECT event_type,
              COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
              MIN(k) AS min_k, MAX(k) AS max_k
            FROM (SELECT event_type,
                    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type ORDER BY event_type"""))

  private val e19 = Q(
    "e19_scd2_history",
    // SCD2 (Kimball type-2) history construction from the event change
    // log: one validity interval per user state run, microsecond epoch
    // bounds, open-ended current rows — the table an as-of consumer
    // (e04) probes
    (s, dir) => Events.scd2History(Tables.load(s, dir, "events"))
      .orderBy("user_id", "valid_from_us"),
    Some("""WITH ordered AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev
              FROM events),
            chg AS (SELECT user_id, event_type, ts, event_id
                    FROM ordered
                    WHERE prev IS NULL OR prev <> event_type),
            iv AS (SELECT user_id, event_type,
                     epoch_us(ts) AS valid_from_us,
                     epoch_us(lead(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id)) AS valid_to_us,
                     lead(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) IS NULL AS is_current
                   FROM chg)
            SELECT user_id, event_type, valid_from_us, valid_to_us,
              is_current
            FROM iv ORDER BY user_id, valid_from_us"""))

  private val e20 = Q(
    "e20_path_trigrams",
    // top-20 length-3 behavioral paths (e18's transition matrix is the
    // length-2 marginal); two leads on ONE per-user window, hash-agg
    // count, bounded top-k
    (s, dir) => Events.pathTrigrams(Tables.load(s, dir, "events"), k = 20)
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3")),
    Some("""WITH p AS (SELECT user_id, event_type,
                lead(event_type, 1) OVER w AS t2,
                lead(event_type, 2) OVER w AS t3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_type AS s1, t2 AS s2, t3 AS s3, COUNT(*) AS n
            FROM p WHERE t3 IS NOT NULL
            GROUP BY 1, 2, 3 ORDER BY n DESC, s1, s2, s3 LIMIT 20"""))

  private val e21 = Q(
    "e21_cuped",
    // CUPED variance reduction (Deng et al. 2013): pre-period per-user
    // spend as the covariate for post-period spend; integer-cent
    // quantization + decimal moments keep every derived statistic a
    // fixed IEEE chain mirrored cast-for-cast in the oracle
    (s, dir) => Events.cuped(Tables.load(s, dir, "events"),
      splitTs = "2024-01-16 00:00:00"),
    Some("""WITH per AS (SELECT user_id,
              SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
              SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
              FROM events GROUP BY 1),
            m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
              FROM per),
            d AS (SELECT n AS n_users,
                n * sxy - sx * sy AS cov_num,
                n * sxx - sx * sx AS varx_num,
                n * syy - sy * sy AS vary_num
              FROM m)
            SELECT n_users,
              CASE WHEN n_users >= 2 AND varx_num <> 0 THEN
                CAST(cov_num AS DOUBLE) / CAST(varx_num AS DOUBLE)
              END AS theta,
              CASE WHEN n_users >= 2 THEN CAST(vary_num AS DOUBLE) /
                CAST(n_users * (n_users - 1) AS DOUBLE) END AS var_y,
              CASE WHEN n_users >= 2 AND varx_num <> 0 THEN
                CAST(vary_num AS DOUBLE) /
                  CAST(n_users * (n_users - 1) AS DOUBLE)
                - (CAST(cov_num AS DOUBLE) /
                    CAST(n_users * (n_users - 1) AS DOUBLE))
                  * (CAST(cov_num AS DOUBLE) /
                      CAST(n_users * (n_users - 1) AS DOUBLE))
                  / (CAST(varx_num AS DOUBLE) /
                      CAST(n_users * (n_users - 1) AS DOUBLE))
              END AS var_y_adj
            FROM d"""))

  private val e22 = Q(
    "e22_srm_check",
    // sample-ratio mismatch (Fabijan et al. 2019): each event_type is
    // an "experiment", units assigned 50/50 by an md5 digit (mirrorable
    // in both engines — the p13 seeded-hash convention); a PLANTED
    // dropper removes HALF of click's variant-1 units (a logging bug's
    // signature), so click flags SRM at sf0.01's ~150-unit population
    // while the chi-square arithmetic stays exact-integer numerators +
    // one IEEE division per variant
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val expo = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          substring(h, 2, 1).as("h2"))
        .distinct()
        .filter(!(col("event_type") === "click" &&
          col("variant") === 1 && col("h2")
            .isin("0", "1", "2", "3", "4", "5", "6", "7")))
        .select("event_type", "user_id", "variant")
      Events.srmCheck(expo, "event_type", "variant",
          weights = Seq((0L, 1L), (1L, 1L)))
        .orderBy("event_type")
    },
    Some("""WITH expo AS (SELECT DISTINCT event_type, user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                substr(md5(CAST(user_id AS VARCHAR)), 2, 1) AS h2
              FROM events),
            filt AS (SELECT event_type, user_id, variant FROM expo
              WHERE NOT (event_type = 'click' AND variant = 1
                AND h2 IN ('0','1','2','3','4','5','6','7'))),
            obs AS (SELECT event_type, variant, COUNT(*) AS o
              FROM filt GROUP BY 1, 2),
            grid AS (SELECT e.event_type, w.variant, w.wgt
              FROM (SELECT DISTINCT event_type FROM obs) e
              CROSS JOIN (VALUES (0, 1), (1, 1)) AS w(variant, wgt)),
            j AS (SELECT g.event_type, g.variant, g.wgt,
                COALESCE(o.o, 0) AS o
              FROM grid g LEFT JOIN obs o
                ON g.event_type = o.event_type
                AND g.variant = o.variant),
            npr AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS n
              FROM j GROUP BY 1),
            terms AS (SELECT j.event_type, npr.n,
                CASE WHEN npr.n = 0 THEN NULL
                  ELSE CAST(
                    CAST((2 * j.o - npr.n * j.wgt)
                       * (2 * j.o - npr.n * j.wgt) AS DOUBLE) /
                    CAST(2 * npr.n * j.wgt AS DOUBLE)
                    AS DECIMAL(18, 6)) END AS term
              FROM j JOIN npr USING (event_type)),
            chi AS (SELECT event_type, MAX(n) AS n_units,
                CAST(SUM(term) AS DOUBLE) AS chi2raw
              FROM terms GROUP BY 1)
            SELECT event_type, n_units,
              CASE WHEN n_units = 0 THEN NULL ELSE chi2raw END AS chi2,
              CASE WHEN n_units = 0 THEN NULL
                ELSE chi2raw > 3.841 END AS srm,
              CAST(0 AS BIGINT) AS n_unknown
            FROM chi ORDER BY event_type"""))

  private val e23 = Q(
    "e23_welch_t",
    // Welch's t-test (the experiment DECISION above e22's SRM trust
    // gate and e21's CUPED variance reducer): unit = (event_type,
    // user), metric = the user's total value in integer CENTS, arms by
    // the e22 md5-digit 50/50 assignment; a PLANTED +10% integer lift
    // on purchase's treatment arm gives the test a real effect to
    // find. Sums/squares exact longs; the mean/variance/t/df float
    // chain is a fixed IEEE expression tree DuckDB replays exactly
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val units = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id", "variant")
        .agg(sum("cents").as("m0"))
        .withColumn("metric",
          when(col("event_type") === "purchase" &&
            col("variant") === 1L,
            col("m0") + expr("greatest(m0, 0) div 10")).otherwise(col("m0")))
      Events.welchT(units, "event_type", "variant", "metric")
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            um AS (SELECT event_type, user_id, variant,
                CAST(SUM(cents) AS BIGINT) AS m0
              FROM ev GROUP BY 1, 2, 3),
            un AS (SELECT event_type, user_id, variant,
                CASE WHEN event_type = 'purchase' AND variant = 1
                  THEN m0 + greatest(m0, 0) // 10 ELSE m0 END AS metric
              FROM um),
            arm AS (SELECT event_type, variant, COUNT(*) AS n,
                CAST(SUM(metric) AS BIGINT) AS s,
                CAST(SUM(metric * metric) AS BIGINT) AS q
              FROM un GROUP BY 1, 2),
            armv AS (SELECT event_type, variant, n,
                CAST(s AS DOUBLE) / n AS m,
                CASE WHEN n < 2 THEN NULL
                  ELSE (CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                    / (n - 1) END AS v
              FROM arm),
            a0 AS (SELECT event_type, n AS n_0, m AS mean_0, v AS var_0
              FROM armv WHERE variant = 0),
            a1 AS (SELECT event_type, n AS n_1, m AS mean_1, v AS var_1
              FROM armv WHERE variant = 1),
            fj AS (SELECT event_type,
                n_0, n_1, mean_0, mean_1, var_0, var_1,
                var_0 / n_0 + var_1 / n_1 AS se2
              FROM a0 FULL JOIN a1 USING (event_type))
            SELECT event_type,
              CAST(COALESCE(n_0, 0) AS BIGINT) AS n_0,
              CAST(COALESCE(n_1, 0) AS BIGINT) AS n_1,
              mean_0, mean_1, var_0, var_1,
              CASE WHEN se2 IS NULL OR se2 <= 0 THEN NULL
                ELSE (mean_0 - mean_1) / sqrt(se2) END AS t_stat,
              CASE WHEN se2 IS NULL OR se2 <= 0 THEN NULL
                ELSE se2 * se2 /
                  ((var_0 / n_0) * (var_0 / n_0) / (n_0 - 1)
                   + (var_1 / n_1) * (var_1 / n_1) / (n_1 - 1))
              END AS df
            FROM fj ORDER BY event_type"""))

  private val e24 = Q(
    "e24_conversion_lag",
    // funnel-latency percentiles: per user, seconds from FIRST view to
    // the first click / first purchase after it, summarized as
    // bounded-state histogram quantiles (t39's mergeable-bin machinery
    // over event lags instead of token counts — 10-minute bins, pure
    // integer arithmetic end to end, so hash-exact where an exact
    // percentile would buffer every lag per group)
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("v_us"))
      def lagFor(t: String) = ev.filter(col("event_type") === t)
        .join(firstView, "user_id")
        .filter(col("us") > col("v_us"))
        .groupBy("user_id", "v_us").agg(min("us").as("t_us"))
        .select(lit(s"view->$t").as("conv"),
          expr("(t_us - v_us) div 1000000").as("lag_s"))
      val binned = lagFor("click").unionByName(lagFor("purchase"))
        .withColumn("bin", expr("lag_s div 600L"))
        .groupBy("conv", "bin").agg(count(lit(1)).as("cnt"))
      Corpus.quantilesFromBins(binned, "conv", 600L).orderBy("conv")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
                epoch_us(ts) AS us FROM events),
            fv AS (SELECT user_id, MIN(us) AS v_us FROM ev
              WHERE event_type = 'view' GROUP BY 1),
            lags AS (
              SELECT 'view->click' AS conv,
                  (MIN(us) - v_us) // 1000000 AS lag_s
                FROM ev JOIN fv USING (user_id)
                WHERE event_type = 'click' AND us > v_us
                GROUP BY user_id, v_us
              UNION ALL
              SELECT 'view->purchase',
                  (MIN(us) - v_us) // 1000000
                FROM ev JOIN fv USING (user_id)
                WHERE event_type = 'purchase' AND us > v_us
                GROUP BY user_id, v_us),
            binned AS (SELECT conv, lag_s // 600 AS bin,
                COUNT(*) AS cnt FROM lags GROUP BY 1, 2),
            cum AS (SELECT conv, bin, cnt,
                SUM(cnt) OVER (PARTITION BY conv ORDER BY bin
                  ROWS UNBOUNDED PRECEDING) AS cum,
                SUM(cnt) OVER (PARTITION BY conv) AS total
              FROM binned)
            SELECT conv, CAST(MAX(total) AS BIGINT) AS n_docs,
              CAST(MIN(CASE WHEN cum >= (total * 1 + 1) // 2
                THEN (bin + 1) * 600 END) AS BIGINT) AS p50_hi,
              CAST(MIN(CASE WHEN cum >= (total * 9 + 9) // 10
                THEN (bin + 1) * 600 END) AS BIGINT) AS p90_hi,
              CAST(MIN(CASE WHEN cum >= (total * 99 + 99) // 100
                THEN (bin + 1) * 600 END) AS BIGINT) AS p99_hi
            FROM cum GROUP BY conv ORDER BY conv"""))

  private val e25 = Q(
    "e25_ewma_anomaly",
    // burst detector: truncated integer EWMA (weights 128..1 over the
    // previous 8 hours, denominator 255) on the zero-filled dense hour
    // spine — the recency-weighted rung above e11's whole-series
    // z-scores (a slow ramp re-baselines a z-score; a burst vs the
    // last few hours is what pages an on-call). Weighted sums exact
    // longs, spike = integer cross-multiply n*255 > 3*num, ONE IEEE
    // division for the reported ewma
    (s, dir) => Events.ewmaAnomaly(Tables.load(s, dir, "events"),
        lags = 8, boost = 3)
      .orderBy("event_type", "hour_epoch"),
    Some("""WITH hourly AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            spine AS (SELECT event_type,
                unnest(range(mn, mx + 3600, 3600)) AS h
              FROM (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx
                FROM hourly GROUP BY 1)),
            dense AS (SELECT s.event_type, s.h,
                COALESCE(cnt, 0) AS n
              FROM spine s LEFT JOIN hourly
                ON s.event_type = hourly.event_type AND s.h = hourly.h),
            wn AS (SELECT event_type, h, n,
                128 * lag(n, 1) OVER w + 64 * lag(n, 2) OVER w
                  + 32 * lag(n, 3) OVER w + 16 * lag(n, 4) OVER w
                  + 8 * lag(n, 5) OVER w + 4 * lag(n, 6) OVER w
                  + 2 * lag(n, 7) OVER w + 1 * lag(n, 8) OVER w
                  AS ewma_num
              FROM dense
              WINDOW w AS (PARTITION BY event_type ORDER BY h))
            SELECT event_type, h AS hour_epoch, n,
              CAST(ewma_num AS BIGINT) AS ewma_num,
              CAST(ewma_num AS DOUBLE) / 255 AS ewma,
              CASE WHEN ewma_num IS NOT NULL AND n * 255 > 3 * ewma_num
                THEN 1 ELSE 0 END AS spike
            FROM wn ORDER BY event_type, hour_epoch"""))

  private val e26 = Q(
    "e26_did",
    // difference-in-differences (Card & Krueger 1994): per-user cent
    // totals pre/post the e21 split date, arms by the e22/e23 md5
    // 50/50 assignment, a PLANTED +10% integer lift on the treatment
    // arm's post period (the effect DiD must recover while netting
    // out the common time trend). Panel DiD reduces exactly to a
    // Welch t on per-user period diffs — same fixed IEEE chain as e23
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val split = "2024-01-16 00:00:00"
      val per = Tables.load(s, dir, "events")
        .select(col("user_id"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          when(col("ts") < lit(split).cast("timestamp"),
            round(col("value") * 100).cast("long")).otherwise(0L).as("xq"),
          when(col("ts") >= lit(split).cast("timestamp"),
            round(col("value") * 100).cast("long")).otherwise(0L).as("yq"))
        .groupBy("user_id", "variant")
        .agg(sum("xq").as("pre"), sum("yq").as("post0"))
        .withColumn("post", when(col("variant") === 1L,
          col("post0") + expr("greatest(post0, 0) div 10")).otherwise(col("post0")))
      Events.did(per, "variant", "pre", "post")
    },
    Some("""WITH ev AS (SELECT user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS xq,
                CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS yq
              FROM events),
            per0 AS (SELECT user_id, variant,
                CAST(SUM(xq) AS BIGINT) AS pre,
                CAST(SUM(yq) AS BIGINT) AS post0
              FROM ev GROUP BY 1, 2),
            per AS (SELECT variant, pre AS x,
                CASE WHEN variant = 1 THEN post0 + greatest(post0, 0) // 10
                  ELSE post0 END AS y,
                CASE WHEN variant = 1 THEN post0 + greatest(post0, 0) // 10
                  ELSE post0 END - pre AS d
              FROM per0),
            arm AS (SELECT variant, COUNT(*) AS n,
                SUM(x) AS sx, SUM(y) AS sy,
                SUM(d) AS sd, SUM(d * d) AS qd
              FROM per GROUP BY 1),
            a0 AS (SELECT n AS n0, sx AS sx0, sy AS sy0, sd AS sd0,
                qd AS qd0 FROM arm WHERE variant = 0),
            a1 AS (SELECT n AS n1, sx AS sx1, sy AS sy1, sd AS sd1,
                qd AS qd1 FROM arm WHERE variant = 1),
            j AS (SELECT * FROM a0 FULL JOIN a1 ON TRUE),
            v AS (SELECT *,
                CASE WHEN n0 >= 2 THEN (CAST(qd0 AS DOUBLE)
                  - CAST(sd0 AS DOUBLE) * CAST(sd0 AS DOUBLE) / n0)
                  / (n0 - 1) END AS v0,
                CASE WHEN n1 >= 2 THEN (CAST(qd1 AS DOUBLE)
                  - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / n1)
                  / (n1 - 1) END AS v1
              FROM j)
            SELECT CAST(COALESCE(n0, 0) AS BIGINT) AS n_0,
              CAST(COALESCE(n1, 0) AS BIGINT) AS n_1,
              CAST(sx0 AS DOUBLE) / n0 AS mean_pre_0,
              CAST(sy0 AS DOUBLE) / n0 AS mean_post_0,
              CAST(sx1 AS DOUBLE) / n1 AS mean_pre_1,
              CAST(sy1 AS DOUBLE) / n1 AS mean_post_1,
              (CAST(sy1 AS DOUBLE) / n1 - CAST(sx1 AS DOUBLE) / n1)
                - (CAST(sy0 AS DOUBLE) / n0 - CAST(sx0 AS DOUBLE) / n0)
                AS did,
              CASE WHEN v0 / n0 + v1 / n1 IS NOT NULL
                  AND v0 / n0 + v1 / n1 > 0
                THEN (CAST(sd1 AS DOUBLE) / n1 - CAST(sd0 AS DOUBLE) / n0)
                  / sqrt(v0 / n0 + v1 / n1) END AS t_stat
            FROM v"""))

  private val e27 = Q(
    "e27_sequential_monitor",
    // group-sequential monitoring (Pocock 1977 / O'Brien–Fleming
    // 1979): daily interim looks at the purchase-value experiment
    // (e23's arms + planted +10% lift) against the OBF-shaped
    // boundary 2.797·sqrt(D/d) — the "peek every day without
    // inflating alpha" discipline a naive daily welch-t read violates.
    // Exact cumulative moments, fixed IEEE z/boundary chain
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val obs = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(datediff(to_date(col("ts")),
            lit("1970-01-01").cast("date")).cast("long").as("day"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("x", when(col("variant") === 1L,
          col("cents") + expr("greatest(cents, 0) div 10")).otherwise(col("cents")))
      Events.sequentialMonitor(obs, "day", "variant", "x")
        .orderBy("day")
    },
    Some("""WITH ev AS (SELECT
                date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS day,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
            obs AS (SELECT day, variant,
                CASE WHEN variant = 1 THEN cents + greatest(cents, 0) // 10
                  ELSE cents END AS x
              FROM ev),
            per AS (SELECT day, variant, COUNT(*) AS n,
                SUM(x) AS s, SUM(x * x) AS q
              FROM obs GROUP BY 1, 2),
            a0 AS (SELECT day, n AS n0, s AS s0, q AS q0 FROM per
              WHERE variant = 0),
            a1 AS (SELECT day, n AS n1, s AS s1, q AS q1 FROM per
              WHERE variant = 1),
            j AS (SELECT day,
                COALESCE(n0, 0) AS n0, COALESCE(s0, 0) AS s0,
                COALESCE(q0, 0) AS q0,
                COALESCE(n1, 0) AS n1, COALESCE(s1, 0) AS s1,
                COALESCE(q1, 0) AS q1
              FROM a0 FULL JOIN a1 USING (day)),
            c AS (SELECT day,
                SUM(n0) OVER w AS cn0, SUM(s0) OVER w AS cs0,
                SUM(q0) OVER w AS cq0,
                SUM(n1) OVER w AS cn1, SUM(s1) OVER w AS cs1,
                SUM(q1) OVER w AS cq1,
                row_number() OVER (ORDER BY day) AS look,
                COUNT(*) OVER () AS looks
              FROM j
              WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
            vz AS (SELECT *,
                CASE WHEN cn0 >= 2 THEN (CAST(cq0 AS DOUBLE)
                  - CAST(cs0 AS DOUBLE) * CAST(cs0 AS DOUBLE) / cn0)
                  / (cn0 - 1) END AS v0,
                CASE WHEN cn1 >= 2 THEN (CAST(cq1 AS DOUBLE)
                  - CAST(cs1 AS DOUBLE) * CAST(cs1 AS DOUBLE) / cn1)
                  / (cn1 - 1) END AS v1
              FROM c),
            zz AS (SELECT day, look, looks, cn0, cn1,
                CASE WHEN v0 / cn0 + v1 / cn1 IS NOT NULL
                    AND v0 / cn0 + v1 / cn1 > 0
                  THEN (CAST(cs1 AS DOUBLE) / cn1
                    - CAST(cs0 AS DOUBLE) / cn0)
                    / sqrt(v0 / cn0 + v1 / cn1) END AS z,
                2.797 * sqrt(CAST(looks AS DOUBLE)
                  / CAST(look AS DOUBLE)) AS bound
              FROM vz)
            SELECT day, CAST(look AS BIGINT) AS look,
              CAST(cn0 AS BIGINT) AS n_0, CAST(cn1 AS BIGINT) AS n_1,
              z, bound,
              CASE WHEN z IS NOT NULL AND abs(z) > bound THEN 1 ELSE 0
                END AS crossed
            FROM zz ORDER BY day"""))

  private val e28 = Q(
    "e28_cusum_shift",
    // CUSUM level-shift detection (Page 1954): the slow-regression
    // catcher beside e11's outlier z and e25's burst EWMA — the
    // max(0, S+x-mu-slack) recursion unrolled exactly to prefix-sum
    // minus running-min, all integers scaled by 4c (slack mu/4,
    // decision interval 2*mu), on the zero-filled dense hour spine
    (s, dir) => Events.cusumShift(Tables.load(s, dir, "events"))
      .orderBy("event_type", "hour_epoch"),
    Some("""WITH hourly AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            spine AS (SELECT event_type,
                unnest(range(mn, mx + 3600, 3600)) AS h
              FROM (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx
                FROM hourly GROUP BY 1)),
            dense AS (SELECT s.event_type, s.h,
                COALESCE(cnt, 0) AS n
              FROM spine s LEFT JOIN hourly
                ON s.event_type = hourly.event_type AND s.h = hourly.h),
            st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c,
                CAST(SUM(n) AS BIGINT) AS s
              FROM dense GROUP BY 1),
            dd AS (SELECT d.event_type, d.h, d.n, st.c, st.s,
                4 * st.c * d.n - 5 * st.s AS dv
              FROM dense d JOIN st ON d.event_type = st.event_type),
            pp AS (SELECT *,
                SUM(dv) OVER w AS p
              FROM dd
              WINDOW w AS (PARTITION BY event_type ORDER BY h
                ROWS UNBOUNDED PRECEDING)),
            cc AS (SELECT *,
                p - least(MIN(p) OVER w, 0) AS cusum_num
              FROM pp
              WINDOW w AS (PARTITION BY event_type ORDER BY h
                ROWS UNBOUNDED PRECEDING))
            SELECT event_type, h AS hour_epoch, n,
              CAST(cusum_num AS BIGINT) AS cusum_num,
              CAST(cusum_num AS DOUBLE) / (4 * c) AS cusum,
              CASE WHEN cusum_num > 8 * s THEN 1 ELSE 0 END
                AS shift_flag
            FROM cc ORDER BY event_type, hour_epoch"""))

  private val e29 = Q(
    "e29_seasonal_anomaly",
    // seasonal (hour-of-day) anomaly: each hour vs the SAME slot on
    // other days (seasonal-naive baseline, Hyndman & Athanasopoulos FPP)
    // — completes the monitoring ladder: whole-series z (e11) flags
    // every quiet night hour of cyclic traffic, the EWMA (e25) flags
    // every morning ramp; slot-relative z flags only profile deviation.
    // Same exact-integer moments + ONE fixed IEEE expression as e11,
    // over the zero-filled dense spine (silent slots count their zeros)
    (s, dir) => Events.seasonalAnomaly(Tables.load(s, dir, "events"))
      .orderBy("event_type", "hour_epoch"),
    Some("""WITH hourly AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            spine AS (SELECT event_type,
                unnest(range(mn, mx + 3600, 3600)) AS h
              FROM (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx
                FROM hourly GROUP BY 1)),
            dense AS (SELECT s.event_type, s.h,
                (s.h % 86400) // 3600 AS slot,
                COALESCE(cnt, 0) AS n
              FROM spine s LEFT JOIN hourly
                ON s.event_type = hourly.event_type AND s.h = hourly.h),
            st AS (SELECT event_type, slot,
                CAST(COUNT(*) AS BIGINT) AS c,
                CAST(SUM(n) AS BIGINT) AS s,
                CAST(SUM(n * n) AS BIGINT) AS q
              FROM dense GROUP BY 1, 2)
            SELECT d.event_type, d.h AS hour_epoch, d.slot, d.n,
              CASE WHEN st.c > 1 AND st.q * st.c - st.s * st.s > 0
                THEN CAST(d.n * st.c - st.s AS DOUBLE) /
                  (st.c * sqrt(CAST(st.q * st.c - st.s * st.s AS DOUBLE)
                    / (st.c * (st.c - 1))))
                ELSE NULL END AS z
            FROM dense d JOIN st
              ON d.event_type = st.event_type AND d.slot = st.slot
            ORDER BY d.event_type, hour_epoch"""))

  private val e30 = Q(
    "e30_mad_anomaly",
    // MAD robust anomaly (Hampel identifier): the ROBUST rung of the
    // monitoring ladder — e11's mean/std are dragged by the outliers
    // they flag (masking); median/MAD have a 50% breakdown point.
    // Medians by rank arithmetic in doubled units (m2 = 2·median,
    // mad4 = 4·MAD, all exact longs over the zero-filled spine), ONE
    // IEEE expression 2·(2n−m2)/(1.4826·mad4); MAD-0 series read NULL
    (s, dir) => Events.madAnomaly(Tables.load(s, dir, "events"))
      .orderBy("event_type", "hour_epoch"),
    Some("""WITH hourly AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            spine AS (SELECT event_type,
                unnest(range(mn, mx + 3600, 3600)) AS h
              FROM (SELECT event_type, MIN(h) AS mn, MAX(h) AS mx
                FROM hourly GROUP BY 1)),
            dense AS (SELECT s.event_type, s.h, COALESCE(cnt, 0) AS n
              FROM spine s LEFT JOIN hourly
                ON s.event_type = hourly.event_type AND s.h = hourly.h),
            ord1 AS (SELECT event_type, h, n,
                row_number() OVER (PARTITION BY event_type ORDER BY n)
                  AS rk,
                COUNT(*) OVER (PARTITION BY event_type) AS c
              FROM dense),
            med AS (SELECT event_type,
                CAST(SUM(CASE WHEN rk = (c+1)//2 THEN n ELSE 0 END)
                   + SUM(CASE WHEN rk = (c+2)//2 THEN n ELSE 0 END)
                  AS BIGINT) AS m2
              FROM ord1 GROUP BY 1),
            dev AS (SELECT d.event_type, d.h, d.n,
                ABS(2*d.n - m.m2) AS dv, m.m2
              FROM dense d JOIN med m ON d.event_type = m.event_type),
            ord2 AS (SELECT event_type, dv,
                row_number() OVER (PARTITION BY event_type ORDER BY dv)
                  AS rk,
                COUNT(*) OVER (PARTITION BY event_type) AS c
              FROM dev),
            madt AS (SELECT event_type,
                CAST(SUM(CASE WHEN rk = (c+1)//2 THEN dv ELSE 0 END)
                   + SUM(CASE WHEN rk = (c+2)//2 THEN dv ELSE 0 END)
                  AS BIGINT) AS mad4
              FROM ord2 GROUP BY 1)
            SELECT d.event_type, d.h AS hour_epoch, d.n, d.m2, madt.mad4,
              CASE WHEN madt.mad4 > 0
                THEN 2.0 * (2*d.n - d.m2) / (1.4826 * madt.mad4)
                ELSE NULL END AS rz
            FROM dev d JOIN madt ON d.event_type = madt.event_type
            ORDER BY d.event_type, hour_epoch"""))

  private val e31 = Q(
    "e31_mann_whitney",
    // Mann-Whitney U rank-sum test: the NONPARAMETRIC decision rung
    // beside e23's Welch t (heavy-tailed revenue metrics — a whale
    // inflates the t's variance; ranks don't care). Same unit frame,
    // arms, and planted purchase lift as e23. Tied ranks carried
    // DOUBLED (r2a, u2 exact longs), tie-corrected normal z + CLES as
    // fixed IEEE trees
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val units = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id", "variant")
        .agg(sum("cents").as("m0"))
        .withColumn("metric",
          when(col("event_type") === "purchase" &&
            col("variant") === 1L,
            col("m0") + expr("greatest(m0, 0) div 10")).otherwise(col("m0")))
      Events.mannWhitney(units, "event_type", "variant", "metric")
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            um AS (SELECT event_type, user_id, variant,
                CAST(SUM(cents) AS BIGINT) AS m0
              FROM ev GROUP BY 1, 2, 3),
            un AS (SELECT event_type, user_id, variant,
                CASE WHEN event_type = 'purchase' AND variant = 1
                  THEN m0 + greatest(m0, 0) // 10 ELSE m0 END AS metric
              FROM um),
            vals AS (SELECT event_type, metric,
                CAST(COUNT(*) AS BIGINT) AS t,
                CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ta
              FROM un GROUP BY 1, 2),
            rk AS (SELECT event_type, metric, t, ta,
                CAST(COALESCE(SUM(t) OVER (PARTITION BY event_type
                  ORDER BY metric
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
              FROM vals),
            agg AS (SELECT event_type,
                CAST(SUM(ta * (2*(below + 1) + (t - 1))) AS BIGINT) AS r2a,
                CAST(SUM(ta) AS BIGINT) AS na,
                CAST(SUM(t - ta) AS BIGINT) AS nb,
                CAST(SUM(t*t*t - t) AS BIGINT) AS tie3
              FROM rk GROUP BY 1),
            fin AS (SELECT event_type, na, nb, na + nb AS nn, tie3,
                r2a - na*(na+1) AS u2a
              FROM agg)
            SELECT event_type,
              na AS n_0, nb AS n_1, u2a AS u2, tie3,
              CASE WHEN na > 0 AND nb > 0 AND nn > 1
                  AND na*nb*((nn*nn*nn - nn) - tie3) > 0
                THEN (u2a - na*nb) / (2.0 * sqrt(
                  CAST(na AS DOUBLE)*nb*((nn*nn*nn - nn) - tie3)
                    / (12.0*nn*(nn-1))))
                ELSE NULL END AS z,
              CASE WHEN na > 0 AND nb > 0
                THEN u2a / (2.0 * na * nb) ELSE NULL END AS cles
            FROM fin ORDER BY event_type"""))

  private val e32 = Q(
    "e32_wilson_ci",
    // daily view->purchase conversion with Wilson 95% bounds (the Wald
    // interval a naive dashboard prints collapses at small n / extreme
    // p-hat — Brown, Cai & DasGupta 2001). Counts exact; the interval
    // is ONE fixed IEEE tree (double literals as 1.96E0/3.8416E0,
    // explicit double casts, correctly-rounded sqrt) mirrored
    // token-for-token in the oracle — hash-exact
    (s, dir) => Events.wilsonConversion(
        Tables.load(s, dir, "events"), "view", "purchase")
      .orderBy("day"),
    Some("""WITH e AS (SELECT user_id, event_type,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) // 86400000000
                  AS day
              FROM events),
            d AS (SELECT DISTINCT day, user_id FROM e
              WHERE event_type = 'view'),
            m AS (SELECT DISTINCT day, user_id FROM e
              WHERE event_type = 'purchase'),
            n AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_users
              FROM d GROUP BY 1),
            x AS (SELECT d.day, CAST(COUNT(*) AS BIGINT) AS n_conv
              FROM d JOIN m ON d.day = m.day AND d.user_id = m.user_id
              GROUP BY 1),
            j AS (SELECT n.day, n_users,
                COALESCE(n_conv, CAST(0 AS BIGINT)) AS n_conv
              FROM n LEFT JOIN x ON n.day = x.day),
            p AS (SELECT day, n_users, n_conv,
                CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p_hat
              FROM j)
            SELECT day, n_users, n_conv, p_hat,
              ((p_hat + 3.8416E0 / (2.0E0 * CAST(n_users AS DOUBLE)))
                - 1.96E0 * sqrt((p_hat * (1.0E0 - p_hat)
                    + 3.8416E0 / (4.0E0 * CAST(n_users AS DOUBLE)))
                  / CAST(n_users AS DOUBLE)))
                / (1.0E0 + 3.8416E0 / CAST(n_users AS DOUBLE))
                AS wilson_lo,
              ((p_hat + 3.8416E0 / (2.0E0 * CAST(n_users AS DOUBLE)))
                + 1.96E0 * sqrt((p_hat * (1.0E0 - p_hat)
                    + 3.8416E0 / (4.0E0 * CAST(n_users AS DOUBLE)))
                  / CAST(n_users AS DOUBLE)))
                / (1.0E0 + 3.8416E0 / CAST(n_users AS DOUBLE))
                AS wilson_hi
            FROM p ORDER BY day"""))

  private val e33 = Q(
    "e33_naive_forecast",
    // seasonal-naive backtest (FPP 5.2): predict each hour's volume by
    // same-hour-yesterday, report per-type MAE/bias/MAPE — the baseline
    // any real forecaster must beat and the number that sizes e11-class
    // alert thresholds. Exact long error sums; MAPE terms DECIMAL(18,6)
    // injected (the s15 convention) so no float accumulation anywhere
    (s, dir) => Events.naiveForecastBacktest(
        Tables.load(s, dir, "events"), seasonSeconds = 86400L)
      .orderBy("event_type"),
    Some("""WITH h AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            j AS (SELECT n.event_type, n.cnt AS actual,
                p.cnt AS pred, n.cnt - p.cnt AS err
              FROM h n JOIN h p ON n.event_type = p.event_type
                AND n.h = p.h + 86400),
            a AS (SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n_hours,
                CAST(SUM(abs(err)) AS BIGINT) AS abs_err_sum,
                CAST(SUM(err) AS BIGINT) AS bias_sum,
                SUM(CASE WHEN actual > 0 THEN
                  CAST(CAST(abs(err) AS DOUBLE) / CAST(actual AS DOUBLE)
                    AS DECIMAL(18,6)) END) AS ape_sum,
                CAST(SUM(CASE WHEN actual > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_mape
              FROM j GROUP BY 1)
            SELECT event_type, n_hours, abs_err_sum, bias_sum,
              CAST(abs_err_sum AS DOUBLE) / CAST(n_hours AS DOUBLE)
                AS mae,
              CASE WHEN n_mape > 0 THEN CAST(ape_sum AS DOUBLE)
                / CAST(n_mape AS DOUBLE) END AS mape
            FROM a ORDER BY event_type"""))

  private val e34 = Q(
    "e34_power_mde",
    // experiment sizing: minimum detectable effect at alpha=.05 (two-
    // sided), power=.80 for the e23 unit metric under the CURRENT
    // traffic split — the pre-registration number that belongs on the
    // same card as e22's SRM and e23's t: an experiment whose observed
    // lift ambitions sit below its MDE was never going to decide.
    // MDE = (z_a2 + z_b) * sd * sqrt(1/n0 + 1/n1) with the canonical
    // 2.8016 multiplier; moments exact longs, ONE fixed IEEE tree
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val units = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id", "variant")
        .agg(sum("cents").as("metric"))
      units.groupBy("event_type")
        .agg(
          sum(when(col("variant") === 0L, 1L).otherwise(0L)).as("n_0"),
          sum(when(col("variant") === 1L, 1L).otherwise(0L)).as("n_1"),
          count(lit(1)).as("n"),
          sum(col("metric")).as("s"),
          sum(col("metric") * col("metric")).as("q"))
        .filter(col("n") > 1 && col("n_0") > 0 && col("n_1") > 0)
        .withColumn("mean_metric",
          expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("sd", expr(
          "sqrt(CAST(n * q - s * s AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"))
        .withColumn("mde_abs", expr(
          "2.8016E0 * sd * sqrt(1.0E0 / CAST(n_0 AS DOUBLE)" +
            " + 1.0E0 / CAST(n_1 AS DOUBLE))"))
        .withColumn("mde_rel", expr(
          "CASE WHEN mean_metric > 0.0E0 THEN mde_abs / mean_metric" +
            " END"))
        .select("event_type", "n_0", "n_1", "mean_metric", "sd",
          "mde_abs", "mde_rel")
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            um AS (SELECT event_type, user_id, variant,
                CAST(SUM(cents) AS BIGINT) AS metric
              FROM ev GROUP BY 1, 2, 3),
            a AS (SELECT event_type,
                CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_0,
                CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_1,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(metric) AS BIGINT) AS s,
                CAST(SUM(metric * metric) AS BIGINT) AS q
              FROM um GROUP BY 1),
            f AS (SELECT event_type, n_0, n_1,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_metric,
                sqrt(CAST(n * q - s * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd,
                n
              FROM a WHERE n > 1 AND n_0 > 0 AND n_1 > 0)
            SELECT event_type, n_0, n_1, mean_metric, sd,
              2.8016E0 * sd * sqrt(1.0E0 / CAST(n_0 AS DOUBLE)
                + 1.0E0 / CAST(n_1 AS DOUBLE)) AS mde_abs,
              CASE WHEN mean_metric > 0.0E0 THEN
                (2.8016E0 * sd * sqrt(1.0E0 / CAST(n_0 AS DOUBLE)
                  + 1.0E0 / CAST(n_1 AS DOUBLE))) / mean_metric
              END AS mde_rel
            FROM f ORDER BY event_type"""))

  private val e35 = Q(
    "e35_kaplan_meier",
    // censoring-honest time-to-conversion: KM survival of first-view ->
    // first-purchase with an administrative cutoff 12 days into the
    // study — users unconverted by the cutoff are right-censored, not
    // dropped (the classic conversion over-estimate). Counts exact;
    // survival = deterministic left-to-right IEEE fold over the
    // calendar-bounded time table, replayed by the oracle as a
    // recursive CTE in the same order — hash-exact
    (s, dir) => Events.kaplanMeier(
        Tables.load(s, dir, "events"), "view", "purchase",
        studyDays = 12L)
      .orderBy("t_days"),
    Some("""WITH RECURSIVE e AS (SELECT user_id, event_type,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) // 86400000000
                  AS day
              FROM events),
            st AS (SELECT user_id, MIN(day) AS fd FROM e
              WHERE event_type = 'view' GROUP BY 1),
            dt AS (SELECT e.user_id, MIN(day) AS pd
              FROM e JOIN st USING (user_id)
              WHERE event_type = 'purchase' AND day >= st.fd
              GROUP BY 1),
            h AS (SELECT MIN(day) + 12 AS cut FROM e),
            lv AS (SELECT
                CASE WHEN pd IS NOT NULL AND pd <= cut THEN pd - fd
                  ELSE cut - fd END AS lt,
                (pd IS NULL OR pd > cut) AS cens
              FROM st LEFT JOIN dt USING (user_id) CROSS JOIN h
              WHERE fd <= cut),
            bl AS (SELECT lt, CAST(COUNT(*) AS BIGINT) AS n_all,
                CAST(SUM(CASE WHEN NOT cens THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
              FROM lv GROUP BY 1),
            ord AS (SELECT lt, n_all, d,
                row_number() OVER (ORDER BY lt) AS rn,
                CAST(SUM(n_all) OVER (ORDER BY lt DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_risk
              FROM bl),
            km AS (
              SELECT rn, lt, n_risk, d, n_all,
                CASE WHEN d > 0 THEN 1.0E0
                    - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                  ELSE 1.0E0 END AS s
              FROM ord WHERE rn = 1
              UNION ALL
              SELECT o.rn, o.lt, o.n_risk, o.d, o.n_all,
                km.s * CASE WHEN o.d > 0 THEN 1.0E0
                    - CAST(o.d AS DOUBLE) / CAST(o.n_risk AS DOUBLE)
                  ELSE 1.0E0 END
              FROM km JOIN ord o ON o.rn = km.rn + 1)
            SELECT lt AS t_days, n_risk, d AS n_churn,
              n_all - d AS n_exit_censored, s AS survival
            FROM km WHERE d > 0 ORDER BY t_days"""))

  private val e36 = Q(
    "e36_bh_fdr",
    // Benjamini-Hochberg FDR across the e23 experiment portfolio: the
    // multiple-testing page a dashboard needs the moment it reads more
    // than one test at once. p-values from the A&S 7.1.26 erf polynomial
    // (large-sample normal, rounded to 7 dp — the one exp() in the tree
    // is the only non-correctly-rounded op); q-values and rejects are
    // pure IEEE arithmetic over those rounded p's — hash-exact
    (s, dir) => {
      val h = md5(col("user_id").cast("string"))
      val units = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          when(substring(h, 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), 0L)
            .otherwise(1L).as("variant"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id", "variant")
        .agg(sum("cents").as("m0"))
        .withColumn("metric",
          when(col("event_type") === "purchase" &&
            col("variant") === 1L,
            col("m0") + expr("greatest(m0, 0) div 10")).otherwise(col("m0")))
      val tests = Events.welchT(units, "event_type", "variant", "metric")
        .select(col("event_type"),
          Events.normalTwoSidedP(col("t_stat")).as("p_value"))
      Events.bhFdr(tests, "event_type", "p_value", alpha = 0.05)
        .select(col("event_type"), col("p_value"),
          col("p_rank").cast("long").as("p_rank"),
          col("q_value"), col("reject"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                  IN ('0','1','2','3','4','5','6','7')
                  THEN 0 ELSE 1 END AS variant,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            um AS (SELECT event_type, user_id, variant,
                CAST(SUM(cents) AS BIGINT) AS m0
              FROM ev GROUP BY 1, 2, 3),
            un AS (SELECT event_type, user_id, variant,
                CASE WHEN event_type = 'purchase' AND variant = 1
                  THEN m0 + greatest(m0, 0) // 10 ELSE m0 END AS metric
              FROM um),
            arm AS (SELECT event_type, variant, COUNT(*) AS n,
                CAST(SUM(metric) AS BIGINT) AS s,
                CAST(SUM(metric * metric) AS BIGINT) AS q
              FROM un GROUP BY 1, 2),
            armv AS (SELECT event_type, variant, n,
                CAST(s AS DOUBLE) / n AS m,
                CASE WHEN n < 2 THEN NULL
                  ELSE (CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                    / (n - 1) END AS v
              FROM arm),
            a0 AS (SELECT event_type, n AS n_0, m AS mean_0, v AS var_0
              FROM armv WHERE variant = 0),
            a1 AS (SELECT event_type, n AS n_1, m AS mean_1, v AS var_1
              FROM armv WHERE variant = 1),
            fj AS (SELECT event_type,
                var_0 / n_0 + var_1 / n_1 AS se2, mean_0, mean_1
              FROM a0 FULL JOIN a1 USING (event_type)),
            ts AS (SELECT event_type,
                CASE WHEN se2 IS NULL OR se2 <= 0 THEN NULL
                  ELSE (mean_0 - mean_1) / sqrt(se2) END AS t_stat
              FROM fj),
            px AS (SELECT event_type,
                abs(t_stat) * 7.071067811865476E-1 AS x FROM ts),
            pe AS (SELECT event_type,
                1.0E0 / (1.0E0 + 3.275911E-1 * x) AS s, x FROM px),
            pr AS (SELECT event_type,
                round(((((1.061405429E0 * s - 1.453152027E0) * s
                  + 1.421413741E0) * s - 2.84496736E-1) * s
                  + 2.54829592E-1) * s * exp(-(x * x)), 7) AS p_value
              FROM pe),
            mm AS (SELECT COUNT(p_value) AS m FROM pr),
            rk AS (SELECT event_type, p_value,
                CAST(row_number() OVER (ORDER BY p_value IS NULL,
                  p_value, event_type) AS BIGINT) AS p_rank
              FROM pr),
            qv AS (SELECT event_type, p_value, p_rank,
                CASE WHEN p_value IS NULL THEN NULL
                  ELSE least(1.0E0, min(p_value * m / p_rank)
                    OVER (ORDER BY p_rank DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  END AS q_value
              FROM rk CROSS JOIN mm)
            SELECT event_type, p_value, p_rank, q_value,
              CASE WHEN p_value IS NULL THEN NULL
                ELSE q_value <= 0.05 END AS reject
            FROM qv ORDER BY event_type"""))

  private val e37 = Q(
    "e37_anova_f",
    // one-way ANOVA omnibus F over a FOUR-arm experiment (k2 pairwise
    // t-tests inflate false positives — the multi-arm decision e23
    // cannot make): arms by md5 nibble quartile, metric = user cents
    // with a planted +10% lift on purchase's arm 3. Exact long moments;
    // per-arm s^2/n decimal-injected; one fixed IEEE tree — hash-exact
    (s, dir) => {
      val nib = substring(md5(col("user_id").cast("string")), 1, 1)
      val units = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          when(nib.isin("0", "1", "2", "3"), 0L)
            .when(nib.isin("4", "5", "6", "7"), 1L)
            .when(nib.isin("8", "9", "a", "b"), 2L)
            .otherwise(3L).as("variant"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "user_id", "variant")
        .agg(sum("cents").as("m0"))
        .withColumn("metric",
          when(col("event_type") === "purchase" &&
            col("variant") === 3L,
            col("m0") + expr("greatest(m0, 0) div 10")).otherwise(col("m0")))
      Events.anovaF(units, "event_type", "variant", "metric")
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, user_id,
                CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                    IN ('0','1','2','3') THEN 0
                  WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                    IN ('4','5','6','7') THEN 1
                  WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                    IN ('8','9','a','b') THEN 2
                  ELSE 3 END AS variant,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events),
            um AS (SELECT event_type, user_id, variant,
                CAST(SUM(cents) AS BIGINT) AS m0
              FROM ev GROUP BY 1, 2, 3),
            un AS (SELECT event_type, user_id, variant,
                CASE WHEN event_type = 'purchase' AND variant = 3
                  THEN m0 + greatest(m0, 0) // 10 ELSE m0 END AS metric
              FROM um),
            arm AS (SELECT event_type, variant,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(metric) AS BIGINT) AS s,
                CAST(SUM(metric * metric) AS BIGINT) AS q
              FROM un GROUP BY 1, 2),
            arm2 AS (SELECT event_type, n, s, q,
                CAST((s * s) // n AS BIGINT) AS da,
                CAST(CAST((s * s) % n AS DOUBLE) / CAST(n AS DOUBLE)
                  AS DECIMAL(18,6)) AS fa
              FROM arm),
            per AS (SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS k_arms,
                CAST(SUM(n) AS BIGINT) AS n_units,
                CAST(SUM(s) AS BIGINT) AS ss,
                CAST(SUM(q) AS BIGINT) AS qq,
                CAST(SUM(da) AS BIGINT) AS ai,
                SUM(fa) AS af
              FROM arm2 GROUP BY 1),
            fin AS (SELECT event_type, k_arms, n_units,
                greatest(0.0E0, (CAST(ai AS DOUBLE) + CAST(af AS DOUBLE))
                  - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / n_units)
                  AS ssb,
                CAST(qq AS DOUBLE)
                  - (CAST(ai AS DOUBLE) + CAST(af AS DOUBLE)) AS ssw
              FROM per)
            SELECT event_type, k_arms, n_units, ssb, ssw,
              CASE WHEN k_arms >= 2 AND n_units > k_arms AND ssw > 0
                THEN (ssb / (k_arms - 1)) / (ssw / (n_units - k_arms))
                END AS f_stat
            FROM fin ORDER BY event_type"""))

  private val e38 = Q(
    "e38_markov_absorption",
    // absorbing-Markov funnel attribution: P(reach purchase within 6
    // transitions | current state) under the observed transition
    // kernel with purchase absorbing — scores EVERY entry behavior by
    // eventual-conversion mass where e09 counts one fixed path. The
    // value iteration runs in integer micro-units with truncating
    // division (no float accumulates anywhere), replayed by the
    // oracle as unrolled integer CTEs — hash-exact
    (s, dir) => Events.markovAbsorption(
        Tables.load(s, dir, "events"), "purchase", steps = 6)
      .orderBy("event_type"),
    Some {
      val base = """WITH tr AS (SELECT prev_type, next_type,
                CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT event_type AS next_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev_type
                    FROM events)
              WHERE prev_type IS NOT NULL GROUP BY 1, 2),
            live AS (SELECT * FROM tr WHERE prev_type <> 'purchase'),
            tot AS (SELECT prev_type AS state,
                CAST(SUM(c) AS BIGINT) AS t
              FROM live GROUP BY 1),
            states AS (SELECT DISTINCT event_type AS state FROM events),
            v0 AS (SELECT state,
                CASE WHEN state = 'purchase'
                  THEN CAST(1000000000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS val
              FROM states)"""
      val steps = (1 to 6).map { k =>
        s"""
            s$k AS (SELECT l.prev_type AS state,
                CAST(SUM(l.c * v.val) AS BIGINT) AS num
              FROM live l JOIN v${k - 1} v ON v.state = l.next_type
              GROUP BY 1),
            v$k AS (SELECT s.state,
                CASE WHEN s.state = 'purchase'
                    THEN CAST(1000000000 AS BIGINT)
                  WHEN tt.t IS NULL OR tt.t = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(COALESCE(k$k.num, 0) // tt.t AS BIGINT)
                  END AS val
              FROM states s
              LEFT JOIN tot tt ON tt.state = s.state
              LEFT JOIN s$k k$k ON k$k.state = s.state)"""
      }.mkString(",", ",", "")
      base + steps + """
            SELECT s.state AS event_type,
              COALESCE(tt.t, CAST(0 AS BIGINT)) AS n_out,
              v6.val AS v_micro,
              CAST(v6.val AS DOUBLE) / 1000000000.0E0 AS p_absorb
            FROM states s
            LEFT JOIN tot tt ON tt.state = s.state
            JOIN v6 ON v6.state = s.state
            ORDER BY event_type"""
    })

  private val e11 = Q(
    "e11_hourly_anomaly",
    // volume-anomaly monitor: z-score of each hour's count within its
    // event type's hourly series; exact integer moments, one fixed
    // double expression (no engine-accumulated variance)
    (s, dir) => Events.hourlyAnomaly(Tables.load(s, dir, "events"))
      .orderBy("event_type", "hour_epoch"),
    Some("""WITH h AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
                COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            st AS (SELECT event_type, COUNT(*) AS c,
                     CAST(SUM(n) AS BIGINT) AS s,
                     CAST(SUM(n * n) AS BIGINT) AS q
                   FROM h GROUP BY 1)
            SELECT h.event_type, hour_epoch, n,
              CASE WHEN c > 1 AND q * c - s * s > 0 THEN
                CAST(n * c - s AS DOUBLE)
                  / (c * sqrt(CAST(q * c - s * s AS DOUBLE) / (c * (c - 1))))
              ELSE NULL END AS z
            FROM h JOIN st USING (event_type)
            ORDER BY event_type, hour_epoch"""))

  private val e09 = Q(
    "e09_funnel_stages",
    (s, dir) => Events.funnelStages(Tables.load(s, dir, "events"),
        Seq("view", "click", "purchase"))
      .orderBy("stage"),
    Some("""WITH e AS (SELECT user_id, event_type,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events),
              r1 AS (SELECT user_id, MIN(us) AS t FROM e
                     WHERE event_type = 'view' GROUP BY 1),
              r2 AS (SELECT e.user_id, MIN(us) AS t
                     FROM e JOIN r1 ON e.user_id = r1.user_id
                     WHERE event_type = 'click' AND us > r1.t GROUP BY 1),
              r3 AS (SELECT e.user_id, MIN(us) AS t
                     FROM e JOIN r2 ON e.user_id = r2.user_id
                     WHERE event_type = 'purchase' AND us > r2.t GROUP BY 1),
              u AS (SELECT DISTINCT user_id FROM e)
            SELECT stage, COUNT(*) AS n_users FROM (
              SELECT u.user_id,
                CASE WHEN r3.user_id IS NOT NULL THEN 3
                     WHEN r2.user_id IS NOT NULL THEN 2
                     WHEN r1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS stage
              FROM u LEFT JOIN r1 USING (user_id)
                     LEFT JOIN r2 USING (user_id)
                     LEFT JOIN r3 USING (user_id))
            GROUP BY 1 ORDER BY 1"""))

  private val userSeqOracle =
    """WITH ev AS (SELECT user_id, event_id, event_type,
                CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events),
              ranked AS (SELECT *,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY us DESC, event_id DESC) AS rn,
                COUNT(*) OVER (PARTITION BY user_id) AS n_events
              FROM ev)
            SELECT user_id, MAX(n_events) AS n_events,
              string_agg(event_type, ',' ORDER BY us, event_id) AS seq
            FROM ranked WHERE rn <= 64
            GROUP BY user_id ORDER BY user_id"""

  private val e12 = Q(
    "e12_user_sequences",
    // events -> training examples: each user's recent history as one
    // time-ordered token string (last 64 events), plus the untruncated
    // length for length-bucketing
    (s, dir) => Events.userSequences(Tables.load(s, dir, "events"),
        maxLen = 64)
      .orderBy("user_id"),
    Some(userSeqOracle))

  private val e14 = Q(
    "e14_user_sequences_salted",
    // e12's skew-safe twin (r8): per-(user, time-chunk) trim + summary-
    // row chunk relevance bound the final per-user window to < 2·maxLen
    // candidates however hot one user is — result-identical, so it
    // shares e12's oracle verbatim
    (s, dir) => Events.userSequencesSalted(Tables.load(s, dir, "events"),
        maxLen = 64, chunkSeconds = 7 * 86400L)
      .orderBy("user_id"),
    Some(userSeqOracle))

  private val e15 = Q(
    "e15_event_gaps",
    // per-type inter-event cadence profile: exact p50/p90 of the µs gap
    // to each user's previous event — the measurement that sizes e02's
    // session threshold, e05's lookback horizon, and e13's bot cutoffs
    (s, dir) => Events.interEventGaps(Tables.load(s, dir, "events"))
      .orderBy("event_type"),
    Some("""WITH g AS (SELECT event_type,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
              FROM events)
            SELECT event_type, COUNT(*) AS n_gaps,
              quantile_cont(gap_us, 0.5) AS p50_us,
              quantile_cont(gap_us, 0.9) AS p90_us
            FROM g WHERE gap_us IS NOT NULL
            GROUP BY event_type ORDER BY event_type"""))

  private val e16 = Q(
    "e16_rolling_active",
    // DAU / 7-day WAU per active day: distinct (user, day) first, then
    // a bounded 7-day explode of that small frame — never a
    // count_distinct over a sliding window
    (s, dir) => Events.rollingActive(Tables.load(s, dir, "events"), 7)
      .orderBy("d"),
    Some("""WITH ud AS (SELECT DISTINCT user_id,
                date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
              FROM events),
            contrib AS (SELECT DISTINCT user_id, day + x AS d
              FROM ud CROSS JOIN range(7) t(x)),
            dau AS (SELECT day AS d, COUNT(*) AS dau FROM ud GROUP BY day),
            wau AS (SELECT d, COUNT(*) AS wau FROM contrib GROUP BY d)
            SELECT d, dau, wau FROM dau JOIN wau USING (d)
            ORDER BY d"""))

  private val e13 = Q(
    "e13_bot_flags",
    // cadence-based bot screen ahead of events->training-data use:
    // thresholds adapted to this corpus (median user: 66 events, mean
    // gap ~32000 s) so the flag actually splits the population
    (s, dir) => Events.cadenceFlags(Tables.load(s, dir, "events"),
        minEvents = 67, maxMeanGapSec = 31000L)
      .orderBy("user_id"),
    Some("""WITH ev AS (SELECT user_id,
                CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS sec
              FROM events),
            g AS (SELECT user_id, COUNT(*) AS n_events,
                MAX(sec) - MIN(sec) AS span_s
              FROM ev GROUP BY user_id)
            SELECT user_id, n_events, span_s,
              CAST(span_s AS DOUBLE)
                / CAST(greatest(n_events - 1, 1) AS DOUBLE) AS mean_gap_s,
              n_events >= 67 AND span_s < (n_events - 1) * 31000 AS bot
            FROM g ORDER BY user_id"""))

  private val e17 = Q(
    "e17_gap_fill",
    // time-series regularization: each user's stream resampled onto a
    // dense daily grid (first..last active day) with zero-filled counts
    // and a forward-filled last-event-type — the resample step before
    // any fixed-length per-user feature extraction
    (s, dir) => Events.gapFillDaily(Tables.load(s, dir, "events"))
      .orderBy("user_id", "d"),
    Some("""WITH ev AS (SELECT user_id,
                date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
                epoch_us(ts) AS us, event_id, event_type,
                row_number() OVER (PARTITION BY user_id,
                    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events),
            daily AS (SELECT user_id, day, COUNT(*) AS n_events,
                MAX(CASE WHEN rn = 1 THEN event_type END) AS day_last
              FROM ev GROUP BY 1, 2),
            span AS (SELECT user_id,
                unnest(generate_series(MIN(day), MAX(day))) AS d
              FROM ev GROUP BY user_id),
            grid AS (SELECT s.user_id, s.d, daily.n_events, daily.day_last
              FROM span s LEFT JOIN daily
                ON s.user_id = daily.user_id AND s.d = daily.day)
            SELECT user_id, d, COALESCE(n_events, 0) AS n_events,
              last_value(day_last IGNORE NULLS) OVER w AS last_type,
              d - last_value(CASE WHEN n_events IS NOT NULL THEN d END
                    IGNORE NULLS) OVER w AS days_since
            FROM grid
            WINDOW w AS (PARTITION BY user_id ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ORDER BY user_id, d"""))

  private val e18 = Q(
    "e18_transition_matrix",
    // first-order Markov signature of the event streams: global
    // (prev -> next) counts + P(next | prev), one per-user lag window
    // then a type^2 rollup
    (s, dir) => Events.transitionMatrix(Tables.load(s, dir, "events"))
      .orderBy("prev_type", "next_type"),
    Some("""WITH g AS (SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev
              FROM events)
            SELECT prev AS prev_type, event_type AS next_type,
              COUNT(*) AS n,
              CAST(COUNT(*) AS DOUBLE) /
                CAST(SUM(COUNT(*)) OVER (PARTITION BY prev) AS DOUBLE) AS p
            FROM g WHERE prev IS NOT NULL
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---- multimodal -------------------------------------------------------

  private val m01 = Q(
    "m01_multimodal_meta",
    (s, dir) => {
      implicit val spark = s
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(Tables.loadParallel(s, dir, "documents")))
        .toDF().orderBy("doc_id")
    },
    None) // stubbed decode -> rows-only

  private val m02 = Q(
    "m02_frame_sample",
    (s, dir) => {
      implicit val spark = s
      Multimodal.sampleFrames(
          Multimodal.mediaFromDocuments(Tables.loadParallel(s, dir, "documents")),
          everyN = 30)
        .toDF().orderBy("doc_id", "frame_idx")
    },
    None) // stubbed decode -> rows-only (MultimodalSpec gates semantics)

  private val m03 = Q(
    "m03_audio_chunks",
    (s, dir) => {
      implicit val spark = s
      // 4000-sample windows with 10% overlap: the ASR-style chunking
      // stage between decode and model; stub "samples" are 8k-130k per
      // doc, so per-row fanout stays bounded (~2-36 chunks)
      Multimodal.chunkAudio(
          Multimodal.mediaFromDocuments(Tables.loadParallel(s, dir, "documents")),
          chunkSamples = 4000, overlapSamples = 400)
        .toDF().orderBy("doc_id", "chunk_idx")
    },
    None) // stubbed decode -> rows-only (MultimodalSpec gates semantics)

  private val m04 = Q(
    "m04_phash_pairs",
    (s, dir) => {
      implicit val spark = s
      val docs = Tables.loadParallel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      // replay every 7th doc under a +999999 id (multiple of 3, so the
      // round-robin media_type is preserved): guaranteed hamming-0
      // image pairs plus whatever near-collisions the corpus provides
      val replay = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 999999L).as("doc_id"), col("text"))
      Multimodal.phashPairs(
          Multimodal.mediaFromDocuments(docs.unionByName(replay)))
        .orderBy("id_a", "id_b")
    },
    None) // stubbed decode -> rows-only (MultimodalSpec gates semantics)

  private val m05 = Q(
    "m05_visual_dedup",
    (s, dir) => {
      implicit val spark = s
      val docs = Tables.loadParallel(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      // the m04 replay corpus, composed end-to-end: phash pairs -> CC
      // clusters -> keep-min admit/drop per image (the text ladder's
      // d08 contract on the visual side)
      val replay = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 999999L).as("doc_id"), col("text"))
      Multimodal.dedupImages(
          Multimodal.mediaFromDocuments(docs.unionByName(replay)))
        .orderBy("doc_id")
    },
    None) // stubbed decode -> rows-only (OpsSpec gates the composition)

  private val e39 = Q(
    "e39_changepoint",
    // offline change-point localization per event type: the batch
    // complement of e28's sequential CUSUM — WHERE the daily series
    // most likely split into two regimes (argmax of the INTEGER CUSUM
    // deviation |n·S_k − k·S_n| over a dense calendar, ties to the
    // earliest day); means and the normalized statistic are one fixed
    // IEEE expression each — hash-exact (Events.changepoint).
    (s, dir) => Events.changepoint(Tables.load(s, dir, "events"))
      .orderBy("event_type"),
    Some("""WITH dc AS (SELECT event_type,
                datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS day,
                CAST(COUNT(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            sp AS (SELECT event_type,
                unnest(generate_series(mn, mx)) AS day
              FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
                    FROM dc GROUP BY 1)),
            dense AS (SELECT sp.event_type, sp.day,
                COALESCE(dc.cnt, 0) AS n
              FROM sp LEFT JOIN dc
                ON sp.event_type = dc.event_type AND sp.day = dc.day),
            tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
                CAST(SUM(n) AS BIGINT) AS s_tot
              FROM dense GROUP BY 1),
            pre AS (SELECT dense.event_type, dense.day, nd, s_tot,
                CAST(ROW_NUMBER() OVER (PARTITION BY dense.event_type
                  ORDER BY dense.day) AS BIGINT) AS k,
                CAST(SUM(n) OVER (PARTITION BY dense.event_type
                  ORDER BY dense.day) AS BIGINT) AS s_k
              FROM dense JOIN tot
                ON dense.event_type = tot.event_type),
            sc AS (SELECT *, abs(nd * s_k - k * s_tot) AS dd
              FROM pre WHERE k < nd),
            best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY dd DESC, k ASC) AS rk FROM sc)
            SELECT event_type, day AS change_day, nd AS n_days, k,
              CAST(s_k AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
              CAST(s_tot - s_k AS DOUBLE) / CAST(nd - k AS DOUBLE)
                AS mean_after,
              CAST(dd AS DOUBLE) / (CAST(nd AS DOUBLE) *
                sqrt(CAST(k AS DOUBLE) * CAST(nd - k AS DOUBLE)))
                AS cusum_stat
            FROM best WHERE rk = 1 ORDER BY event_type"""))

  private val e40 = Q(
    "e40_theil_sen",
    // robust trend per event type: Theil–Sen slope = the EXACT median
    // of all pairwise hourly-count slopes, + Mann–Kendall S — the
    // nonparametric drift rung of the monitoring family (e25 bursts,
    // e28 shifts, e29 seasonal outliers, this the monotone trend a
    // spike cannot drag). Integer hour indices and count diffs, one
    // IEEE division per slope, rank-arithmetic median (the 17y trick),
    // S an exact long — hash-exact (Events.theilSenTrend).
    (s, dir) => Events.theilSenTrend(Tables.load(s, dir, "events"))
      .orderBy("event_type"),
    Some("""WITH hourly AS (SELECT event_type,
                CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
                  AS h,
                CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            p AS (SELECT a.event_type, b.n - a.n AS dn, b.h - a.h AS dh,
                a.h AS ha, b.h AS hb
              FROM hourly a JOIN hourly b
                ON a.event_type = b.event_type AND a.h < b.h),
            sl AS (SELECT event_type, dn, ha, hb,
                CAST(dn AS DOUBLE) / CAST(dh AS DOUBLE) AS slope
              FROM p),
            r AS (SELECT event_type, slope, dn,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY slope, ha, hb) AS rn,
                COUNT(*) OVER (PARTITION BY event_type) AS m
              FROM sl),
            med AS (SELECT event_type, SUM(slope) / COUNT(*) AS ts_slope
              FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
              GROUP BY 1),
            agg AS (SELECT event_type,
                CAST(COUNT(*) AS BIGINT) AS n_pairs,
                CAST(SUM(CASE WHEN dn > 0 THEN 1 WHEN dn < 0 THEN -1
                  ELSE 0 END) AS BIGINT) AS mk_s
              FROM r GROUP BY 1),
            hh AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
              FROM hourly GROUP BY 1)
            SELECT event_type, n_hours, n_pairs, mk_s, ts_slope
            FROM hh JOIN agg USING (event_type) JOIN med USING (event_type)
            ORDER BY event_type"""))

  private val e41 = Q(
    "e41_rfm_segments",
    // RFM triage (Hughes 1994): per purchasing user, recency vs the
    // corpus' own max purchase time, frequency, exact-decimal spend —
    // each quintile-scored straight from dense global ranks (no
    // one-task ntile window) and folded into the standard segment
    // taxonomy. Integer/decimal arithmetic throughout; oracle replays
    // ranks and score formula rank-for-rank — hash-exact
    // (Events.rfmSegments).
    (s, dir) => Events.rfmSegments(Tables.load(s, dir, "events"))
      .orderBy("user_id"),
    Some("""WITH p AS (SELECT user_id,
                CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es, value
              FROM events WHERE event_type = 'purchase'),
            u AS (SELECT user_id, MAX(es) AS last_es,
                CAST(COUNT(*) AS BIGINT) AS frequency,
                SUM(CAST(value AS DECIMAL(18,6))) AS monetary_d
              FROM p GROUP BY 1),
            a AS (SELECT MAX(es) AS anchor_es FROM p),
            n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
            b AS (SELECT u.user_id, u.frequency, u.monetary_d,
                (anchor_es - last_es) // 86400 AS recency_days
              FROM u CROSS JOIN a),
            r AS (SELECT *,
                CAST(row_number() OVER (ORDER BY recency_days, user_id)
                  AS BIGINT) - 1 AS rk_r,
                CAST(row_number() OVER (ORDER BY frequency, user_id)
                  AS BIGINT) - 1 AS rk_f,
                CAST(row_number() OVER (ORDER BY monetary_d, user_id)
                  AS BIGINT) - 1 AS rk_m
              FROM b),
            s AS (SELECT user_id, recency_days, frequency,
                CAST(monetary_d AS DOUBLE) AS monetary,
                5 - (rk_r * 5) // n_users AS r_score,
                (rk_f * 5) // n_users + 1 AS f_score,
                (rk_m * 5) // n_users + 1 AS m_score
              FROM r CROSS JOIN n)
            SELECT user_id, recency_days, frequency, monetary,
              CAST(r_score AS BIGINT) AS r_score,
              CAST(f_score AS BIGINT) AS f_score,
              CAST(m_score AS BIGINT) AS m_score,
              CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN f_score >= 4 THEN 'loyal'
                WHEN m_score >= 4 THEN 'big_spender'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 THEN 'hibernating'
                WHEN r_score >= 4 THEN 'recent'
                ELSE 'regular' END AS segment
            FROM s ORDER BY user_id"""))

  private val s25 = Q(
    "s25_silhouette",
    // per-cluster centroid-based silhouette over the trained IVF model
    // (VectorOps.silhouetteAudit): which lists are semantically tight
    // vs boundary-straddling — the quality companion to s23's
    // occupancy balance. Rows-only: trained centroids have no SQL
    // mirror; VectorOpsSpec gates range, separation, and the
    // overclustering direction.
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val model = VectorOps.trainIvfModel(emb, "vec_id", "embedding",
        nCentroids = 8)
      VectorOps.silhouetteAudit(emb, "vec_id", "embedding", model)
        .orderBy("list")
    },
    None)

  private val s26 = Q(
    "s26_knn_filtered_ivf",
    // filtered vector search, SCALE path: the SHARED full-corpus IVF
    // index with the metadata predicate applied to the probed list
    // scan (knnIvf corpusFilter) — s07 is the exact baseline; building
    // a per-predicate index is not an option at 100 TB, and post-
    // filtering a fixed top-k starves selective predicates, so the
    // filter composes INSIDE the list scan before top-k. Rows-only
    // (trained centroids); RecallSpec gates this path's recall against
    // the exact filtered baseline.
    (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // nProbe=20 of 32: the r7 RecallSpec finding — a ~1/5-selective
      // filter thins each list's matching density ~5x, so holding
      // recall (0.85 measured) needs a wider probe than unfiltered s03
      VectorOps.knnIvf(emb.filter(col("vec_id") < 8), emb,
        "vec_id", "embedding", k = 10, nCentroids = 32, nProbe = 20,
        corpusFilter = col("label") === 2)
        .orderBy("probe_id", "rk")
    },
    None)

  val all: Seq[Q] = Seq(d01, d02, d03, d04, d05, d10, d21, d26, d28, d29, d30, d31, d32, d34, d35, d39, d40, s01, s12, s13, s14, s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25, s26, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11,
    t01, t02, t03, t04, t57, e01, e02, e03, e04, e05, e06, e07, e08, e09, e10, e11,
    e12, e13, e14, e15, e16, e17, e18, e19, e20, e21, e22, e23, e24, e25, e26, e27, e28, e29, e30, e31, e32, e33, e34, e35, e36, e37, e38, e39, e40, e41,
    m01, m02, m03, m04, m05)
}
