package graft.queries

import graft.{Q, Tables}
import graft.functions.Hashes
import graft.operators.{MultimodalOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Fixture-bound oracle keys for embedding similarity + multimodal
  * columns (SURVEY.md §2.10 L3/L5). Algorithms live in
  * [[graft.operators.SimilarityOps]] / [[graft.operators.MultimodalOps]];
  * the keys bind them to the `embeddings`/`documents` fixtures.
  *
  * DuckDB's own `list_cosine_similarity` computes in float32 (≈3e-8 off
  * the double formula — verified), so every oracle spells out the same
  * explicit double formula instead.
  */
object SimilarityQueries {

  // nrm > 0: zero-norm vectors have undefined cosine and are excluded on
  // both engines (SimilarityOps.normed applies the same filter)
  private val oNormed =
    """n AS (SELECT * FROM (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings)) WHERE nrm > 0)""".stripMargin

  private val knnCosine = Q(
    "llm_knn_cosine",
    s"""WITH $oNormed,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |x AS (SELECT q.qid, n.vec_id AS nbr,
       |        round(list_sum(list_transform(list_zip(n.v, q.qv), p -> p[1]*p[2]))
       |              / (n.nrm * q.qn), 6) AS cos
       |      FROM n CROSS JOIN q WHERE n.vec_id != q.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM x)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.knnCosine(Tables.embeddings(s, d), col("vec_id") < 5, k = 10)
      .orderBy("qid", "rk")
  }

  /** The retrieval-SERVING path on the REAL streaming runtime
    * ([[SimilarityOps.knnLookup]] + `BoundedReplay.replayEmbeddings`):
    * query vectors replayed through 5 micro-batches, each answered
    * with its exact top-10 against the broadcast corpus inside its
    * own batch (stateless — no state store, no flush), the union
    * hash-matching [[knnCosine]]'s own oracle. Gates that the serving
    * kernel's inline ranking is bit-identical to the batch path under
    * real micro-batch execution. */
  private val streamKnnLookupReplay = Q(
    "stream_knn_lookup_replay", knnCosine.oracle.get) { (s, d) =>
    graft.streaming.BoundedReplay.replayEmbeddings(s, d)(emb =>
      SimilarityOps.knnLookup(emb.filter(col("vec_id") < 5),
        Tables.embeddings(s, d), k = 10))
      .orderBy("qid", "rk")
  }

  /** Hybrid lexical+dense retrieval fused by RRF
    * ([[SimilarityOps.hybridRrf]]): the oracle rebuilds BOTH arms —
    * exact n-gram Jaccard ranks and exact cosine ranks — and the
    * `round(1/(60+rk_t) + 1/(60+rk_v), 6)` fusion in SQL, so the key
    * certifies end-to-end hybrid ranking, missing-arm handling (full
    * outer merge) included. */
  private val hybridRrf = Q(
    "llm_hybrid_rrf",
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 2),
       |         i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])))) AS sh FROM toks),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT q.doc_id AS qid, s.doc_id AS nbr, count(*) AS c
       |          FROM sh s JOIN sh q ON s.sh = q.sh
       |          WHERE q.doc_id < 5 AND s.doc_id != q.doc_id GROUP BY 1, 2),
       |jt AS (SELECT qid, nbr,
       |         round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jac
       |       FROM inter JOIN sz sa ON sa.doc_id = qid
       |                  JOIN sz sb ON sb.doc_id = nbr),
       |rt AS (SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |         ORDER BY jac DESC, nbr) AS rk_t FROM jt),
       |$oNormed,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |xv AS (SELECT q.qid, n.vec_id AS nbr,
       |         round(list_sum(list_transform(list_zip(n.v, q.qv), p -> p[1]*p[2]))
       |               / (n.nrm * q.qn), 6) AS cos
       |       FROM n CROSS JOIN q WHERE n.vec_id != q.qid),
       |rv AS (SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |         ORDER BY cos DESC, nbr) AS rk_v FROM xv),
       |f AS (SELECT COALESCE(t.qid, v.qid) AS qid, COALESCE(t.nbr, v.nbr) AS nbr,
       |        round(COALESCE(1.0 / (60 + t.rk_t), 0)
       |              + COALESCE(1.0 / (60 + v.rk_v), 0), 6) AS rrf
       |      FROM (SELECT * FROM rt WHERE rk_t <= 20) t
       |      FULL JOIN (SELECT * FROM rv WHERE rk_v <= 20) v
       |        ON t.qid = v.qid AND t.nbr = v.nbr),
       |r AS (SELECT qid, nbr, rrf, row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf DESC, nbr) AS rk FROM f)
       |SELECT qid, nbr, rrf, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.hybridRrf(Tables.documents(s, d), Tables.embeddings(s, d),
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), kText = 20, kVec = 20, k = 10)
      .orderBy("qid", "rk")
  }

  private val oEmbCosSql =
    s"""WITH $oNormed,
       |p AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
       |        round(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
       |              / (a.nrm * b.nrm), 6) AS cos
       |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT ai, bi, cos FROM p WHERE cos > 0.45 ORDER BY ai, bi""".stripMargin

  private val embCos = Q("llm_dedup_embcos", oEmbCosSql) { (s, d) =>
    SimilarityOps.cosineNearDups(Tables.embeddings(s, d), minCosine = 0.45)
      .orderBy("ai", "bi")
  }

  /** The SAME pair set through the triangular block grid — the
    * beyond-broadcast scale form, now under the hash oracle rather than
    * only spec-pinned equal to the broadcast kernel. */
  private val embCosBlocked = Q("llm_dedup_embcos_blocked", oEmbCosSql) { (s, d) =>
    SimilarityOps.cosineNearDupsBlocked(Tables.embeddings(s, d),
        minCosine = 0.45, nBlocks = 8)
      .orderBy("ai", "bi")
  }

  /** SemDeDup-shaped CELL-BLOCKED near-dup
    * ([[SimilarityOps.cosineNearDupsCelled]]): det-k-means cells
    * partition the embedding space and exact pairwise cosine runs
    * only WITHIN cells — quadratic in the cell population, never the
    * corpus (the scale route between the capped broadcast kernel and
    * the probabilistic LSH). Same 0.45 threshold as [[embCos]], so
    * the two keys bracket the route's recall trade on identical
    * ground; the oracle replays det training, assignment and the
    * in-cell join end to end. */
  private val embCosCelled = Q(
    "llm_dedup_embcell",
    s"""WITH $oNormed,
       |${oIvfTrainCtes("TRUE")},
       |p AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
       |        round(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
       |              / (a.nrm * b.nrm), 6) AS cos
       |      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |SELECT ai, bi, cos FROM p WHERE cos >= 0.45 ORDER BY ai, bi""".stripMargin) { (s, d) =>
    SimilarityOps.cosineNearDupsCelled(Tables.embeddings(s, d),
        minCosine = 0.45, nCells = 16, iters = 2)
      .orderBy("ai", "bi")
  }

  /** IVF with the SHORTLIST under the hash oracle
    * ([[SimilarityOps.knnIvfDet]], which the rows-only `llm_knn_ivf`
    * key also runs): the training is deterministic integer/IEEE
    * arithmetic (lowest-id seeds, `(cos DESC, cid)` argmax assignment,
    * exact-BIGINT 10⁻⁹-unit re-centering, 2 fixed passes), so the
    * oracle REBUILDS the ENTIRE pipeline — both k-means passes
    * unrolled, final assignment, nprobe=4 probe routing, exact rerank,
    * top-k — and hash-checks shortlist membership itself. The last
    * step of the ANN family's CMS-ification: probe-all was already
    * verified; now the nprobe < nCells path is too. Recall vs exact
    * additionally spec-gated. */
  /** det-IVF training-CTE prefix (`nb` → … → `af`), parameterized by
    * the TRAINING subset: both Lloyd passes run over `nb` (`n`
    * filtered by `trainWhere`) while the final corpus assignment `af`
    * uses the FULL `n`. Shared by the serving oracle ([[oIvfDetSql]])
    * and the cell-blocked near-dup oracle ([[embCellSql]]). */
  private def oIvfTrainCtes(trainWhere: String,
      assignFrom: String = "n"): String =
    s"""nb AS (SELECT * FROM n WHERE $trainWhere),
       |c0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM nb ORDER BY vec_id LIMIT 16),
       |a1 AS (SELECT vec_id, v, nrm, cid FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM nb n CROSS JOIN c0 c) WHERE rk = 1),
       |g1 AS (SELECT cid, u.i AS i,
       |         (CAST(sum(CAST(round(v[u.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM a1, unnest(range(len(v))) AS u(i) GROUP BY 1, 2),
       |c1 AS (SELECT * FROM (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm
       |  FROM (SELECT cid, list(mean ORDER BY i) AS cv FROM g1 GROUP BY 1))
       |  WHERE cnrm > 0),
       |a2 AS (SELECT vec_id, v, nrm, cid FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM nb n CROSS JOIN c1 c) WHERE rk = 1),
       |g2 AS (SELECT cid, u.i AS i,
       |         (CAST(sum(CAST(round(v[u.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM a2, unnest(range(len(v))) AS u(i) GROUP BY 1, 2),
       |c2 AS (SELECT * FROM (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm
       |  FROM (SELECT cid, list(mean ORDER BY i) AS cv FROM g2 GROUP BY 1))
       |  WHERE cnrm > 0),
       |af AS (SELECT vec_id, v, nrm, cid FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM $assignFrom n CROSS JOIN c2 c) WHERE rk = 1)""".stripMargin

  /** det-IVF serving oracle: [[oIvfTrainCtes]] + probe routing +
    * exact rerank — `TRUE` is the classic train-on-everything form;
    * the append-maintenance key trains on the bulk epoch only, and
    * the delete-maintenance key serves the `serveWhere` survivors. */
  private def oIvfDetSql(trainWhere: String,
      serveWhere: String = "TRUE", extraCte: String = "",
      assignFrom: String = "n"): String =
    s"""WITH $oNormed,$extraCte
       |${oIvfTrainCtes(trainWhere, assignFrom)},
       |pr AS (SELECT qid, qv, qn, cid FROM (
       |  SELECT n.vec_id AS qid, n.v AS qv, n.nrm AS qn, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN c2 c WHERE n.vec_id < 5) WHERE rk <= 4),
       |x AS (SELECT p.qid, a.vec_id AS nbr,
       |        round(list_sum(list_transform(list_zip(a.v, p.qv), e -> e[1]*e[2]))
       |              / (a.nrm * p.qn), 6) AS cos
       |      FROM af a JOIN pr p ON a.cid = p.cid AND a.vec_id != p.qid
       |      WHERE ($serveWhere)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM x)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin

  private val knnIvfDet = Q(
    "llm_knn_ivf_det", oIvfDetSql("TRUE")) { (s, d) =>
    SimilarityOps.knnIvfDet(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, iters = 2, nprobe = 4, k = 10)
      .orderBy("qid", "rk")
  }

  /** The train-once/serve-many split under the hash oracle
    * ([[SimilarityOps.saveIvfIndex]] / [[SimilarityOps.knnIvfSaved]]):
    * the det-trained IVF index is WRITTEN as plain parquet
    * (centroids + cid-assigned corpus), re-READ, and served —
    * save → load → query must be bit-identical to [[knnIvfDet]], so
    * this key reuses its oracle verbatim and what it gates is the
    * PERSISTENCE roundtrip itself (the production shape: training
    * offline, serving from the stored index without re-touching the
    * trainer). */
  private val knnIvfSaved = Q(
    "llm_knn_ivf_saved", knnIvfDet.oracle.get) { (s, d) =>
    val path = graft.Scratch.dirString("graft-ivf-index")
    SimilarityOps.saveIvfIndex(Tables.embeddings(s, d), path,
      nCells = 16, iters = 2)
    SimilarityOps.knnIvfSaved(Tables.embeddings(s, d), path,
        isQuery = col("vec_id") < 5, nprobe = 4, k = 10)
      .orderBy("qid", "rk")
  }

  /** The FULL ANN serving loop on the REAL streaming runtime: det
    * training ([[SimilarityOps.saveIvfIndex]]) persists the index as
    * parquet, the serving kernel ([[SimilarityOps.knnLookupIvf]])
    * loads it into memory, and a STREAM of query vectors replayed
    * through 5 micro-batches is answered cell-probed + reranked
    * within each batch — the union hash-matching [[knnIvfDet]]'s
    * oracle, which rebuilds BOTH Lloyd passes, the probe routing and
    * the rerank in SQL. Train offline → store → serve online,
    * cross-engine-verified end to end. */
  private val streamKnnIvfServeReplay = Q(
    "stream_knn_ivf_serve_replay", knnIvfDet.oracle.get) { (s, d) =>
    val path = graft.Scratch.dirString("graft-ivf-serve")
    SimilarityOps.saveIvfIndex(Tables.embeddings(s, d), path,
      nCells = 16, iters = 2)
    graft.streaming.BoundedReplay.replayEmbeddings(s, d)(emb =>
      SimilarityOps.knnLookupIvf(emb.filter(col("vec_id") < 5), path,
        nprobe = 4, k = 10))
      .orderBy("qid", "rk")
  }

  /** ANN INDEX MAINTENANCE on the REAL streaming runtime — the append
    * half of the lifecycle, hash-certified lossless: the index bulk-
    * builds from the FIRST 400 vectors only
    * ([[SimilarityOps.saveIvfIndex]] — centroids trained on the bulk
    * epoch, the production "train before the delta exists" shape),
    * the remaining vectors arrive as a 5-micro-batch STREAM through
    * the stateless assignment kernel
    * ([[SimilarityOps.ivfAssignSaved]] — broadcast centroids, argmax
    * cell, arithmetic bit-identical to the bulk builder), are
    * APPENDED as plain parquet ([[SimilarityOps.appendToIvfIndex]]),
    * and the MAINTAINED index serves k-NN — hash-matching the oracle
    * that rebuilds both Lloyd passes over the bulk epoch, assigns the
    * FULL corpus, routes and reranks in SQL. Append == rebuild,
    * cross-engine-verified: streamed upsert loses nothing. */
  private val streamAnnUpsertReplay = Q(
    "stream_ann_upsert_replay", oIvfDetSql("vec_id < 400")) { (s, d) =>
    val path = graft.Scratch.dirString("graft-ivf-upsert")
    val emb = Tables.embeddings(s, d)
    SimilarityOps.saveIvfIndex(emb.filter(col("vec_id") < 400), path,
      nCells = 16, iters = 2)
    val delta = graft.streaming.BoundedReplay.replayEmbeddings(s, d)(embS =>
      SimilarityOps.ivfAssignSaved(embS.filter(col("vec_id") >= 400), path))
    SimilarityOps.appendToIvfIndex(delta, path)
    SimilarityOps.knnIvfSaved(emb, path,
        isQuery = col("vec_id") < 5, nprobe = 4, k = 10)
      .orderBy("qid", "rk")
  }

  /** ANN INDEX MAINTENANCE, the DELETE half, on the REAL streaming
    * runtime — completing the index CRUD story
    * ([[SimilarityOps.deleteFromIvfIndex]]): the index bulk-builds on
    * the FULL corpus, a 5-micro-batch STREAM of delete requests
    * (every `vec_id % 10 = 7`) flows through the stateless projection
    * kernel and lands as TOMBSTONES (plain parquet, zero index
    * rewrite — the LSM delete shape), and the serve
    * ([[SimilarityOps.knnIvfSaved]]) anti-joins them out — matching
    * the oracle that rebuilds the full training but serves only the
    * survivors. Delete == rebuild-without-the-rows, cross-engine
    * certified; tombstone-serve == post-compaction serve additionally
    * spec-pinned ([[SimilaritySpec]]). */
  private val streamAnnDeleteReplay = Q(
    "stream_ann_delete_replay",
    oIvfDetSql("TRUE", serveWhere = "a.vec_id % 10 != 7")) { (s, d) =>
    val path = graft.Scratch.dirString("graft-ivf-delete")
    val emb = Tables.embeddings(s, d)
    SimilarityOps.saveIvfIndex(emb, path, nCells = 16, iters = 2)
    val doomed = graft.streaming.BoundedReplay.replayEmbeddings(s, d)(embS =>
      embS.filter(col("vec_id") % 10 === 7).select(col("vec_id")))
    SimilarityOps.deleteFromIvfIndex(doomed, path)
    SimilarityOps.knnIvfSaved(emb, path,
        isQuery = col("vec_id") < 5, nprobe = 4, k = 10)
      .orderBy("qid", "rk")
  }

  /** ANN INDEX MAINTENANCE, the UPDATE half, on the REAL streaming
    * runtime — the epoch-versioned tombstone path end to end
    * ([[SimilarityOps.deleteFromIvfIndex]] epoch N, then
    * [[SimilarityOps.appendToIvfIndex]] epoch N+1): every
    * `vec_id % 10 = 7` vector is UPDATED in place — its embedding
    * NEGATED — by streaming the new vectors through the stateless
    * assignment kernel (5 micro-batches, frozen centroids), recording
    * one tombstone epoch for the old rows, and appending the re-
    * assigned rows at a HIGHER epoch, which serves immediately with
    * ZERO compaction (the r13 "tombstone masks re-appends" nuance,
    * closed). The oracle rebuilds the full det training on the
    * ORIGINAL corpus (centroids are frozen before the update arrives)
    * but assigns and serves the UPDATED corpus — update ==
    * rebuild-with-the-new-vectors, cross-engine certified. */
  private val streamAnnUpdateReplay = Q(
    "stream_ann_update_replay",
    oIvfDetSql("TRUE",
      extraCte = """
        |nu AS (SELECT vec_id,
        |  CASE WHEN vec_id % 10 = 7 THEN list_transform(v, x -> -x)
        |       ELSE v END AS v, nrm FROM n),""".stripMargin,
      assignFrom = "nu")) { (s, d) =>
    val path = graft.Scratch.dirString("graft-ivf-update")
    val emb = Tables.embeddings(s, d)
    SimilarityOps.saveIvfIndex(emb, path, nCells = 16, iters = 2)
    // the streamed UPDATE feed: new (negated) vectors routed to their
    // cells by the frozen saved centroids, per micro-batch
    val updated = graft.streaming.BoundedReplay.replayEmbeddings(s, d)(embS =>
      SimilarityOps.ivfAssignSaved(
        embS.filter(col("vec_id") % 10 === 7)
          .withColumn("embedding",
            transform(col("embedding"), x => -x)), path))
    SimilarityOps.deleteFromIvfIndex(updated.select("vec_id"), path)
    SimilarityOps.appendToIvfIndex(updated, path)
    SimilarityOps.knnIvfSaved(emb, path,
        isQuery = col("vec_id") < 5, nprobe = 4, k = 10)
      .orderBy("qid", "rk")
  }

  /** PQ with the CODEBOOKS under the hash oracle
    * ([[SimilarityOps.knnPqDet]] — the [[knnIvfDet]] template applied
    * per subspace): both Lloyd passes of every subspace codebook,
    * encoding, the 10⁻¹²-unit-quantized ADC sum (exact integer
    * addition — the one float-order-dependent step in the plain PQ
    * path), the 40-deep shortlist and the exact rerank are ALL rebuilt
    * in SQL and hash-checked. The float-Lloyd `llm_knn_pq` stays
    * rows-only; recall is additionally spec-gated. */
  private val knnPqDet = Q(
    "llm_knn_pq_det",
    s"""WITH $oNormed,
       |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv FROM n),
       |sp AS (SELECT vec_id, t.j, list_slice(uv, t.j*8 + 1, t.j*8 + 8) AS sv
       |       FROM u, unnest(range(8)) AS t(j)),
       |b0 AS (SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS c,
       |         sv AS cv
       |       FROM sp WHERE vec_id IN (SELECT vec_id FROM u ORDER BY vec_id LIMIT 16)),
       |a1 AS (SELECT vec_id, j, c FROM (
       |  SELECT sp.vec_id, sp.j, b.c,
       |    row_number() OVER (PARTITION BY sp.vec_id, sp.j ORDER BY
       |      list_sum(list_transform(list_zip(sp.sv, b.cv),
       |        p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c) AS rk
       |  FROM sp JOIN b0 b ON b.j = sp.j) WHERE rk = 1),
       |g1 AS (SELECT a.j, a.c, t.i,
       |         (CAST(sum(CAST(round(s.sv[t.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM a1 a JOIN sp s ON s.vec_id = a.vec_id AND s.j = a.j,
       |            unnest(range(8)) AS t(i)
       |       GROUP BY 1, 2, 3),
       |n1 AS (SELECT j, c, list(mean ORDER BY i) AS ncv FROM g1 GROUP BY 1, 2),
       |b1 AS (SELECT b0.j, b0.c, coalesce(n1.ncv, b0.cv) AS cv
       |       FROM b0 LEFT JOIN n1 ON n1.j = b0.j AND n1.c = b0.c),
       |a2 AS (SELECT vec_id, j, c FROM (
       |  SELECT sp.vec_id, sp.j, b.c,
       |    row_number() OVER (PARTITION BY sp.vec_id, sp.j ORDER BY
       |      list_sum(list_transform(list_zip(sp.sv, b.cv),
       |        p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c) AS rk
       |  FROM sp JOIN b1 b ON b.j = sp.j) WHERE rk = 1),
       |g2 AS (SELECT a.j, a.c, t.i,
       |         (CAST(sum(CAST(round(s.sv[t.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM a2 a JOIN sp s ON s.vec_id = a.vec_id AND s.j = a.j,
       |            unnest(range(8)) AS t(i)
       |       GROUP BY 1, 2, 3),
       |n2 AS (SELECT j, c, list(mean ORDER BY i) AS ncv FROM g2 GROUP BY 1, 2),
       |b2 AS (SELECT b1.j, b1.c, coalesce(n2.ncv, b1.cv) AS cv
       |       FROM b1 LEFT JOIN n2 ON n2.j = b1.j AND n2.c = b1.c),
       |af AS (SELECT vec_id, j, c FROM (
       |  SELECT sp.vec_id, sp.j, b.c,
       |    row_number() OVER (PARTITION BY sp.vec_id, sp.j ORDER BY
       |      list_sum(list_transform(list_zip(sp.sv, b.cv),
       |        p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c) AS rk
       |  FROM sp JOIN b2 b ON b.j = sp.j) WHERE rk = 1),
       |qt AS (SELECT s.vec_id AS qid, b.j, b.c,
       |         CAST(round(list_sum(list_transform(list_zip(s.sv, b.cv), p -> p[1]*p[2]))
       |              * 1000000000000.0) AS BIGINT) AS t12
       |       FROM sp s JOIN b2 b ON b.j = s.j WHERE s.vec_id < 5),
       |adc AS (SELECT q.qid, a.vec_id AS nbr,
       |          round(CAST(sum(q.t12) AS DOUBLE) / 1000000000000.0, 6) AS score
       |        FROM af a JOIN qt q ON q.j = a.j AND q.c = a.c AND a.vec_id != q.qid
       |        GROUP BY 1, 2),
       |sh AS (SELECT qid, nbr FROM (
       |  SELECT qid, nbr, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nbr) AS rk
       |  FROM adc) WHERE rk <= 40),
       |x AS (SELECT sh.qid, sh.nbr,
       |        round(list_sum(list_transform(list_zip(a.uv, q.uv), p -> p[1]*p[2])), 6) AS cos
       |      FROM sh JOIN u a ON a.vec_id = sh.nbr JOIN u q ON q.vec_id = sh.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM x)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.knnPqDet(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, m = 8, kCodes = 16, iters = 2,
        rerank = 40, k = 10)
      .orderBy("qid", "rk")
  }

  /** The FULL production ANN stack under the hash oracle
    * ([[SimilarityOps.knnIvfPqDet]]): deterministic IVF cells prune
    * the scan to nprobe/nCells, deterministic PQ codes ADC-score the
    * survivors (exact-integer sums), exact rerank orders the tail —
    * and the oracle rebuilds ALL of it: both cell-training passes,
    * both codebook passes per subspace, probe routing, in-cell ADC
    * and the rerank. Composes the `llm_knn_ivf_det` and
    * `llm_knn_pq_det` oracle machinery; `llm_knn_ivfpq`, with
    * float-Lloyd codebooks, stays the rows-only speed path. */
  private val knnIvfPqDet = Q(
    "llm_knn_ivfpq_det",
    s"""WITH $oNormed,
       |kc0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n ORDER BY vec_id LIMIT 16),
       |ka1 AS (SELECT vec_id, v, nrm, cid FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN kc0 c) WHERE rk = 1),
       |kg1 AS (SELECT cid, u.i AS i,
       |         (CAST(sum(CAST(round(v[u.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM ka1, unnest(range(len(v))) AS u(i) GROUP BY 1, 2),
       |kc1 AS (SELECT * FROM (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm
       |  FROM (SELECT cid, list(mean ORDER BY i) AS cv FROM kg1 GROUP BY 1))
       |  WHERE cnrm > 0),
       |ka2 AS (SELECT vec_id, v, nrm, cid FROM (
       |  SELECT n.vec_id, n.v, n.nrm, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN kc1 c) WHERE rk = 1),
       |kg2 AS (SELECT cid, u.i AS i,
       |         (CAST(sum(CAST(round(v[u.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM ka2, unnest(range(len(v))) AS u(i) GROUP BY 1, 2),
       |kc2 AS (SELECT * FROM (
       |  SELECT cid, cv, sqrt(list_sum(list_transform(cv, x -> x*x))) AS cnrm
       |  FROM (SELECT cid, list(mean ORDER BY i) AS cv FROM kg2 GROUP BY 1))
       |  WHERE cnrm > 0),
       |kaf AS (SELECT vec_id, cid FROM (
       |  SELECT n.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN kc2 c) WHERE rk = 1),
       |kpr AS (SELECT qid, cid FROM (
       |  SELECT n.vec_id AS qid, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN kc2 c WHERE n.vec_id < 5) WHERE rk <= 4),
       |u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS uv FROM n),
       |sp AS (SELECT vec_id, t.j, list_slice(uv, t.j*8 + 1, t.j*8 + 8) AS sv
       |       FROM u, unnest(range(8)) AS t(j)),
       |b0 AS (SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS c,
       |         sv AS cv
       |       FROM sp WHERE vec_id IN (SELECT vec_id FROM u ORDER BY vec_id LIMIT 16)),
       |a1 AS (SELECT vec_id, j, c FROM (
       |  SELECT sp.vec_id, sp.j, b.c,
       |    row_number() OVER (PARTITION BY sp.vec_id, sp.j ORDER BY
       |      list_sum(list_transform(list_zip(sp.sv, b.cv),
       |        p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c) AS rk
       |  FROM sp JOIN b0 b ON b.j = sp.j) WHERE rk = 1),
       |g1 AS (SELECT a.j, a.c, t.i,
       |         (CAST(sum(CAST(round(s.sv[t.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM a1 a JOIN sp s ON s.vec_id = a.vec_id AND s.j = a.j,
       |            unnest(range(8)) AS t(i)
       |       GROUP BY 1, 2, 3),
       |n1 AS (SELECT j, c, list(mean ORDER BY i) AS ncv FROM g1 GROUP BY 1, 2),
       |b1 AS (SELECT b0.j, b0.c, coalesce(n1.ncv, b0.cv) AS cv
       |       FROM b0 LEFT JOIN n1 ON n1.j = b0.j AND n1.c = b0.c),
       |a2 AS (SELECT vec_id, j, c FROM (
       |  SELECT sp.vec_id, sp.j, b.c,
       |    row_number() OVER (PARTITION BY sp.vec_id, sp.j ORDER BY
       |      list_sum(list_transform(list_zip(sp.sv, b.cv),
       |        p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c) AS rk
       |  FROM sp JOIN b1 b ON b.j = sp.j) WHERE rk = 1),
       |g2 AS (SELECT a.j, a.c, t.i,
       |         (CAST(sum(CAST(round(s.sv[t.i + 1] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |          / count(*)) / 1000000000.0 AS mean
       |       FROM a2 a JOIN sp s ON s.vec_id = a.vec_id AND s.j = a.j,
       |            unnest(range(8)) AS t(i)
       |       GROUP BY 1, 2, 3),
       |n2 AS (SELECT j, c, list(mean ORDER BY i) AS ncv FROM g2 GROUP BY 1, 2),
       |b2 AS (SELECT b1.j, b1.c, coalesce(n2.ncv, b1.cv) AS cv
       |       FROM b1 LEFT JOIN n2 ON n2.j = b1.j AND n2.c = b1.c),
       |af AS (SELECT vec_id, j, c FROM (
       |  SELECT sp.vec_id, sp.j, b.c,
       |    row_number() OVER (PARTITION BY sp.vec_id, sp.j ORDER BY
       |      list_sum(list_transform(list_zip(sp.sv, b.cv),
       |        p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c) AS rk
       |  FROM sp JOIN b2 b ON b.j = sp.j) WHERE rk = 1),
       |qt AS (SELECT s.vec_id AS qid, b.j, b.c,
       |         CAST(round(list_sum(list_transform(list_zip(s.sv, b.cv), p -> p[1]*p[2]))
       |              * 1000000000000.0) AS BIGINT) AS t12
       |       FROM sp s JOIN b2 b ON b.j = s.j WHERE s.vec_id < 5),
       |cand AS (SELECT p.qid, a.vec_id
       |         FROM kaf a JOIN kpr p ON a.cid = p.cid AND a.vec_id != p.qid),
       |adc AS (SELECT c.qid, c.vec_id AS nbr,
       |          round(CAST(sum(q.t12) AS DOUBLE) / 1000000000000.0, 6) AS score
       |        FROM cand c JOIN af a ON a.vec_id = c.vec_id
       |             JOIN qt q ON q.qid = c.qid AND q.j = a.j AND q.c = a.c
       |        GROUP BY 1, 2),
       |sh AS (SELECT qid, nbr FROM (
       |  SELECT qid, nbr, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nbr) AS rk
       |  FROM adc) WHERE rk <= 40),
       |x AS (SELECT sh.qid, sh.nbr,
       |        round(list_sum(list_transform(list_zip(a.uv, q.uv), p -> p[1]*p[2])), 6) AS cos
       |      FROM sh JOIN u a ON a.vec_id = sh.nbr JOIN u q ON q.vec_id = sh.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM x)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.knnIvfPqDet(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, cellIters = 2, nprobe = 4,
        m = 8, kCodes = 16, pqIters = 2, rerank = 40, k = 10)
      .orderBy("qid", "rk")
  }

  /** Engine-specific pruning — rows-only driver check; recall vs the
    * exact brute force is asserted by `SimilaritySpec`. Centroids are
    * Lloyd-refined from the deterministic low-id seeds
    * ([[SimilarityOps.knnIvfKmeans]]). */
  private val knnIvf = Q.noOracle("llm_knn_ivf") { (s, d) =>
    SimilarityOps.knnIvfKmeans(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, refineIters = 2,
        nprobe = 4, k = 10)
      .orderBy("qid", "rk")
  }

  /** IVF with nprobe = nCells: probing every cell makes the candidate
    * set the whole corpus (each vector lives in exactly one cell), so
    * the IVF machinery must reproduce the brute-force top-k EXACTLY —
    * same rounding, same tie-break. That puts the whole IVF path
    * (assignment, probe routing, per-cell scan, top-k window) under the
    * DuckDB hash oracle; only the recall-for-speed trade of nprobe <
    * nCells stays rows-only (`llm_knn_ivf`, recall gated by
    * `SimilaritySpec`). */
  private val knnIvfProbeAll = Q(
    "llm_knn_ivf_probeall",
    s"""WITH $oNormed,
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
       |x AS (SELECT q.qid, n.vec_id AS nbr,
       |        round(list_sum(list_transform(list_zip(n.v, q.qv), p -> p[1]*p[2]))
       |              / (n.nrm * q.qn), 6) AS cos
       |      FROM n CROSS JOIN q WHERE n.vec_id != q.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM x)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.knnIvfKmeans(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, refineIters = 2,
        nprobe = 16, k = 10)
      .orderBy("qid", "rk")
  }

  /** Int8 scalar-quantized ANN ([[SimilarityOps.knnSq8]]): quantized
    * shortlist + exact re-rank — under the FULL hash oracle, because
    * every step is deterministic arithmetic both engines share: the
    * per-vector scale is one division, the int8 codes are
    * `round(x/s)` (engine-equal HALF_UP on doubles), the approximate
    * dot is a sum of EXACT small-integer products (codes ≤ 127, so
    * every product and partial sum is an exact integer in double —
    * order-independent), and the re-rank reuses the exact-cosine
    * formula the brute-force key already pins. The oracle REBUILDS
    * the quantize → shortlist → re-rank pipeline in SQL, so shortlist
    * membership itself is verified, not just final cosines (the
    * `agg_cms_mergeable` template applied to ANN). Recall ≥ 0.95 vs
    * brute force additionally gated by `SimilaritySpec`. */
  private val knnSq8 = Q(
    "llm_knn_sq8",
    s"""WITH $oNormed,
       |cq AS (SELECT vec_id, v, nrm, s, list_transform(v, x -> round(x / s)) AS qd
       |       FROM (SELECT vec_id, v, nrm,
       |               greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS s
       |             FROM n)),
       |q AS (SELECT vec_id AS qid, qd AS qqd, s AS qs, v AS qv, nrm AS qn
       |      FROM cq WHERE vec_id < 5),
       |ap AS (SELECT q.qid, c.vec_id AS nbr,
       |         c.s * q.qs * list_sum(list_transform(list_zip(c.qd, q.qqd), p -> p[1]*p[2]))
       |           / (c.nrm * q.qn) AS approx
       |       FROM cq c CROSS JOIN q WHERE c.vec_id != q.qid),
       |sl AS (SELECT qid, nbr FROM (
       |         SELECT qid, nbr,
       |           row_number() OVER (PARTITION BY qid ORDER BY approx DESC, nbr) AS srk
       |         FROM ap) WHERE srk <= 40),
       |ex AS (SELECT sl.qid, sl.nbr,
       |         round(list_sum(list_transform(list_zip(nn.v, q.qv), p -> p[1]*p[2]))
       |               / (nn.nrm * q.qn), 6) AS cos
       |       FROM sl JOIN n nn ON nn.vec_id = sl.nbr JOIN q ON q.qid = sl.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM ex)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.knnSq8(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, k = 10, shortlist = 40)
      .orderBy("qid", "rk")
  }

  /** Product-quantization ANN — engine-specific compression, rows-only
    * check; recall vs brute force gated by `SimilaritySpec`. */
  private val knnPq = Q.noOracle("llm_knn_pq") { (s, d) =>
    SimilarityOps.knnPq(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, m = 8, kCodes = 16,
        refineIters = 2, k = 10)
      .orderBy("qid", "rk")
  }

  /** The full production ANN stack: coarse cells prune, PQ codes
    * compress, exact pass re-ranks. Rows-only; recall ≥ 0.9 gated by
    * `SimilaritySpec` (measured 0.92 at sf0.01 / 1.00 at sf0.1 with
    * nprobe=8/16 cells, 32-code books, rerank 400 — the IVF-PQ sweep
    * in SCALE.md, "IVF recall", showed shortlist depth and codebook
    * resolution, not probe count, dominate recall once nprobe clears
    * the routing misses). */
  private val knnIvfPq = Q.noOracle("llm_knn_ivfpq") { (s, d) =>
    SimilarityOps.knnIvfPq(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, cellIters = 2,
        nprobe = 8, m = 8, kCodes = 32, pqIters = 2, k = 10, rerank = 400)
      .orderBy("qid", "rk")
  }

  /** IVF cells over SQ8-quantized lists ([[SimilarityOps.knnIvfSq8]])
    * — the production vector-store layout: centroid routing prunes,
    * int8 codes compress the in-cell scan, exact pass re-ranks the
    * shortlist. Rows-only; recall + exact-cosine gated by
    * `SimilaritySpec`. */
  private val knnIvfSq8 = Q.noOracle("llm_knn_ivfsq8") { (s, d) =>
    SimilarityOps.knnIvfSq8(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, cellIters = 2,
        nprobe = 8, shortlist = 400, k = 10)
      .orderBy("qid", "rk")
  }

  /** IVF+SQ8 with the WHOLE composed stack under the hash oracle
    * ([[SimilarityOps.knnIvfSq8Det]]) — the last ANN tier without a
    * hash-verified twin: det-trained cells (both exact-BIGINT Lloyd
    * passes, [[oIvfTrainCtes]]) route nprobe=4 probes, the in-cell
    * scan runs on int8 codes (the [[knnSq8]] quantize/shortlist
    * contract — exact small-integer dot products, order-free), the
    * exact pass re-ranks. The oracle rebuilds training, assignment,
    * quantization, probe routing, the 40-deep shortlist and the
    * rerank, hash-checking shortlist membership itself; the rows-only
    * `llm_knn_ivfsq8` runs the same code at a deeper probe and
    * shortlist. */
  private val knnIvfSq8Det = Q(
    "llm_knn_ivfsq8_det",
    s"""WITH $oNormed,
       |${oIvfTrainCtes("TRUE")},
       |cq AS (SELECT vec_id, v, nrm, cid, s, list_transform(v, x -> round(x / s)) AS qd
       |       FROM (SELECT *, greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS s
       |             FROM af)),
       |pr AS (SELECT qid, qv, qn, cid FROM (
       |  SELECT n.vec_id AS qid, n.v AS qv, n.nrm AS qn, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(n.v, c.cv), p -> p[1]*p[2]))
       |        / (n.nrm * c.cnrm) DESC, c.cid) AS rk
       |  FROM n CROSS JOIN c2 c WHERE n.vec_id < 5) WHERE rk <= 4),
       |q AS (SELECT qid, qn, qs, list_transform(qv, x -> round(x / qs)) AS qqd, cid
       |      FROM (SELECT *, greatest(list_max(list_transform(qv, x -> abs(x))), 1e-12) / 127.0 AS qs
       |            FROM pr)),
       |ap AS (SELECT q.qid, c.vec_id AS nbr,
       |         c.s * q.qs * list_sum(list_transform(list_zip(c.qd, q.qqd), p -> p[1]*p[2]))
       |           / (c.nrm * q.qn) AS approx
       |       FROM cq c JOIN q ON c.cid = q.cid AND c.vec_id != q.qid),
       |sl AS (SELECT qid, nbr FROM (
       |         SELECT qid, nbr,
       |           row_number() OVER (PARTITION BY qid ORDER BY approx DESC, nbr) AS srk
       |         FROM ap) WHERE srk <= 40),
       |ex AS (SELECT sl.qid, sl.nbr,
       |         round(list_sum(list_transform(list_zip(nn.v, q2.v), p -> p[1]*p[2]))
       |               / (nn.nrm * q2.nrm), 6) AS cos
       |       FROM sl JOIN n nn ON nn.vec_id = sl.nbr JOIN n q2 ON q2.vec_id = sl.qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rk FROM ex)
       |SELECT qid, nbr, cos, CAST(rk AS INT) AS rk FROM r WHERE rk <= 10
       |ORDER BY qid, rk""".stripMargin) { (s, d) =>
    SimilarityOps.knnIvfSq8Det(Tables.embeddings(s, d),
        isQuery = col("vec_id") < 5, nCells = 16, iters = 2, nprobe = 4,
        shortlist = 40, k = 10)
      .orderBy("qid", "rk")
  }

  /** Per-source corpus centroids ([[SimilarityOps.meanEmbedding]]):
    * grouped float reduction made deterministic by an ordered gather +
    * left fold on BOTH engines (see the op's scaladoc for why decimal
    * casts are unsafe on raw float32 elements). */
  private val embedCentroid = Q(
    "llm_embed_centroid",
    """WITH t AS (SELECT d.source AS stratum, CAST(i AS INT) AS pos,
      |             e.vec_id AS id, CAST(e.embedding[i+1] AS DOUBLE) AS x
      |           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id,
      |                unnest(range(len(e.embedding))) AS u(i)),
      |g AS (SELECT stratum, pos, list_sum(list(x ORDER BY id)) AS s,
      |        count(*) AS n
      |      FROM t GROUP BY 1, 2)
      |SELECT stratum, pos, round(s / n, 6) AS mean
      |FROM g ORDER BY stratum, pos""".stripMargin) { (s, d) =>
    val joined = Tables.embeddings(s, d).join(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      col("vec_id") === col("doc_id"))
    SimilarityOps.meanEmbedding(joined, strataCol = "source")
      .orderBy("stratum", "pos")
  }

  /** RHP-LSH near-dup pairs ([[SimilarityOps.rhpNearDups]]): the oracle
    * restates the SAME quantized-integer signature computation and
    * bucket join, so the hash check pins the whole LSH path (weights,
    * projections, bucketing, exact verify) — recall against the exact
    * kernel is gated separately in `SimilaritySpec`. */
  private val embLsh = Q(
    "llm_dedup_emblsh",
    s"""WITH $oNormed,
       |e AS (SELECT vec_id, CAST(i AS BIGINT) AS d,
       |        CAST(round(v[i+1] * 1000000) AS BIGINT) AS x_u
       |      FROM n, unnest(range(len(v))) AS u(i)),
       |pr AS (SELECT vec_id, p, sum(CASE WHEN ((p*1009 + d) * 2654435761) % 97 < 48
       |                                  THEN x_u ELSE -x_u END) AS s
       |       FROM e, (SELECT unnest(range(16)) AS p) GROUP BY 1, 2),
       |bd AS (SELECT vec_id, CAST(p // 4 AS INT) AS band,
       |         CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(p % 4 AS INT))
       |                       ELSE 0 END) AS BIGINT) AS bsig
       |       FROM pr GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.vec_id AS ai, b.vec_id AS bi
       |         FROM bd a JOIN bd b ON a.band = b.band AND a.bsig = b.bsig
       |           AND a.vec_id < b.vec_id),
       |pairs AS (SELECT ai, bi,
       |            round(list_sum(list_transform(list_zip(na.v, nb.v), x -> x[1]*x[2]))
       |                  / (na.nrm * nb.nrm), 6) AS cos
       |          FROM cand
       |          JOIN n na ON na.vec_id = ai
       |          JOIN n nb ON nb.vec_id = bi)
       |SELECT ai, bi, cos FROM pairs WHERE cos > 0.45 ORDER BY ai, bi""".stripMargin) { (s, d) =>
    SimilarityOps.rhpNearDups(Tables.embeddings(s, d), minCosine = 0.45)
      .orderBy("ai", "bi")
  }

  private val multimodalJoin = Q(
    "llm_multimodal_join",
    """SELECT d.doc_id, e.vec_id, d.lang,
      |  CAST(length(d.text) AS INT) AS n_chars2,
      |  CAST(len(e.embedding) AS INT) AS dim,
      |  round(sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 6) AS l2
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("vec_id"),
        struct(col("text"), col("lang"), col("embedding")).as("rec"))
      .select(col("doc_id"), col("vec_id"), col("rec.lang").as("lang"),
        length(col("rec.text")).as("n_chars2"),
        size(col("rec.embedding")).as("dim"),
        round(sqrt(aggregate(col("rec.embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))), 6).as("l2"))
      .orderBy("doc_id")
  }

  /** Binary-column feature extraction through the typed mapPartitions
    * pipeline ([[MultimodalOps]]): payload bytes → (byte length, rolling
    * hash over the bytes). The oracle recomputes both from the text
    * column: `octet_length(encode(text))` is byte-exact; the hash fold
    * agrees because the corpus is ASCII (byte == codepoint) — the same
    * documented domain bound as [[Hashes.polyHash]]. */
  private val multimodalFeatures = Q(
    "llm_multimodal_features",
    s"""SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       |  ${Hashes.oPolyHash("text")} AS content_hash
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    MultimodalOps.extractFeatures(MultimodalOps.toMedia(Tables.documents(s, d)))
      .toDF().orderBy("doc_id")
  }

  /** The FULL IVF-PQ serving loop on the streaming runtime
    * ([[SimilarityOps.saveIvfPqIndex]] /
    * [[SimilarityOps.knnLookupIvfPq]]): det cell + codebook training
    * persists five parquet tables (the PQ CODES being the hot
    * compressed set), the serving kernel loads them, and the replayed
    * query stream is cell-probed, ADC-scored from codes (exact
    * 10⁻¹²-unit integer sums), shortlisted and exact-reranked via
    * unit-vector point fetches — per micro-batch, stateless. The
    * union hash-matches [[knnIvfPqDet]]'s oracle, which rebuilds both
    * trainings, the routing, the ADC and the rerank in SQL: the
    * entire train → compress → store → serve pipeline cross-engine
    * verified. */
  private val streamKnnIvfPqServeReplay = Q(
    "stream_knn_ivfpq_serve_replay", knnIvfPqDet.oracle.get) { (s, d) =>
    val path = graft.Scratch.dirString("graft-ivfpq-serve")
    SimilarityOps.saveIvfPqIndex(Tables.embeddings(s, d), path,
      nCells = 16, cellIters = 2, m = 8, kCodes = 16, pqIters = 2)
    graft.streaming.BoundedReplay.replayEmbeddings(s, d)(emb =>
      SimilarityOps.knnLookupIvfPq(emb.filter(col("vec_id") < 5), path,
        nprobe = 4, rerank = 40, k = 10))
      .orderBy("qid", "rk")
  }

  val all: Seq[Q] = Seq(knnCosine, streamKnnLookupReplay, hybridRrf, embCos,
    embCosBlocked, embCosCelled, knnIvf, knnIvfDet,
    knnIvfSaved, streamKnnIvfServeReplay, streamAnnUpsertReplay,
    streamAnnDeleteReplay, streamAnnUpdateReplay,
    knnPqDet, knnIvfPqDet,
    streamKnnIvfPqServeReplay, knnIvfProbeAll,
    knnPq, knnSq8, knnIvfPq, knnIvfSq8, knnIvfSq8Det, embedCentroid, embLsh, multimodalJoin,
    multimodalFeatures)
}
