package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-space operations over the `embeddings` table (vec_id,
  * embedding: array<float>, label) — norms and brute-force cosine top-k ANN.
  *
  * Precision discipline for oracle parity: every product is computed as
  * double-of-float × double-of-float (exact) and summed left-to-right in
  * list order in BOTH engines, so the float pipelines are bit-identical;
  * results are rounded before ordering/output.
  *
  * Scale notes: brute-force top-k is a broadcast of ONE query vector and a
  * single narrow pass + TakeOrdered — linear scan, no shuffle; this is the
  * correct baseline at any scale. The sub-linear path is the LSH variant in
  * graft.operators.Similarity (bucketed candidate join; no SQL oracle).
  */
object VectorQueries {
  import QueryDef.t

  /** sum_i a[i]*b[i], computed in double, left-to-right — the codegen'd
    * VecDot kernel (graft.functions.VectorUtil), bit-identical fold order
    * to the oracle's list_reduce.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  val all: Map[String, QueryDef] = Map(

    // ---- L2 norms per label class.
    "e1_embed_norm" -> QueryDef(
      (s, dir) => t(s, dir, "embeddings")
        .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
        .groupBy("label")
        .agg(round(avg("norm"), 4).as("avg_norm"),
          round(min("norm"), 4).as("min_norm"),
          round(max("norm"), 4).as("max_norm"),
          count(lit(1)).as("n"))
        .orderBy("label"),
      Some("""SELECT label,
             |  round(avg(norm), 4) AS avg_norm,
             |  round(min(norm), 4) AS min_norm,
             |  round(max(norm), 4) AS max_norm,
             |  count(*) AS n
             |FROM (SELECT label, sqrt(list_reduce(
             |    list_prepend(0.0, list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
             |    (a, b) -> a + b)) AS norm
             |  FROM embeddings)
             |GROUP BY label ORDER BY label""".stripMargin)),

    // ---- brute-force cosine top-k against the vec_id=0 query vector.
    // Rounded similarity is the primary sort key so near-tie ordering is
    // identical across engines; vec_id breaks exact ties.
    "e2_ann_topk" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("sim", round(
            dot(col("embedding"), col("q_embedding")) /
              (sqrt(dot(col("embedding"), col("embedding"))) *
                sqrt(dot(col("q_embedding"), col("q_embedding")))), 6))
          .select(col("vec_id"), col("label"), col("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH dd AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |q AS (SELECT e AS qe FROM dd WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  round(list_reduce(list_prepend(0.0, list_transform(range(1, len(e) + 1),
             |      i -> e[i] * qe[i])), (a, b) -> a + b)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
             |        (a, b) -> a + b))
             |      * sqrt(list_reduce(list_prepend(0.0, list_transform(qe, x -> x * x)),
             |        (a, b) -> a + b))), 6) AS sim
             |FROM dd, q WHERE vec_id <> 0
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- distributed Lloyd's k-means over the embedding space (the
    // topic-clustering / semantic-bucketing primitive; also the trainer
    // behind the IVF coarse quantizer, here gated directly). Seeds are
    // the first k vectors by id, one refinement round, then the final
    // assignment — every step deterministic: centroids are quantized to
    // float32 after each averaging round, so the ~1e-16-relative
    // summation-order difference between Spark's distributed avg and the
    // oracle's sequential avg is rounded away (float32 has 2^29 × that
    // tolerance), and argmax ties break to the lowest centroid id in
    // both engines. Scale shape: assignment is a narrow codegen'd map
    // against k×dim literal centroids — NO shuffle; the recompute is one
    // (cluster, dim) agg of k×64 output rows. One pass per iteration
    // over 100 TB, exactly how IVF/semdedup training already runs.
    "x27_kmeans" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cents = graft.operators.Similarity.kmeansCentroids(e, k = 8, iters = 1)
        val sims = array(cents.map(c =>
          graft.functions.VectorFunctions.vecCosine(col("embedding"),
            array(c.map(lit(_)).toSeq: _*))).toSeq: _*)
        e.withColumn("cluster",
            (array_position(sims, array_max(sims)) - 1).cast("long"))
          .select(col("vec_id"), col("cluster"))
          .orderBy("vec_id")
      },
      Some(kmeansOracle(k = 8, assignSteps = 2))),

    // ---- centroid-distance outlier pruning (the SemDeDup/D4-style
    // "prune vectors far from every cluster center" curation step):
    // vectors whose best-centroid cosine falls below 0.15 are flagged
    // for removal. Same no-shuffle assignment map as x27 — at 100 TB
    // this is a pure scan with k×dim literal centroids, writing only
    // the (tiny) outlier id list.
    "x29_centroid_outliers" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val cents = graft.operators.Similarity.kmeansCentroids(e, k = 8, iters = 1)
        val sims = array(cents.map(c =>
          graft.functions.VectorFunctions.vecCosine(col("embedding"),
            array(c.map(lit(_)).toSeq: _*))).toSeq: _*)
        e.withColumn("sims", sims)
          .withColumn("cluster",
            (array_position(col("sims"), array_max(col("sims"))) - 1)
              .cast("long"))
          .withColumn("sim", round(array_max(col("sims")), 6))
          .filter(col("sim") < 0.15)
          .select("vec_id", "cluster", "sim")
          .orderBy("vec_id")
      },
      Some(kmeansOracle(k = 8, assignSteps = 2,
        finalSelect =
          "en.vec_id, CAST(fin.cid AS BIGINT) AS cluster, round(fin.s, 6) AS sim",
        finalWhere = "WHERE round(fin.s, 6) < 0.15"))),

    // ---- hard-negative mining for contrastive training: the top-k
    // most-similar vectors of a DIFFERENT label than the anchor — the
    // negatives that actually move a contrastive loss. Same zero-shuffle
    // scan shape as e2 with one extra pushed label predicate; at 100 TB
    // this runs per anchor batch against the (int8/PQ-compressed) corpus.
    "x33_hard_negatives" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"),
            col("label").as("q_label"))
        e.crossJoin(broadcast(q))
          .filter(col("label") =!= col("q_label"))
          .withColumn("sim", round(
            dot(col("embedding"), col("q_embedding")) /
              (sqrt(dot(col("embedding"), col("embedding"))) *
                sqrt(dot(col("q_embedding"), col("q_embedding")))), 6))
          .select(col("vec_id"), col("label"), col("sim"))
          .orderBy(col("sim").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH dd AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |q AS (SELECT e AS qe, label AS ql FROM dd WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  round(list_reduce(list_prepend(0.0, list_transform(range(1, len(e) + 1),
             |      i -> e[i] * qe[i])), (a, b) -> a + b)
             |    / (sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
             |        (a, b) -> a + b))
             |      * sqrt(list_reduce(list_prepend(0.0, list_transform(qe, x -> x * x)),
             |        (a, b) -> a + b))), 6) AS sim
             |FROM dd, q WHERE label <> ql
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- int8-quantized ANN: symmetric per-vector quantization
    // q[i] = floor(x[i] * 127 / max|x| + 0.5), cosine from INTEGER dot
    // products (the per-vector scales cancel in cosine, and integer
    // arithmetic is exact — zero cross-engine float risk in the ranking
    // signal). This is the memory-scale path for 100 TB embedding
    // stores: 4x smaller than float32, integer SIMD dots, same top-k
    // shape as e2 (broadcast query vector, narrow scan, TakeOrdered —
    // no shuffle). Quantization noise vs e2's exact ranking is visible
    // in the gate output (same oracle discipline as x5/x9: the oracle
    // recomputes the quantized pipeline bit-exactly).
    "x28_ann_int8" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        def dbl(c: Column) = transform(c, x => x.cast("double"))
        def quant(c: Column) = {
          val v = dbl(c)
          val maxabs = greatest(array_max(transform(v, x => abs(x))), lit(1e-30))
          transform(v, x => floor(x * lit(127.0) / maxabs + lit(0.5)))
        }
        def idot(a: Column, b: Column) =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        val q = e.filter(col("vec_id") === 0)
          .select(quant(col("embedding")).as("qv"))
        e.filter(col("vec_id") =!= 0)
          .withColumn("q", quant(col("embedding")))
          .crossJoin(broadcast(q))
          .withColumn("sim_q", round(
            idot(col("q"), col("qv")) /
              (sqrt(idot(col("q"), col("q"))) *
                sqrt(idot(col("qv"), col("qv")))), 6))
          .select(col("vec_id"), col("label"), col("sim_q"))
          .orderBy(col("sim_q").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |q8 AS (
             |  SELECT vec_id, label,
             |    list_transform(v, x -> CAST(floor(x * 127.0 /
             |      greatest(list_max(list_transform(v, y -> abs(y))), 1e-30)
             |      + 0.5) AS BIGINT)) AS q
             |  FROM e),
             |qq AS (SELECT q AS qv FROM q8 WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  round(
             |    list_reduce(list_prepend(0, list_transform(
             |        range(1, len(q) + 1), i -> q[i] * qv[i])), (a, b) -> a + b)
             |    / (sqrt(list_reduce(list_prepend(0, list_transform(q,
             |          x -> x * x)), (a, b) -> a + b))
             |     * sqrt(list_reduce(list_prepend(0, list_transform(qv,
             |          x -> x * x)), (a, b) -> a + b))), 6) AS sim_q
             |FROM q8, qq WHERE vec_id <> 0
             |ORDER BY sim_q DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- product-quantization ANN (Jégou et al. 2011): 64-dim vectors
    // compress to 8 one-byte codes (8 subspaces × 16-entry codebooks —
    // a 32x memory reduction); queries rank by asymmetric distance
    // (full-precision query vs coded centroids). Codebook = subvectors
    // of the first 16 vectors (the same deterministic id-ordered seed
    // sample the IVF gate uses; production trains per-subspace k-means
    // with the x27 machinery). The 100 TB story: the coded corpus is
    // 8 bytes + id per vector — RAM-resident at billions of vectors;
    // the scan is a codegen'd table lookup per subspace, no shuffle.
    // Both kernels fold in fixed order, so the oracle recomputes the
    // pipeline bit-exactly (codes compare as exact integers).
    // Retrieval quality (50 queries, this fixture — i.i.d.-random dims,
    // PQ's worst case; PqRecall, historical (probe removed after 8bdcef0)): code-only
    // recall@10 0.25;
    // the production shape (ADC shortlist -> exact re-rank of 10·k)
    // reaches 0.848; int8 (x28) holds 0.986 at only 4x compression.
    "x31_ann_pq" -> QueryDef(
      (s, dir) => {
        val (nSub, nCodes) = (8, 16)
        val e = t(s, dir, "embeddings")
        val cbRows = e.orderBy("vec_id").limit(nCodes)
          .select(col("embedding")).collect()
          .map(_.getSeq[Float](0).toArray)
        val d = cbRows.head.length / nSub
        // flat row-major [subspace][code][component]
        val cbFlat: Seq[Float] = for {
          sIdx <- 0 until nSub; c <- 0 until nCodes; i <- 0 until d
        } yield cbRows(c)(sIdx * d + i)
        val cb = typedlit(cbFlat)
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        e.filter(col("vec_id") =!= 0)
          .withColumn("codes", graft.functions.VectorFunctions
            .pqEncode(col("embedding"), cb, nSub))
          .crossJoin(broadcast(q))
          .withColumn("adc", round(graft.functions.VectorFunctions
            .pqAdcDot(col("qv"), col("codes"), cb, nSub), 6))
          .select(col("vec_id"), col("label"), col("adc"))
          .orderBy(col("adc").desc, col("vec_id"))
          .limit(10)
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |cbv AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
             |  FROM e WHERE vec_id < 16),
             |l2 AS (
             |  SELECT en.vec_id, g.s, cbv.c,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             |      i -> (en.v[g.s * 8 + i] - cbv.v[g.s * 8 + i])
             |         * (en.v[g.s * 8 + i] - cbv.v[g.s * 8 + i]))),
             |      (a, b) -> a + b) AS d2
             |  FROM e en, unnest(generate_series(0, 7)) AS g(s), cbv),
             |codes AS (
             |  SELECT vec_id, s, c FROM (
             |    SELECT vec_id, s, c,
             |      row_number() OVER (PARTITION BY vec_id, s
             |        ORDER BY d2, c) AS rn
             |    FROM l2) WHERE rn = 1),
             |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
             |partials AS (
             |  SELECT codes.vec_id, codes.s,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             |      i -> q.qv[codes.s * 8 + i] * cbv.v[codes.s * 8 + i])),
             |      (a, b) -> a + b) AS pd
             |  FROM codes JOIN cbv USING (c), q),
             |adc AS (
             |  SELECT vec_id, list_reduce(list_prepend(0.0,
             |      list(pd ORDER BY s)), (a, b) -> a + b) AS adc
             |  FROM partials GROUP BY vec_id)
             |SELECT e.vec_id, e.label, round(adc.adc, 6) AS adc
             |FROM adc JOIN e USING (vec_id) WHERE vec_id <> 0
             |ORDER BY adc DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- IVF + PQ two-stage ANN (IVFADC, Jégou et al. 2011) — the
    // production billion-vector query: coarse-quantizer pruning to
    // nprobe=4 of nlist=8 inverted lists, ADC ranking against 8-byte PQ
    // codes inside the probed lists, exact cosine re-rank of the 10·k
    // ADC shortlist. Every stage deterministic (id-ordered seeds, 6dp
    // rounding before each ordering, vec_id tie-breaks), so the oracle
    // recomputes the full compound pipeline — assignment, probe choice,
    // encode, ADC fold, shortlist, re-rank — and any drift in ANY stage
    // fails the hash. Scale shape: the pruning is filesystem partition
    // pruning with a persisted index (writeIvfIndex), the ADC scan
    // touches only codes (8 B/vector), the exact re-rank touches 10·k
    // full vectors; no shuffle anywhere. Recall on this worst-case
    // i.i.d. fixture: 0.7@10 (compound IVF×PQ pruning; the gate checks
    // pipeline exactness — real embedding manifolds fare far better,
    // and nprobe/shortlistFactor buy recall linearly).
    "x41_ann_ivfpq" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        graft.operators.Similarity.ivfPqTopK(
          e.filter(col("vec_id") =!= 0), q, 10,
          nlist = 8, nprobe = 4, nSub = 8, nCodes = 16)
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |en AS (
             |  SELECT vec_id, label, v,
             |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
             |      (a, b) -> a + b)) AS vn
             |  FROM e),
             |q AS (SELECT v AS qv, vn AS qn FROM en WHERE vec_id = 0),
             |cen AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
             |  FROM en WHERE vec_id <> 0 ORDER BY vec_id LIMIT 8),
             |sims AS (
             |  SELECT en.vec_id, cen.cid,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, len(en.v) + 1),
             |      i -> en.v[i] * cen.v[i])), (a, b) -> a + b) / (en.vn * cen.vn) AS s
             |  FROM en, cen WHERE en.vec_id <> 0),
             |best AS (
             |  SELECT sims.vec_id, min(cid) AS list_id FROM sims
             |  JOIN (SELECT vec_id AS v2, max(s) AS ms FROM sims GROUP BY 1) m
             |    ON sims.vec_id = m.v2 AND sims.s = m.ms
             |  GROUP BY sims.vec_id),
             |pr AS (
             |  SELECT cen.cid FROM cen, q
             |  ORDER BY list_reduce(list_prepend(0.0, list_transform(range(1, len(cen.v) + 1),
             |      i -> q.qv[i] * cen.v[i])), (a, b) -> a + b) / (cen.vn * q.qn) DESC, cid
             |  LIMIT 4),
             |cand AS (SELECT vec_id FROM best WHERE list_id IN (SELECT cid FROM pr)),
             |cbv AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
             |  FROM e WHERE vec_id <> 0 ORDER BY vec_id LIMIT 16),
             |l2 AS (
             |  SELECT en.vec_id, g.s, cbv.c,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             |      i -> (en.v[g.s * 8 + i] - cbv.v[g.s * 8 + i])
             |         * (en.v[g.s * 8 + i] - cbv.v[g.s * 8 + i]))),
             |      (a, b) -> a + b) AS d2
             |  FROM en JOIN cand USING (vec_id), unnest(generate_series(0, 7)) AS g(s), cbv),
             |codes AS (
             |  SELECT vec_id, s, c FROM (
             |    SELECT vec_id, s, c,
             |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
             |    FROM l2) WHERE rn = 1),
             |partials AS (
             |  SELECT codes.vec_id, codes.s,
             |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             |      i -> q.qv[codes.s * 8 + i] * cbv.v[codes.s * 8 + i])),
             |      (a, b) -> a + b) AS pd
             |  FROM codes JOIN cbv USING (c), q),
             |adc AS (
             |  SELECT vec_id, list_reduce(list_prepend(0.0,
             |      list(pd ORDER BY s)), (a, b) -> a + b) AS adc
             |  FROM partials GROUP BY vec_id),
             |short AS (
             |  SELECT vec_id FROM adc ORDER BY round(adc, 6) DESC, vec_id LIMIT 100)
             |SELECT en.vec_id, en.label,
             |  round(list_reduce(list_prepend(0.0, list_transform(range(1, len(en.v) + 1),
             |    i -> en.v[i] * q.qv[i])), (a, b) -> a + b) / (en.vn * q.qn), 6) AS sim
             |FROM en JOIN short USING (vec_id), q
             |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- exact k-NN GRAPH (k=3) with mutual-edge annotation — the graph
    // SemDeDup/SSL-curation pipelines build before clustering. A bounded
    // 500-vector block (vec_id < 500 at every SF) brute-forces its exact
    // graph: one broadcast of the block, per-src TOP-3 via rank over the
    // ROUNDED sim (cross-engine tie discipline), then a self-join of the
    // edge list marks reciprocal edges. This is the exact-baseline
    // companion to x9/x41: at 100 TB the same graph is built per IVF cell
    // or LSH bucket (cluster-local blocks bound the quadratic term), and
    // the mutual-kNN filter is the standard spurious-edge cut.
    "x46_knn_graph" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
        val a = e.select(col("vec_id").as("src"), col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("dst"), col("embedding").as("eb"))
        val top = a.join(broadcast(b), col("src") =!= col("dst"))
          .withColumn("sim", round(dot(col("ea"), col("eb")) /
            (sqrt(dot(col("ea"), col("ea"))) *
              sqrt(dot(col("eb"), col("eb")))), 6))
          .withColumn("rk", row_number().over(
            Window.partitionBy("src").orderBy(desc("sim"), col("dst"))))
          .filter(col("rk") <= 3)
          .select("src", "dst", "rk", "sim")
        val rev = top.select(col("src").as("m_src"), col("dst").as("m_dst"))
        top.join(broadcast(rev),
            col("m_src") === col("dst") && col("m_dst") === col("src"),
            "left_outer")
          .select(col("src"), col("dst"), col("rk"), col("sim"),
            when(col("m_src").isNotNull, 1).otherwise(0).as("mutual"))
          .orderBy("src", "rk")
      },
      Some("""WITH dd AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings WHERE vec_id < 500),
             |n AS (
             |  SELECT vec_id, e,
             |    sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
             |      (a, b) -> a + b)) AS nm
             |  FROM dd),
             |p AS (
             |  SELECT a.vec_id AS src, b.vec_id AS dst,
             |    round(list_reduce(list_prepend(0.0, list_transform(range(1, len(a.e) + 1),
             |        i -> a.e[i] * b.e[i])), (x, y) -> x + y) / (a.nm * b.nm), 6) AS sim
             |  FROM n a, n b WHERE a.vec_id <> b.vec_id),
             |r AS (
             |  SELECT src, dst, sim,
             |    CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst)
             |      AS INT) AS rk
             |  FROM p),
             |top AS (SELECT * FROM r WHERE rk <= 3)
             |SELECT t.src, t.dst, t.rk, t.sim,
             |  CASE WHEN m.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
             |FROM top t LEFT JOIN top m ON m.src = t.dst AND m.dst = t.src
             |ORDER BY t.src, t.rk""".stripMargin)),

    // Hybrid retrieval via reciprocal-rank fusion — the production
    // sparse+dense pattern: BM25 (x53's scorer) and brute cosine vs the
    // vec_id=0 query (e2's scorer) each rank their top-50; fused score =
    // Σ 1/(60+rank) over the arms where the doc appears (RRF, Cormack et
    // al. k=60). Both arms rank on ROUNDED scores with id tiebreaks
    // (total orders), so ranks — and therefore the fusion — are
    // engine-exact; the rank windows run over candidate-set-sized frames
    // (docs matching a query term / the dense shortlist), never the
    // corpus. Docs and vectors share the id space (vec_id == doc_id).
    "x64_rrf_hybrid" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val qterms = Seq("spark", "join", "window", "hash")
        val toks = t(s, dir, "documents").select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(
          expr("CAST(sum(dl) AS DOUBLE) / count(*)").as("avgdl"),
          count(lit(1)).as("n_docs"))
        val tf = toks.filter(col("term").isin(qterms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val sparse = tf.join(broadcast(dfq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("part",
            expr("ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * " +
              "(tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"))
          .groupBy("doc_id")
          .agg(round(sum(col("part")), 4).as("bm25"))
          .withColumn("r_s", row_number().over(
            Window.orderBy(desc("bm25"), col("doc_id"))))
          .filter(col("r_s") <= 50)
          .select(col("doc_id"), col("r_s"))
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val dense = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("sim", round(
            dot(col("embedding"), col("qe")) /
              (sqrt(dot(col("embedding"), col("embedding"))) *
                sqrt(dot(col("qe"), col("qe")))), 6))
          .withColumn("r_d", row_number().over(
            Window.orderBy(desc("sim"), col("vec_id"))))
          .filter(col("r_d") <= 50)
          .select(col("vec_id").as("doc_id"), col("r_d"))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            round(coalesce(lit(1.0) / (lit(60) + col("r_s")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("r_d")), lit(0.0)), 6)
              .as("rrf"),
            coalesce(col("r_s"), lit(0)).as("r_sparse"),
            coalesce(col("r_d"), lit(0)).as("r_dense"))
          .orderBy(desc("rrf"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(trim(text), '\s+')) AS term
             |  FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
             |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             |          count(*) AS n_docs FROM dl),
             |tf AS (
             |  SELECT doc_id, term, count(*) AS tf FROM toks
             |  WHERE term IN ('spark', 'join', 'window', 'hash')
             |  GROUP BY doc_id, term),
             |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |bm AS (
             |  SELECT tf.doc_id,
             |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
             |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4)
             |      AS bm25
             |  FROM tf JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id
             |  CROSS JOIN stats GROUP BY tf.doc_id),
             |sparse AS (
             |  SELECT doc_id, CAST(row_number() OVER (
             |      ORDER BY bm25 DESC, doc_id) AS INTEGER) AS r_s
             |  FROM bm QUALIFY r_s <= 50),
             |dd AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |q AS (SELECT e AS qe FROM dd WHERE vec_id = 0),
             |sims AS (
             |  SELECT vec_id,
             |    round(list_reduce(list_prepend(0.0,
             |        list_transform(range(1, len(e) + 1), i -> e[i] * qe[i])),
             |        (a, b) -> a + b)
             |      / (sqrt(list_reduce(list_prepend(0.0,
             |          list_transform(e, x -> x * x)), (a, b) -> a + b))
             |        * sqrt(list_reduce(list_prepend(0.0,
             |          list_transform(qe, x -> x * x)), (a, b) -> a + b))), 6)
             |      AS sim
             |  FROM dd, q WHERE vec_id <> 0),
             |dense AS (
             |  SELECT vec_id AS doc_id, CAST(row_number() OVER (
             |      ORDER BY sim DESC, vec_id) AS INTEGER) AS r_d
             |  FROM sims QUALIFY r_d <= 50)
             |SELECT coalesce(sparse.doc_id, dense.doc_id) AS doc_id,
             |  round(coalesce(1.0 / (60 + r_s), 0.0) +
             |    coalesce(1.0 / (60 + r_d), 0.0), 6) AS rrf,
             |  coalesce(r_s, 0) AS r_sparse,
             |  coalesce(r_d, 0) AS r_dense
             |FROM sparse FULL OUTER JOIN dense
             |  ON dense.doc_id = sparse.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // In-gate IVF recall — the ANN honesty check as a standing gate (the
    // d40 pattern for vectors): for four query vectors, recall@10 of the
    // PARTIAL-probe IVF (nprobe=4 of nlist=16) against exact brute
    // force. The oracle recomputes the ENTIRE approximate pipeline in
    // SQL (assignment argmax with lowest-centroid ties, probe selection,
    // pruned-scan top-k — the x41 machinery) so any recall drift fails
    // the gate loudly rather than silently degrading retrieval. Query
    // ids ≥ 100 keep the id-seeded centroid set identical across the
    // per-query leave-one-out corpora.
    "x65_ivf_recall" -> QueryDef(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val per = Seq(100L, 200L, 300L, 400L).map { qid =>
          val corpus = e.filter(col("vec_id") =!= qid)
          val qv = e.filter(col("vec_id") === qid)
            .select(col("embedding").as("q_embedding"))
          val ivf = graft.operators.Similarity
            .ivfTopK(corpus, qv, 10, nlist = 16, nprobe = 4)
          val brute = graft.operators.Similarity
            .bruteForceTopK(corpus, qv, 10)
          ivf.select(col("vec_id"))
            .join(brute.select(col("vec_id")), "vec_id")
            .agg(count(lit(1)).as("n_overlap"))
            .select(lit(qid).as("query_id"), col("n_overlap"),
              round(col("n_overlap") / 10.0, 2).as("recall_at_10"))
        }
        per.reduce(_.unionAll(_)).orderBy("query_id")
      },
      Some(ivfRecallOracle(Seq(100L, 200L, 300L, 400L)))),

    // The nprobe tuning curve — what an operator actually reads before
    // setting the probe count: mean recall@10 across the x65 query panel
    // for nprobe ∈ {1,2,4,8,16} of nlist=16. nprobe=16 is exhaustive
    // probing and MUST read 1.0 (the x9 invariant, now curve-anchored);
    // the curve below it is the honest recall/cost trade on this
    // fixture. Oracle recomputes every (query, nprobe) cell end to end.
    "x66_nprobe_sweep" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val qids = Seq(100L, 200L, 300L, 400L)
        val nprobes = Seq(1, 2, 4, 8, 16)
        // Work that does NOT vary by cell is hoisted out of the cell loop
        // (was 20 brute scans + 20 centroid collects + 20 assignment
        // scans; now 4 + 1 + 1):
        //  - centroids: the id-seeded set is the first nlist vec_ids, all
        //    < every qid, so it is identical across the leave-one-out
        //    corpora — collect ONCE;
        //  - assignment: one narrow argmax scan of the WHOLE table,
        //    checkpointed; each qid's corpus is a filter over it;
        //  - brute force: independent of nprobe — one top-k per QID,
        //    checkpointed (10 rows), reused by all five cells.
        val cents = Similarity.seedCentroids(e, 16)
        // sized checkpoint layout (Layout.sizedCoalesce, r21): this frame
        // is rescanned by every sweep cell — without it each scan ran
        // shuffle.partitions tasks over a ~1 MB frame
        val assigned = graft.operators.Layout.sizedCoalesce(
          Similarity.assignLists(e, cents)).localCheckpoint()
        val cells = qids.flatMap { qid =>
          val corpus = assigned.filter(col("vec_id") =!= qid)
          val qv = e.filter(col("vec_id") === qid)
            .select(col("embedding").as("q_embedding"))
          val q = qv.collect()(0).getSeq[Float](0).toArray
          val ranking = Similarity.probeRanking(cents, q)
          val brute = graft.operators.Layout.sizedCoalesce(Similarity
            .bruteForceTopK(corpus.drop("list_id"), qv, 10)
            .select(col("vec_id"))).localCheckpoint()
          nprobes.map { np =>
            val ivf = Similarity
              .ivfTopKPreAssigned(corpus, qv, 10,
                ranking.take(np).toIndexedSeq)
            ivf.select(col("vec_id"))
              .join(brute, "vec_id")
              .agg(count(lit(1)).as("n_overlap"))
              .select(lit(np).as("nprobe"), col("n_overlap"))
          }
        }
        cells.reduce(_.unionAll(_))
          .groupBy("nprobe")
          .agg(round(avg(col("n_overlap")) / 10.0, 3).as("mean_recall"))
          .orderBy("nprobe")
      },
      Some(nprobeSweepOracle(Seq(100L, 200L, 300L, 400L),
        Seq(1, 2, 4, 8, 16)))),

    // Trained vs seed coarse quantizer — closes the IVF lifecycle loop
    // the recall gates opened: the SAME x65 panel and nprobe, once with
    // the id-seeded centroids and once with Lloyd-trained ones
    // (kmeansCentroids iters=1, the x27 pipeline; oracle unrolls the
    // round with the float32-quantized means — the proven kmeansOracle
    // machinery). Output is per-query overlap under both quantizers plus
    // the panel-level `trained_ge_seed` verdict — the honest statement
    // an operator reads before paying for training. Training runs on the
    // FULL table (the index-build reality: queries are held out at query
    // time, not build time); both assignment frames are computed once
    // and checkpointed (the x66 sweep discipline).
    "x68_trained_recall" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val qids = Seq(100L, 200L, 300L, 400L)
        val centsS = Similarity.seedCentroids(e, 16)
        val centsT = Similarity.kmeansCentroids(e, 16, iters = 1)
        val aS = graft.operators.Layout.sizedCoalesce(
          Similarity.assignLists(e, centsS)).localCheckpoint()
        val aT = graft.operators.Layout.sizedCoalesce(
          Similarity.assignLists(e, centsT)).localCheckpoint()
        val per = qids.map { qid =>
          val qv = e.filter(col("vec_id") === qid)
            .select(col("embedding").as("q_embedding"))
          val q = qv.collect()(0).getSeq[Float](0).toArray
          val brute = graft.operators.Layout.sizedCoalesce(Similarity
            .bruteForceTopK(aS.filter(col("vec_id") =!= qid).drop("list_id"), qv, 10)
            .select(col("vec_id"))).localCheckpoint()
          def overlapOf(assigned: org.apache.spark.sql.DataFrame,
                        cents: Array[Array[Float]], alias: String) =
            Similarity.ivfTopKPreAssigned(
                assigned.filter(col("vec_id") =!= qid), qv, 10,
                Similarity.probeRanking(cents, q).take(4).toIndexedSeq)
              .select(col("vec_id")).join(brute, "vec_id")
              .agg(count(lit(1)).as(alias))
          overlapOf(aS, centsS, "n_seed")
            .crossJoin(overlapOf(aT, centsT, "n_trained"))
            .select(lit(qid).as("query_id"), col("n_seed"), col("n_trained"))
        }
        per.reduce(_.unionAll(_))
          .withColumn("trained_ge_seed",
            avg(col("n_trained")).over(Window.partitionBy()) >=
              avg(col("n_seed")).over(Window.partitionBy()))
          .orderBy("query_id")
      },
      Some(trainedRecallOracle(Seq(100L, 200L, 300L, 400L), nprobe = 4))),

    // IVF radius (range) search — "ALL vectors within cosine >= 0.25 of
    // the query", the thresholded dual of top-k that dedup/curation
    // policies actually state ("drop everything closer than t"), probing
    // 4 of 16 lists over ONE shared assignment for the 3-query batch.
    // The oracle recomputes the exact pruned pipeline (full-corpus
    // assignment, per-query probe ranking, 6dp-rounded threshold), so
    // the gate proves the radius semantics INCLUDING the approximation
    // boundary — a vector inside the radius but in an unprobed list must
    // be absent from both engines. 100 TB shape: see
    // Similarity.ivfRangeSearch (partition pruning + narrow filter, no
    // shuffle, data-driven output size).
    "x71_range_search" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val cents = Similarity.seedCentroids(e, 16)
        val assigned = graft.operators.Layout.sizedCoalesce(
          Similarity.assignLists(e, cents)).localCheckpoint()
        val per = Seq(100L, 200L, 300L).map { qid =>
          val qv = e.filter(col("vec_id") === qid)
            .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
          val probes = Similarity.probeRanking(cents, qv).take(4)
          Similarity.ivfRangeSearch(
              assigned.filter(col("vec_id") =!= qid),
              e.filter(col("vec_id") === qid)
                .select(col("embedding").as("q_embedding")),
              threshold = 0.25, probes.toIndexedSeq)
            .select(lit(qid).as("query_id"), col("vec_id"), col("sim"))
        }
        per.reduce(_.unionAll(_)).orderBy("query_id", "vec_id")
      },
      Some(rangeSearchOracle(Seq(100L, 200L, 300L), thr = "0.25",
        nprobe = 4))),

    // MMR diversity re-ranking (Carbonell-Goldstein) — the re-rank
    // between retrieval and prompt assembly: greedy k=5 over a top-12
    // relevance pool vs query vec 0, score = 0.5·rel − 0.5·max-sim-to-
    // selected, everything 6dp-rounded before each argmax with vec_id
    // ties, so the oracle unrolls all 5 picks exactly. Pool-bounded by
    // construction (the 100 TB-scale work is the upstream ANN top-N);
    // see Similarity.mmrRerank for the bounded-scalar rationale.
    "x72_mmr_rerank" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_embedding"))
        val cands = Similarity
          .bruteForceTopK(e.filter(col("vec_id") =!= 0), q, 12)
          .select(col("vec_id"), col("sim").as("rel"))
          .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        Similarity.mmrRerank(cands, 5).orderBy("rk")
      },
      Some(mmrOracle(k = 5, pool = 12))),

    // Filtered vector search — ANN top-k under a metadata predicate
    // (label = 3), the production "filtered ANN" pattern every vector
    // store ships. POST-filter semantics: the coarse quantizer and probe
    // ranking see the FULL corpus (the index is built once, not per
    // predicate), the label filter applies inside the probed scan — at
    // 100 TB that filter rides the pruned partition scan as a pushed
    // parquet predicate, costing nothing extra. Recall interacts with
    // selectivity (a probe list may hold few label-3 vectors); the
    // oracle recomputes the exact pruned+filtered pipeline so that
    // interaction is pinned, not hidden.
    "x73_filtered_ann" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val cents = Similarity.seedCentroids(e, 16)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
        val probes = Similarity.probeRanking(cents, qv).take(4)
        Similarity.ivfTopKPreAssigned(
          Similarity.assignLists(e, cents)
            .filter(col("label") === 3 && col("vec_id") =!= 0),
          e.filter(col("vec_id") === 0)
            .select(col("embedding").as("q_embedding")),
          5, probes.toIndexedSeq)
      },
      Some(filteredAnnOracle(qid = 0, label = 3, nprobe = 4, k = 5))),

    // Binary (1-bit sign) quantization search — the modern small-footprint
    // ANN path every vector store ships: the corpus scan reads an 8-byte
    // packed sign word per vector (bit_count(xor) Hamming, codegen), only
    // the best `prefilter`=40 candidates get the exact-cosine rerank.
    // Gated the x65 way: recall@10 of the quantized pipeline vs brute
    // force on the leave-one-out panel — the honest statement of what the
    // 32× memory reduction costs on this fixture. The oracle recomputes
    // Hamming dimension-by-dimension (sign disagreement count), which
    // equals popcount of the packed xor by construction.
    "x74_binary_quant" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val per = Seq(100L, 200L, 300L, 400L).map { qid =>
          val corpus = e.filter(col("vec_id") =!= qid)
          val qv = e.filter(col("vec_id") === qid)
            .select(col("embedding").as("q_embedding"))
          val bin = Similarity.binaryTopK(corpus, qv, 10, prefilter = 40)
          val brute = Similarity.bruteForceTopK(corpus, qv, 10)
          bin.select(col("vec_id"))
            .join(brute.select(col("vec_id")), "vec_id")
            .agg(count(lit(1)).as("n_overlap"))
            .select(lit(qid).as("query_id"), col("n_overlap"),
              round(col("n_overlap") / 10.0, 2).as("recall_at_10"))
        }
        per.reduce(_.unionAll(_)).orderBy("query_id")
      },
      Some(binaryQuantOracle(Seq(100L, 200L, 300L, 400L), prefilter = 40))),

    // IVF drift tripwire — the incremental-append retrain trigger as a
    // standing gate (Similarity.assignmentDrift, the hook appendIvfIndex
    // runs on every wave): add-one-smoothed KL(batch || build) over list
    // assignments in integer micro-nats (the d46 per-term-rounding
    // discipline). Two synthetic waves against the full-corpus build
    // distribution: an in-distribution sample (every 7th vector — KL is
    // sampling noise, tripwire stays QUIET) and a drifted wave (vectors
    // from two lists only, the ingest-suddenly-concentrated shape — KL
    // is O(1) nats, tripwire FIRES). The oracle recomputes assignment,
    // both distributions, and every smoothed KL term in SQL.
    "x84_ivf_drift" -> QueryDef(
      (s, dir) => {
        import graft.operators.Similarity
        val e = t(s, dir, "embeddings")
        val cents = Similarity.seedCentroids(e, 16)
        val assigned = graft.operators.Layout.sizedCoalesce(
          Similarity.assignLists(e, cents)
            .select("vec_id", "list_id")).localCheckpoint()
        val buildDist = assigned.groupBy("list_id")
          .agg(count(lit(1)).as("n"))
        Seq(
          ("drifted", assigned.filter(col("list_id") <= 2)),
          ("in_dist", assigned.filter(col("vec_id") % 7 === 3)))
          .map { case (nm, b) =>
            Similarity.assignmentDrift(b.select("list_id"), buildDist, 16)
              .select(lit(nm).as("batch"), col("n_batch"),
                col("kl_micro"), col("retrain"))
          }.reduce(_.unionAll(_)).orderBy("batch")
      },
      Some(ivfDriftOracle(nlist = 16, retrainMicro = 500000L))),

    // ---- SemDeDup-style semantic deduplication (Similarity
    // .semanticDedup): k-means-cluster the corpus, then remove every
    // vector whose strongest EARLIER same-cluster neighbor exceeds the
    // cosine threshold (keep-lowest-id representative). Output is the
    // removal list with each dup's strongest earlier-neighbor sim.
    //
    // 100 TB: both quadratic escapes are closed (the x80/maxBucket
    // discipline, in BOTH engines so the gate stays hash-exact) —
    // k scales with the corpus (max(8, ceil(n/128)); at sf0.01 n=500
    // that IS 8, at sf0.1 it is 16, at 1 B vectors ~8 M clusters of
    // ~128) and each vector only pairs against its cluster's 256
    // lowest-id members, so pair volume is ≤ 256·n — linear — even
    // when skew piles everything into one mega-cluster. A 1 M-vector
    // probe measured capped vs uncapped pair volume
    // (AnnScale semdedup, historical (probe removed after 8bdcef0)); SCALE.md
    // has the counterfactual.
    "x87_semantic_dedup" -> QueryDef(
      (s, dir) => {
        graft.operators.Similarity
          .semanticDedup(t(s, dir, "embeddings"),
            targetSize = 128, repCap = 256, tau = 0.4)
          .orderBy("vec_id")
      },
      Some(semanticDedupOracle(targetSize = 128, repCap = 256,
        assignSteps = 2, tau = "0.4")))
  )

  /** Oracle for x87: the x27 k-means assignment (kmeansOracle verbatim,
    * nested as a CTE — with the seed count computed from the corpus,
    * mirroring the engine's k = max(8, ceil(n / targetSize))) joined
    * back to the raw embeddings for the within-cluster pairwise cosine;
    * the earlier-neighbor side is windowed to each cluster's `repCap`
    * lowest vec_ids (the engine's linear-pair-volume cap); a vector is
    * a dup when its best earlier representative exceeds tau (rounded
    * first, as the engine does).
    */
  private def semanticDedupOracle(targetSize: Int, repCap: Int,
                                  assignSteps: Int, tau: String): String = {
    val norm = (v: String) =>
      s"sqrt(list_reduce(list_prepend(0.0, list_transform($v, x -> x * x)), (a, b) -> a + b))"
    val kSql = "(SELECT greatest(8, CAST(ceil(count(*) / " +
      s"$targetSize.0) AS BIGINT)) FROM embeddings)"
    s"""WITH asg AS (
       |  ${kmeansOracle(0, assignSteps, kSql = kSql).replace("\n", "\n  ")}
       |),
       |ev AS (
       |  SELECT a.vec_id, a.cluster,
       |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM asg a JOIN embeddings e USING (vec_id)),
       |evn AS (
       |  SELECT vec_id, cluster, v, ${norm("v")} AS vn,
       |    row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rnk
       |  FROM ev),
       |pairs AS (
       |  SELECT b.vec_id, b.cluster,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1),
       |        i -> a.v[i] * b.v[i])), (x, y) -> x + y) / (a.vn * b.vn) AS sim
       |  FROM evn a JOIN evn b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE a.rnk <= $repCap)
       |SELECT vec_id, cluster, round(max(sim), 6) AS max_sim
       |FROM pairs GROUP BY vec_id, cluster
       |HAVING round(max(sim), 6) > $tau
       |ORDER BY vec_id""".stripMargin
  }

  /** Oracle for x84: assignment argmax (the x73 asg machinery), build +
    * wave distributions over all nlist lists (absent lists count 0 on
    * both sides — the smoothing must see them), add-one-smoothed KL
    * terms rounded to micro-nats each, summed per wave.
    */
  private def ivfDriftOracle(nlist: Int, retrainMicro: Long): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |cen AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
       |  FROM en ORDER BY vec_id LIMIT $nlist),
       |sims AS (
       |  SELECT en.vec_id, cen.cid,
       |    ${cosC("en.v", "cen.v", "en.vn", "cen.vn")} AS s
       |  FROM en, cen),
       |asg AS (
       |  SELECT sims.vec_id, min(cid) AS list_id FROM sims
       |  JOIN (SELECT vec_id AS v2, max(s) AS ms FROM sims GROUP BY 1) m
       |    ON sims.vec_id = m.v2 AND sims.s = m.ms
       |  GROUP BY sims.vec_id),
       |lists AS (
       |  SELECT CAST(unnest(range(1, ${nlist + 1})) AS BIGINT) AS list_id),
       |bld AS (SELECT list_id, count(*) AS cn FROM asg GROUP BY list_id),
       |tc AS (SELECT count(*) AS tc FROM asg),
       |waves AS (
       |  SELECT 'drifted' AS batch, list_id FROM asg WHERE list_id <= 2
       |  UNION ALL
       |  SELECT 'in_dist' AS batch, list_id FROM asg WHERE vec_id % 7 = 3),
       |bc AS (SELECT batch, list_id, count(*) AS bn FROM waves
       |       GROUP BY 1, 2),
       |tb AS (SELECT batch, count(*) AS tb FROM waves GROUP BY batch),
       |grid AS (SELECT tb.batch, tb.tb, lists.list_id FROM tb, lists),
       |j AS (
       |  SELECT grid.batch, grid.tb, grid.list_id,
       |    coalesce(bc.bn, 0) AS bn, coalesce(bld.cn, 0) AS cn
       |  FROM grid
       |  LEFT JOIN bc ON bc.batch = grid.batch
       |    AND bc.list_id = grid.list_id
       |  LEFT JOIN bld ON bld.list_id = grid.list_id),
       |terms AS (
       |  SELECT batch, tb,
       |    CAST(round((CAST(bn + 1 AS DOUBLE) / (tb + $nlist)) *
       |      ln((CAST(bn + 1 AS DOUBLE) / (tb + $nlist)) /
       |         (CAST(cn + 1 AS DOUBLE) / (tc.tc + $nlist))) * 1e6)
       |      AS BIGINT) AS term_micro
       |  FROM j, tc)
       |SELECT batch, CAST(max(tb) AS BIGINT) AS n_batch,
       |  CAST(sum(term_micro) AS BIGINT) AS kl_micro,
       |  sum(term_micro) > $retrainMicro AS retrain
       |FROM terms GROUP BY batch ORDER BY batch""".stripMargin
  }

  /** Oracle for x74: Hamming = count of sign-disagreeing dimensions
    * (identical to popcount of the packed-sign xor), prefilter by
    * (hamming, vec_id), exact rerank by 6dp-rounded cosine with vec_id
    * ties, overlap vs the brute-force top-10.
    */
  private def binaryQuantOracle(qids: Seq[Long], prefilter: Int): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    val blocks = qids.map { q =>
      s"""qq_$q AS (SELECT v, vn FROM en WHERE vec_id = $q),
         |cand_$q AS (
         |  SELECT en.vec_id FROM en, qq_$q qq
         |  WHERE en.vec_id <> $q
         |  ORDER BY len(list_filter(range(1, len(en.v) + 1),
         |    i -> (en.v[i] > 0) <> (qq.v[i] > 0))), en.vec_id
         |  LIMIT $prefilter),
         |bin_$q AS (
         |  SELECT en.vec_id FROM en JOIN cand_$q USING (vec_id), qq_$q qq
         |  ORDER BY round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |brute_$q AS (
         |  SELECT en.vec_id FROM en, qq_$q qq
         |  WHERE en.vec_id <> $q
         |  ORDER BY round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |ov_$q AS (
         |  SELECT CAST($q AS BIGINT) AS query_id, count(*) AS n_overlap
         |  FROM bin_$q JOIN brute_$q USING (vec_id))""".stripMargin
    }
    val union = qids.map(q =>
      s"SELECT query_id, CAST(n_overlap AS BIGINT) AS n_overlap, " +
        s"round(n_overlap / 10.0, 2) AS recall_at_10 FROM ov_$q")
      .mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |${blocks.mkString(",\n")}
       |$union
       |ORDER BY query_id""".stripMargin
  }

  /** Oracle for x73: full-corpus assignment + probe ranking (the index
    * is predicate-independent), label filter inside the probed scan,
    * then the rounded-cosine top-k with vec_id ties.
    */
  private def filteredAnnOracle(
      qid: Long, label: Int, nprobe: Int, k: Int): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, label, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |cen AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
       |  FROM en ORDER BY vec_id LIMIT 16),
       |sims AS (
       |  SELECT en.vec_id, cen.cid,
       |    ${cosC("en.v", "cen.v", "en.vn", "cen.vn")} AS s
       |  FROM en, cen),
       |asg AS (
       |  SELECT sims.vec_id, min(cid) AS list_id FROM sims
       |  JOIN (SELECT vec_id AS v2, max(s) AS ms FROM sims GROUP BY 1) m
       |    ON sims.vec_id = m.v2 AND sims.s = m.ms
       |  GROUP BY sims.vec_id),
       |pr AS (
       |  SELECT cen.cid FROM cen, (SELECT v, vn FROM en WHERE vec_id = $qid) qq
       |  ORDER BY ${cosC("cen.v", "qq.v", "cen.vn", "qq.vn")} DESC, cid
       |  LIMIT $nprobe)
       |SELECT en.vec_id, en.label,
       |  round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6) AS sim
       |FROM en JOIN asg USING (vec_id),
       |  (SELECT v, vn FROM en WHERE vec_id = $qid) qq
       |WHERE asg.list_id IN (SELECT cid FROM pr)
       |  AND en.label = $label AND en.vec_id <> $qid
       |ORDER BY sim DESC, en.vec_id
       |LIMIT $k""".stripMargin
  }

  /** Oracle for x72: the candidate pool once, then each greedy pick as
    * its own CTE pair (maxsim against everything selected so far, then
    * the rounded-score argmax with vec_id ties).
    */
  private def mmrOracle(k: Int, pool: Int): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    val steps = (2 to k).map { i =>
      val prev = s"sel${i - 1}"
      s"""m$i AS (
         |  SELECT c.vec_id, max(round(${cosC("c.v", "s.v", "c.vn", "s.vn")},
         |    6)) AS maxsim
         |  FROM cands c, $prev s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY c.vec_id),
         |s$i AS (
         |  SELECT c.vec_id,
         |    round(c.rel * 0.5 - m$i.maxsim * 0.5, 6) AS score, c.v, c.vn
         |  FROM cands c JOIN m$i USING (vec_id)
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM $prev
         |  UNION ALL SELECT $i AS rk, vec_id, score, v, vn FROM s$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |qq AS (SELECT v, vn FROM en WHERE vec_id = 0),
       |cands AS (
       |  SELECT en.vec_id,
       |    round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6) AS rel,
       |    en.v, en.vn
       |  FROM en, qq WHERE en.vec_id <> 0
       |  ORDER BY rel DESC, en.vec_id LIMIT $pool),
       |sel1 AS (
       |  SELECT 1 AS rk, vec_id, rel AS score, v, vn FROM cands
       |  ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(rk AS INTEGER) AS rk, vec_id, score FROM sel$k
       |ORDER BY rk""".stripMargin
  }

  /** Oracle for x71: one full-corpus nearest-centroid assignment (max
    * sim, min cid ties — `assignLists`), per-query probe ranking, then
    * the 6dp-rounded cosine threshold over the probed lists, self
    * excluded.
    */
  private def rangeSearchOracle(
      qids: Seq[Long], thr: String, nprobe: Int): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    val blocks = qids.map { q =>
      s"""pr_$q AS (
         |  SELECT cen.cid FROM cen, (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  ORDER BY ${cosC("cen.v", "qq.v", "cen.vn", "qq.vn")} DESC, cid
         |  LIMIT $nprobe),
         |res_$q AS (
         |  SELECT CAST($q AS BIGINT) AS query_id, en.vec_id,
         |    round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6) AS sim
         |  FROM en JOIN asg USING (vec_id),
         |    (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  WHERE asg.list_id IN (SELECT cid FROM pr_$q)
         |    AND en.vec_id <> $q
         |    AND round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6) >= $thr)"""
        .stripMargin
    }
    val union = qids.map(q => s"SELECT * FROM res_$q")
      .mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |cen AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
       |  FROM en ORDER BY vec_id LIMIT 16),
       |sims AS (
       |  SELECT en.vec_id, cen.cid,
       |    ${cosC("en.v", "cen.v", "en.vn", "cen.vn")} AS s
       |  FROM en, cen),
       |asg AS (
       |  SELECT sims.vec_id, min(cid) AS list_id FROM sims
       |  JOIN (SELECT vec_id AS v2, max(s) AS ms FROM sims GROUP BY 1) m
       |    ON sims.vec_id = m.v2 AND sims.s = m.ms
       |  GROUP BY sims.vec_id),
       |${blocks.mkString(",\n")}
       |$union
       |ORDER BY query_id, vec_id""".stripMargin
  }

  /** Oracle for x68: one unrolled float32-quantized Lloyd round (the
    * kmeansOracle discipline) builds the trained centroid table next to
    * the seed one; per panel query, IVF recall cells under BOTH
    * quantizers at equal nprobe, then the panel-mean comparison.
    */
  private def trainedRecallOracle(qids: Seq[Long], nprobe: Int): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    val normC = (v: String) =>
      s"sqrt(list_reduce(list_prepend(0.0, list_transform($v, x -> x * x)), (a, b) -> a + b))"
    val blocks = qids.map { q =>
      s"""qq_$q AS (SELECT v, vn FROM en WHERE vec_id = $q),
         |prs_$q AS (
         |  SELECT cid FROM cs, qq_$q
         |  ORDER BY ${cosC("cs.v", s"qq_$q.v", "cs.vn", s"qq_$q.vn")} DESC, cid
         |  LIMIT $nprobe),
         |prt_$q AS (
         |  SELECT cid FROM ct, qq_$q
         |  ORDER BY ${cosC("ct.v", s"qq_$q.v", "ct.vn", s"qq_$q.vn")} DESC, cid
         |  LIMIT $nprobe),
         |ivs_$q AS (
         |  SELECT en.vec_id FROM en JOIN asg USING (vec_id), qq_$q
         |  WHERE en.vec_id <> $q AND asg.cid IN (SELECT cid FROM prs_$q)
         |  ORDER BY round(${cosC("en.v", s"qq_$q.v", "en.vn", s"qq_$q.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |ivt_$q AS (
         |  SELECT en.vec_id FROM en JOIN asgt USING (vec_id), qq_$q
         |  WHERE en.vec_id <> $q AND asgt.cid IN (SELECT cid FROM prt_$q)
         |  ORDER BY round(${cosC("en.v", s"qq_$q.v", "en.vn", s"qq_$q.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |brute_$q AS (
         |  SELECT en.vec_id FROM en, qq_$q
         |  WHERE en.vec_id <> $q
         |  ORDER BY round(${cosC("en.v", s"qq_$q.v", "en.vn", s"qq_$q.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |ov_$q AS (
         |  SELECT CAST($q AS BIGINT) AS query_id,
         |    (SELECT count(*) FROM ivs_$q JOIN brute_$q USING (vec_id)) AS n_seed,
         |    (SELECT count(*) FROM ivt_$q JOIN brute_$q USING (vec_id)) AS n_trained)""".stripMargin
    }
    val union = qids.map(q => s"SELECT * FROM ov_$q").mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v, ${normC("v")} AS vn FROM e),
       |cs AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
       |  FROM en ORDER BY vec_id LIMIT 16),
       |asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT en.vec_id, cs.cid,
       |      row_number() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosC("en.v", "cs.v", "en.vn", "cs.vn")} DESC,
       |          cs.cid) AS rn
       |    FROM en CROSS JOIN cs) WHERE rn = 1),
       |m1 AS (
       |  SELECT cid, list(CAST(mv AS DOUBLE) ORDER BY i) AS v FROM (
       |    SELECT asg.cid, i, CAST(avg(en.v[i]) AS FLOAT) AS mv
       |    FROM asg JOIN en USING (vec_id),
       |      unnest(generate_series(1, len(en.v))) AS g(i)
       |    GROUP BY asg.cid, i) mm GROUP BY cid),
       |ct AS (
       |  SELECT cs.cid, coalesce(m1.v, cs.v) AS v,
       |    coalesce(${normC("m1.v")}, cs.vn) AS vn
       |  FROM cs LEFT JOIN m1 USING (cid)),
       |asgt AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT en.vec_id, ct.cid,
       |      row_number() OVER (PARTITION BY en.vec_id
       |        ORDER BY ${cosC("en.v", "ct.v", "en.vn", "ct.vn")} DESC,
       |          ct.cid) AS rn
       |    FROM en CROSS JOIN ct) WHERE rn = 1),
       |${blocks.mkString(",\n")}
       |SELECT query_id, n_seed, n_trained,
       |  avg(n_trained) OVER () >= avg(n_seed) OVER () AS trained_ge_seed
       |FROM ($union)
       |ORDER BY query_id""".stripMargin
  }

  /** Oracle builder for x66: per (query, nprobe) IVF recall cells, then
    * the mean-recall curve by nprobe. Shares x65's machinery — the
    * assignment/brute CTEs are per QUERY; probes/pruned-top-k per cell. */
  private def nprobeSweepOracle(qids: Seq[Long], nprobes: Seq[Int]): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    val perQuery = qids.map { q =>
      s"""sims_$q AS (
         |  SELECT en.vec_id, cen.cid,
         |    ${cosC("en.v", "cen.v", "en.vn", "cen.vn")} AS s
         |  FROM en, cen WHERE en.vec_id <> $q),
         |best_$q AS (
         |  SELECT sims_$q.vec_id, min(cid) AS list_id FROM sims_$q
         |  JOIN (SELECT vec_id AS v2, max(s) AS ms FROM sims_$q GROUP BY 1) m
         |    ON sims_$q.vec_id = m.v2 AND sims_$q.s = m.ms
         |  GROUP BY sims_$q.vec_id),
         |cord_$q AS (
         |  SELECT cen.cid, row_number() OVER (ORDER BY
         |      ${cosC("cen.v", "qq.v", "cen.vn", "qq.vn")} DESC, cid)
         |    AS prank
         |  FROM cen, (SELECT v, vn FROM en WHERE vec_id = $q) qq),
         |brute_$q AS (
         |  SELECT en.vec_id FROM en,
         |    (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  WHERE en.vec_id <> $q
         |  ORDER BY round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10)""".stripMargin
    }
    val perCell = for (q <- qids; np <- nprobes) yield
      s"""ivf_${q}_$np AS (
         |  SELECT en.vec_id FROM en
         |  JOIN best_$q USING (vec_id),
         |    (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  WHERE best_$q.list_id IN
         |    (SELECT cid FROM cord_$q WHERE prank <= $np)
         |  ORDER BY round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |ov_${q}_$np AS (
         |  SELECT $np AS nprobe, count(*) AS n_overlap
         |  FROM ivf_${q}_$np JOIN brute_$q USING (vec_id))""".stripMargin
    val union = (for (q <- qids; np <- nprobes) yield
      s"SELECT nprobe, n_overlap FROM ov_${q}_$np")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |cen AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
       |  FROM en ORDER BY vec_id LIMIT 16),
       |${(perQuery ++ perCell).mkString(",\n")}
       |SELECT nprobe, round(avg(n_overlap) / 10.0, 3) AS mean_recall
       |FROM ($union)
       |GROUP BY nprobe ORDER BY nprobe""".stripMargin
  }

  /** Oracle builder for x65: recomputes ivfTopK (assignment, probes,
    * pruned top-k) and brute top-k per query id, then the overlap. */
  private def ivfRecallOracle(qids: Seq[Long]): String = {
    def cosC(v: String, c: String, vn: String, cn: String) =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1), " +
        s"i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)"
    val blocks = qids.map { q =>
      s"""sims_$q AS (
         |  SELECT en.vec_id, cen.cid,
         |    ${cosC("en.v", "cen.v", "en.vn", "cen.vn")} AS s
         |  FROM en, cen WHERE en.vec_id <> $q),
         |best_$q AS (
         |  SELECT sims_$q.vec_id, min(cid) AS list_id FROM sims_$q
         |  JOIN (SELECT vec_id AS v2, max(s) AS ms FROM sims_$q GROUP BY 1) m
         |    ON sims_$q.vec_id = m.v2 AND sims_$q.s = m.ms
         |  GROUP BY sims_$q.vec_id),
         |pr_$q AS (
         |  SELECT cen.cid FROM cen, (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  ORDER BY ${cosC("cen.v", "qq.v", "cen.vn", "qq.vn")} DESC, cid
         |  LIMIT 4),
         |ivf_$q AS (
         |  SELECT en.vec_id FROM en
         |  JOIN best_$q USING (vec_id),
         |    (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  WHERE best_$q.list_id IN (SELECT cid FROM pr_$q)
         |  ORDER BY round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |brute_$q AS (
         |  SELECT en.vec_id FROM en,
         |    (SELECT v, vn FROM en WHERE vec_id = $q) qq
         |  WHERE en.vec_id <> $q
         |  ORDER BY round(${cosC("en.v", "qq.v", "en.vn", "qq.vn")}, 6)
         |    DESC, en.vec_id
         |  LIMIT 10),
         |ov_$q AS (
         |  SELECT CAST($q AS BIGINT) AS query_id, count(*) AS n_overlap
         |  FROM ivf_$q JOIN brute_$q USING (vec_id))""".stripMargin
    }
    val union = qids.map(q =>
      s"SELECT query_id, CAST(n_overlap AS BIGINT) AS n_overlap, " +
        s"round(n_overlap / 10.0, 2) AS recall_at_10 FROM ov_$q")
      .mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |en AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS vn
       |  FROM e),
       |cen AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, v, vn
       |  FROM en ORDER BY vec_id LIMIT 16),
       |${blocks.mkString(",\n")}
       |$union
       |ORDER BY query_id""".stripMargin
  }

  /** Unrolled Lloyd's k-means oracle: `assignSteps` assignment rounds
    * (assignment i uses centroids c_{i-1}; c_i is the float32-quantized
    * per-dimension mean of assignment i, keeping c_{i-1}'s row for empty
    * clusters — the exact mirror of Similarity.kmeansCentroids). Output
    * is the FINAL assignment (vec_id, cluster): all-integer, so the gate
    * compares the full clustering decision, not rounded geometry.
    */
  private def kmeansOracle(
      k: Int, assignSteps: Int,
      finalSelect: String = "en.vec_id, CAST(fin.cid AS BIGINT) AS cluster",
      finalWhere: String = "",
      kSql: String = null): String = {
    // seed predicate: a literal k, or a corpus-derived SQL expression
    // (the x87 scaled-k path — must mirror the engine's
    // max(8, ceil(n / targetSize)) exactly)
    val kPred = Option(kSql).getOrElse(k.toString)
    def cos(v: String, c: String, vn: String, cn: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, len($v) + 1),
         |      i -> $v[i] * $c[i])), (a, b) -> a + b) / ($vn * $cn)""".stripMargin
    val norm = (v: String) =>
      s"sqrt(list_reduce(list_prepend(0.0, list_transform($v, x -> x * x)), (a, b) -> a + b))"
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""e AS (
         |  SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |en AS (SELECT vec_id, v, ${norm("v")} AS vn FROM e),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c,
         |    ${norm("v")} AS cn
         |  FROM e WHERE vec_id < $kPred)""".stripMargin)
    for (it <- 1 until assignSteps) {
      val p = s"c${it - 1}"
      parts += s"""a$it AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT en.vec_id, $p.cid,
         |      row_number() OVER (PARTITION BY en.vec_id
         |        ORDER BY ${cos("en.v", s"$p.c", "en.vn", s"$p.cn")} DESC,
         |          $p.cid) AS rn
         |    FROM en CROSS JOIN $p) WHERE rn = 1)""".stripMargin
      parts += s"""m$it AS (
         |  SELECT cid, list(CAST(mv AS DOUBLE) ORDER BY i) AS c FROM (
         |    SELECT a$it.cid, i, CAST(avg(en.v[i]) AS FLOAT) AS mv
         |    FROM a$it JOIN en USING (vec_id),
         |      unnest(generate_series(1, len(en.v))) AS g(i)
         |    GROUP BY a$it.cid, i) mm GROUP BY cid)""".stripMargin
      parts += s"""c$it AS (
         |  SELECT p.cid, coalesce(n.c, p.c) AS c,
         |    coalesce(${norm("n.c")}, p.cn) AS cn
         |  FROM $p p LEFT JOIN m$it n USING (cid))""".stripMargin
    }
    val last = s"c${assignSteps - 1}"
    s"""WITH ${parts.mkString(",\n")}
       |SELECT $finalSelect FROM en,
       |  LATERAL (SELECT $last.cid,
       |      ${cos("en.v", s"$last.c", "en.vn", s"$last.cn")} AS s
       |    FROM $last ORDER BY s DESC, $last.cid LIMIT 1) fin
       |$finalWhere
       |ORDER BY en.vec_id""".stripMargin
  }
}
