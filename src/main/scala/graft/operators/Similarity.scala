package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, same contract:
  *   - `bruteForceTopK`: one narrow pass + TakeOrdered — the exact baseline;
  *     at 100 TB it is a full scan but ZERO shuffle (query vec broadcast).
  *   - `lshTopK`: random-hyperplane signature buckets prune the scan to
  *     candidate buckets — the scale path; recall < 1.0 by construction and
  *     tunable with planes/probes.
  *
  * Embedding-cosine NEAR-DUP (`cosineNearDupPairs`) reuses the hyperplane
  * buckets for pair generation, like Dedup's band join.
  */
object Similarity {

  /** sum_i a[i]*b[i] in double, left-to-right (parity discipline) — the
    * codegen'd VecDot kernel, bit-identical to the zip_with+aggregate tree
    * it replaced.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecCosine(a, b)

  /** cosine for ranking/thresholding: a zero-norm side is 0/0 = NaN, and
    * Spark orders NaN ABOVE every double (and NaN >= t is true), so raw
    * NaNs would top every top-k and pass every near-dup threshold. Map
    * them to -1 (below any real cosine) instead.
    */
  private def cosineRank(a: Column, b: Column): Column =
    nanvl(cosine(a, b), lit(-1.0d))

  /** Packed sign-bit signature of `emb` against `planes` deterministic
    * hyperplanes (independent Rademacher ±1 entries drawn from xxhash64 —
    * see VectorUtil.planes) — one codegen'd kernel call per row instead
    * of a 16-plane expression tree.
    */
  def hyperplaneSig(emb: Column, planes: Int): Column =
    graft.functions.VectorFunctions.hyperplaneSig(emb, planes)

  /** Exact top-k by cosine against one query vector (as a 1-row frame with
    * column `q_embedding`). Broadcast + TakeOrderedAndProject: no shuffle.
    */
  def bruteForceTopK(embeddings: DataFrame, query: DataFrame, k: Int): DataFrame =
    embeddings
      .crossJoin(broadcast(query))
      .withColumn("sim", round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)

  /** LSH top-k: scan only rows whose hyperplane signature is Hamming-close
    * to the query's (<= probes differing bits). Recall is approximate.
    */
  def lshTopK(embeddings: DataFrame, query: DataFrame, k: Int,
              planes: Int = 16, probes: Int = 4): DataFrame = {
    val sigged = embeddings
      .withColumn("sig", hyperplaneSig(col("embedding"), planes))
    val qSigged = query.withColumn("q_sig", hyperplaneSig(col("q_embedding"), planes))
    sigged
      .crossJoin(broadcast(qSigged))
      .filter(bit_count(col("sig").bitwiseXOR(col("q_sig"))) <= probes)
      .withColumn("sim", round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** 1-bit (sign) quantization of up to 64 dims into ONE packed long:
    * bit i set iff embedding[i] > 0. This is the asymmetric
    * binary-quantization signature real vector stores ship (8 bytes per
    * vector vs 256 for float32×64 — a 32× memory/scan reduction), and
    * unlike `hyperplaneSig` it quantizes the DATA axes, not random
    * projections, so the Hamming distance between two packed words is
    * exactly the count of sign-disagreeing dimensions.
    */
  def signBits(embCol: String): Column = expr(
    // >64 dims would WRAP the shift count (shiftleft masks to 6 bits),
    // silently OR-ing unrelated dimensions into the same bit and
    // collapsing recall with no error — fail loudly instead
    s"IF(size($embCol) <= 64, " +
      s"aggregate(transform($embCol, (x, i) -> " +
      "IF(CAST(x AS DOUBLE) > 0.0D, shiftleft(CAST(1 AS BIGINT), i), " +
      "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a | b), " +
      "raise_error('signBits supports at most 64 dims; got ' || " +
      s"CAST(size($embCol) AS STRING)))")

  /** Binary-quantized top-k: Hamming prefilter over the packed sign
    * word (`bit_count(xor)` — one codegen'd instruction pair per row on
    * an 8-byte column) keeps the best `prefilter` candidates, then ONLY
    * those are re-ranked with exact cosine. Both stages are
    * TakeOrderedAndProject (no shuffle); at 100 TB the prefilter scan
    * touches 8 bytes/vector instead of the full float column, and the
    * exact rerank reads `prefilter` rows, not the corpus. Deterministic:
    * Hamming ties break by vec_id, rerank rounds cosine to 6dp (the
    * x41/x65 oracle discipline). Recall < 1.0 by construction — gated
    * with the x74 overlap-vs-brute entry.
    *
    * `query` must be exactly one row: the prefilter and final `limit`
    * are global, so a multi-row frame would merge top-k across queries.
    * This is enforced in-plan and surfaces at EXECUTION time as a
    * SparkException (wrapped assert_true) — multi-query callers loop
    * per query row. Same contract applies to [[binaryIndexTopK]].
    */
  /** The Hamming prefilter and final `limit` are GLOBAL, so a multi-row
    * query frame would silently merge top-k across queries — enforce the
    * single-query contract loudly (multi-query callers loop per query,
    * the x66-sweep discipline). The check lives INSIDE the plan: a
    * global-window count over the (broadcast-tiny) query frame feeds
    * `assert_true`, so it costs nothing beyond the broadcast build the
    * call already pays — an eager `query.count()` would force a
    * near-full corpus scan when the query is a 1-row filter over a
    * large table (x74 and the CLI; also
    * AnnScale, historical (probe removed after 8bdcef0)).
    * The partition key `pmod(xxhash64(col), 1)` is 0 for EVERY row
    * (still one global partition — a per-row-varying key would split a
    * multi-row frame into count-1 partitions and defeat the assert)
    * but is NOT foldable, so Spark 4's EliminateWindowPartitions rule
    * can't strip it back to an empty spec — which is what a plain
    * `lit(0)` becomes, re-triggering the "No Partition Defined for
    * Window" WARN this key exists to silence in test/bench logs.
    */
  private def singleQueryChecked(query: DataFrame, op: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    query
      .withColumn("__nq", count(lit(1)).over(
        Window.partitionBy(pmod(xxhash64(col(query.columns.head)), lit(1)))
          .rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(isnull(assert_true(col("__nq") === 1,
        lit(s"$op is single-query (global prefilter+limit would merge " +
          "top-k across queries); call once per query row"))))
      .drop("__nq")
  }

  def binaryTopK(embeddings: DataFrame, query: DataFrame, k: Int,
                 prefilter: Int = 40): DataFrame = {
    // a precomputed `bits` column (the persisted-index shape: pack once
    // at build time, 8 bytes/vector) is reused; otherwise pack inline
    val packed =
      if (embeddings.columns.contains("bits")) embeddings
      else embeddings.withColumn("bits", signBits("embedding"))
    val q = singleQueryChecked(query, "binaryTopK")
      .withColumn("q_bits", signBits("q_embedding"))
    val cands = packed.crossJoin(broadcast(q))
      .withColumn("hamming",
        bit_count(col("bits").bitwiseXOR(col("q_bits"))))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(prefilter)
    cands
      .withColumn("sim",
        round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("sim"), col("hamming"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer: seeds =
    * first `k` vectors by id, then `iters` rounds of distributed
    * assign-and-average. Assignment is a narrow argmax map against literal
    * centroids (no shuffle); the recompute is one (list, position) agg
    * whose output is k×dim rows — trivially collectible. This is the
    * production shape at 100 TB: train on the full set (or a sample — just
    * add .sample) with one pass per iteration.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int,
                      iters: Int = 3): Array[Array[Float]] = {
    var cents: Array[Array[Float]] = embeddings
      .orderBy("vec_id").limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    for (_ <- 1 to iters) {
      // assignment via assignClusters: the identical argmax in both its
      // arms, so k past the literal-expression limit (SemDeDup's
      // scaled k) trains through the broadcast-join path
      val assigned = assignClusters(embeddings, cents)
      val means = assigned
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy("cluster", "pos").agg(avg("col").as("m"))
        .collect()
        .groupBy(_.getLong(0).toInt)
        .map { case (lid, rows) =>
          lid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)).toArray).toArray
    }
    cents
  }

  /** SemDeDup-style semantic deduplication: k-means-cluster the corpus,
    * then flag every vector whose strongest EARLIER same-cluster
    * neighbor exceeds `tau` cosine (keep-lowest-id representative).
    * Returns the removal list (vec_id, cluster, max_sim).
    *
    * 100 TB scale discipline (the x80/maxBucket rule — every pair
    * generator bounds its bucket):
    *  - `k` GROWS with the corpus: k = max(8, ceil(n / targetSize)),
    *    the SemDeDup recipe (k ~ n / target-cluster-size), so average
    *    cluster size stays ~targetSize no matter how big n gets. The
    *    assignment is still the shuffle-free argmax map against k×dim
    *    literal centroids.
    *  - mega-clusters are WINDOWED: only each cluster's `repCap`
    *    lowest-id members act as the earlier-neighbor (representative)
    *    side of the pairwise join, so pair volume is ≤ n·repCap —
    *    LINEAR in n — instead of Σ C(|cluster|,2) ≈ n·targetSize/2
    *    worst-cased by skew into n²/2. Later members still dedup
    *    against the cluster's earliest repCap representatives (the
    *    keep-lowest-id survivors by construction); what the cap drops
    *    is only dup-pairs BOTH past the window — measured in
    *    SCALE.md (by AnnScale, historical (probe removed after 8bdcef0)).
    *    The rank itself is one
    *    (cluster, vec_id) window sort — O(m log m) per cluster,
    *    spillable, no quadratic term.
    * Float path: the established double-of-float left-to-right fold
    * (`VectorFunctions.vecCosine`) rounded to 6dp before the threshold
    * compare — bit-identical to the DuckDB oracle.
    */
  def semanticDedup(embeddings: DataFrame, targetSize: Int = 128,
                    repCap: Int = 256, tau: Double = 0.4,
                    iters: Int = 1): DataFrame =
    semanticDedupState(embeddings, targetSize, repCap, tau, iters)._2

  /** 0-based nearest-centroid assignment with x87's exact argmax
    * semantics (highest cosine, lowest cluster id on ties): the ONE
    * cluster definition both the one-shot pass and the wave path below
    * must share, or wave vectors would land in different clusters than
    * the one-shot oracle puts them.
    *
    * Two arms, bit-identical results (spec-pinned):
    *  - k ≤ 128: the literal-centroid argmax array expression — zero
    *    shuffle, whole-stage codegen, the gate path;
    *  - k > 128: codegen cannot hold k×dim literals (SemDeDup's
    *    k ~ n/targetSize reaches thousands of clusters at 1 M+
    *    vectors), so the centroids become a BROADCAST k-row frame and
    *    the argmax a max over (sim, -cid) structs grouped by vec_id.
    *    The k candidate rows per vector collapse map-side (partial
    *    agg), but the final agg still exchanges the n surviving rows —
    *    one corpus-sized shuffle per assignment pass, the price of the
    *    grouped argmax. The n×k cosine work is the same either way
    *    (that IS k-means assignment cost). This arm requires UNIQUE
    *    vec_ids — a duplicate would silently collapse to one row here
    *    while the literal arm keeps both. The check lives at the
    *    dedup entry points (semanticDedupState/Wave verify row
    *    conservation on their checkpointed assignment), NOT here:
    *    kmeansCentroids calls this once per iteration and a per-call
    *    count + checkpoint would re-materialize the corpus per round
    *    for a check the final assignment repeats anyway.
    * `vecCosine` evaluates the identical double-of-float fold on
    * identical inputs in both arms, and the struct ordering reproduces
    * array_position's first-max-wins tie rule, so the arms agree
    * bit-for-bit.
    */
  def assignClusters(embeddings: DataFrame,
                     cents: Array[Array[Float]]): DataFrame =
    if (cents.length <= 128) {
      val sims = array(cents.map(c =>
        graft.functions.VectorFunctions.vecCosine(col("embedding"),
          array(c.map(lit(_)).toSeq: _*))).toSeq: _*)
      embeddings.withColumn("cluster",
          (array_position(sims, array_max(sims)) - 1).cast("long"))
        .select(col("vec_id"), col("cluster"), col("embedding"))
    } else {
      val spark = embeddings.sparkSession
      import spark.implicits._
      val centsDf = cents.zipWithIndex
        .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("_gr_cid", "_gr_cent")
      embeddings.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(centsDf))
        .select(col("vec_id"), col("embedding"),
          struct(
            graft.functions.VectorFunctions
              .vecCosine(col("embedding"), col("_gr_cent")).as("s"),
            (-col("_gr_cid")).as("nc")).as("_gr_cand"))
        .groupBy("vec_id")
        .agg(max(col("_gr_cand")).as("_gr_best"),
          first(col("embedding")).as("embedding"))
        .select(col("vec_id"),
          (-col("_gr_best.nc")).cast("long").as("cluster"),
          col("embedding"))
    }

  /** [[semanticDedup]] exposing the state an incremental corpus needs
    * to extend the pass: the trained centroids and the representative
    * window (each cluster's `repCap` lowest-id members — kept or
    * removed: x87's earlier-neighbor side is the id window, not the
    * survivor set). Returns (centroids, removal list, reps) where reps
    * is (cluster, rep_rank 1-based, vec_id, embedding).
    */
  def semanticDedupState(embeddings: DataFrame, targetSize: Int = 128,
                         repCap: Int = 256, tau: Double = 0.4,
                         iters: Int = 1)
      : (Array[Array[Float]], DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val n = embeddings.count()
    val k = math.max(8L, math.ceil(n.toDouble / targetSize).toLong).toInt
    val cents = kmeansCentroids(embeddings, k, iters)
    // asg feeds reps AND both sides of the pairwise join — checkpoint
    // once so the n×k assignment isn't re-run per consumer (the x61
    // multi-consumer rule; semanticDedupWave does the same). Row
    // conservation doubles as the join-arm uniqueness check: a
    // duplicate vec_id would have collapsed in the grouped argmax.
    val asg = assignClusters(embeddings, cents).localCheckpoint()
    require(asg.count() == n,
      "semanticDedup requires unique vec_ids — duplicates collapse in " +
        "the large-k grouped argmax")
    val ranked = asg.withColumn("rnk", row_number().over(
      Window.partitionBy("cluster").orderBy("vec_id")))
    val reps = ranked.filter(col("rnk") <= repCap)
      .select(col("cluster"), col("rnk").cast("int").as("rep_rank"),
        col("vec_id"), col("embedding"))
    val a = reps.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val removal = a.join(asg, Seq("cluster"))
      .filter(col("a_id") < col("vec_id"))
      .withColumn("sim", graft.functions.VectorFunctions
        .vecCosine(col("a_emb"), col("embedding")))
      .groupBy("vec_id", "cluster")
      .agg(round(max("sim"), 6).as("max_sim"))
      .filter(col("max_sim") > tau)
      .select(col("vec_id"), col("cluster"), col("max_sim"))
    (cents, removal, reps)
  }

  /** Incremental (wave) semantic dedup against a committed corpus's
    * persisted state — the sequential extension of the one-shot pass:
    * wave vectors assign to the SAME persisted centroids, and a wave
    * vector is a dup when its strongest EARLIER-IN-COMMIT-ORDER window
    * neighbor exceeds tau — committed reps (always earlier) plus
    * earlier same-wave vectors still inside the cluster's repCap union
    * window. Committed docs always win (the PrepareRun protocol); a
    * wave vector can never evict one. Returns (removal, newReps) where
    * newReps are the wave's window entrants (rep_rank continuing after
    * each cluster's committed count) to append for the next wave.
    *
    * 100 TB: assignment is the shuffle-free argmax map; both pair
    * generators are bounded — vs-committed is wave_n × ≤repCap reps
    * per cluster, wave-internal is capped by the union window — so a
    * wave costs O(wave · repCap) pairs, never O(wave²).
    */
  def semanticDedupWave(wave: DataFrame, cents: Array[Array[Float]],
                        reps: DataFrame, repCap: Int = 256,
                        tau: Double = 0.4): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val asg = assignClusters(wave, cents).localCheckpoint()
    require(asg.count() == wave.count(),
      "semanticDedupWave requires unique vec_ids — duplicates collapse " +
        "in the large-k grouped argmax")
    val priorCnt = reps.groupBy("cluster")
      .agg(count(lit(1)).as("_prior_reps"))
    val ranked = asg.withColumn("_rnk", row_number().over(
        Window.partitionBy("cluster").orderBy("vec_id")))
      .join(broadcast(priorCnt), Seq("cluster"), "left")
      .withColumn("rep_rank",
        (col("_rnk") + coalesce(col("_prior_reps"), lit(0L))).cast("int"))
      .drop("_rnk", "_prior_reps")
    val vsCommitted = reps
      .select(col("cluster"), col("embedding").as("a_emb"))
      .join(asg, Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        graft.functions.VectorFunctions
          .vecCosine(col("a_emb"), col("embedding")).as("sim"))
    val aside = ranked.filter(col("rep_rank") <= repCap)
      .select(col("cluster"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
    val vsWave = aside.join(asg, Seq("cluster"))
      .filter(col("a_id") < col("vec_id"))
      .select(col("vec_id"), col("cluster"),
        graft.functions.VectorFunctions
          .vecCosine(col("a_emb"), col("embedding")).as("sim"))
    val removal = vsCommitted.unionAll(vsWave)
      .groupBy("vec_id", "cluster")
      .agg(round(max("sim"), 6).as("max_sim"))
      .filter(col("max_sim") > tau)
      .select(col("vec_id"), col("cluster"), col("max_sim"))
    val newReps = ranked.filter(col("rep_rank") <= repCap)
      .select(col("cluster"), col("rep_rank"), col("vec_id"),
        col("embedding"))
    (removal, newReps)
  }

  /** Driver-side id-ordered seed centroids (the trainIters=0 coarse
    * quantizer) — exposed so multi-query/multi-nprobe sweeps collect the
    * nlist×dim floats ONCE instead of once per cell (the x66 lesson).
    */
  def seedCentroids(embeddings: DataFrame, nlist: Int): Array[Array[Float]] =
    embeddings
      .orderBy("vec_id").limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)

  /** Nearest-centroid assignment: adds `list_id` (1-based, lowest-centroid
    * ties — matches `array_position` and the oracle's ORDER BY). A narrow
    * argmax map against literal centroids: ZERO shuffle, and a sweep can
    * `localCheckpoint` the result and reuse it across every nprobe cell.
    */
  def assignLists(embeddings: DataFrame, cents: Array[Array[Float]]): DataFrame = {
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    def centCol(c: Array[Float]): Column = array(c.map(lit(_)).toSeq: _*)
    // cosine of emb against each centroid, as one codegen'd array expr
    def simsTo(emb: Column): Column = array(cents.zip(centNorms).map {
      case (c, cn) => dot(emb, centCol(c)) / (norm(emb) * lit(cn))
    }.toSeq: _*)
    embeddings.withColumn("list_id",
      array_position(simsTo(col("embedding")), array_max(simsTo(col("embedding")))))
  }

  /** Full probe ranking of query vector `q` against the centroids: every
    * 1-based list id, best-first, ties ascending id (stable sort — the
    * oracle's ORDER BY sim DESC, cid). Driver-side arithmetic on
    * nlist×dim floats; an nprobe sweep takes prefixes of ONE ranking
    * instead of re-ranking per cell.
    */
  def probeRanking(cents: Array[Array[Float]], q: Array[Float]): Array[Long] = {
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val qSims = cents.zip(centNorms).map { case (c, cn) =>
      c.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum / (cn * qn)
    }
    qSims.zipWithIndex.sortBy(-_._1).map { case (_, i) => (i + 1).toLong }
  }

  /** Top-k over a pre-assigned frame (see `assignLists`) probing exactly
    * `probes`: list pruning + exact scan of the survivors. The sweep-shaped
    * half of `ivfTopK` — same result, but assignment cost is paid once.
    */
  def ivfTopKPreAssigned(assigned: DataFrame, query: DataFrame, k: Int,
                         probes: Seq[Long]): DataFrame =
    bruteForceTopK(
      assigned
        .filter(col("list_id").isin(probes: _*))
        .drop("list_id"),
      query, k)

  /** IVF radius (range) search: every vector whose cosine to the query
    * is >= `threshold`, scanning only the given probe lists — the "all
    * near-duplicates of this example" primitive (top-k asks for the k
    * best; curation thresholds ask for ALL matches above a bar, however
    * many there are). Takes a pre-assigned frame (`assignLists`) so a
    * multi-query batch pays the assignment once. Similarity is rounded
    * to 6dp BEFORE thresholding (the cross-engine float discipline), and
    * zero-norm NaNs rank as -1 (below any threshold). Recall < 1.0 by
    * construction — a true match in an unprobed list is missed; the
    * probe count tunes it exactly as in top-k.
    *
    * 100 TB shape: list pruning is partition pruning against a persisted
    * index layout (writeIvfIndex); the scan that remains is a narrow
    * filter — no shuffle, no k-sized heap, output size driven by the
    * data (callers wanting a cap compose `.limit`).
    */
  def ivfRangeSearch(assigned: DataFrame, query: DataFrame,
                     threshold: Double, probes: Seq[Long]): DataFrame =
    assigned
      .filter(col("list_id").isin(probes: _*))
      .crossJoin(broadcast(query))
      .withColumn("sim",
        round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .filter(col("sim") >= threshold)
      .select(col("vec_id"), col("label"), col("sim"))

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    * over a BOUNDED candidate pool `(vec_id, rel, embedding)`: greedily
    * pick k items maximizing `lambdaRel·rel − (1−lambdaRel)·max sim to
    * already-selected` — the diversity re-rank step between retrieval
    * and prompt assembly in a RAG/curation stack. Step 1 is pure
    * relevance (nothing selected yet). Engine-exact: `rel` arrives
    * 6dp-rounded from the retriever, pairwise sims round to 6dp, the
    * combined score rounds to 6dp BEFORE the argmax, ties break on
    * vec_id — so an unrolled SQL oracle reproduces every pick.
    *
    * 100 TB shape: MMR is inherently pool-bounded — the distributed
    * work is candidate GENERATION (ANN top-N upstream); this re-rank
    * touches N·k pairs of a broadcast-sized pool. The k driver-side
    * 1-row collects are the bounded-scalar pattern the selection
    * semantics require (each pick conditions the next step's scores).
    */
  def mmrRerank(candidates: DataFrame, k: Int,
                lambdaRel: Double = 0.5): DataFrame = {
    val spark = candidates.sparkSession
    val cand = candidates.select(col("vec_id").cast("long").as("vec_id"),
      col("rel").cast("double").as("rel"), col("embedding"))
      .localCheckpoint()
    var selected = Vector.empty[(Int, Long, Double)] // (rk, vec_id, score)
    for (step <- 1 to k) {
      val chosenIds = selected.map(_._2)
      val remaining =
        if (chosenIds.isEmpty) cand
        else cand.filter(!col("vec_id").isin(chosenIds: _*))
      val scored =
        if (step == 1) remaining.withColumn("score", col("rel"))
        else {
          val sel = broadcast(cand.filter(col("vec_id").isin(chosenIds: _*))
            .select(col("embedding").as("s_emb")))
          remaining.crossJoin(sel)
            .groupBy("vec_id", "rel")
            .agg(max(round(cosineRank(col("embedding"), col("s_emb")), 6))
              .as("maxsim"))
            .withColumn("score", round(col("rel") * lambdaRel
              - col("maxsim") * (1 - lambdaRel), 6))
        }
      scored.orderBy(col("score").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("score")).collect()
        .headOption.foreach { r =>
          selected :+= ((step, r.getLong(0), r.getDouble(1)))
        }
    }
    import spark.implicits._
    selected.toDF("rk", "vec_id", "score")
  }

  /** IVF (inverted-file) top-k: vectors are assigned to the nearest of
    * `nlist` centroids (the "coarse quantizer"); a query scans only the
    * `nprobe` closest lists. `trainIters` > 0 runs k-means refinement;
    * 0 keeps the deterministic id-ordered seed sample. The plumbing
    * (driver-side tiny centroid set → literal expressions → narrow
    * assignment map, NO shuffle, list pruning before the scan) is the
    * production shape. Recall < 1.0 by construction, tunable with nprobe.
    */
  def ivfTopK(embeddings: DataFrame, query: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, trainIters: Int = 0): DataFrame = {
    // tiny driver-side centroid set (nlist × dim floats)
    val cents: Array[Array[Float]] =
      if (trainIters > 0) kmeansCentroids(embeddings, nlist, trainIters)
      else seedCentroids(embeddings, nlist)
    // query's probe lists, computed on the driver (1-row query)
    val q = query.select(col("q_embedding")).collect()(0).getSeq[Float](0).toArray
    val probes = probeRanking(cents, q).take(nprobe)
    ivfTopKPreAssigned(assignLists(embeddings, cents), query, k,
      probes.toIndexedSeq)
  }

  /** IVF + PQ two-stage ANN — the production billion-vector shape
    * (Jégou et al. 2011's IVFADC): the coarse quantizer prunes the scan
    * to `nprobe` of `nlist` inverted lists (at 100 TB with a persisted
    * index this is FILESYSTEM partition pruning — see writeIvfIndex),
    * the probed lists rank by ADC against 8-byte PQ codes (no
    * full-precision vectors touched), and only the `shortlistFactor`×k
    * ADC survivors are re-ranked with exact cosine. Deterministic
    * end-to-end: centroids = first `nlist` vectors by id, codebook =
    * first `nCodes`, ADC rounded to 6dp before the shortlist ordering,
    * ties broken by vec_id — so a SQL oracle can recompute the exact
    * pipeline (the x41 gate). Recall < 1.0 by construction (compound:
    * IVF pruning × PQ ranking), tunable with nprobe/shortlistFactor.
    */
  def ivfPqTopK(embeddings: DataFrame, query: DataFrame, k: Int,
                nlist: Int = 8, nprobe: Int = 4,
                nSub: Int = 8, nCodes: Int = 16,
                shortlistFactor: Int = 10): DataFrame = {
    // coarse quantizer: deterministic id-ordered seed centroids (the
    // ivfTopK trainIters=0 path; swap in kmeansCentroids to train)
    val cents: Array[Array[Float]] = embeddings
      .orderBy("vec_id").limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    def centCol(c: Array[Float]): Column = array(c.map(lit(_)).toSeq: _*)
    def simsTo(emb: Column): Column = array(cents.zip(centNorms).map {
      case (c, cn) => dot(emb, centCol(c)) / (norm(emb) * lit(cn))
    }.toSeq: _*)
    val listId = array_position(simsTo(col("embedding")),
      array_max(simsTo(col("embedding"))))
    val q = query.select(col("q_embedding")).collect()(0).getSeq[Float](0).toArray
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val qSims = cents.zip(centNorms).map { case (c, cn) =>
      c.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum / (cn * qn)
    }
    // stable sort: ties keep ascending centroid id (the oracle's
    // ORDER BY sim DESC, cid)
    val probes = qSims.zipWithIndex.sortBy(-_._1).take(nprobe)
      .map { case (_, i) => (i + 1).toLong }

    // PQ codebook: subvectors of the first nCodes vectors by id
    val cbRows = embeddings.orderBy("vec_id").limit(nCodes)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val d = cbRows.head.length / nSub
    val cbFlat: Seq[Float] = for {
      sIdx <- 0 until nSub; c <- 0 until nCodes; i <- 0 until d
    } yield cbRows(c)(sIdx * d + i)
    val cb = typedlit(cbFlat)

    val candidates = embeddings.withColumn("list_id", listId)
      .filter(col("list_id").isin(probes.toIndexedSeq: _*))
      .drop("list_id")
    val short = candidates
      .withColumn("codes",
        graft.functions.VectorFunctions.pqEncode(col("embedding"), cb, nSub))
      .crossJoin(broadcast(query.select(col("q_embedding"))))
      .withColumn("adc", round(graft.functions.VectorFunctions
        .pqAdcDot(col("q_embedding"), col("codes"), cb, nSub), 6))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(shortlistFactor * k)
    short
      .withColumn("sim", round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Persist an IVF index: the inverted lists ARE the storage layout —
    * vectors written as parquet PARTITIONED BY list_id (one directory per
    * coarse cell), centroids as a tiny side table. A query then reads only
    * its `nprobe` probed directories: the scan pruning happens in the
    * FILESYSTEM (Spark partition pruning), so at 100 TB a 16-probe query
    * over 1024 lists touches ~1.6% of the bytes before any executor runs.
    */
  def writeIvfIndex(embeddings: DataFrame, path: String, nlist: Int = 16,
                    trainIters: Int = 0): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // ONE definition of the assignment semantics: the persisted layout
    // uses the SAME seedCentroids/assignLists the query paths use, so a
    // tie-break or NaN-guard change can never diverge index from query
    val cents: Array[Array[Float]] =
      if (trainIters > 0) kmeansCentroids(embeddings, nlist, trainIters)
      else seedCentroids(embeddings, nlist)
    cents.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    assignLists(embeddings, cents)
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/lists")
    // build-time list-assignment distribution (nlist rows): the drift
    // baseline appendIvfIndex compares every append wave against.
    // Derived by READING BACK the just-written lists with a scan pruned
    // to the partition column — checkpointing the corpus-sized
    // assignment frame just to count nlist groups would hold the whole
    // corpus in block storage for the duration of both writes
    spark.read.parquet(s"$path/lists")
      // partition-column type inference narrows list_id to int on
      // read-back; the drift join expects the long assignLists writes
      .groupBy(col("list_id").cast("long").as("list_id"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/build_dist")
  }

  /** Drift of a batch's list-assignment distribution against the
    * index's build-time distribution: add-one-smoothed KL(batch ||
    * build) over all `nlist` lists, in integer micro-nats with per-term
    * rounding (the d46 cross-engine discipline — both engines compute
    * `round(p·ln(p/q)·1e6)` per list on integer-ratio doubles, then
    * sum). `buildDist` is `(list_id, n)` — the `build_dist` table a
    * `writeIvfIndex` persists. Returns ONE row `(n_batch, kl_micro,
    * retrain)` with `retrain = kl_micro > retrainMicro`.
    *
    * Why KL and not recall: the x65-style recall panel is the
    * ground-truth retrain check but costs brute-force scans; this
    * tripwire is nlist-sized arithmetic on counts the append pass
    * already computes, so it runs on EVERY wave and flags when the
    * expensive check is worth running. The default threshold (0.5
    * nats) is far above sampling noise for realistic wave sizes
    * ((nlist−1)/2n nats for an in-distribution wave of n vectors) and
    * far below the ≥1-nat signal of ingest concentrated in a few lists;
    * calibrate per deployment from logged wave KLs.
    */
  def assignmentDrift(batchAssigned: DataFrame, buildDist: DataFrame,
                      nlist: Int,
                      retrainMicro: Long = 500000L): DataFrame = {
    val spark = batchAssigned.sparkSession
    import spark.implicits._
    val lists = (1L to nlist.toLong).toDF("list_id")
    val bc = batchAssigned.groupBy("list_id").agg(count(lit(1)).as("bn"))
    // nlist-row frame: every list appears, absent counts are 0 (the
    // smoothing must see empty lists on BOTH sides)
    val j = lists
      .join(bc, Seq("list_id"), "left")
      .join(buildDist.select(col("list_id"), col("n").as("cn")),
        Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("bn"), lit(0L)).as("bn"),
        coalesce(col("cn"), lit(0L)).as("cn"))
    val tot = j.agg(sum("bn").as("tb"), sum("cn").as("tc"))
    j.crossJoin(broadcast(tot))
      .withColumn("p", (col("bn") + 1).cast("double") /
        (col("tb") + nlist).cast("double"))
      .withColumn("q", (col("cn") + 1).cast("double") /
        (col("tc") + nlist).cast("double"))
      .withColumn("term_micro",
        round(col("p") * log(col("p") / col("q")) * 1e6).cast("long"))
      .agg(max(col("tb")).as("n_batch"),
        sum(col("term_micro")).as("kl_micro"))
      // an EMPTY wave smooths to the uniform distribution, whose KL
      // against a skewed build easily clears the threshold — a wave that
      // appended nothing must never demand a retrain
      .withColumn("retrain",
        col("n_batch") > 0 && col("kl_micro") > retrainMicro)
  }

  case class DriftReport(nBatch: Long, klMicro: Long, retrain: Boolean)

  /** Persist a binary (sign-bit) index: TWO tables with different scan
    * economics — `codes` holds only (vec_id, bits), 16 bytes a row, the
    * table every query's Hamming prefilter scans; `vectors` holds the
    * full embeddings, read only for the ≤`prefilter` rerank rows via an
    * id semi-join. At 100 TB that split is the whole point of binary
    * quantization: the hot scan shrinks 32× and the float column stays
    * cold. Append = pack the batch and append to both tables (no global
    * structure to maintain — signatures are per-row, unlike IVF lists).
    */
  def writeBinaryIndex(embeddings: DataFrame, path: String): Unit = {
    val packed = embeddings
      .withColumn("bits", signBits("embedding"))
      .localCheckpoint() // one pack pass feeds both writes
    packed.select("vec_id", "bits")
      .write.mode("overwrite").parquet(s"$path/codes")
    packed.drop("bits")
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Append a wave to a persisted `writeBinaryIndex` — the lifecycle
    * counterpart of `appendIvfIndex`, but with NO drift concern by
    * construction: sign signatures are per-row, so there is no global
    * structure (centroids) for new data to drift away from; recall
    * characteristics depend only on the signature bits, which each
    * vector carries for itself. Same append-only contract: re-appending
    * a vec_id duplicates it — callers dedup waves upstream.
    */
  def appendBinaryIndex(batch: DataFrame, path: String): Unit = {
    val packed = batch
      .withColumn("bits", signBits("embedding"))
      .localCheckpoint() // wave-sized; one pack pass feeds both appends
    packed.select("vec_id", "bits")
      .write.mode("append").parquet(s"$path/codes")
    packed.drop("bits")
      .write.mode("append").parquet(s"$path/vectors")
  }

  /** Top-k against a persisted `writeBinaryIndex`: Hamming prefilter on
    * the 16-byte-row codes table, exact rerank joins back only the
    * survivors' embeddings.
    */
  def binaryIndexTopK(spark: org.apache.spark.sql.SparkSession,
                      path: String, query: DataFrame, k: Int,
                      prefilter: Int = 40): DataFrame = {
    val q = singleQueryChecked(query, "binaryIndexTopK")
      .withColumn("q_bits", signBits("q_embedding"))
    val cands = spark.read.parquet(s"$path/codes")
      .crossJoin(broadcast(q))
      .withColumn("hamming",
        bit_count(col("bits").bitwiseXOR(col("q_bits"))))
      .orderBy(col("hamming"), col("vec_id"))
      .limit(prefilter)
    spark.read.parquet(s"$path/vectors")
      .join(cands.select("vec_id", "hamming", "q_embedding"), "vec_id")
      .withColumn("sim",
        round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("sim"), col("hamming"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Append a batch of vectors to a persisted `writeIvfIndex` WITHOUT
    * rebuilding: the batch is assigned against the index's FROZEN
    * centroids (read once, nlist×dim driver-side literals — the same
    * zero-shuffle assignment as the build) and appended to the
    * `list_id`-partitioned lists. This is standard IVF maintenance —
    * ingestion waves assign under the existing coarse quantizer;
    * re-training is a deliberate separate rebuild (drift is a recall
    * concern, never a correctness one: queries scan whatever lives in
    * the probed lists). RETRAIN TRIPWIRE: every append wave's
    * list-assignment distribution is compared against the index's
    * persisted build-time distribution (`assignmentDrift`, KL in
    * micro-nats — the x84 gate pins the semantics); the returned report
    * says whether the wave drifted past the threshold. A fired tripwire
    * means: run the x65-style recall panel (fixed query set vs brute
    * force — the ground truth the cheap KL check stands in for), and if
    * panel recall at the operating nprobe has dropped past the budgeted
    * margin, rebuild with `writeIvfIndex(trainIters > 0)` — the x68
    * gate measures exactly what that buys. Append-only contract mirrors
    * the ingest sinks: re-appending the same vec_id duplicates it —
    * callers dedup waves upstream (x21's incremental-dedup discipline).
    *
    * Returns None for an index persisted before `build_dist` existed
    * (pre-r12 layout) — the append still lands.
    */
  def appendIvfIndex(batch: DataFrame, path: String): Option[DriftReport] = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect().map(_.getSeq[Float](1).toArray)
    // same assignLists the build and query paths use (no private copy
    // of the argmax/tie-break semantics)
    val assigned = assignLists(batch, cents)
      .localCheckpoint() // feeds the append write AND the drift counts
    assigned
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$path/lists")
    driftAfterAppend(spark, path, assigned, cents.length)
  }

  /** The tripwire tail shared by every index append arm: compare the
    * wave's assignment distribution against the persisted `build_dist`;
    * None for an index persisted before that table existed (the append
    * still lands).
    */
  private def driftAfterAppend(spark: org.apache.spark.sql.SparkSession,
                               path: String, assigned: DataFrame,
                               nlist: Int): Option[DriftReport] = {
    val distPath = new org.apache.hadoop.fs.Path(s"$path/build_dist")
    val fsys = distPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(distPath)) None
    else {
      val r = assignmentDrift(assigned.select("list_id"),
        spark.read.parquet(s"$path/build_dist"), nlist).head()
      Some(DriftReport(r.getLong(0), r.getLong(1), r.getBoolean(2)))
    }
  }

  /** Append a batch to a persisted `writeIvfPqIndex` WITHOUT rebuilding:
    * the batch is assigned under the index's FROZEN coarse centroids
    * AND encoded under its FROZEN PQ codebook (both read once,
    * driver-side literals), then appended to the `list_id`-partitioned
    * lists — so appended rows are query-identical to a from-scratch
    * build at the same centroids/codebook (spec-pinned). Same x84 drift
    * tripwire and append-only contract as [[appendIvfIndex]]; quantizer
    * RE-TRAINING (new codebook) is a deliberate rebuild, because codes
    * are only comparable under one codebook.
    */
  def appendIvfPqIndex(batch: DataFrame, path: String): Option[DriftReport] = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect().map(_.getSeq[Float](1).toArray)
    val cbRow = spark.read.parquet(s"$path/codebook").head()
    val nSub = cbRow.getInt(0)
    val cbFlat = cbRow.getSeq[Float](1)
    val assigned = assignLists(
        batch.withColumn("codes", graft.functions.VectorFunctions
          .pqEncode(col("embedding"), typedlit(cbFlat), nSub)),
        cents)
      .localCheckpoint() // feeds the append write AND the drift counts
    assigned
      .write.mode("append").partitionBy("list_id")
      .parquet(s"$path/lists")
    driftAfterAppend(spark, path, assigned, cents.length)
  }

  /** Wave-aware IVF index maintenance: append the wave under the frozen
    * centroids, and let the x84 tripwire DECIDE retrain-vs-append — a
    * fired tripwire rebuilds the index from `corpus` (which must
    * already include the wave) with `trainIters` k-means rounds, via a
    * staged `.retraining` build + the compaction swap protocol, so the
    * live index is always fully one generation or the other (crash in
    * the window recovers from `.old` on the next call). Quiet waves pay
    * only the append. Returns (wave drift report, rebuilt?).
    *
    * This is the lifecycle `prepare-run` waves drive (see
    * `PrepareRun.syncAnnIndex`): ingestion assigns under the existing
    * coarse quantizer; retraining is deliberate, tripwire-gated, and
    * atomic.
    */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, wave: DataFrame, corpus: => DataFrame,
                       trainIters: Int = 2,
                       retrainMicro: Long = 500000L)
      : (Option[DriftReport], Boolean) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, root) // a crash inside a prior retrain swap window
    val report = appendIvfIndex(wave, path)
    val retrain = report.exists(r => r.nBatch > 0 && r.klMicro > retrainMicro)
    if (retrain) {
      val nlist = spark.read.parquet(s"$path/centroids").count().toInt
      val next = new org.apache.hadoop.fs.Path(s"$path.retraining")
      if (fs.exists(next)) fs.delete(next, true)
      writeIvfIndex(corpus, next.toString, nlist, trainIters)
      swapDirs(fs, root, next)
      spark.catalog.refreshByPath(path)
    }
    (report, retrain)
  }

  /** Top-k against a persisted `writeIvfIndex`: centroids load driver-side
    * (nlist×dim floats), probe lists are chosen on the driver, and the
    * list scan is partition-pruned to the probed directories.
    */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   query: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val centRows = spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect()
    val cents = centRows.map(_.getSeq[Float](1).toArray)
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val q = query.select(col("q_embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val qSims = cents.zip(centNorms).map { case (c, cn) =>
      c.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum / (cn * qn)
    }
    val probes = qSims.zipWithIndex.sortBy(-_._1).take(nprobe)
      .map { case (_, i) => (i + 1).toLong }
    bruteForceTopK(
      spark.read.parquet(s"$path/lists")
        .filter(col("list_id").isin(probes.toIndexedSeq: _*))
        .drop("list_id"),
      query, k)
  }

  /** Persist an IVF+PQ index: the inverted lists carry BOTH the 8-byte PQ
    * codes and the full vectors in one list_id-partitioned parquet layout.
    * At query time the ADC stage selects only (vec_id, label, codes) —
    * parquet column pruning means the shortlist scan reads ~8 B/vector
    * even though full vectors sit in the same files — and the exact
    * re-rank joins the tiny shortlist back for its embeddings. Probe
    * pruning is FILESYSTEM partition pruning, as in writeIvfIndex.
    */
  def writeIvfPqIndex(embeddings: DataFrame, path: String, nlist: Int = 8,
                      nSub: Int = 8, nCodes: Int = 16,
                      trainIters: Int = 0): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // same shared coarse-quantizer semantics as writeIvfIndex/queries
    val cents: Array[Array[Float]] =
      if (trainIters > 0) kmeansCentroids(embeddings, nlist, trainIters)
      else seedCentroids(embeddings, nlist)
    cents.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    val cbRows = embeddings.orderBy("vec_id").limit(nCodes)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    val d = cbRows.head.length / nSub
    val cbFlat: Seq[Float] = for {
      sIdx <- 0 until nSub; c <- 0 until nCodes; i <- 0 until d
    } yield cbRows(c)(sIdx * d + i)
    Seq((nSub, cbFlat)).toDF("n_sub", "codebook")
      .write.mode("overwrite").parquet(s"$path/codebook")
    assignLists(
        embeddings.withColumn("codes", graft.functions.VectorFunctions
          .pqEncode(col("embedding"), typedlit(cbFlat), nSub)),
        cents)
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/lists")
    // drift baseline for appendIvfPqIndex — same read-back derivation
    // as writeIvfIndex (see the comment there)
    spark.read.parquet(s"$path/lists")
      .groupBy(col("list_id").cast("long").as("list_id"))
      .agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/build_dist")
  }

  /** Top-k against a persisted `writeIvfPqIndex`: probe lists chosen
    * driver-side (partition pruning), ADC shortlist over the codes-only
    * projection, exact cosine re-rank of the shortlist's full vectors.
    * Identical math to [[ivfPqTopK]] — the spec pins them row-equal.
    */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: DataFrame, k: Int, nprobe: Int = 4,
                     shortlistFactor: Int = 10): DataFrame = {
    val centRows = spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect()
    val cents = centRows.map(_.getSeq[Float](1).toArray)
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val cbRow = spark.read.parquet(s"$path/codebook").head()
    val nSub = cbRow.getInt(0)
    val cbFlat = cbRow.getSeq[Float](1)
    val q = query.select(col("q_embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val qSims = cents.zip(centNorms).map { case (c, cn) =>
      c.zip(q).map { case (a, b) => a.toDouble * b.toDouble }.sum / (cn * qn)
    }
    val probes = qSims.zipWithIndex.sortBy(-_._1).take(nprobe)
      .map { case (_, i) => (i + 1).toLong }
    val lists = spark.read.parquet(s"$path/lists")
      .filter(col("list_id").isin(probes.toIndexedSeq: _*))
    val cb = typedlit(cbFlat)
    val qDf = query.select(col("q_embedding"))
    // ADC stage: codes-only projection — the scan never reads `embedding`
    val short = lists.select("vec_id", "codes")
      .crossJoin(broadcast(qDf))
      .withColumn("adc", round(graft.functions.VectorFunctions
        .pqAdcDot(col("q_embedding"), col("codes"), cb, nSub), 6))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(shortlistFactor * k)
      .select("vec_id")
    // re-rank: only the shortlist's vectors leave the probed lists
    lists.select("vec_id", "label", "embedding")
      .join(broadcast(short), "vec_id")
      .crossJoin(broadcast(qDf))
      .withColumn("sim", round(cosineRank(col("embedding"), col("q_embedding")), 6))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    * k-means-cluster the embeddings, then within each cluster drop every
    * vector that has a higher-similarity twin with a smaller id (the
    * paper's keep-one-per-semantic-group policy, made deterministic by
    * keeping the minimum id).
    *
    * Scale design (100 TB): assignment is the IVF coarse quantizer — a
    * narrow argmax map against nlist×dim literal centroids, NO shuffle;
    * the pair stage shuffles once on the cluster id and self-joins only
    * within clusters (never all-pairs), with `maxCluster` as the skew cap.
    * The paper scales by growing nlist with corpus size (clusters stay
    * small); a cluster above the cap passes through un-deduped rather
    * than detonating a task.
    *
    * @return survivors (vec_id, list_id, label), list_id 1-based
    */
  def semDedup(embeddings: DataFrame, threshold: Double = 0.4,
               nlist: Int = 16, trainIters: Int = 0,
               maxCluster: Int = 4096): DataFrame = {
    val cents: Array[Array[Float]] =
      if (trainIters > 0) kmeansCentroids(embeddings, nlist, trainIters)
      else embeddings
        .orderBy("vec_id").limit(nlist)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
    val centNorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    def centCol(c: Array[Float]): Column = array(c.map(lit(_)).toSeq: _*)
    def simsTo(emb: Column): Column = array(cents.zip(centNorms).map {
      case (c, cn) => dot(emb, centCol(c)) / (norm(emb) * lit(cn))
    }.toSeq: _*)
    // materialized once (GC-scoped) for its two consumers: the pair join
    // below and the survivor anti-join
    val assigned = embeddings
      .withColumn("list_id", array_position(simsTo(col("embedding")),
        array_max(simsTo(col("embedding")))))
      .localCheckpoint()
    val inB = assigned.select(col("list_id"), col("vec_id").as("id"),
      col("embedding").as("e"))
    val sized = inB.join(
      inB.groupBy("list_id").count().filter(col("count").between(2, maxCluster)),
      Seq("list_id"), "left_semi")
    val dropped = sized
      .select(col("list_id"), col("id").as("id_a"), col("e").as("e_a"))
      .join(sized.select(col("list_id"), col("id").as("id_b"), col("e").as("e_b")),
        Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosineRank(col("e_a"), col("e_b")), 6) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("list_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Embedding-cosine near-duplicate pairs via banded hyperplane LSH:
    * `planes` sign bits split into `bands`; a pair is a candidate if ANY
    * band matches exactly (standard OR-of-ANDs construction — recall at
    * cosine c per band is ((1 - acos(c)/π))^(planes/bands), amplified over
    * bands). Candidates verify with the true cosine, so precision is exact.
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double = 0.4,
                         planes: Int = 16, bands: Int = 8,
                         maxBucket: Int = 256): DataFrame = {
    require(planes % bands == 0)
    val bits = planes / bands
    val sigged = embeddings
      .select(col("vec_id").as("id"), col("embedding").as("e"))
      .withColumn("sig", hyperplaneSig(col("e"), planes))
    val banded = sigged.select(col("id"), col("e"), posexplode(
      array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    val sizes = banded.groupBy("band", "bucket").count()
      .filter(col("count").between(2, maxBucket))
    val inB = banded.join(sizes, Seq("band", "bucket"), "left_semi")

    inB.select(col("band"), col("bucket"), col("id").as("id_a"), col("e").as("e_a"))
      .join(inB.select(col("band"), col("bucket"), col("id").as("id_b"), col("e").as("e_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("sim", round(cosineRank(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
      .orderBy("id_a", "id_b")
  }

  // ---- index maintenance: after thousands of append waves
  // (appendIvfIndex / appendBinaryIndex each land one wave-sized file
  // set) the index tables fragment into tiny files and every query's
  // scan pays per-file open/footer costs instead of bytes. Generic
  // Layout.compact cannot be pointed at an index: a flat rewrite of
  // `lists` would DESTROY the list_id partitioning that makes nprobe a
  // filesystem partition prune. compactIndex is the index-aware pass.

  private def parquetFileCount(fs: org.apache.hadoop.fs.FileSystem,
                               dir: org.apache.hadoop.fs.Path): Int = {
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).map { s =>
      if (s.isDirectory) parquetFileCount(fs, s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) 1 else 0
    }.sum
  }

  /** Crash recovery for the staged-swap protocol below: a death between
    * the two renames leaves `<table>` missing and `<table>.old` intact —
    * restore it before doing anything else. (A death BEFORE the first
    * rename leaves the live table untouched and only an orphaned
    * `.compacting` dir, which the next run deletes.)
    */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
                          cur: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(cur.toString + ".old")
    if (!fs.exists(cur) && fs.exists(old)) {
      require(fs.rename(old, cur), s"compact recovery failed for $cur")
    }
  }

  /** Lists-table recovery, run before deleting an orphaned `.compacting`
    * dir: any `list_id=` partition present in `.compacting` but MISSING
    * from the live table is moved back. With the two-phase protocol below
    * this only ever fires for a crash inside the swap window (live was
    * renamed to `.old`, some already-compact dirs were moved into
    * `.compacting`, and the `.old` restore above brought back a table
    * missing exactly those dirs) — the merge restores the full original.
    * Rewritten (fragmented) dirs still have their originals live, so the
    * missing-from-live check skips them and they are simply discarded
    * with `.compacting`.
    */
  private def mergeBackLists(fs: org.apache.hadoop.fs.FileSystem,
                             cur: org.apache.hadoop.fs.Path,
                             staging: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(staging) && fs.exists(cur)) {
      fs.listStatus(staging).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("list_id="))
        .foreach { d =>
          val live = new org.apache.hadoop.fs.Path(cur, d.getPath.getName)
          if (!fs.exists(live)) {
            require(fs.rename(d.getPath, live),
              s"compact recovery: cannot restore ${d.getPath}")
          }
        }
    }
  }

  private def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
                       cur: org.apache.hadoop.fs.Path,
                       next: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(cur.toString + ".old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(cur, old), s"compact swap: cannot stage $cur")
    require(fs.rename(next, cur), s"compact swap: cannot commit $next")
    fs.delete(old, true)
    ()
  }

  /** Index-aware small-file compaction for the persisted ANN indexes —
    * a pure layout rewrite: query results are identical before and
    * after (spec-pinned), `centroids`/`codebook`/`build_dist` are never
    * touched, and the `lists` table keeps its `list_id=` partition
    * directories (per-LIST coalesce — the nprobe partition prune
    * survives). Sizing follows Layout.compact's bytes-based rule
    * (`ceil(dirBytes / targetBytes)` files, from real on-disk bytes,
    * not row estimates) applied PER list directory; a list already at
    * or under its target file count is MOVED file-by-file, not
    * rewritten — steady-state maintenance reprocesses only the
    * fragmented lists, so running compaction after every N waves costs
    * O(recent waves), not O(index). `codes`/`vectors` (the binary-index
    * tables) compact flat, sorted by vec_id within files so footer
    * min/max stats keep the rerank's id semi-join selective. Each table
    * commits via write-to-`.compacting` + two renames with `.old`
    * recovery: a crash at any point leaves either the original or the
    * compacted table fully live, never a mix. For `lists` that guarantee
    * needs two phases: the rewrite phase only READS the live table
    * (fragmented dirs are rewritten into `.compacting`; live is never
    * mutated), and the cheap already-compact moves happen INSIDE the
    * swap window, after live has been renamed to `.old` — so the live
    * path is either fully present or (briefly, during the swap) absent
    * and loudly unreadable, never present-but-missing-lists. Recovery
    * merges any swap-window-moved dirs from `.compacting` back before
    * discarding it (`mergeBackLists`).
    *
    * Returns per-table (filesBefore, filesAfter).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetBytes: Long = 128L * 1024 * 1024)
      : Map[String, (Int, Int)] = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val out = scala.collection.mutable.LinkedHashMap[String, (Int, Int)]()

    // lists: per-list-dir coalesce preserving the partition layout
    val lists = new org.apache.hadoop.fs.Path(s"$path/lists")
    val fs = lists.getFileSystem(hadoop)
    recoverSwap(fs, lists)
    locally {
      // a prior crash inside the swap window may have moved compact
      // dirs into `.compacting`; restore them before discarding it
      val stale = new org.apache.hadoop.fs.Path(s"$path/lists.compacting")
      mergeBackLists(fs, lists, stale)
      if (fs.exists(stale)) fs.delete(stale, true)
    }
    if (fs.exists(lists)) {
      val next = new org.apache.hadoop.fs.Path(s"$path/lists.compacting")
      fs.mkdirs(next)
      var before = 0
      // phase 1: rewrite fragmented dirs into `.compacting`; the live
      // table is only read — concurrent queries see the full index and
      // a crash here leaves nothing to undo
      val alreadyCompact = scala.collection.mutable.ArrayBuffer[String]()
      fs.listStatus(lists).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("list_id="))
        .sortBy(_.getPath.getName)
        .foreach { d =>
          val nFiles = parquetFileCount(fs, d.getPath)
          before += nFiles
          val bytes = fs.getContentSummary(d.getPath).getLength
          val target =
            math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          if (nFiles <= target) alreadyCompact += d.getPath.getName
          else {
            val dst =
              new org.apache.hadoop.fs.Path(next, d.getPath.getName)
            spark.read.parquet(d.getPath.toString)
              .repartition(target)
              .sortWithinPartitions("vec_id")
              .write.parquet(dst.toString)
          }
        }
      // phase 2 (swap window): stage live to `.old`, move the
      // already-compact dirs across (cheap renames, no rewrite), commit
      val old = new org.apache.hadoop.fs.Path(lists.toString + ".old")
      if (fs.exists(old)) fs.delete(old, true)
      require(fs.rename(lists, old), s"compact swap: cannot stage $lists")
      alreadyCompact.foreach { name =>
        require(fs.rename(new org.apache.hadoop.fs.Path(old, name),
                          new org.apache.hadoop.fs.Path(next, name)),
          s"compact swap: cannot move $name")
      }
      require(fs.rename(next, lists), s"compact swap: cannot commit $next")
      fs.delete(old, true)
      out += "lists" -> ((before, parquetFileCount(fs, lists)))
    }

    // binary-index tables: flat compaction, vec_id-sorted files
    Seq("codes", "vectors").foreach { tbl =>
      val cur = new org.apache.hadoop.fs.Path(s"$path/$tbl")
      recoverSwap(fs, cur)
      if (fs.exists(cur)) {
        val before = parquetFileCount(fs, cur)
        val bytes = fs.getContentSummary(cur).getLength
        val target =
          math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        if (before > target) {
          val next =
            new org.apache.hadoop.fs.Path(s"$path/$tbl.compacting")
          if (fs.exists(next)) fs.delete(next, true)
          spark.read.parquet(cur.toString)
            .repartitionByRange(target, col("vec_id"))
            .sortWithinPartitions("vec_id")
            .write.parquet(next.toString)
          swapDirs(fs, cur, next)
        }
        out += tbl -> ((before, parquetFileCount(fs, cur)))
      }
    }
    out.toMap
  }
}
