package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Math is done in DOUBLE via higher-order functions (zip_with multiply,
  * sequential aggregate fold) — codegen'd, deterministic, and
  * cross-engine-exact, which is what lets the brute-force path be
  * oracle-checked against DuckDB.
  *
  * Cost shape: per-vector norms are computed ONCE per row below the join
  * and carried as attributes, so each candidate pair costs ONE dot fold
  * plus a multiply-divide instead of three folds — a 3× cut on the
  * dominant term. The scale path is IVF: a
  * coarse centroid quantizer prunes candidates to nProbe cells, turning
  * O(queries × corpus) into O(queries × corpus × nProbe/nCells) — all as
  * ordinary broadcast + shuffle joins, no driver-side loops over vectors.
  */
object Similarity {

  /** Array[Float] → Array[Double] (promote BEFORE any arithmetic, so both
    * engines multiply the same doubles).
    */
  def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Ascending-index multiply-add dot product. Same accumulation order as
    * a sequential fold (bit-identical results), but via the native
    * codegen'd VectorDot expression — the HOF form (zip_with+aggregate)
    * costs a boxed lambda call per element and dominated similarity
    * benchmarks.
    */
  def dot(a: Column, b: Column): Column = {
    val spark = SparkSession.active
    graft.functions.VectorExpressions.register(spark)
    graft.functions.VectorExpressions.vecDot(a, b)
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Projection (id, vec-as-double, norm). The norm column crosses the
    * downstream join as a plain attribute, so pair scoring is one dot
    * fold + a divide. (Normalizing the array itself instead looks
    * equivalent but is a trap: CollapseProject inlines the norm into the
    * transform lambda and recomputes sqrt(dot(e,e)) PER ELEMENT.)
    * `carry` columns of `df` ride along after the norm.
    */
  private[ext] def normalizedRel(
      df: DataFrame, idCol: String, embCol: String, id: String, vec: String,
      carry: Column*): DataFrame = {
    // register on the frame's OWN session — SparkSession.active may be a
    // different session in multi-session apps
    graft.functions.VectorExpressions.register(df.sparkSession)
    val nCol = vec + "_n"
    df.withColumn("__e", toDouble(col(embCol)))
      .select((Seq(col(idCol).as(id), col("__e").as(vec), norm(col("__e")).as(nCol)) ++ carry): _*)
  }

  /** Brute-force top-k cosine neighbors for each query vector (excluding
    * self). Queries are broadcast; the corpus streams by once. rn is the
    * neighbor rank (1 = closest), deterministically tie-broken by id.
    *
    * This is the EXACT ANCHOR, not the scale path (that's [[ivfTopK]]):
    * the query side is broadcast whole, so its size is a hard driver/
    * executor memory bound. `maxQueries` turns the silent OOM a caller
    * would otherwise hit into a typed error up front — the check is one
    * eager count of the (small by contract) query side at plan-build
    * time, deliberate like the other documented eager sites.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String, k: Int,
      maxQueries: Int = 100000): DataFrame = {
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"bruteForceTopK broadcasts the query side whole: $nQ query vectors exceeds " +
        s"maxQueries=$maxQueries; chunk the query set or use ivfTopK for large-batch search")
    val q = normalizedRel(queries, idCol, embCol, "qid", "qe")
    val c = normalizedRel(corpus, idCol, embCol, "cid", "ce")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("ce")) / (col("qe_n") * col("ce_n"))).as("cos"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** Nearest-centroid assignment: rank-1 by cosine over the broadcast
    * centroid set, deterministically tie-broken by cent_id.
    */
  private[ext] def assignToCells(c: DataFrame, cent: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("cid")).orderBy(col("d").desc, col("cent_id").asc)
    c.crossJoin(broadcast(cent))
      .select(col("cid"), col("ce"), col("ce_n"), col("cent_id"),
        (dot(col("ce"), col("cent_e")) / (col("ce_n") * col("cent_e_n"))).as("d"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("cid"), col("ce"), col("ce_n"), col("cent_id"))
  }

  /** Lloyd (k-means) refinement of a centroid set, entirely as DataFrame
    * aggregates: assign every corpus vector to its nearest centroid, then
    * recompute each cell's mean per dimension (posexplode → hash agg —
    * one shuffle per iteration, no driver-side loops over vectors).
    * Component means accumulate in DECIMAL(38,18) so the sum is
    * order-independent — assignments (and therefore query results) stay
    * deterministic under any partitioning/retry. Cells that lose all
    * members drop out (standard Lloyd degeneracy handling). Spherical
    * variant: ranking is cosine, means are taken on the raw vectors and
    * re-normed via the carried norm column.
    */
  def trainCentroids(c: DataFrame, seed: DataFrame, iters: Int): DataFrame = {
    var cent = seed
    for (_ <- 0 until iters) {
      // mean = double(sum-as-decimal) / double(count): the DECIMAL
      // accumulation keeps the sum order-independent (retry-determinism),
      // and the final division is ONE IEEE double op — a shape DuckDB
      // reproduces bit-exactly, which is what lets q40's oracle recompute
      // the whole Lloyd loop (Spark's decimal/decimal division tower has
      // engine-specific precision/scale rules and does not mirror)
      val comp = assignToCells(c, cent)
        .select(col("cent_id"), posexplode(col("ce")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 18))).cast("double") /
          count(lit(1)).cast("double")).as("v"))
      cent = comp
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("v")))),
          x => x.getField("v")).as("cent_e"))
        .withColumn("cent_e_n", norm(col("cent_e")))
    }
    cent
  }

  /** The battery-wide coarse-quantizer recipe: modular √N-style seed from
    * the corpus, optionally Lloyd-refined on `trainOn` (a bounded sample —
    * the production FAISS recipe) or, by default, on the full corpus (the
    * exact-oracle form). Shared by [[ivfTopK]], [[ivfPqTopK]]'s probe
    * seed, [[assignCells]], [[simplifiedSilhouette]], and
    * [[IvfIndex.build]] so the lazy and the persisted index are the same
    * artifact bit-for-bit.
    */
  private[ext] def centroidsOf(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int, trainOn: Option[DataFrame]): DataFrame = {
    val seed = normalizedRel(
      corpus.filter(pmod(col(idCol), lit(stride)) === 0), idCol, embCol, "cent_id", "cent_e")
    if (trainIters > 0) {
      val trainRel = trainOn
        .map(t => normalizedRel(t, idCol, embCol, "cid", "ce"))
        .getOrElse(normalizedRel(corpus, idCol, embCol, "cid", "ce"))
      trainCentroids(trainRel, seed, trainIters)
    } else seed
  }

  /** The probe stage — nProbe nearest centroid cells per query vector —
    * shared by [[ivfTopK]], [[ivfPqTopK]], and [[IvfIndex]]'s persisted
    * serve paths: ONE definition of the (cos desc, cent_id asc) tie-break
    * so an edit cannot silently fork the lazy and persisted pipelines
    * (the hash gate would catch it, but only a round later). `q` is a
    * normalizedRel (qid, qe, qe_n); `cent` a centroid relation (cent_id,
    * cent_e, cent_e_n). Returns (qid, qe, qe_n, cent_id).
    *
    * `carryQuery=false` drops the query vector/norm BEFORE the probe
    * window's hash(qid) exchange — callers that only need (qid, cent_id)
    * (the ADC paths, which rebuild their LUT from the query relation
    * directly) must not shuffle nQueries × nCells dim-length arrays the
    * next projection would discard.
    */
  private[ext] def probeNearestCells(
      q: DataFrame, cent: DataFrame, nProbe: Int,
      carryQuery: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("d").desc, col("cent_id").asc)
    val d = (dot(col("qe"), col("cent_e")) / (col("qe_n") * col("cent_e_n"))).as("d")
    val carried =
      if (carryQuery) Seq(col("qid"), col("qe"), col("qe_n"), col("cent_id"))
      else Seq(col("qid"), col("cent_id"))
    q.crossJoin(broadcast(cent))
      .select(carried :+ d: _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select(carried: _*)
  }

  /** The serve tail — exact cosine top-k with the (cos desc, cid asc)
    * tie-break and self-exclusion — over candidate rows carrying (qid,
    * qe, qe_n, cid, ce, ce_n). Shared by [[ivfTopK]] and the persisted
    * serve for the same no-fork reason as [[probeNearestCells]].
    */
  private[ext] def topKByCosine(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    cands.filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (dot(col("qe"), col("ce")) / (col("qe_n") * col("ce_n"))).as("cos"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
  }

  /** IVF (inverted-file) approximate top-k: centroids seed from a
    * deterministic corpus sample (every strideth vector), optionally
    * refined with `trainIters` Lloyd iterations; each corpus vector is
    * assigned to its nearest centroid cell once; each query probes its
    * nProbe nearest cells and brute-forces only those. Recall is tunable
    * via nProbe/stride; SimilaritySpec asserts exhaustive-probe ≡ brute
    * force and trained-centroid recall ≥ the raw-sample baseline. At
    * 100 TB the centroid set is trained once and persisted — here it
    * stays a lazy subplan for the oracle harness.
    *
    * `trainOn`: optional BOUNDED training relation for the Lloyd
    * refinement — the production recipe (FAISS trains k-means on a
    * sample, never the corpus). With a ~c·√N sample, training costs
    * O(c·√N·√N) = O(c·N) — LINEAR — and the only remaining N×√N pass is
    * the final corpus→cell assignment, i.e. the one-time index build
    * that production amortizes by persisting the index. Default (None)
    * trains on the full corpus: the exact-oracle form q40/q302 pin.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
      k: Int, stride: Int, nProbe: Int, trainIters: Int = 0,
      trainOn: Option[DataFrame] = None): DataFrame = {
    val c = normalizedRel(corpus, idCol, embCol, "cid", "ce")
    val cent = centroidsOf(corpus, idCol, embCol, stride, trainIters, trainOn)
    val assigned = assignToCells(c, cent)
    val q = normalizedRel(queries, idCol, embCol, "qid", "qe")
    val probes = probeNearestCells(q, cent, nProbe)
    // search only the probed cells
    topKByCosine(probes.join(assigned, "cent_id"), k)
  }

  /** Coarse-quantizer cell assignment: every corpus vector labeled with
    * its nearest centroid (modular seed, optional Lloyd refinement) —
    * the reusable building block behind [[ivfTopK]]'s inverted file and
    * [[semanticDedup]]'s clustering stage. Returns (id, ce, ce_n,
    * cent_id) so downstream pair scoring reuses the carried norms.
    */
  def assignCells(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int,
      trainOn: Option[DataFrame] = None): DataFrame = {
    val c = normalizedRel(corpus, idCol, embCol, "cid", "ce")
    assignToCells(c, centroidsOf(corpus, idCol, embCol, stride, trainIters, trainOn))
  }

  /** Simplified silhouette (Hruschka et al. 2004 centroid variant): each
    * point's cohesion a = cosine distance to its OWN centroid and
    * separation b = distance to the nearest OTHER centroid;
    * s = (b − a) / max(a, b) ∈ [−1, 1]. The full-pairwise silhouette is
    * O(N²); the centroid form is one N × C broadcast scan — the only
    * clustering-quality readout that survives corpus scale, and the
    * acceptance gate for an IVF/SemDeDup cell layout (low s = cells
    * don't separate → raise the centroid count before trusting
    * cell-bounded dedup). Returns the per-point relation
    * (cid, cent_id, a, b, s); callers aggregate.
    */
  def simplifiedSilhouette(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int): DataFrame = {
    val c = normalizedRel(corpus, idCol, embCol, "cid", "ce")
    val cent = centroidsOf(corpus, idCol, embCol, stride, trainIters, None)
    val dists = c.crossJoin(broadcast(cent))
      .select(col("cid"), col("cent_id"),
        (dot(col("ce"), col("cent_e")) / (col("ce_n") * col("cent_e_n"))).as("cos"))
    // own cell = assignToCells' exact rule (cos desc, cent_id asc)
    val w = Window.partitionBy(col("cid")).orderBy(col("cos").desc, col("cent_id").asc)
    dists.withColumn("rn", row_number().over(w))
      .withColumn("a", max(when(col("rn") === 1, lit(1.0) - col("cos")))
        .over(Window.partitionBy(col("cid"))))
      .withColumn("own", max(when(col("rn") === 1, col("cent_id")))
        .over(Window.partitionBy(col("cid"))))
      .filter(col("rn") > 1)
      .groupBy(col("cid"), col("own").as("cent_id"), col("a"))
      .agg(min(lit(1.0) - col("cos")).as("b"))
      .select(col("cid"), col("cent_id"), col("a"), col("b"),
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)).as("s"))
  }

  /** Corpus-size-aware seed stride for [[ivfTopK]]/[[assignCells]]:
    * stride ≈ √N seeds ≈ √N cells — the standard IVF nlist rule.
    *
    * A FIXED stride makes the cell count grow linearly with the corpus
    * (C = N/stride), so nearest-centroid assignment — an N × C scan — is
    * O(N²/stride): quadratic in corpus size. Measured in the round-9 sf1
    * smoke (BENCH_SF1.md): a 10× corpus ran 16× slower at stride=50
    * (cells 40→400) but 2.9× at the √N-equivalent stride (cells held at
    * 40). With stride = √N both factors grow as √N and assignment stays
    * O(N^1.5) per probe — and per-query probe cost stays O(N/√N · nProbe)
    * = O(√N · nProbe). Callers pass a count they already know (or an
    * estimate — the rule is insensitive to 2× error).
    */
  def sqrtStride(corpusSize: Long): Int =
    math.max(1L, math.round(math.sqrt(corpusSize.toDouble))).toInt

  /** The within-cell cosine pair rule — the ONE definition behind every
    * semantic near-duplicate path: [[semanticPairs]], [[nearDupPairs]],
    * and the persisted index's pair scan and pair maintenance
    * ([[IvfIndex.serveSemDedup]], [[IvfIndex.buildPairs]],
    * [[IvfIndex.refresh]]). `a` and `b` are (cid, ce, ce_n, cent_id)
    * relations; two rows meet only through the equi-join on cent_id, score
    * the carried-norm cosine, and survive at cos ≥ threshold. Returns
    * (a_id, b_id, cos) with a_id < b_id.
    *
    * The join predicate follows from the inputs: the same relation on
    * both sides is a self-join, which `a.cid < b.cid` reduces to each pair
    * once; two different relations must hold disjoint ids (a refresh
    * delta against the live inverted file), so every cross pair counts
    * once and is canonicalized with least/greatest (cos is symmetric — the
    * same index-ascending products either way).
    */
  private[ext] def withinCellPairs(a: DataFrame, b: DataFrame, threshold: Double): DataFrame = {
    val (aId, bId) = (col("a.cid"), col("b.cid"))
    val (order, lo, hi) =
      if (a.sameSemantics(b)) (aId < bId, aId, bId)
      else (aId =!= bId, least(aId, bId), greatest(aId, bId))
    a.as("a")
      .join(b.as("b"), col("a.cent_id") === col("b.cent_id") && order)
      .select(lo.as("a_id"), hi.as("b_id"),
        (dot(col("a.ce"), col("b.ce")) / (col("a.ce_n") * col("b.ce_n"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The pair stage of [[semanticDedup]], exposed so its plan shape can
    * be pinned (the CC stage checkpoints eagerly, hiding this subplan
    * from the composed query's explain): [[withinCellPairs]] over the
    * corpus's cell assignment, where the cell equi-join is the ONLY place
    * two corpus rows ever meet.
    */
  def semanticPairs(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int, threshold: Double,
      trainOn: Option[DataFrame] = None): DataFrame = {
    val assigned = assignCells(corpus, idCol, embCol, stride, trainIters, trainOn)
    withinCellPairs(assigned, assigned, threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse k-means cells bound the pair search, then
    * within-cell cosine ≥ threshold pairs ([[semanticPairs]]) are
    * clustered and each cluster keeps its min-id representative
    * ([[Dedup.decisionTable]]). Returns the full decision table (id,
    * cluster_id, keep) — callers filter keep to drop semantic duplicates.
    *
    * Scale: the all-pairs term only exists INSIDE a cell (O(Σ cell²)),
    * cells shrink as centroids grow, and everything else is the
    * pair-relation CC machinery — no corpus-wide quadratic term. With
    * stride = √N (the battery's q111 parameterization) BOTH superlinear
    * terms — N×C assignment and N²/C within-cell pairs — balance at
    * O(N^1.5), which is the optimum for any EXACT all-within-cell-pairs
    * scheme: fixed stride is O(N²/s) assignment (measured: DIED at 200k
    * vectors under an 80 GiB heap), fixed cell count is O(N²/C) pairs.
    * The sf1→sf10 smoke measured the √N form at 32.9× for 10× data —
    * the N^1.5 prediction is 31.6×, so the slope IS the design, not an
    * accident (BENCH_SF1.md round 12). At 100 TB: persist trained
    * centroids (train on a sample, fixed k sized to the cluster — the
    * build is then amortized and the recurring cost is one N×k assign
    * pass), and feed the pair relation straight into
    * [[Dedup.connectedComponents]] with a durable `graft.checkpoint.dir`
    * ([[graft.ops.Ckpt]]).
    *
    * `trainOn`: optional BOUNDED training relation for the Lloyd
    * refinement, exactly as on [[ivfTopK]] — the 100 TB posture (train the
    * coarse cells on a ~c·√N sample, O(c·N) = LINEAR, instead of the
    * full-corpus O(N^1.5) Lloyd; persist the centroids) made executable
    * for this family too (q325 pins it under the hash gate; round-12 only
    * documented it). The remaining superlinear terms — one N×C assignment
    * pass and the within-cell exact pairs — are the EXACT-SemDeDup
    * optimum at stride = √N (see above) regardless of how training paid.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int, threshold: Double,
      trainOn: Option[DataFrame] = None): DataFrame =
    Dedup.decisionTable(
      semanticPairs(corpus, idCol, embCol, stride, trainIters, threshold, trainOn), corpus, idCol)

  /** Product-quantization (PQ) encoding (Jégou et al., "Product
    * quantization for nearest neighbor search", TPAMI 2011): each vector
    * splits into `nSub` contiguous `subDim`-dim subvectors; each subvector
    * is assigned the id of its nearest codeword (squared L2, code_id
    * tie-break) from a per-subspace codebook — seeded deterministically
    * here from every `stride`th corpus vector (codebook TRAINING is
    * orthogonal to the encode operator; swap in [[trainCentroids]] output
    * per subspace at deployment). Output: one row per vector with `nSub`
    * code columns plus the total squared reconstruction error,
    * DECIMAL-accumulated so the cross-subspace sum is order-independent.
    *
    * Scale shape: the codebook broadcasts (nSub × codewords); the corpus
    * streams once with no shuffle before the final per-vector regroup.
    * 64-dim float (256 B) → 4 codes (4 B) is the 64× memory cut that makes
    * billion-vector ANN candidate scans RAM-resident; distances against
    * codes become nSub lookups in a per-query table.
    *
    * The per-subspace distance is an ascending-index fold of
    * (x_i − c_i)² — the same bit-exact shape as [[dot]], which is what
    * lets q125's DuckDB oracle replay the entire encode.
    */
  def pqEncode(
      df: DataFrame, idCol: String, embCol: String,
      nSub: Int, subDim: Int, stride: Long): DataFrame = {
    val v = df.select(col(idCol).as("vid"), toDouble(col(embCol)).as("ve"))
    val cb = df.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("code_id"), toDouble(col(embCol)).as("ce"))
    pqEncodeAgainst(v, cb, nSub, subDim)
  }

  /** [[pqEncode]]'s encode stage against an EXPLICIT codebook relation —
    * `v` = (vid, ve double[]), `cb` = (code_id, ce double[]) — the form an
    * incremental index refresh needs: new vectors must be coded against
    * the PERSISTED codebook (so their codes live in the same space as the
    * existing inverted lists), never against a codebook re-derived from
    * the delta.
    */
  private[ext] def pqEncodeAgainst(
      v: DataFrame, cb: DataFrame, nSub: Int, subDim: Int): DataFrame = {
    val best = nearestCodewords(v, cb, "ce", nSub, subDim)
    val codeCols = (0 until nSub)
      .map(i => max(when(col("s") === i, col("code_id"))).as(s"code_$i"))
    val recon = sum(col("d2").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
      .cast("double").as("recon")
    best.groupBy(col("vid"))
      .agg(codeCols.head, (codeCols.tail :+ recon): _*)
  }

  /** The nearest codeword of every (vector, subspace) — the ONE PQ
    * assignment rule, shared by [[pqEncodeAgainst]] and
    * [[trainSubCodebooks]], because train and encode must share the
    * metric bit-for-bit. `v` is (vid, ve double[]) and `cb` (code_id,
    * `cbVec` double[]); each subspace `s` scores squared L2 over its
    * slice and keeps rank 1 under the (d2 asc, code_id asc) tie-break.
    * Returns (vid, s, code_id, carry…, d2, rn).
    *
    * The slice distance is the native codegen'd fold (round 16): the
    * aggregate-HOF form it replaced evaluated an interpreted lambda per
    * element — jstack'd as the single dominant cost of every PQ encode.
    * Bit-identical fold (ascending index from 0.0), so codes and oracles
    * are unchanged.
    */
  private def nearestCodewords(
      v: DataFrame, cb: DataFrame, cbVec: String, nSub: Int, subDim: Int,
      carry: Column*): DataFrame = {
    graft.functions.VectorExpressions.register(v.sparkSession)
    val subs = v.withColumn("s", explode(sequence(lit(0), lit(nSub - 1))))
    val d2 = graft.functions.VectorExpressions.vecSliceSqDist(
      col("ve"), col(cbVec), (col("s") * subDim).cast("int"), lit(subDim))
    val w = Window.partitionBy(col("vid"), col("s"))
      .orderBy(col("d2").asc, col("code_id").asc)
    subs.crossJoin(broadcast(cb))
      .select((Seq(col("vid"), col("s"), col("code_id")) ++ carry :+ d2.as("d2")): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
  }

  /** [[pqEncodeAgainst]] with caller-supplied relations in fixture terms —
    * the public form an index consumer uses to encode vectors against a
    * PERSISTED codebook (e.g. measuring reconstruction error of a trained
    * vs a sampled codebook, or coding an ingest batch outside
    * [[IvfIndex.refresh]]).
    */
  def pqEncodeWith(
      df: DataFrame, idCol: String, embCol: String,
      cb: DataFrame, nSub: Int, subDim: Int): DataFrame =
    pqEncodeAgainst(
      df.select(col(idCol).as("vid"), toDouble(col(embCol)).as("ve")),
      cb.select(col("code_id"), col("cbe").as("ce")), nSub, subDim)

  /** Per-subspace Lloyd refinement of a PQ codebook — the FAISS training
    * recipe (Jégou et al. 2011 §III: k-means per subquantizer), replacing
    * the strided-corpus-sample codewords that seeded it. ONE iteration on
    * a bounded sample, mirroring the coarse quantizer's q323 recipe:
    * assign each training vector's subspace-`s` slice to its nearest seed
    * codeword (same squared-L2 fold and (d2 asc, code_id asc) tie-break
    * as [[pqEncodeAgainst]] — the train and encode metrics must agree),
    * then recompute each (subspace, codeword) cell as the per-position
    * mean of its members, DECIMAL-accumulated so the result is
    * partitioning-independent. Assignments are INDEPENDENT across
    * subspaces — that is the "product" in product quantization — so the
    * refined codeword `j` is the concatenation of nSub separately-trained
    * subspace centroids; the storage layout (code_id, cbe full-width)
    * is unchanged and every downstream slice-based consumer (LUT build,
    * encode) works unmodified. A (subspace, codeword) cell that attracts
    * no training member keeps its seed slice (a codeword row cannot be
    * dropped in one subspace only — the fixed code domain is what the
    * inverted lists' code columns index into).
    *
    * Output width is nSub × subDim (the slice domain the PQ ever reads);
    * k-means monotonicity gives total reconstruction error ≤ the seed
    * codebook's, which RecallSpec pins along with served ADC recall.
    *
    * Scale shape: the seed codebook broadcasts (nCodewords rows); the
    * training sample streams once for assignment (sample × nSub rows)
    * and once for the means — both bounded by the ~4√N sample contract,
    * never the corpus.
    */
  def trainSubCodebooks(
      train: DataFrame, cb: DataFrame, nSub: Int, subDim: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val means = nearestCodewords(train, cb, "cbe", nSub, subDim, col("ve"))
      .select(col("s"), col("code_id"),
        posexplode(slice(col("ve"), (col("s") * subDim + 1).cast("int"), lit(subDim)))
          .as(Seq("p", "v")))
      .groupBy(col("s"), col("code_id"), col("p"))
      .agg((sum(col("v").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1)).cast("double")).as("mv"))
    val seedPos = cb
      .withColumn("s", explode(sequence(lit(0), lit(nSub - 1))))
      .select(col("code_id"), col("s"),
        posexplode(slice(col("cbe"), (col("s") * subDim + 1).cast("int"), lit(subDim)))
          .as(Seq("p", "sv")))
    seedPos.join(means, Seq("s", "code_id", "p"), "left")
      .select(col("code_id"), (col("s") * subDim + col("p")).as("pos"),
        coalesce(col("mv"), col("sv")).as("v"))
      .groupBy(col("code_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("cbe"))
  }

  /** The ADC scoring plan — the ONE definition shared by [[ivfPqTopK]]
    * and [[IvfIndex.servePqTopK]], so the lazy and the persisted serve
    * cannot fork. `q` is a normalizedRel (qid, qe, qe_n); `cands` the
    * probed (qid, cid, code_0..code_{nSub-1}) rows, self-pairs already
    * excluded; `cb` the codebook (code_id, cbe); `rerank` the exact
    * vectors (cid, ce, ce_n) of every candidate.
    *
    * Per-query subspace lookup table: raw inner product of the query's
    * s-th subvector with each codeword's s-th subvector (same ascending
    * fold as the encode distance — slice preserves element order); each
    * candidate scores nSub LUT lookups, summed in DECIMAL(38,18) so the
    * addition is order-independent. `centDot` — (qid, cent_id, cdot), a
    * residual index's `dot(q, centroid(cell))`, with `cands` then also
    * carrying cent_id — adds the coarse term back, since
    * `dot(q, x̂) = dot(q, centroid) + dot(q, residual codeword)`. The
    * (adc desc, cid asc) top-k short list is then reranked by exact
    * cosine. Returns (qid, cid, rn, adc, cos).
    */
  private[ext] def adcTopK(
      q: DataFrame, cands: DataFrame, cb: DataFrame, rerank: DataFrame,
      nSub: Int, subDim: Int, k: Int, centDot: Option[DataFrame]): DataFrame = {
    val off = (col("s") * subDim + 1).cast("int")
    val lut = q.select(col("qid"), col("qe"))
      .withColumn("s", explode(sequence(lit(0), lit(nSub - 1))))
      .crossJoin(broadcast(cb))
      .select(col("qid"), col("s"), col("code_id"),
        dot(slice(col("qe"), off, lit(subDim)), slice(col("cbe"), off, lit(subDim))).as("v"))
    val keys = (Seq("qid", "cid") ++ centDot.map(_ => "cent_id")).map(col)
    val candCodes = cands
      .select(keys :+ explode(array((0 until nSub).map(i =>
        struct(lit(i).as("s"), col(s"code_$i").as("code_id"))): _*)).as("sc"): _*)
      .select(keys ++ Seq(col("sc.s").as("s"), col("sc.code_id").as("code_id")): _*)
    val lutSum = candCodes.join(broadcast(lut), Seq("qid", "s", "code_id"))
      .groupBy(keys: _*)
      .agg(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 18)))
        .cast("double").as("adc"))
    val adc = centDot.fold(lutSum)(cd =>
      lutSum.join(broadcast(cd), Seq("qid", "cent_id"))
        .select(col("qid"), col("cid"), (col("adc") + col("cdot")).as("adc")))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("cid").asc)
    val top = adc.withColumn("rn", row_number().over(wTop).cast("bigint"))
      .filter(col("rn") <= k)
    // exact rerank of the short list: k·queries rows read full vectors
    broadcast(top)
      .join(rerank, "cid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("cid"), col("rn"), col("adc"),
        (dot(col("qe"), col("ce")) / (col("qe_n") * col("ce_n"))).as("cos"))
  }

  /** IVF+PQ search with asymmetric distance computation (ADC — Jégou et
    * al. 2011 §IV): the billion-vector serving composition of the two
    * structures above. IVF cells (seed-only coarse quantizer, [[ivfTopK]]'s
    * layout) prune candidates to `nProbe` cells; candidates are scored NOT
    * against their raw vectors but against their PQ codes via a per-query
    * lookup table — `lut(q, s, code) = ⟨q_sub_s, codeword_sub_s⟩` — so the
    * candidate scan touches `nSub` table lookups per vector (codes are
    * `nSub` bytes, RAM-resident at any corpus size) and never reads the
    * float vectors. The ADC top-k survivors are then RERANKED with the
    * exact cosine — the standard two-stage serving plan (approximate
    * prune on codes, exact order on the short list), [[adcTopK]].
    *
    * Determinism/oracle shape: every stage reuses the bit-exact folds the
    * q40/q125 oracles already pin (ascending-index dot, id tie-breaks);
    * the cross-subspace ADC sum accumulates in DECIMAL(38,18) so the
    * addition of the `nSub` lookup values is order-independent.
    *
    * Scale shape: LUT is queries × codewords × nSub (broadcast); the
    * candidate scan is O(queries · nProbe · N/cells) rows × O(nSub) work;
    * the rerank reads only k·queries full vectors. No stage touches
    * O(N·d) floats after the one-off encode/assign passes (at 100 TB both
    * are persisted artifacts, recomputed here as lazy subplans for the
    * oracle harness).
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, embCol: String,
      k: Int, cellStride: Int, codeStride: Long, nSub: Int, subDim: Int,
      nProbe: Int): DataFrame = {
    val c = normalizedRel(corpus, idCol, embCol, "cid", "ce")
    val cells = assignCells(corpus, idCol, embCol, cellStride, trainIters = 0)
      .select(col("cid"), col("cent_id"))
    val codes = pqEncode(corpus, idCol, embCol, nSub, subDim, codeStride)
    // probe: nProbe nearest cells per query against the seed centroids
    val seed = centroidsOf(corpus, idCol, embCol, cellStride, 0, None)
    val q = normalizedRel(queries, idCol, embCol, "qid", "qe")
    val probes = probeNearestCells(q, seed, nProbe, carryQuery = false)
    val cb = corpus.filter(pmod(col(idCol), lit(codeStride)) === 0)
      .select(col(idCol).as("code_id"), toDouble(col(embCol)).as("cbe"))
    // candidate scan: probed cells' members with their codes
    val cands = probes.join(cells, "cent_id")
      .filter(col("cid") =!= col("qid"))
      .join(codes, col("cid") === col("vid"))
    adcTopK(q, cands, cb, c, nSub, subDim, k, centDot = None)
  }

  /** Embedding-cosine near-duplicate pairs, blocked on `blockCol` (e.g. a
    * label, an LSH bucket, or an IVF cell id) so only same-block pairs
    * are scored: [[withinCellPairs]] with the block as the cell key.
    */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String, blockCol: String, threshold: Double): DataFrame = {
    val v = normalizedRel(df, idCol, embCol, "cid", "ce", col(blockCol).as("cent_id"))
    withinCellPairs(v, v, threshold)
  }
}
