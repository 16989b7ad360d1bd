package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import Similarity.{normalizedRel, assignToCells, centroidsOf, dot, toDouble, withinCellPairs}

/** Persisted IVF(+PQ) index: the production serving layout the lazy
  * [[Similarity.ivfTopK]]/[[Similarity.ivfPqTopK]] subplans stand in for
  * inside the oracle harness. At 100 TB an index is built ONCE (sampled
  * k-means training — [[Similarity.centroidsOf]] with `trainOn`, the
  * FAISS recipe q323 pins), written to storage, and every query batch
  * pays ONLY probe + candidate-scan + rerank; the N×√N assignment pass
  * and the Lloyd training never recur. q324/q326 put that serve path —
  * against real persisted parquet, with the build excluded — under the
  * hash gate and the decade measurements.
  *
  * On-disk layout (all parquet, all exact IEEE round-trips, so persisted
  * serve ≡ the lazy pipeline bit-for-bit):
  *   - `centroids/`: (cent_id, cent_e double[], cent_e_n) — the trained
  *     coarse quantizer, √N rows, broadcast at serve time.
  *   - `invfile/`, PARTITIONED BY cent_id: (cid, ce double[], ce_n,
  *     code_0..code_{nSub-1}) — the inverted lists, vectors AND PQ codes
  *     inline, so a probe reads ONLY its cells' directories (partition
  *     pruning does the candidate cut at the SCAN, before any join).
  *   - `codebook/`: (code_id, cbe double[]) — the PQ codebook for
  *     serve-time lookup tables, nCodewords rows, broadcast. A
  *     `_PQ_RESIDUAL` flag file inside it marks a residual-space codebook
  *     ([[buildResidual]]), so the flag is published with the codebook.
  *     The layout is data, not code: one writer produces either layout,
  *     and [[refresh]], [[rebuild]] and the one ADC serve
  *     ([[servePqTopK]]) read the flag ([[isResidual]]) to pick the code
  *     space.
  *   - `pairs/` (optional, [[buildPairs]]): (a_id, b_id) with the baked
  *     threshold in a `_THRESHOLD` file inside it.
  *
  * Every write — [[build]], [[buildResidual]], [[buildPairs]], [[refresh]],
  * [[compact]], [[rebuild]] — is one [[graft.ops.Publish]] commit under
  * the index directory (a `_journal` file is present only while one is in
  * flight), and every serve and maintenance entry point runs
  * `Publish.recover` first (one file-exists check when healthy), so a
  * crash mid-write leaves the old index or the new one, never a mix.
  * One writer per index at a time.
  */
object IvfIndex {

  import graft.ops.Publish

  /** Components a build writes (and a rebuild replaces, with `pairs`). */
  private val BuildComponents = Seq("centroids", "codebook", "invfile")

  /** Build the index and persist it under `outDir` (q323's sampled-train
    * recipe when `trainOn` is set). One full corpus scan for assignment +
    * one for the PQ encode — the one-time cost production amortizes.
    *
    * `cbTrainOn`: optional bounded sample for PER-SUBSPACE PQ codebook
    * training ([[Similarity.trainSubCodebooks]] — the FAISS recipe, one
    * Lloyd iteration per subquantizer on the sample). Default None keeps
    * the strided-corpus-sample codewords (the exact-oracle form
    * q125/q326 pin); q332 gates the trained form. Either way the
    * persisted layout is identical and the inverted lists' codes are
    * encoded against whichever codebook was persisted.
    */
  def build(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int, trainOn: Option[DataFrame],
      nSub: Int, subDim: Int, codeStride: Long, outDir: String,
      cbTrainOn: Option[DataFrame] = None): Unit =
    commit(corpus.sparkSession, outDir, Publish.Replace, BuildComponents)(stage =>
      writeIndex(corpus, idCol, embCol, stride, trainIters, trainOn, nSub, subDim, codeStride,
        residual = false, cbTrainOn, stage))()

  /** [[build]]'s RESIDUAL-PQ variant — the full IVFADC recipe (Jégou et
    * al. 2011 §IV: "the residual is quantized"): codes encode
    * `x − centroid(cell(x))` instead of `x` itself. On clustered data —
    * the regime real embedding corpora live in — raw-vector PQ spends its
    * entire bit budget re-encoding the cluster CENTER all members share,
    * so the quantization error is the same magnitude as the intra-cluster
    * spread being ranked and raw ADC rank resolution is noise-bound at
    * ANY codebook size (measured on the clustered fixture: pre-rerank
    * recall 0.084 at 64 codewords, 0.072 at 256 — the round-16 axis sweep
    * that motivated this path). Residual coding spends the same bytes on
    * exactly the component that distinguishes neighbors; RecallSpec pins
    * the pre-rerank recall it buys.
    *
    * On-disk layout is [[build]]'s plus the `codebook/_PQ_RESIDUAL` flag
    * (the codebook lives in residual space, so [[servePqTopK]] adds the
    * cell centroid's contribution back when it reads the flag); the
    * inverted lists and centroids are byte-compatible, so IVF-Flat serve
    * ([[serveTopK]]) works unchanged on either layout.
    *
    * Scale shape: one extra broadcast join (√N centroids) to form
    * residuals, assignment checkpointed so the N×√N pass is paid once
    * (it feeds both the strided-residual codebook and the invfile write).
    */
  def buildResidual(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int, trainOn: Option[DataFrame],
      nSub: Int, subDim: Int, codeStride: Long, outDir: String): Unit =
    commit(corpus.sparkSession, outDir, Publish.Replace, BuildComponents)(stage =>
      writeIndex(corpus, idCol, embCol, stride, trainIters, trainOn, nSub, subDim, codeStride,
        residual = true, cbTrainOn = None, stage))()

  /** The components of a [[build]] (`residual = false`) or a
    * [[buildResidual]] (`residual = true`), written under `outDir`.
    */
  private def writeIndex(
      corpus: DataFrame, idCol: String, embCol: String,
      stride: Int, trainIters: Int, trainOn: Option[DataFrame],
      nSub: Int, subDim: Int, codeStride: Long, residual: Boolean,
      cbTrainOn: Option[DataFrame], outDir: String): Unit = {
    val spark = corpus.sparkSession
    centroidsOf(corpus, idCol, embCol, stride, trainIters, trainOn)
      .write.parquet(s"$outDir/centroids")
    // assignment reads the PERSISTED centroids back (cheaper than
    // recomputing the training subplan inside this job, and exactly what
    // a production build resuming from a trained quantizer does)
    val cent = spark.read.parquet(s"$outDir/centroids")
    val (assigned, vecs) = encodeInput(
      normalizedRel(corpus, idCol, embCol, "cid", "ce"), cent, residual, checkpoint = false)
    // the seed codebook is the strided sample of the vectors the codes
    // quantize — same stride rule for both layouts, same oracle-replayable
    // determinism. The codebook is persisted FIRST and the encode reads it
    // back, so the inverted lists' codes always live in the persisted
    // codebook's space — trained or strided, the same resume-from-artifact
    // posture as the centroid read above
    val seedCb = vecs.filter(pmod(col("vid"), lit(codeStride)) === 0)
      .select(col("vid").as("code_id"), col("ve").as("cbe"))
    cbTrainOn
      .map(t => Similarity.trainSubCodebooks(
        t.select(col(idCol).as("vid"), toDouble(col(embCol)).as("ve")),
        seedCb, nSub, subDim))
      .getOrElse(seedCb)
      .write.parquet(s"$outDir/codebook")
    if (residual)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/codebook/$ResidualFlag"), "1".getBytes("UTF-8"))
    val codes = Similarity.pqEncodeAgainst(
      vecs, spark.read.parquet(s"$outDir/codebook").select(col("code_id"), col("cbe").as("ce")),
      nSub, subDim)
      .drop("recon")
    // Repartition by the PARTITION column before the partitioned write:
    // the join output is hash-distributed by cid, so without this every
    // task holds rows of most cells and writes a file into every cell
    // directory — ~tasks×cells small files (13.5k at sf10; measured as
    // the dominant cost of whole-invfile consumers — q327's pair scan,
    // cellStats' listing). One shuffle at build time buys one file per
    // cell, the layout compact() restores after refreshes.
    assigned
      .join(codes, col("cid") === col("vid")).drop("vid")
      .repartition(col("cent_id"))
      .write.partitionBy("cent_id").parquet(s"$outDir/invfile")
  }

  /** `c` (cid, ce, ce_n) assigned to its cells of `cent` — (cid, ce, ce_n,
    * cent_id) — and the (vid, ve) vectors the layout's codes quantize:
    * `ce` itself for raw codes, which therefore never wait on the
    * assignment; `ce − cent_e` of its assigned cell for residual codes.
    * A residual assignment is checkpointed with its residuals, so the
    * N×√N pass runs once for both consumers; `checkpoint` forces that for
    * a raw assignment read more than once.
    */
  private def encodeInput(
      c: DataFrame, cent: DataFrame, residual: Boolean,
      checkpoint: Boolean): (DataFrame, DataFrame) = {
    val assigned = assignToCells(c, cent)
    if (residual) {
      val withRes = graft.ops.Ckpt(
        assigned
          .join(broadcast(cent.select(col("cent_id"), col("cent_e"))), "cent_id")
          .withColumn("ve", zip_with(col("ce"), col("cent_e"), (a, b) => a - b))
          .drop("cent_e"))
      (withRes.drop("ve"), withRes.select(col("cid").as("vid"), col("ve")))
    } else
      (if (checkpoint) graft.ops.Ckpt(assigned) else assigned,
        c.select(col("cid").as("vid"), col("ce").as("ve")))
  }

  /** The flag file inside `codebook/` that marks residual-space codes. */
  private val ResidualFlag = "_PQ_RESIDUAL"

  /** Whether `indexDir` was written by [[buildResidual]] — its codebook
    * and codes live in residual space. The `codebook/_PQ_RESIDUAL` flag,
    * published with the codebook it describes, is the contract every
    * lifecycle operation keys on: [[servePqTopK]] adds the centroid term
    * of the ADC decomposition, [[refresh]] encodes delta residuals,
    * [[rebuild]] stages the same layout. Centroids, inverted lists, and
    * the inline vectors are byte-compatible either way, so the IVF-Flat
    * and SemDeDup paths never consult it.
    */
  def isResidual(indexDir: String): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$indexDir/codebook/$ResidualFlag"))

  /** Incremental index refresh — the operation a growing corpus runs per
    * ingest batch, completing the lifecycle (build once / refresh per
    * batch / serve per query): assign ONLY the ΔN new vectors against the
    * PERSISTED centroids (no retrain — the coarse quantizer is frozen at
    * build time, the standard IVF posture), PQ-encode them against the
    * PERSISTED codebook (codes must live in the same space as the
    * existing lists), and APPEND them into the partitioned inverted file.
    * Existing cells' files are never rewritten (parquet append adds new
    * files under the cent_id directories — Extended69Spec pins the
    * pre-existing file set unchanged), so the cost is O(ΔN × √N) for the
    * assignment scan plus O(ΔN) writes: linear in the delta, independent
    * of the existing corpus SIZE (the √N factor is the centroid count, a
    * property of the frozen quantizer, not of the accumulated data; even
    * at 10^11 vectors that √N centroid table is ~160 MB of doubles —
    * still a broadcast, shared by build, refresh, and serve).
    * After refresh, serving the index ≡ serving a from-scratch build of
    * the union corpus with the same trained centroids (q328/q329 put that
    * identity under the hash gate at three SFs).
    *
    * `pairThreshold` additionally maintains the SemDeDup pair artifact
    * ([[buildPairs]]) through the refresh: only pairs TOUCHING the delta
    * are computed — delta × same-cell existing rows plus delta × delta
    * within a cell — and appended, so the recurring exact-pair cost drops
    * from the N^1.5 floor q327 prices (every within-cell pair, every
    * refresh) to O(ΔN × cellLoad): linear in the delta. The delta pairs
    * and the delta's inverted-file files land in ONE append commit, so
    * the live inverted file the delta×existing join reads cannot hold the
    * delta yet (each such pair appears exactly once), and pairs never
    * land without their vectors. The delta assignment is checkpointed so
    * the ΔN×√N scan is paid once, not twice. q331 hash-gates the result
    * against from-scratch SemDeDup on the union corpus.
    *
    * Deliberately NOT handled here: centroid drift. A delta whose
    * distribution departs from the training sample degrades cell balance
    * and recall over successive refreshes; the production answer is to
    * monitor [[cellStats]] (q330) and schedule a REBUILD when imbalance
    * crosses a threshold — retraining inside refresh would silently
    * invalidate every existing assignment.
    */
  def refresh(
      spark: SparkSession, indexDir: String, delta: DataFrame,
      idCol: String, embCol: String, nSub: Int, subDim: Int,
      pairThreshold: Option[Double] = None): Unit = {
    Publish.recover(spark, indexDir)
    // Fail fast on a maintenance call that would corrupt the artifact:
    // appending to a pairs/ that buildPairs never committed (or committed
    // with a DIFFERENT baked threshold) yields an incomplete or
    // mixed-threshold set that serveSemDedupFromPairs would serve as a
    // wrong decision table with no error (ADVICE r14, medium).
    pairThreshold.foreach { th =>
      val baked = pairsThresholdOf(indexDir).getOrElse(sys.error(
        s"refresh(pairThreshold=$th): $indexDir/pairs has no _THRESHOLD — " +
          "run buildPairs on this index before maintaining pairs"))
      require(baked == th,
        s"refresh(pairThreshold=$th): pairs/ was built at threshold $baked — " +
          "maintaining it at a different threshold would mix pair sets; " +
          "rebuild the artifact (buildPairs) at the new threshold instead")
    }
    val cent = spark.read.parquet(s"$indexDir/centroids")
    val cb = spark.read.parquet(s"$indexDir/codebook")
      .select(col("code_id"), col("cbe").as("ce"))
    // Delta codes must live in the space the PERSISTED codebook
    // quantizes: raw vectors for a [[build]] index, x − centroid(cell(x))
    // for a [[buildResidual]] one ([[isResidual]] — the codebook's flag
    // is the contract). Encoding the delta raw against a residual-space
    // codebook would append codes that decode as garbage ADC scores with
    // no error anywhere — the exact-rerank vectors (`ce`) are unaffected,
    // which is precisely what would keep it silent. q338 hash-gates the
    // residual form (its oracle forms every corpus vector's residual,
    // delta included). Pair maintenance reads the assignment twice (pairs
    // + append): checkpoint so the ΔN×√N assignment scan runs once.
    val (assigned, toEncode) = encodeInput(
      normalizedRel(delta, idCol, embCol, "cid", "ce"), cent, isResidual(indexDir),
      checkpoint = pairThreshold.isDefined)
    val components = pairThreshold.map(_ => "pairs").toSeq :+ "invfile"
    commit(spark, indexDir, Publish.Append, components) { stage =>
      pairThreshold.foreach { th =>
        val inv = spark.read.parquet(s"$indexDir/invfile")
          .select(col("cid"), col("ce"), col("ce_n"), col("cent_id"))
        // The delta side is an ingest BATCH — small relative to the corpus
        // by contract — so broadcast it and stream the inverted file past
        // it once: without the hint Spark shuffles the WHOLE inverted file
        // by cent_id for this join (measured 36 s vs 29 s for the refresh
        // itself at sf10), which re-pays corpus-sized work on every batch.
        // Broadcast only under a BYTE bound — rows × vector width, not a
        // fixed row count (ADVICE r14: 100k rows of 64-dim doubles is
        // ~55 MB, but the same rows at 1024 dims would be ~850 MB); an
        // outsized delta falls back to the shuffle join rather than OOMing
        // an executor — production chunks its ingest batches anyway.
        val nDelta = assigned.count() // cheap: assigned is checkpointed
        val dim =
          if (nDelta == 0) 0
          else assigned.select(size(col("ce"))).head().getInt(0) // limit-1 job on the checkpoint
        val deltaBytes = nDelta * (dim.toLong * 8 + 48) // ce doubles + cid/ce_n/cent_id + array header
        val dSide = if (deltaBytes <= 64L * 1024 * 1024) broadcast(assigned) else assigned
        // delta × existing (the live invfile holds no delta row until the
        // commit, so the sides are disjoint) plus delta × delta
        withinCellPairs(dSide, inv, th)
          .union(withinCellPairs(dSide, dSide, th))
          .select(col("a_id"), col("b_id"))
          .write.parquet(s"$stage/pairs")
      }
      val codes = Similarity.pqEncodeAgainst(toEncode, cb, nSub, subDim).drop("recon")
      // same one-file-per-cell rule as build: the append adds at most ONE
      // file per touched cell per refresh instead of tasks×cells
      assigned
        .join(codes, col("cid") === col("vid")).drop("vid")
        .repartition(col("cent_id"))
        .write.partitionBy("cent_id").parquet(s"$stage/invfile")
    }()
  }

  /** [[refresh]] fed by STRUCTURED STREAMING micro-batches — the
    * north-star "stream ingestion" mode wired into the index lifecycle:
    * each micro-batch of `delta` becomes one [[refresh]] call (pair
    * maintenance included) via `foreachBatch`, which Spark runs
    * sequentially with exactly-once batch semantics against this sink
    * (the refresh append is idempotent per batch only at the file level,
    * so the one-writer contract refresh already carries extends to the
    * stream: one streaming query owns the index). Because refresh is
    * batch-order independent and exactly-once per row (Extended69Spec),
    * the drained stream leaves the index IDENTICAL to a single batch
    * refresh of the whole delta — q333 puts that identity under the hash
    * gate by serving the streamed artifact against q328's oracle.
    *
    * `delta` is written to a temp dir as three parquet files and
    * replayed one file per micro-batch through [[Streaming.drain]], the
    * driver of the q151/q322 streaming battery; a production deployment
    * points `readStream` at its landing zone (or Kafka, when a connector
    * jar exists) instead. The refresh jobs run at the session's shuffle
    * width, not the replay width.
    */
  def refreshStream(
      spark: SparkSession, indexDir: String, delta: DataFrame,
      idCol: String, embCol: String, nSub: Int, subDim: Int,
      pairThreshold: Option[Double] = None): Unit = {
    val src = java.nio.file.Files.createTempDirectory(Streaming.TmpPrefix + "ix_src")
    try {
      delta.repartition(3).write.mode("overwrite").parquet(src.toString)
      val stream = spark.readStream
        .schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      Streaming.drain(stream, "append") { (b, _) =>
        refresh(spark, indexDir, b, idCol, embCol, nSub, subDim, pairThreshold)
      }
    } finally graft.queries.QueryDef.rmTree(src)
  }

  /** The probe stage, executed EXACTLY ONCE: run
    * [[Similarity.probeNearestCells]] (the ONE probe definition, shared
    * with the lazy pipelines) slim — (qid, cent_id) only — over the
    * read-back centroid artifact, collect the bounded pair list, and
    * return it both ways the serve plans consume it: as a LOCAL relation
    * (the returned plan joins these driver-side pairs instead of
    * re-running the probe subplan — previously the crossJoin executed
    * twice, once for the pruning collect and once when the served plan
    * ran) and as the sorted distinct cell-id array that becomes the
    * partition-pruning IN-list.
    *
    * Guard order: the query count is bounded BEFORE the probe job
    * launches (one limit+count on the query relation's id column — an
    * oversized batch fails before paying the nQueries × nCells probe
    * scan, not after), and the collect re-asserts the same bound as a
    * defensive invariant. The pair list also bounds the ADC path's
    * broadcast-LUT breadth, since pairs ≥ distinct qids.
    */
  private def collectedProbes(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, embCol: String, nProbe: Int,
      maxProbePairs: Int): (DataFrame, Array[Long]) = {
    val qBound = math.max(1, maxProbePairs / math.max(1, nProbe))
    val nQ = queries.select(col(idCol)).limit(qBound + 1).count()
    require(nQ <= qBound,
      s"persisted-index serve: >$qBound query vectors x nProbe=$nProbe exceeds " +
        s"maxProbePairs=$maxProbePairs — split the batch or raise the bound")
    val slim = Similarity.probeNearestCells(
      normalizedRel(queries, idCol, embCol, "qid", "qe"),
      spark.read.parquet(s"$indexDir/centroids"), nProbe, carryQuery = false)
    val rows = slim.limit(maxProbePairs + 1).collect()
    require(rows.length <= maxProbePairs,
      s"persisted-index serve probes exceed maxProbePairs=$maxProbePairs after the pre-check")
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), slim.schema)
    (local, rows.map(_.getLong(1)).distinct.sorted)
  }

  /** The probed slice of the inverted file, partition-pruned AT THE SCAN:
    * the bounded probe-cell ids become a literal IN-list over the
    * PARTITION column — the scan reads only the probed cells'
    * directories, never the corpus. The partition column comes back as
    * the inferred directory type (int for small ids), so the IN-list is
    * typed to match BEFORE the long-cast — a cast around the partition
    * attribute would defeat the pruning.
    */
  private def prunedInvfile(
      spark: SparkSession, indexDir: String, cells: Array[Long]): DataFrame = {
    val sorted = cells.distinct.sorted
    val inv = spark.read.parquet(s"$indexDir/invfile")
    val pruned = inv.schema("cent_id").dataType match {
      case IntegerType => inv.filter(col("cent_id").isin(sorted.map(_.toInt).toIndexedSeq: _*))
      case _ => inv.filter(col("cent_id").isin(sorted.toIndexedSeq: _*))
    }
    pruned.withColumn("cent_id", col("cent_id").cast("long"))
  }

  /** IVF-Flat serve against a persisted index: probe → partition-pruned
    * candidate scan → exact cosine top-k via [[Similarity.topKByCosine]]
    * (the same tie-break rule as [[Similarity.ivfTopK]]'s serve stage,
    * shared code — so serving from the persisted artifact returns the
    * identical relation). No training, no corpus-wide assignment, no
    * full-corpus scan anywhere in the plan.
    */
  def serveTopK(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, embCol: String, k: Int, nProbe: Int,
      maxProbePairs: Int = 1000000): DataFrame = {
    Publish.recover(spark, indexDir)
    val (pairs, cells) = collectedProbes(
      spark, indexDir, queries, idCol, embCol, nProbe, maxProbePairs)
    // scoring needs qe/qe_n on the candidate rows: re-attach them by
    // joining the local pair relation back to the query side (exact — the
    // pair list is the probe stage's own output, computed once)
    val probes = broadcast(pairs)
      .join(normalizedRel(queries, idCol, embCol, "qid", "qe"), "qid")
    val inv = prunedInvfile(spark, indexDir, cells)
    Similarity.topKByCosine(probes.join(inv, "cent_id"), k)
  }

  /** IVF+PQ ADC serve against a persisted index (the billion-vector
    * serving plan of [[Similarity.ivfPqTopK]], build excluded): probe →
    * per-query LUT over the persisted codebook → candidates scored by
    * nSub code lookups (the pruned inverted file supplies codes, no float
    * vectors touched) → exact rerank of the k·queries short list using
    * the vectors carried INLINE in the probed cells, all through
    * [[Similarity.adcTopK]] — DECIMAL-accumulated ADC sum and id
    * tie-breaks identical to ivfPqTopK's.
    *
    * Either layout serves here: the codebook's flag ([[isResidual]]) is
    * read once, and a residual index's candidate score gains the coarse
    * term `dot(q, centroid(cell))` — one bounded probe-pair computation
    * (≤ maxProbePairs rows against the broadcast √N centroid table),
    * computed fresh rather than un-normalized from the probe cosine (a
    * multiply-back would be a different IEEE op than never dividing).
    */
  def servePqTopK(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, embCol: String, k: Int, nSub: Int, subDim: Int,
      nProbe: Int, maxProbePairs: Int = 1000000): DataFrame = {
    Publish.recover(spark, indexDir)
    // the ADC path rebuilds its LUT and rerank from the query relation
    // directly, so the slim (qid, cent_id) pair relation is all it needs
    val (probes, cells) = collectedProbes(
      spark, indexDir, queries, idCol, embCol, nProbe, maxProbePairs)
    val inv = prunedInvfile(spark, indexDir, cells)
    val q = normalizedRel(queries, idCol, embCol, "qid", "qe")
    val centDot = Option.when(isResidual(indexDir)) {
      val cent = spark.read.parquet(s"$indexDir/centroids")
      broadcast(probes)
        .join(q.select(col("qid"), col("qe")), "qid")
        .join(broadcast(cent.select(col("cent_id"), col("cent_e"))), "cent_id")
        .select(col("qid"), col("cent_id"), dot(col("qe"), col("cent_e")).as("cdot"))
    }
    val cands = broadcast(probes)
      .join(inv, "cent_id")
      .filter(col("cid") =!= col("qid"))
    // rerank reads the short list's full vectors from the probed cells
    // (every shortlist cid lives in a probed cell by construction)
    Similarity.adcTopK(q, cands, spark.read.parquet(s"$indexDir/codebook"),
      inv.select(col("cid"), col("ce"), col("ce_n")), nSub, subDim, k, centDot)
  }

  /** Memoized Σ m·(m−1)/2 over the invfile's cell histogram — the pair
    * volume [[serveSemDedup]] sizes its shuffle from. One rollup over the
    * PARTITION column only (≤√N groups, no data columns read); memoized
    * per index dir because plan-only consumers construct the serve plan
    * repeatedly (the BatteryPlanSpec sweeps), and invalidated by every
    * [[commit]].
    */
  private val pairStats = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def invfilePairCount(spark: SparkSession, indexDir: String): Long =
    pairStats.computeIfAbsent(indexDir, { d =>
      java.lang.Long.valueOf(
        spark.read.parquet(s"$d/invfile")
          .groupBy(col("cent_id")).agg(count(lit(1)).as("m"))
          .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)))
          .head().getLong(0))
    }).longValue()

  /** SemDeDup's recurring term served from the persisted assignment: the
    * within-cell pair scan + connected components + min-id keeper over
    * the inverted file alone — no training and no assignment pass in the
    * plan, completing the SemDeDup cost decomposition the battery
    * measures (train O(N) sampled = q325; one N×√N assignment = the
    * persisted build; THIS — the exact pair term, the N^1.5 floor for
    * exact SemDeDup — is what a 100 TB deployment re-pays per corpus
    * refresh). `corpus` supplies the id universe for the decision table
    * (an id-only column-pruned scan). The pair rule is
    * [[Similarity.withinCellPairs]] and the decision step
    * [[Dedup.decisionTable]], the code [[Similarity.semanticDedup]] runs
    * over its lazy assignment.
    */
  def serveSemDedup(
      spark: SparkSession, indexDir: String, corpus: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    Publish.recover(spark, indexDir)
    Dedup.decisionTable(cellPairs(spark, indexDir, threshold), corpus, idCol)
  }

  /** Every within-cell pair of the inverted file at or above `threshold`
    * — [[Similarity.withinCellPairs]] over the persisted assignment.
    * The self-join width is sized from the invfile's cell histogram, not
    * the session default (q284's lesson, Extended50.scala): per-cell pair
    * volume grows linearly in N at √N cells, so a fixed session width
    * saturates a decade past where it was tuned. ~4M pairs per partition,
    * floor 32; the equi-join reuses the repartition layout, so the sizing
    * costs no extra shuffle.
    */
  private def cellPairs(
      spark: SparkSession, indexDir: String, threshold: Double): DataFrame = {
    val width = math.max(32L,
      math.min(4096L, invfilePairCount(spark, indexDir) / 4000000L)).toInt
    val inv = spark.read.parquet(s"$indexDir/invfile")
      .select(col("cid"), col("ce"), col("ce_n"), col("cent_id"))
      .repartition(width, col("cent_id"))
    withinCellPairs(inv, inv, threshold)
  }

  /** Materialize the thresholded within-cell pair set as a `pairs/`
    * artifact alongside the index — the one-time companion of [[build]]
    * that makes SemDeDup's recurring term INCREMENTAL: q327's serve
    * recomputes every within-cell pair per run (the N^1.5 floor), whereas
    * with the artifact each [[refresh]] appends only the delta-touching
    * pairs (O(ΔN × cellLoad)) and [[serveSemDedupFromPairs]] reads the
    * accumulated set — the superlinear cost is paid once, at build.
    * The threshold is baked into the artifact (pairs below it are never
    * stored); callers must refresh with the same value. `pairs/` and its
    * `_THRESHOLD` are committed together.
    */
  def buildPairs(spark: SparkSession, indexDir: String, threshold: Double): Unit =
    commit(spark, indexDir, Publish.Replace, Seq("pairs"))(stage =>
      writePairs(spark, indexDir, s"$stage/pairs", threshold))()

  /** The within-cell pairs of `indexDir`'s inverted file at or above
    * `threshold`, written to `out` with the threshold baked in.
    */
  private def writePairs(
      spark: SparkSession, indexDir: String, out: String, threshold: Double): Unit = {
    cellPairs(spark, indexDir, threshold).select(col("a_id"), col("b_id")).write.parquet(out)
    // Bake the threshold INTO the artifact (underscore prefix → invisible
    // to parquet readers): pairs below it were never stored, so a refresh
    // maintaining the set with a different threshold would silently
    // produce a mixed-threshold artifact and a wrong decision table.
    // refresh() validates against this sidecar and fails fast instead
    // (ADVICE r14, medium).
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/_THRESHOLD"), threshold.toString.getBytes("UTF-8"))
  }

  /** The threshold [[buildPairs]] baked into `pairs/`, from its sidecar. */
  private def pairsThresholdOf(indexDir: String): Option[Double] = {
    val p = java.nio.file.Paths.get(s"$indexDir/pairs/_THRESHOLD")
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toDouble)
    else None
  }

  /** SemDeDup decision table from the persisted `pairs/` artifact alone:
    * connected components + min-id keeper, NO pair scan in the plan — the
    * recurring cost is the duplicate-graph size, not the within-cell pair
    * count. With [[buildPairs]] at build time and `pairThreshold` on every
    * [[refresh]], this equals [[serveSemDedup]] on the same index exactly
    * (pair maintenance is exhaustive — q331 hash-gates the identity
    * against from-scratch SemDeDup on the union corpus).
    */
  def serveSemDedupFromPairs(
      spark: SparkSession, indexDir: String, corpus: DataFrame,
      idCol: String): DataFrame = {
    Publish.recover(spark, indexDir)
    Dedup.decisionTable(spark.read.parquet(s"$indexDir/pairs"), corpus, idCol)
  }

  /** Index health monitor — BOTH maintenance triggers [[refresh]]'s
    * contract defers to, as one row of cell-histogram rollups over the
    * inverted file's PARTITION and metadata columns only (no data pages
    * read; ≤√N groups).
    *
    * REBUILD trigger: `imbalance_r` (max cell load over mean) — the
    * quantizer is frozen at build time, so successive deltas that drift
    * from the training distribution show up exactly here, and a rebuild
    * (retrain + reassign) is scheduled when it crosses a policy
    * threshold. `pair_sum` is the exact-SemDeDup recurring-term volume
    * ([[invfilePairCount]]'s value, exposed).
    *
    * COMPACT trigger: every refresh appends one file per touched cell,
    * so `max_files_per_cell` climbs by ~1 per refresh and a serve pays
    * that many file opens per probed cell — the small-files tax
    * [[compact]] exists to reset. `compact_due` fires when it exceeds
    * `compactAfter` (the policy knob: how many refreshes between
    * compactions a deployment tolerates). File identity comes from the
    * scan's `_metadata.file_path` — a constant per file, so the distinct
    * count per cell is the cell directory's live file count without a
    * separate listing job.
    */
  def cellStats(
      spark: SparkSession, indexDir: String, compactAfter: Int = 4): DataFrame = {
    Publish.recover(spark, indexDir)
    val avg = col("n_vecs").cast("double") / col("n_cells")
    spark.read.parquet(s"$indexDir/invfile")
      .select(col("cent_id"), col("_metadata.file_path").as("__f"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("m"), countDistinct(col("__f")).as("nf"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("m")).as("n_vecs"),
        max(col("m")).as("max_load"),
        sum(expr("m * (m - 1) div 2")).as("pair_sum"),
        sum(col("nf")).as("n_files"),
        max(col("nf")).as("max_files_per_cell"))
      .select(col("n_cells"), col("n_vecs"), col("max_load"), col("pair_sum"),
        graft.ops.Num.roundTo(avg, 4).as("avg_load_r"),
        graft.ops.Num.roundTo(col("max_load").cast("double") / avg, 4).as("imbalance_r"),
        col("n_files"), col("max_files_per_cell"),
        (col("max_files_per_cell") > compactAfter).as("compact_due"))
  }

  /** Compact the inverted file in place: every [[refresh]] appends one
    * file per touched cell directory, so after R refreshes a serve reads
    * up to R+1 files per probed cell — at 100 TB that is the classic
    * small-files tax (per-file open/footer cost at the scan, listing
    * pressure on the metadata layer). Rewrites each cell's accumulated
    * files into one file per cell (rows hash to one shuffle partition per
    * cell; the partitioned write splits per directory) and replaces the
    * directory in one commit. Content is bit-identical (parquet
    * round-trips the doubles and codes exactly), so serve plans are
    * unchanged — Extended69Spec pins serve-identity across a compact.
    *
    * The commit is a [[graft.ops.Publish.Replace]] of `invfile/`: the
    * staged tree must hold as many rows as the live one, or the commit is
    * refused and the live inverted file stays. Same one-writer contract
    * as [[refresh]] (concurrent serves reading the old listing finish
    * against intact files; local FS keeps open fds valid across rename).
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    commit(spark, indexDir, Publish.Replace, Seq("invfile")) { stage =>
      spark.read.parquet(s"$indexDir/invfile")
        .repartition(col("cent_id"))
        .write
        .partitionBy("cent_id").parquet(s"$stage/invfile")
    } { stage =>
      // A compacted tree that silently dropped rows must never replace the
      // source (ADVICE r14). Both counts are local footer reads.
      val srcRows = spark.read.parquet(s"$indexDir/invfile").count()
      val dstRows = spark.read.parquet(s"$stage/invfile").count()
      require(dstRows == srcRows,
        s"compact wrote $dstRows rows for a $srcRows-row inverted file — the original invfile is untouched")
    }

  /** Every index write: one [[graft.ops.Publish]] commit under `indexDir`,
    * after which the memoized pair counts of the index (and of its staging
    * directory) are dropped, whatever the outcome.
    */
  private def commit(
      spark: SparkSession, indexDir: String, kind: Publish.Kind, components: Seq[String])(
      write: String => Unit)(accept: String => Unit = _ => ()): Unit =
    try Publish(spark, indexDir, kind, components)(write)(accept)
    finally pairStats.keySet.removeIf(_.startsWith(indexDir))

  /** REBUILD — the monitor's other trigger promoted to a first-class
    * lifecycle operator, so the drift → rebuild cycle has a callable
    * target. Retrains the coarse quantizer on the CURRENT accumulated
    * corpus, reassigns and re-encodes every vector, rebuilds the pairs
    * artifact if one exists (at its baked threshold), and replaces all
    * components in one [[graft.ops.Publish]] commit — the old index stays
    * fully readable until it lands, and a staged tree that lost rows is
    * refused.
    *
    * The corpus is read from the index's own inverted file (cid, ce): the
    * invfile carries every vector as the exact `toDouble` of the original
    * embedding (parquet round-trips IEEE doubles), so a rebuild is
    * BIT-IDENTICAL to a fresh [[build]] over the accumulated corpus with
    * the same derived parameters — the identity q335 hash-gates (serve
    * after build(90%)+refresh(10%)+rebuild ≡ q324's fresh-build oracle on
    * the full corpus) and RecallSpec pins the recall value of. No
    * separate corpus copy is scanned: at 100 TB the index IS the
    * authoritative vector store, and rebuild costs exactly one build
    * (O(N·√N) assignment + O(N) encode) plus the pairs term when present.
    *
    * Parameterization is re-derived from the CURRENT corpus size — that
    * is the point of a rebuild: √N' cells, ~4√N' training sample, one
    * Lloyd iteration (the q323 recipe), N'/nCodewords codebook. The
    * layout is the index's own: the one writer behind [[build]] and
    * [[buildResidual]] stages residual codes (and the flag) when
    * [[isResidual]] holds. Pass `cbTrain = true` for the
    * per-subspace-trained codebook (q332's FAISS recipe) when the original
    * build used one; a residual index has no trained form and refuses it.
    */
  def rebuild(
      spark: SparkSession, indexDir: String, nSub: Int, subDim: Int,
      trainIters: Int = 1, nCodewords: Int = 64, cbTrain: Boolean = false): Unit = {
    Publish.recover(spark, indexDir)
    // A residual-coded index must stage residual codes again: raw codes
    // under a residual flag would be silent ADC corruption. q339
    // hash-gates the residual staging; Extended72Spec pins the flag
    // round-trip.
    val residual = isResidual(indexDir)
    require(!(cbTrain && residual),
      "rebuild(cbTrain=true) on a residual-coded index: buildResidual has no " +
        "per-subspace-trained form — its codebook is the strided residual seed")
    val corpus = spark.read.parquet(s"$indexDir/invfile")
      .select(col("cid").as("vec_id"), col("ce").as("embedding"))
    val n = corpus.count()
    val stride = Similarity.sqrtStride(n)
    val trainStride = math.max(1L, n / (4L * stride))
    val sample = corpus.filter(pmod(col("vec_id"), lit(trainStride)) === 0)
    val codeStride = math.max(1L, n / nCodewords)
    val pairsTh = pairsThresholdOf(indexDir)
    commit(spark, indexDir, Publish.Replace, BuildComponents ++ pairsTh.map(_ => "pairs")) { stage =>
      writeIndex(corpus, "vec_id", "embedding", stride, trainIters, Some(sample),
        nSub, subDim, codeStride, residual, if (cbTrain) Some(sample) else None, stage)
      pairsTh.foreach(th => writePairs(spark, stage, s"$stage/pairs", th))
    } { stage =>
      val stagedRows = spark.read.parquet(s"$stage/invfile").count()
      require(stagedRows == n,
        s"rebuild staged $stagedRows rows for a $n-row corpus — the live index is untouched")
    }
  }

  /** Battery-side index cache: ONE build per (fixture dir, [[Recipe]]) per
    * JVM, under a shutdown-hook-cleaned temp root. This is how q324/q326
    * measure the serve path in isolation without a side-channel artifact
    * store: Bench takes the min over reps, so rep 1 pays the (memoized)
    * build and the recorded min is the pure persisted-serve cost — the
    * production steady state, where the index is a pre-existing artifact.
    * Verify correctness is unaffected (the build is deterministic, and
    * parquet round-trips doubles exactly, so serve ≡ the lazy q323
    * pipeline).
    *
    * Parameters are the battery's production rule: stride = √N cells,
    * Lloyd trained 1 iteration on a ~4√N sample (q323), codebook stride
    * N / nCodewords (q125), all derived from the count of the corpus the
    * index is BUILT on.
    */
  object Cache {

    /** A PQ geometry: nSub subspaces of subDim dims, nCodewords codewords. */
    final case class Geometry(nSub: Int, subDim: Int, nCodewords: Int)

    /** The battery's geometry: nSub=4 × subDim=16, a FIXED 64-codeword
      * codebook (q125).
      */
    val Std = Geometry(4, 16, 64)

    /** The HI-RESOLUTION PQ geometry for q334 — the codebook-size axis of
      * the ADC quality story. The battery's 64-codeword × nSub=4 config
      * (q125's oracle-pinned rule) tie-saturates raw ADC within a cluster
      * (measured pre-rerank recall 0.012, BENCH_SF1 r15): 4 subspaces ×
      * 64 codewords cannot distinguish members of a tight cluster, so PQ
      * COMPRESSION was demonstrated but PQ RANKING was not. 256 codewords
      * × nSub=8 × subDim=8 is the standard FAISS geometry (8-bit codes);
      * finer subspaces + a 4× codeword domain give raw ADC real
      * within-cluster rank resolution — RecallSpec pins hi-res pre-rerank
      * ≥ the production config's, and BENCH_SF1.md records the sweep.
      */
    val HiRes = Geometry(8, 8, 256)

    val nSub = Std.nSub
    val subDim = Std.subDim
    val nSubHi = HiRes.nSub
    val subDimHi = HiRes.subDim
    val nCodewordsHi = HiRes.nCodewords

    /** What happens to an index after its build. */
    sealed trait Life
    /** Built on the whole corpus (q324–q327, q332, q334, q337). */
    case object Fresh extends Life
    /** Built on the 90% "old" corpus (`vec_id % 10 != 9`, parameters sized
      * from the OLD count, exactly as a deployment that trained before the
      * delta arrived), then [[IvfIndex.refresh]]ed with the 10% delta
      * (q328–q331, q338). Serving it must equal serving the union corpus
      * against the old-trained quantizer — the oracles replay that in SQL.
      */
    case object Refreshed extends Life
    /** [[Refreshed]] with the delta arriving as structured-streaming
      * micro-batches ([[refreshStream]], three source files replayed one
      * per trigger) — q333 reuses q328's oracle, since refresh is
      * batch-order independent and exactly-once.
      */
    case object StreamRefreshed extends Life
    /** [[Refreshed]] in its own directory, then [[IvfIndex.rebuild]]
      * (q335/q336, q339): rebuild re-derives every parameter from the
      * union count and the invfile round-trips the vectors exactly, so the
      * rebuilt index must equal a FRESH build on the full corpus.
      */
    case object Rebuilt extends Life

    /** How a cached index is made: its geometry, raw or RESIDUAL codes
      * ([[buildResidual]], q337–q339), a PER-SUBSPACE-TRAINED codebook
      * ([[Similarity.trainSubCodebooks]] on the coarse quantizer's sample,
      * q332) or the strided one, and its [[Life]]. A raw index that is not
      * [[Fresh]] also carries the SemDeDup pairs artifact ([[buildPairs]]
      * at [[pairThreshold]], maintained through the refresh), which
      * q331/q336 serve.
      */
    final case class Recipe(
        geometry: Geometry = Std, residual: Boolean = false,
        trainedCodebook: Boolean = false, life: Life = Fresh) {
      def pairs: Boolean = !residual && life != Fresh
    }

    /** The battery's SemDeDup threshold (q111/q325/q327/q331's rule) —
      * baked into the cached pairs artifact, so every consumer must agree.
      */
    val pairThreshold = 0.4

    private val built = new java.util.concurrent.ConcurrentHashMap[(String, Recipe), String]()
    private lazy val root: java.nio.file.Path = {
      val p = java.nio.file.Files.createTempDirectory("graft_ivf_index")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.queries.QueryDef.rmTree(p)))
      p
    }

    /** The index `recipe` makes over `dir`'s embeddings, built once. */
    def indexFor(spark: SparkSession, dir: String, recipe: Recipe = Recipe()): String =
      built.computeIfAbsent((dir, recipe), k => make(spark, k._1, k._2))

    private def make(spark: SparkSession, d: String, r: Recipe): String = {
      val emb = graft.Tables.load(spark, d, "embeddings")
      val old = emb.filter(pmod(col("vec_id"), lit(10)) =!= 9)
      val (corpus, n) =
        if (r.life == Fresh) (emb, graft.Tables.cachedCount(spark, d, "embeddings"))
        else (old, oldCount(spark, d))
      val stride = Similarity.sqrtStride(n)
      val trainStride = math.max(1L, n / (4L * stride))
      val sample = corpus.filter(pmod(col("vec_id"), lit(trainStride)) === 0)
      val g = r.geometry
      val codeStride = math.max(1L, n / g.nCodewords)
      val out = java.nio.file.Files.createTempDirectory(root, "ix").toString
      if (r.residual)
        buildResidual(corpus, "vec_id", "embedding", stride = stride, trainIters = 1,
          trainOn = Some(sample), nSub = g.nSub, subDim = g.subDim,
          codeStride = codeStride, outDir = out)
      else
        build(corpus, "vec_id", "embedding", stride = stride, trainIters = 1,
          trainOn = Some(sample), nSub = g.nSub, subDim = g.subDim,
          codeStride = codeStride, outDir = out,
          cbTrainOn = if (r.trainedCodebook) Some(sample) else None)
      val th = if (r.pairs) Some(pairThreshold) else None
      th.foreach(buildPairs(spark, out, _))
      val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      r.life match {
        case Fresh =>
        case StreamRefreshed =>
          refreshStream(spark, out, delta, "vec_id", "embedding", g.nSub, g.subDim, th)
        case Refreshed | Rebuilt =>
          refresh(spark, out, delta, "vec_id", "embedding", g.nSub, g.subDim, th)
      }
      if (r.life == Rebuilt)
        rebuild(spark, out, g.nSub, g.subDim, nCodewords = g.nCodewords, cbTrain = r.trainedCodebook)
      out
    }

    private val oldCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

    /** Memoized count of the 90% "old" sub-corpus — the non-fresh recipes
      * derive their √N parameterization from it at plan-construction time
      * (same rationale as Tables.cachedCount).
      */
    private def oldCount(spark: SparkSession, dir: String): Long =
      oldCounts.computeIfAbsent(dir, { d =>
        java.lang.Long.valueOf(graft.Tables.load(spark, d, "embeddings")
          .filter(pmod(col("vec_id"), lit(10)) =!= 9).count())
      }).longValue()
  }
}
