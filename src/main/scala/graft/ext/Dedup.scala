package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groups), n-gram Jaccard (exact similarity with
  * prefix-filtered candidate generation), MinHash+LSH (approximate
  * candidates at scale), SimHash (bit-sketch near-dup), and
  * embedding-cosine near-dup (see Similarity).
  *
  * Scale design: nothing here compares all pairs.
  *  - Exact dedup is one hash aggregate.
  *  - Jaccard pairs materialize only through the shared-shingle join
  *    (O(Σ df²) pair rows — disjoint documents never meet).
  *  - MinHash derives its 64-function family from TWO string hashes
  *    (h₁ ⊕ rotl(h₂, i)) instead of 64 string rehashes, and LSH banding
  *    keeps candidate generation O(docs × bands).
  *  - SimHash blocks on 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some
  *    chunk equal).
  * Candidates from approximate stages always get EXACT verification.
  * All joins are shuffle joins on computed keys — embarrassingly
  * partitionable at 100 TB.
  */
object Dedup {

  /** Hot-shingle guard value used by the pinned battery queries (q36,
    * q70). One shared constant — the guard only leaves query output
    * identical to the unguarded exact plan while every shingle df stays
    * ≤ this bound, so the fixture's max df (25 at sf0.1) is asserted to
    * sit well under it in TextDedupSpec ("fixture df headroom").
    */
  val BatteryMaxDf = 1000

  /** Set-similarity join with PREFIX FILTERING (the PPJoin family,
    * Xiao et al. 2008): exact token-set Jaccard ≥ tauNum/tauDen without a
    * hot-token guard. Tokens order globally by (df, token) — rarest
    * first — and a document with n tokens exposes only its first
    * n - ceil(τ·n) + 1 tokens as join keys: two sets with Jaccard ≥ τ
    * MUST share a prefix token, so candidate fan-out is governed by RARE
    * token frequencies, not the corpus's hottest token (the boilerplate
    * shingle that forces ngramJaccardPairs' maxDf split). A length
    * filter (τ·max ≤ min) prunes before the distinct; survivors get
    * exact intersection counting. All thresholds compare as integers —
    * no floating-point tie can flip membership.
    *
    * Returns (a_id, b_id, na, nb, inter) for pairs with
    * inter/(na+nb-inter) ≥ tauNum/tauDen; callers derive Jaccard.
    *
    * At 100 TB: df attaches via a broadcast-sized vocabulary relation,
    * the per-doc prefix window shuffles on doc id once, and the
    * candidate join shuffles on (rare) prefix tokens — the skew the
    * shared-shingle join suffers on hot keys cannot arise because hot
    * tokens sit at the BACK of every ordering and never enter a prefix
    * unless the document is almost all boilerplate.
    */
  def prefixJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(0 < tauNum && tauNum <= tauDen, "need 0 < tau <= 1")
    // Ckpt (r16): the token-set pass feeds dfreq, the prefix window and
    // both exact-verify sides — pay the tokenize+explode+distinct once
    val toks = graft.ops.Ckpt(tokenSet(df, idCol, textCol))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val prefix = prefixed(toks, dfreq, tauNum, tauDen)
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.__id") < col("b.__id"))
      // length filter: Jaccard ≥ τ forces τ·max(n) ≤ min(n)
      .filter(least(col("a.n"), col("b.n")) * tauDen >=
        greatest(col("a.n"), col("b.n")) * tauNum)
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    verifyExact(cand, toks, toks, tauNum, tauDen)
  }

  /** Cross-set variant of [[prefixJaccardPairs]] — the decontamination
    * posture (q103's LSH sibling, exact): every (probe, corpus) pair with
    * token-set Jaccard ≥ τ. Work is bounded by the PROBE side: only probe
    * prefix tokens generate candidates, so corpus-side cluster structure
    * (which makes the self-join's output quadratic on near-identical
    * corpora) never amplifies beyond the probes' true matches. Token
    * rarity comes from the CORPUS (the probe must not shift the order);
    * probe-only tokens take df 0 — "rarest" — which is conservative:
    * they can never produce a corpus match, and both sides rank prefixes
    * under the same total (df, token) order, preserving the
    * no-false-negative prefix theorem.
    */
  def prefixJaccardJoin(
      probe: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      tauNum: Int, tauDen: Int): DataFrame = {
    require(0 < tauNum && tauNum <= tauDen, "need 0 < tau <= 1")
    // Ckpt (r16): both token-set passes are multi-consumer (dfreq /
    // prefix / exact verify) — pay each tokenize+explode+distinct once
    val tp = graft.ops.Ckpt(tokenSet(probe, idCol, textCol))
    val tc = graft.ops.Ckpt(tokenSet(corpus, idCol, textCol))
    val dfreq = tc.groupBy("tok").agg(count(lit(1)).as("df"))
    val cand = prefixed(tp, dfreq, tauNum, tauDen).as("a")
      .join(prefixed(tc, dfreq, tauNum, tauDen).as("b"),
        col("a.tok") === col("b.tok"))
      .filter(least(col("a.n"), col("b.n")) * tauDen >=
        greatest(col("a.n"), col("b.n")) * tauNum)
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    verifyExact(cand, tp, tc, tauNum, tauDen)
  }

  /** Distinct (id, token) relation under the shared normalizer. */
  private def tokenSet(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"), explode(Text.tokensNorm(col(textCol))).as("tok"))
      .filter(col("tok") =!= "").distinct()

  /** Keep each document's (n - ceil(τn) + 1)-prefix under the global
    * (df, token) order; ceil(a/d) = floor((a+d-1)/d), exact in double
    * for any plausible n (< 2^50). Tokens missing from the df relation
    * rank as df 0 (rarest).
    */
  private def prefixed(
      toks: DataFrame, dfreq: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val n = toks.groupBy("__id").agg(count(lit(1)).as("n"))
    toks.join(dfreq, Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .join(n, "__id")
      .withColumn("pos",
        row_number().over(Window.partitionBy(col("__id")).orderBy(col("df"), col("tok"))))
      .filter(col("pos") <=
        col("n") - floor((col("n") * tauNum + (tauDen - 1)) / tauDen) + 1)
      .select(col("__id"), col("tok"), col("n"))
  }

  /** Exact intersection count + integer threshold over candidate pairs. */
  private def verifyExact(
      cand: DataFrame, ta: DataFrame, tb: DataFrame,
      tauNum: Int, tauDen: Int): DataFrame =
    cand
      .join(ta.select(col("__id").as("a_id"), col("tok")), "a_id")
      .join(tb.select(col("__id").as("b_id"), col("tok")), Seq("b_id", "tok"))
      .groupBy("a_id", "b_id", "na", "nb")
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * tauDen >= (col("na") + col("nb") - col("inter")) * tauNum)

  /** Exact-duplicate groups by md5 of normalized text: (fp, keep_id =
    * smallest doc id, n_docs). Group-then-min keeps one deterministic
    * representative.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprintMd5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Rows that survive exact dedup (the deterministic representative per
    * fingerprint).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, idCol)
  }

  /** (doc_id, shingle) relation — distinct k-gram shingles exploded.
    * Tokens are projected to a concrete column first (see
    * Text.shinglesFromTokens for why).
    *
    * NOT cached by default: `.cache()` at plan-build time is a
    * session-lifetime side effect (a lazily-built DataFrame has no scope
    * to unpersist in), which leaks memory in long-lived services. Within
    * a single query the identical scan+explode subplans are deduplicated
    * by Spark's ReuseExchange instead; a multi-query batch job that wants
    * cross-query reuse opts in with cache=true and owns the unpersist
    * (or checkpoints the relation to parquet, the 100 TB shape).
    */
  def shingleRel(df: DataFrame, idCol: String, textCol: String, k: Int, cache: Boolean = false): DataFrame = {
    val rel = df.select(col(idCol).as("doc_id"), Text.tokensNorm(col(textCol)).as("__ws"))
      .select(col("doc_id"), explode(Text.shinglesFromTokens(col("__ws"), k)).as("shingle"))
      .filter(col("shingle") =!= "")
    if (cache) rel.cache() else rel
  }

  /** Exact Jaccard of candidate pairs: join each side's full shingle set,
    * count the intersection, compare against set sizes. The a/b sides may
    * be the same relation (within-set dedup) or two different corpora
    * (cross-set contamination).
    */
  private def verifiedJaccard(
      cand: DataFrame, shA: DataFrame, shB: DataFrame,
      sizesA: DataFrame, sizesB: DataFrame, threshold: Double): DataFrame =
    jaccardOf(
      cand
        .join(shA.as("sa"), col("a_id") === col("sa.doc_id"))
        .join(shB.as("sb"), col("b_id") === col("sb.doc_id") && col("sa.sh_h") === col("sb.sh_h"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_inter")),
      sizesA, sizesB, threshold)

  /** The Jaccard tail every exact-pair path shares: (a_id, b_id,
    * n_inter) intersection counts joined to each side's shingle-set size
    * (doc_id, n_sh), jaccard = n_inter / (n_a + n_b − n_inter), kept at
    * ≥ threshold. Returns (a_id, b_id, jaccard).
    */
  private def jaccardOf(
      inter: DataFrame, sizesA: DataFrame, sizesB: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizesA.withColumnRenamed("n_sh", "n_a"), col("a_id") === col("doc_id")).drop("doc_id")
      .join(sizesB.withColumnRenamed("n_sh", "n_b"), col("b_id") === col("doc_id")).drop("doc_id")
      .withColumn(
        "jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Exact n-gram Jaccard near-dup pairs (a_id < b_id, jaccard ≥
    * threshold) via the direct shared-shingle join: intersection counts
    * come straight out of the join's group-by, so each co-occurring pair
    * is touched once (O(Σ df²) pair rows). With a natural (zipfian,
    * large-vocab) corpus df is small and this is the cheapest exact plan;
    * a prefix-filtered variant (SSJoin/PPJoin) only pays off when
    * verification is much rarer than co-occurrence, which profiling
    * showed is NOT the case here (tiny synthetic vocab → rejoin-verify
    * cost dominates; measured 409k candidates needing a 20M-row rejoin vs
    * 1.1M direct pair groups).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, k: Int, threshold: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // join/shuffle on the 64-bit shingle hash, not the ~25-byte string:
    // ~2-3× less shuffle volume; collision risk over a corpus dictionary
    // is (d²/2)/2⁶⁴ — immaterial (≈2e-11 at 27k distinct shingles).
    // Ckpt (r16): the shingle relation — the tokenize+explode text pass,
    // the most expensive input here — feeds up to SEVEN consumers (both
    // size joins; and in the guarded branch dfreq + both cold sides +
    // both hot sides); without a materialization point each consumer
    // re-ran the text pass. One localCheckpoint (reliable checkpoint
    // under graft.checkpoint.dir) pays it once.
    val sh = graft.ops.Ckpt(shingleRel(df, idCol, textCol, k)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h")))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    if (maxDf == Int.MaxValue) {
      jaccardOf(
        sh.as("x")
          .join(sh.as("y"), col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .agg(count(lit(1)).as("n_inter")),
        sizes, sizes, threshold)
    } else {
      // Hot-shingle guard for the 100×-scale hazard: the self-join above
      // produces O(df²) pair rows PER shingle, so one boilerplate shingle
      // shared by 100k docs would blow up a single join key. Split the
      // shingle relation at df = maxDf and compute the intersection in
      // two parts:
      //   n_inter = n_cold (direct pair-group join over cold shingles,
      //             the same cheap plan as the unguarded branch, now
      //             O(maxDf²)-bounded per key)
      //           + n_hot  (candidate pairs rejoined against the HOT-ONLY
      //             occurrence relation — empty on a healthy corpus, and
      //             O(candidates × hot-shingles-per-doc) on a boilerplate
      //             one; never df²)
      // so every emitted pair still carries its true jaccard (hot
      // shingles count toward intersections and sizes). The only loss is
      // recall for pairs whose shared shingles are ALL hot — at threshold
      // ≥ 0.5 such a pair shares ≥ n_sh/3 shingles, every one of them
      // corpus-frequent, i.e. pure boilerplate; LSH (minhashLshPairs)
      // recovers those without any df² term. (An earlier version rejoined
      // candidates against the FULL shingle sets — semantically identical
      // but ~6× slower at sf0.1, where the rejoin touched 20M rows that
      // the direct pair-group join already counts for free.)
      val dfreq = sh.groupBy(col("sh_h")).agg(count(lit(1)).as("__df"))
      val hotKeys = dfreq.filter(col("__df") > maxDf).select(col("sh_h"))
      val cold = sh.join(hotKeys, Seq("sh_h"), "left_anti")
      val hot = sh.join(hotKeys, Seq("sh_h"))
      val coldPairs = cold.as("x")
        .join(cold.as("y"), col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_cold"))
      val hotInter = coldPairs.select(col("a_id"), col("b_id"))
        .join(hot.as("ha"), col("a_id") === col("ha.doc_id"))
        .join(hot.as("hb"), col("b_id") === col("hb.doc_id") && col("ha.sh_h") === col("hb.sh_h"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("n_hot"))
      jaccardOf(
        coldPairs
          .join(hotInter, Seq("a_id", "b_id"), "left")
          .withColumn("n_inter", col("n_cold") + coalesce(col("n_hot"), lit(0L))),
        sizes, sizes, threshold)
    }
  }

  /** MinHash signatures: per doc, min over shingles of the i-th hash
    * h_i(s) = xxhash64(1,s) ⊕ rotl(xxhash64(2,s), i) — two string hashes
    * per shingle, the rest is bit arithmetic (vs numHashes full string
    * rehashes). One aggregate over the shingle relation.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, k: Int, numHashes: Int): DataFrame = {
    def rotl(c: Column, i: Int): Column =
      if (i % 64 == 0) c else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val hashed = shingleRel(df, idCol, textCol, k)
      .withColumn("h1", xxhash64(lit(1), col("shingle")))
      .withColumn("h2", xxhash64(lit(2), col("shingle")))
    val mins = (0 until numHashes).map(i => min(col("h1").bitwiseXOR(rotl(col("h2"), i))).as(s"h$i"))
    hashed.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(s => col(s"h$s")): _*).as("sig"))
  }

  /** (doc_id, band, band-hash) relation from a signature relation. */
  private def bandRel(sig: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    sig.select(
      col("doc_id"),
      explode(transform(
        sequence(lit(0), lit(numBands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bh"))))
        .as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bh"))

  private def hashedShingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleRel(df, idCol, textCol, k)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh_h"))

  /** LSH banding: candidate pairs whose signatures collide in ≥1 band of
    * `rowsPerBand` consecutive signature slots, then EXACT Jaccard
    * verification of candidates only. With numHashes=64, rowsPerBand=4
    * (16 bands), a pair at jaccard 0.5 is caught with p ≈ 0.65; at 0.8
    * p ≈ 0.9997 — tune bands/rows per corpus; the verify step keeps
    * precision exact either way.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = bandRel(
      minhashSignatures(df, idCol, textCol, k, numHashes), numHashes / rowsPerBand, rowsPerBand)
    val cand = bands.as("p")
      .join(bands.as("q"),
        col("p.band") === col("q.band") && col("p.bh") === col("q.bh") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"))
      .distinct()
    val sh = hashedShingles(df, idCol, textCol, k)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    verifiedJaccard(cand, sh, sh, sizes, sizes, threshold)
  }

  /** Cross-set MinHash-LSH near-dup pairs: every LEFT document against
    * every RIGHT document (e.g. training corpus vs held-out benchmark —
    * FUZZY decontamination, where exact shingle overlap like
    * Corpus.contaminationRates misses paraphrased leaks). Same LSH
    * machinery as [[minhashLshPairs]], but candidates only form ACROSS
    * the two sets (left bands join right bands), so the candidate volume
    * is O(|left| + |right|) × bands with no within-set pairs at all —
    * the right/benchmark side is typically tiny and its band relation
    * broadcasts. Candidates get exact Jaccard verification over the two
    * full shingle relations. Callers keep the id spaces disjoint.
    */
  def minhashLshPairsAcross(
      left: DataFrame, right: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val numBands = numHashes / rowsPerBand
    val lb = bandRel(minhashSignatures(left, idCol, textCol, k, numHashes), numBands, rowsPerBand)
    val rb = bandRel(minhashSignatures(right, idCol, textCol, k, numHashes), numBands, rowsPerBand)
    val cand = lb.as("p")
      .join(rb.as("q"), col("p.band") === col("q.band") && col("p.bh") === col("q.bh"))
      .select(col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"))
      .distinct()
    val shL = hashedShingles(left, idCol, textCol, k)
    val shR = hashedShingles(right, idCol, textCol, k)
    val sizesL = shL.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val sizesR = shR.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    verifiedJaccard(cand, shL, shR, sizesL, sizesR, threshold)
  }

  /** Round cap of [[connectedComponents]] (two hops per round): a
    * component that has not converged by then fails loudly.
    */
  private val MaxIter = 25

  /** Connected components over an undirected pair relation (a_id, b_id)
    * — the clustering step that turns near-dup PAIRS into dedup GROUPS
    * (keep min-id per component, drop the rest). Iterative min-label
    * propagation: every node starts labeled with itself; each round
    * takes the min label across neighbors; stop when no label changes.
    *
    * Scale: each round is one shuffle join + hash aggregate over the
    * edge relation — fully partitioned, no driver-side graph. Rounds =
    * O(component diameter), and near-dup components are shallow (dozens
    * of rounds would mean a pathological duplicate chain). Lineage is
    * truncated per round — without it the iterative plan re-executes
    * from scratch each round and grows unboundedly. The convergence
    * check (`isEmpty`) brings back one scalar per round.
    *
    * Durability: every materialization goes through [[graft.ops.Ckpt]] —
    * localCheckpoint by default, which an executor loss mid-iteration
    * kills along with the job; a production run on a real cluster sets
    * the session's `graft.checkpoint.dir` (e.g. an HDFS/S3 path), and
    * iteration state then goes through reliable `checkpoint()` storage
    * and survives executor loss. Same plan either way, only the storage
    * tier changes.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // materialize the (possibly expensive) pair plan ONCE, then build the
    // symmetric edge relation from the checkpointed copy — a union of the
    // raw plan with its own swap would execute pair generation twice
    val base = graft.ops.Ckpt(pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    val edges = graft.ops.Ckpt(
      base.union(base.select(col("dst").as("src"), col("src").as("dst"))))
    // seed with the ONE-HOP minimum (min of self and direct neighbors)
    // instead of self: a clique — the common near-dup cluster shape —
    // then converges inside the first two-hop round, so the loop exits
    // after one checkpoint instead of two
    var labels = graft.ops.Ckpt(edges
      .groupBy(col("src").as("node"))
      .agg(least(min(col("dst")), col("src")).as("label")))
    // one edge-propagation step: label'(n) = min(label(n), min over
    // neighbors m of label(m)); passthrough columns ride along unchanged
    def propagate(ls: DataFrame, passthrough: Seq[String]): DataFrame = {
      val neigh = edges.join(ls, edges("dst") === ls("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      ls.as("l")
        .join(neigh, col("l.node") === neigh("src"), "left")
        .select(
          col("l.node").as("node") +:
            least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("label") +:
            passthrough.map(c => col(s"l.$c")): _*)
    }
    var changed = true
    var i = 0
    while (changed && i < MaxIter) {
      // TWO hops per materialization round, with the prior label carried
      // as __old: halves the checkpoint+count job overhead per converged
      // distance (propagation is monotone, so extra steps never
      // over-shoot; the convergence check stays exact — a filter over
      // the checkpointed frame, not a join). isEmpty (take-1) instead of
      // count(): non-final rounds short-circuit on the first changed
      // label instead of scanning every partition; only the converged
      // final round pays a full scan.
      val withOld = labels.withColumn("__old", col("label"))
      val next = graft.ops.Ckpt(propagate(propagate(withOld, Seq("__old")), Seq("__old")))
      changed = !next.filter(col("label") =!= col("__old")).isEmpty
      labels = next.select(col("node"), col("label"))
      i += 1
    }
    require(!changed, s"connectedComponents did not converge in $MaxIter rounds")
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Pair set → keep-min decision table, the clean step's keep-first rule
    * for near-duplicates: [[connectedComponents]] over the (a_id, b_id)
    * duplicate graph, then every id of `corpus`'s `idCol` — pairless ids
    * are their own cluster — with `keep` on each cluster's min id.
    * Returns (id, cluster_id, keep). Shared by the lazy and persisted
    * SemDeDup paths ([[Similarity.semanticDedup]],
    * [[IvfIndex.serveSemDedup]], [[IvfIndex.serveSemDedupFromPairs]]).
    */
  private[ext] def decisionTable(pairs: DataFrame, corpus: DataFrame, idCol: String): DataFrame = {
    val clusters = connectedComponents(pairs)
      .select(col("doc_id").as("id"), col("cluster_id"))
    corpus.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  /** 64-bit SimHash over the token multiset: per bit, majority vote of
    * tokenHash64(token) bits, weighted by occurrence. Computed as 64 sum
    * aggregates (one shuffle), reassembled into a LongType sketch. The
    * md5-derived hash (vs xxhash64) costs a few ns/token more but makes
    * the sketch engine-independent — q38's DuckDB oracle rebuilds the
    * identical sketch from the hex digits and hash-matches the pair set.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // pre-aggregate to (doc, token-hash, weight): the 64 per-bit votes
    // then run over distinct tokens (vote ±weight ≡ ±1 per occurrence,
    // exactly) — with natural token repetition this shrinks the wide
    // 64-agg stage input several-fold
    val tok = df.select(col(idCol).as("doc_id"), explode(Text.tokensNorm(col(textCol))).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("doc_id"), Text.tokenHash64(col("t")).as("h"))
      .agg(count(lit(1)).as("w"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, col("w")).otherwise(-col("w"))).as(s"v$b")
    }
    val agg = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 64)
      .map(b => when(col(s"v$b") > 0, lit(1L) * lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist (≤ 3 is exact
    * under 4-chunk blocking; larger maxDist becomes a recall-bounded
    * heuristic). Blocking: 4 × 16-bit chunks — a pair differing in ≤ 3
    * bits must agree on ≥ 1 chunk.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int): DataFrame = {
    val sim = simhash64(df, idCol, textCol)
    val chunks = sim.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"), shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL).as("cv"))): _*))
        .as("x"))
      .select(col("doc_id"), col("simhash"), col("x.chunk"), col("x.cv"))
    chunks.as("p")
      .join(chunks.as("q"),
        col("p.chunk") === col("q.chunk") && col("p.cv") === col("q.cv") &&
          col("p.doc_id") < col("q.doc_id"))
      .select(
        col("p.doc_id").as("a_id"), col("q.doc_id").as("b_id"),
        bit_count(col("p.simhash").bitwiseXOR(col("q.simhash"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
