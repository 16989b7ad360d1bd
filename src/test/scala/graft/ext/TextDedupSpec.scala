package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  quick   Brown fox jumps over the lazy dog"), // exact dup after normalize
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup (1 shingle differs at tail)
    (4L, "completely different words entirely here now today")
  ).toDF("doc_id", "text")

  test("tokenHash32/64 + rollingHash match independently-computed values") {
    // constants derived outside Spark (python hashlib + int arithmetic on
    // the md5 hex digits) — the same derivation q38/q42's DuckDB oracles
    // run, so this pins cross-engine hash parity at the unit level:
    //   md5('hello') = 5d41402abc4b2a76b9719d911017c592
    //   h32  = 0x5d41402a                    = 1564557354
    //   h64  = 0x5d41402abc4b2a76 (signed)   = 6719722671305337462
    //   rollingHash(['hello','world'])       = 606371823
    val r = Seq("hello").toDF("t")
      .select(
        Text.tokenHash32($"t").as("h32"),
        Text.tokenHash64($"t").as("h64"),
        Text.rollingHash(typedLit(Seq("hello", "world"))).as("rh"))
      .head()
    assert(r.getLong(0) == 1564557354L)
    assert(r.getLong(1) == 6719722671305337462L)
    assert(r.getLong(2) == 606371823L)
    // signed reinterpretation: a leading hex digit ≥ 8 must go negative
    // (md5('a') = 0cc1..., md5('c') = 4a8a... keep hunting: md5('b') =
    // 92eb5ffee6ae2fec3ad71c777531578f → 0x92eb5ffee6ae2fec < 0)
    val neg = Seq("b").toDF("t").select(Text.tokenHash64($"t")).head().getLong(0)
    assert(neg == 0x92eb5ffee6ae2fecL && neg < 0L)
  }

  test("normalize collapses case + whitespace; md5 fingerprints collide for dups") {
    val fps = docs.select($"doc_id", Text.fingerprintMd5($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("shingles: distinct k-grams; short texts yield empty") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
      .select($"doc_id", Text.shingles($"text", 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sh(1L) == Set("a b c", "b c d") && sh(2L) == Set.empty)
  }

  test("exactDedup keeps the smallest doc_id per fingerprint") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("ngramJaccardPairs finds the near-dup pair with the exact jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // docs 1,2 identical after normalize → jaccard 1.0; 1-3 and 2-3
    // share 6 of 8 distinct shingles → 6/8 = 0.75
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val j = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(j((1L, 2L)) == 1.0 && math.abs(j((1L, 3L)) - 0.75) < 1e-12)
  }

  test("maxDf guard bounds the hot-shingle pair explosion (adversarial corpus)") {
    // 500 docs sharing ONE boilerplate shingle, otherwise disjoint: the
    // unguarded self-join would push C(500,2) = 124 750 pair rows
    // through that single join key — the 100×-scale killer
    val adversarial = (1 to 500)
      .map(i => (i.toLong, s"common boiler plate unique$i token$i word$i"))
      .toDF("doc_id", "text")
    val hotDf = Dedup.shingleRel(adversarial, "doc_id", "text", 3)
      .groupBy("shingle").count().agg(max("count")).head().getLong(0)
    assert(hotDf == 500L) // the boilerplate shingle co-occurs everywhere
    // guard at maxDf=10: candidate generation sees only the per-doc
    // unique shingles → ZERO candidate pairs instead of 124 750
    val guarded = Dedup.ngramJaccardPairs(adversarial, "doc_id", "text", 3, 0.5, maxDf = 10)
      .collect()
    assert(guarded.isEmpty)
    // semantics preserved here: every true jaccard is 1/7 < 0.5, so the
    // unguarded exact plan agrees (nothing was lost, just never generated)
    val exact = Dedup.ngramJaccardPairs(adversarial, "doc_id", "text", 3, 0.5).collect()
    assert(exact.isEmpty)
  }

  test("maxDf guard on natural corpus: exact precision, losses only via all-hot pairs") {
    val d = graft.Tables.load(spark, sf0001, "documents")
    val maxDf = 20
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val guarded = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(guarded.nonEmpty)
    // guarded ⊆ exact, and surviving pairs carry the TRUE jaccard (the
    // verify step uses FULL shingle sets, hot shingles included)
    guarded.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"guard fabricated pair $pair")
      assert(j == exact(pair), s"guard changed jaccard for $pair")
    }
    // any lost pair must have been connected ONLY through hot shingles
    val lost = exact.keySet -- guarded.keySet
    if (lost.nonEmpty) {
      val sh = Dedup.shingleRel(d, "doc_id", "text", 3)
      val dfreq = sh.groupBy("shingle").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val byDoc = sh.collect().groupBy(_.getLong(0))
        .map { case (k, v) => k -> v.map(_.getString(1)).toSet }
      lost.foreach { case (a, b) =>
        val shared = byDoc(a) intersect byDoc(b)
        assert(shared.forall(s => dfreq(s) > maxDf),
          s"pair ($a,$b) lost despite a cold shared shingle")
      }
    }
  }

  test("minhash LSH recall is 1.0 vs exact jaccard on sf0.001 documents") {
    val d = graft.Tables.load(spark, sf0001, "documents")
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text", 3, 64, 4, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && lsh == exact) // verification step makes precision exact; recall observed 1.0
  }

  test("cross-set LSH: equals exact cross-set jaccard pairs, no within-set pairs") {
    val d = graft.Tables.load(spark, sf0001, "documents")
    val benchSrc = Seq("src15", "src16", "src17", "src18", "src19")
    val bench = d.filter($"source".isin(benchSrc: _*))
    val corpus = d.filter(!$"source".isin(benchSrc: _*))
    val got = Dedup.minhashLshPairsAcross(corpus, bench, "doc_id", "text", 3, 64, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact reference: all ≥0.5 pairs, reoriented to (corpus, bench)
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val exactCross = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (benchIds(b) && !benchIds(a)) Some((a, b))
        else if (benchIds(a) && !benchIds(b)) Some((b, a))
        else None
      }.toSet
    assert(got.nonEmpty && got == exactCross)
    assert(got.forall { case (a, b) => !benchIds(a) && benchIds(b) })
  }

  test("sf0.1 (correctness/bench scale): df headroom, guarded == exact == LSH pair sets") {
    // The battery's q36/q70 run the BatteryMaxDf-guarded plan and q37/q110
    // run the LSH plan, while the DuckDB oracle computes the UNGUARDED
    // exact relation — so hash-green correctness depends on (a) every
    // shingle df staying far under the guard and (b) LSH candidate recall
    // being 1.0 AT THIS SCALE, not just on the sf0.001 fixture. Pin both
    // here so a fixture regeneration or new sf fails with a diagnosis
    // instead of a generic hash mismatch.
    val d = graft.Tables.load(spark, sf01, "documents")
    val maxDfObserved = Dedup.shingleRel(d, "doc_id", "text", 3)
      .groupBy("shingle").count().agg(max("count")).head().getLong(0)
    assert(maxDfObserved * 10 <= Dedup.BatteryMaxDf,
      s"fixture max shingle df $maxDfObserved erodes the 10x headroom under BatteryMaxDf=${Dedup.BatteryMaxDf}")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = toMap(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5))
    val guarded = toMap(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5, maxDf = Dedup.BatteryMaxDf))
    val lsh = toMap(Dedup.minhashLshPairs(d, "doc_id", "text", 3, 64, 4, 0.5))
    assert(exact.nonEmpty)
    assert(guarded == exact, s"guarded plan diverged: ${(guarded.keySet diff exact.keySet) ++ (exact.keySet diff guarded.keySet)}")
    assert(lsh == exact, s"LSH recall < 1.0 at sf0.1: missing ${exact.keySet diff lsh.keySet}")
  }

  test("simhash: identical docs hamming 0; near-dups close; distinct docs far") {
    val sims = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(3L)) < java.lang.Long.bitCount(sims(1L) ^ sims(4L)))
  }

  test("simhash pairs CONTAIN every near-identical pair (recall vs ground truth)") {
    // The q38 sketch's recall pinned against exact WEIGHTED (multiset)
    // token jaccard — Σ min(wa,wb) / Σ max(wa,wb) — the similarity
    // simhash actually approximates (its votes are occurrence-weighted;
    // a token-SET jaccard would call two docs over the same small vocab
    // "identical" while their count profiles, and therefore their
    // sketches, differ wildly). Two pins:
    //  (1) DETERMINISTIC containment where the math guarantees it: every
    //      ground-truth pair whose sketches are within hamming ≤ 3 MUST
    //      be emitted — the 4×16-bit-chunk blocking is exact there
    //      (pigeonhole), so a miss is an implementation bug.
    //  (2) EMPIRICAL recall floor on the full ≥ 0.95 population: these
    //      fixture docs are ~30 tokens, so per-bit majority votes are
    //      noisy (a j=0.98 pair can land at hamming 7) — sketch recall
    //      at maxDist=3 is inherently partial on short docs, observed
    //      0.84 here; pin ≥ 0.75 so a regression is caught without
    //      pretending the sketch is exact.
    val d = graft.Tables.load(spark, sf0001, "documents")
    val toks = d.select($"doc_id", Text.tokensNorm($"text").as("ts"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).filter(_.nonEmpty).groupBy(identity).map { case (t, o) => t -> o.size })
      .toMap
    val ids = toks.keys.toSeq.sorted
    val groundTruth = (for {
      (a, i) <- ids.zipWithIndex; b <- ids.drop(i + 1)
      keys = toks(a).keySet ++ toks(b).keySet
      inter = keys.toSeq.map(k => math.min(toks(a).getOrElse(k, 0), toks(b).getOrElse(k, 0))).sum
      union = keys.toSeq.map(k => math.max(toks(a).getOrElse(k, 0), toks(b).getOrElse(k, 0))).sum
      j = inter.toDouble / union
      if j >= 0.95
    } yield (a, b)).toSet
    assert(groundTruth.nonEmpty, "fixture lost its near-identical pairs")
    val sketch = Dedup.simhash64(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simhashPairs(d, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val close = groundTruth.filter { case (a, b) =>
      java.lang.Long.bitCount(sketch(a) ^ sketch(b)) <= 3 }
    assert(close.nonEmpty && close.subsetOf(got),
      s"blocking missed in-distance pairs (pigeonhole broken): ${close diff got}")
    val recall = groundTruth.count(got).toDouble / groundTruth.size
    assert(recall >= 0.75, f"simhash recall vs weighted-jaccard>=0.95 fell to $recall%.2f")
  }

  test("connectedComponents durable-checkpoint path yields identical clusters") {
    val d = graft.Tables.load(spark, sf0001, "documents")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.5)
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    // durability comes from the session's graft.checkpoint.dir (Ckpt)
    spark.conf.set(graft.ops.Ckpt.ConfKey, dir.toString)
    val durable =
      try Dedup.connectedComponents(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      finally spark.conf.unset(graft.ops.Ckpt.ConfKey)
    assert(local.nonEmpty && durable == local)
    // reliable checkpoint actually wrote state to the durable dir
    val wrote = java.nio.file.Files.walk(dir).anyMatch(p => p.toFile.isFile)
    assert(wrote, "no files under the reliable checkpoint dir")
  }

  test("langId votes deterministically with fixed priority") {
    val preds = Seq(
      (1L, "the cat is on the mat and it is warm"),
      (2L, "der hund ist nicht mit der katze"),
      (3L, "le chat est dans la maison pour dormir"),
      (4L, "el perro es grande y no come por la noche"),
      (5L, "世界你好"),
      (6L, "zzz qqq www")
    ).toDF("doc_id", "text")
      .select($"doc_id", Text.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh", 6L -> "und"))
  }

  test("rollingHash second witness: explode + power-table sum agrees on sf0.001") {
    // independent formulation of the same polynomial: h = Σᵢ (h32(tokᵢ)
    // mod M)·31^(n-1-i) mod M via posexplode + a precomputed modular
    // power table + one hash aggregate — no HOF fold, different plan
    // shape, same number. Anchors q42 with a second independently-derived
    // implementation (its third witness is the DuckDB oracle itself).
    val M = 1000000007L
    val pows = {
      val a = new Array[Long](1024)
      a(0) = 1L
      for (i <- 1 until 1024) a(i) = a(i - 1) * 31L % M
      a.toSeq
    }
    val d = graft.Tables.load(spark, sf0001, "documents")
    val maxN = d.select(max(size(Text.tokensNorm($"text")))).head().getInt(0)
    assert(maxN <= 1024, s"power table too small for $maxN tokens")
    val direct = d
      .select($"doc_id", Text.rollingHash(Text.tokensNorm($"text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val witness = d
      .select($"doc_id", Text.tokensNorm($"text").as("ws"))
      .select($"doc_id", size($"ws").as("n"), posexplode($"ws").as(Seq("pos", "tok")))
      .select($"doc_id",
        pmod(
          pmod(Text.tokenHash32($"tok"), lit(M)) *
            element_at(typedLit(pows), ($"n" - $"pos").cast("int")),
          lit(M)).as("c"))
      .groupBy("doc_id").agg(pmod(sum($"c"), lit(M)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct.nonEmpty && witness == direct)
  }

  test("rollingHash is order-sensitive (unlike set-based fingerprints)") {
    val h = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
      .select($"doc_id", Text.rollingHash(Text.tokensNorm($"text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(3L) && h(1L) != h(2L))
  }

  test("LSH candidates are SOUND: every reported pair clears the exact threshold") {
    // minhashLshPairs verifies candidates exactly, so false positives from
    // band collisions must never surface (soundness; recall is asserted
    // separately above)
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 3,
      numHashes = 64, rowsPerBand = 16, threshold = 0.5).collect()
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(exact.contains((r.getLong(0), r.getLong(1))),
        s"unsound LSH pair: $r")
      assert(r.getDouble(2) >= 0.5)
    }
  }
}
