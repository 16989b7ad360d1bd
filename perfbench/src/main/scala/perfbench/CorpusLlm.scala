package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IvfIndex, Similarity}

/** LLM-corpus serving and curation: a persisted IVF index over a seeded
  * clustered embedding corpus, serving top-k request batches while small
  * refreshes append to it, mixed with document dedup passes. Rows are
  * query vectors served + vectors appended + documents deduplicated.
  */
final class CorpusLlm extends Workload {
  val name = "corpus_llm"
  private val nVec = 20000
  private val nQueries = 2000
  private val batch = 50
  private val slice = 100
  private val slices = 100
  private val nDocs = 2000
  val k = 10
  val nProbe = 3
  val dim = 64
  private val mix = Seq("serve" -> 6, "refresh" -> 2, "dedup" -> 2)
  val kinds: Seq[String] = mix.map(_._1)
  override def blockSize: Int = mix.map(_._2).sum

  private var docsInfo: Gen.DocsInfo = _
  var buildS = 0.0
  private var refreshed = 0

  private def corpusDir(ctx: Ctx) = s"${ctx.work}/corpus"
  private def poolDir(ctx: Ctx) = s"${ctx.work}/pool"
  private def queryDir(ctx: Ctx) = s"${ctx.work}/queries"
  def indexDir(ctx: Ctx) = s"${ctx.work}/index"
  private def emb(ctx: Ctx, d: String) = ctx.spark.read.parquet(s"$d/embeddings.parquet")
  private def docs(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.work}/docs")
  private def clusters = Similarity.sqrtStride(nVec.toLong)

  def datagen(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // one center salt per seed: the pool and the query vectors are drawn
    // around the corpus's own clusters, with disjoint id ranges
    val salt = ctx.seed
    graft.GenClustered.run(spark, corpusDir(ctx), nVec, clusters, dim, 0.05, salt, 0L)
    graft.GenClustered.run(spark, poolDir(ctx), slice.toLong * slices, clusters, dim, 0.05, salt, nVec)
    graft.GenClustered.run(spark, queryDir(ctx), nQueries, clusters, dim, 0.05, salt,
      nVec + slice.toLong * slices)
    val (rows, info) = Gen.documents(ctx.seed, nDocs)
    docsInfo = info
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/docs")
  }

  /** The index as `IvfIndex.Cache.indexFor` builds it: sampled training of
    * √N cells, strided PQ codebook.
    */
  override def index(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    Workload.rmTree(indexDir(ctx))
    val corpus = emb(ctx, corpusDir(ctx))
    val trainStride = math.max(1L, nVec / (4L * clusters))
    IvfIndex.build(corpus, "vec_id", "embedding", stride = clusters, trainIters = 1,
      trainOn = Some(corpus.filter(pmod(col("vec_id"), lit(trainStride)) === 0)),
      nSub = IvfIndex.Cache.nSub, subDim = IvfIndex.Cache.subDim,
      codeStride = math.max(1L, nVec / 64L), outDir = indexDir(ctx))
    buildS = (System.nanoTime() - t0) / 1e9
    refreshed = 0
  }

  def inputSizes: Seq[(String, Long)] = Seq(
    "corpus_vectors" -> nVec.toLong, "dim" -> dim.toLong, "cells" -> clusters.toLong,
    "query_vectors" -> nQueries.toLong, "serve_batch" -> batch.toLong,
    "refresh_slice" -> slice.toLong, "refresh_pool" -> slice.toLong * slices,
    "documents" -> docsInfo.docs.toLong, "planted_pairs" -> docsInfo.planted.size.toLong)

  def ops(seed: Long): Iterator[Op] = {
    var serve, refresh = 0
    Workload.blocks(seed, mix).zipWithIndex.map { case (kind, i) =>
      val arg = kind match {
        case "serve" => serve += 1; (serve - 1) % (nQueries / batch)
        case "refresh" => refresh += 1; refresh - 1
        case _ => 0
      }
      Op(i.toLong, kind, arg)
    }
  }

  private def queryBatch(ctx: Ctx, b: Int): DataFrame = {
    val lo = nVec + slice.toLong * slices + b.toLong * batch
    emb(ctx, queryDir(ctx)).filter(col("vec_id") >= lo && col("vec_id") < lo + batch)
  }

  def run(ctx: Ctx, op: Op): OpResult = ctx.span("op") {
    val spark = ctx.spark
    op.kind match {
      case "serve" =>
        val got = ctx.span("ivf.serve") {
          IvfIndex.serveTopK(spark, indexDir(ctx), queryBatch(ctx, op.arg),
            "vec_id", "embedding", k, nProbe).select("qid", "cid").collect()
        }
        OpResult(batch, got.map(r => (r.getLong(0), r.getLong(1))))
      case "refresh" =>
        require(op.arg < slices, s"refresh pool exhausted after $slices slices")
        val lo = nVec + op.arg.toLong * slice
        ctx.span("ivf.refresh") {
          IvfIndex.refresh(spark, indexDir(ctx),
            emb(ctx, poolDir(ctx)).filter(col("vec_id") >= lo && col("vec_id") < lo + slice),
            "vec_id", "embedding", IvfIndex.Cache.nSub, IvfIndex.Cache.subDim)
        }
        refreshed = math.max(refreshed, op.arg + 1)
        OpResult(slice)
      case "dedup" =>
        val d = docs(ctx)
        val kept = ctx.span("dedup.exact")(Dedup.exactDedup(d, "doc_id", "text").count())
        val pairs = ctx.span("dedup.minhash") {
          Dedup.minhashLshPairs(d, "doc_id", "text", 3, 64, 4, 0.5)
            .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        OpResult(docsInfo.docs, (kept, pairs.toSet))
    }
  }

  /** Serve ops: every query of the batch got exactly k neighbours. Dedup
    * ops: the exact pass kept one doc per distinct text and LSH found
    * exactly the planted pairs. After the window: the index holds every
    * appended vector once, and recall@k of a fixed query sample against
    * brute force over the same vectors is at least the floor.
    */
  def check(ctx: Ctx, done: Seq[(Op, OpResult)]): Checked = {
    val bad = done.collect {
      case (op, r) if op.kind == "serve" =>
        val got = r.output.asInstanceOf[Array[(Long, Long)]]
        val perQ = got.groupBy(_._1).values.map(_.length)
        (op.id, perQ.size == batch && perQ.forall(_ == k))
      case (op, r) if op.kind == "dedup" =>
        val (kept, pairs) = r.output.asInstanceOf[(Long, Set[(Long, Long)])]
        (op.id, kept == docsInfo.distinctTexts && pairs == docsInfo.planted)
    }.collect { case (id, false) => id }.toSet
    val spark = ctx.spark
    val stats = IvfIndex.cellStats(spark, indexDir(ctx)).head()
    val nIndexed = stats.getAs[Long]("n_vecs")
    val expectVecs = nVec.toLong + refreshed.toLong * slice
    val distinct = spark.read.parquet(s"${indexDir(ctx)}/invfile").select("cid").distinct().count()
    val recall = recallAtK(ctx)
    val filesPerCell = stats.getAs[Long]("n_files").toDouble / stats.getAs[Long]("n_cells")
    Checked(bad,
      guards = Map("ivf.recall_at_k" -> recall, "ivf.files_per_cell" -> filesPerCell,
        "dedup.pairs" -> docsInfo.planted.size.toDouble, "ivf.indexed" -> nIndexed.toDouble),
      guardsOk = nIndexed == expectVecs && distinct == expectVecs && recall >= CorpusLlm.RecallFloor,
      notes = Seq(s"indexed=$nIndexed distinct=$distinct expected=$expectVecs recall=$recall"))
  }

  /** Mean fraction of the true top-k (brute force over corpus + appended
    * slices) that the index serves, over the first query batch.
    */
  def recallAtK(ctx: Ctx): Double = {
    val spark = ctx.spark
    val q = queryBatch(ctx, 0)
    val appended = emb(ctx, poolDir(ctx)).filter(col("vec_id") < nVec + refreshed.toLong * slice)
    val all = emb(ctx, corpusDir(ctx)).unionByName(appended)
    val truth = Similarity.bruteForceTopK(all, q, "vec_id", "embedding", k)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = IvfIndex.serveTopK(spark, indexDir(ctx), q, "vec_id", "embedding", k, nProbe)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (truth intersect served).size.toDouble / truth.size
  }
}

object CorpusLlm {
  /** recall@10 at nProbe=3 that the engine reached when this benchmark was
    * written (lowest over the seeds tried); a drop below it fails the run.
    */
  val RecallFloor = 0.9
}
