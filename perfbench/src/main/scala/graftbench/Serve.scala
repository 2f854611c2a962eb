package graftbench

import graft.queries.SimilarityQueries
import graft.similarity.{PqIndex, TextIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Long-lived hybrid serving: one client sends batches of queries to
  * `SimilarityQueries.hybridRrfServed` over a TextIndex and an SQ8
  * re-rank PqIndex, both built in set-up and held open (warm caches) for
  * the whole run. Nothing is written. */
final class ServeHybrid(ctx: Ctx) extends Workload {
  val name = "serve_hybrid"
  val nominalOpS = 6.0
  override def minOps = 2
  /** A batch passes when at least this share of its queries find their
    * source document in the top 10. */
  val RecallFloor = 0.8
  private val spark = ctx.spark
  private val TopK = 10
  private val CandMult = 4
  private val queries = spark.read.parquet(s"${ctx.inputs}/queries.parquet").cache()
  private val nBatches = queries.agg(max("batch")).head().getInt(0) + 1
  private val batchRows = queries.filter(col("batch") === 0).count()
  private val truth: Map[Long, Long] = queries.select("query_id", "src_doc").collect()
    .map(r => r.getLong(0) -> r.getLong(1)).toMap
  private val batchIds: Map[Int, Seq[Long]] = queries.select("batch", "query_id").collect()
    .toSeq.groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)) }
  private var text: TextIndex = _
  private var pq: PqIndex = _
  private var pristine = ""
  private var pristinePrint: Seq[(String, Long)] = Nil
  private var hits = 0L
  private var asked = 0L
  private var lastRecall = 0.0

  private def open(dir: String): Unit = {
    text = new TextIndex(spark, s"$dir/text_index", warmSearch = true)
    pq = new PqIndex(spark, s"$dir/pq_index", dim = 32, m = 8, k = 16, sq8 = true, warmRerank = true)
  }

  def setup(dir: String): Unit = {
    open(dir)
    val t0 = System.nanoTime()
    text.build(spark.read.parquet(s"${ctx.inputs}/docs.parquet"))
    val t1 = System.nanoTime()
    pq.build(spark.read.parquet(s"${ctx.inputs}/vectors.parquet"))
    System.err.println(f"[graftbench] text index ${(t1 - t0) / 1e9}%.3f s, " +
      f"pq index ${(System.nanoTime() - t1) / 1e9}%.3f s")
  }
  override def release(): Unit = if (text != null) { text.releaseWarmCache(); pq.releaseWarmCache() }

  /** The first (cold) batch fills the warm caches; it is part of set-up. */
  override def warmup(p: String): Unit = {
    pristine = p
    serve(batch(nBatches - 1)).collect()
    pristinePrint = Fs.print(p)
  }
  def startPass(p: String): Unit = { hits = 0; asked = 0 }
  def liveDir(p: String): String = p

  private def batch(b: Int): DataFrame =
    queries.filter(col("batch") === b).select("query_id", "qtext", "vec", "src_doc")

  private def serve(q: DataFrame): DataFrame =
    SimilarityQueries.hybridRrfServed(text, pq, q.select("query_id", "qtext", "vec"),
      topK = TopK, candMult = CandMult, warnDfFrac = 0.0)

  def op(i: Int, traced: Boolean): Unit = {
    val b = i % (nBatches - 1)
    val q = batch(b)
    if (traced) {
      val textLive = Manifest.liveBytes(s"$pristine/text_index/postings")
      ctx.span("similarity.text_search") {
        ctx.materialize(text.search(q.select("query_id", "qtext"), TopK, warnDfFrac = 0.0))
      }
      ctx.ratio("similarity.text_search.read_frac", ctx.lastInputBytes("similarity.text_search"), textLive)
      ctx.add("similarity.text_search.read_base_mb", textLive / 1048576.0)
      val pqLive = Manifest.liveBytes(s"$pristine/pq_index/codes") +
        Manifest.liveBytes(s"$pristine/pq_index/sq8")
      ctx.span("similarity.pq_search") {
        ctx.materialize(pq.topKRerankIndexed(q.select(col("query_id").as("id"), col("vec")),
          TopK, CandMult))
      }
      ctx.ratio("similarity.pq_search.read_frac", ctx.lastInputBytes("similarity.pq_search"), pqLive)
      ctx.add("similarity.pq_search.read_base_mb", pqLive / 1048576.0)
    }
    val got = ctx.span("queries.hybrid_rrf") {
      serve(q).select("query_id", "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    val qids = batchIds(b)
    val found = qids.count(qid => got.contains((qid, truth(qid))))
    hits += found
    asked += qids.size
    ctx.ratio("queries.hybrid_rrf.recall_at_10", found, qids.size)
    lastRecall = found.toDouble / qids.size
  }
  def rowsPerOp(i: Int): Long = batchRows

  def check(i: Int): Seq[String] =
    if (lastRecall >= RecallFloor) Nil
    else Seq(f"recall@10 $lastRecall%.3f below the floor $RecallFloor")

  override def endCheck(live: String): Seq[String] =
    if (Fs.print(live) == pristinePrint) Nil else Seq("serving wrote to the index state")

  override def storeBytes(live: String): Long = Fs.bytes(live)
  def liveRows(live: String): Long =
    spark.read.parquet(s"${ctx.inputs}/vectors.parquet").count() +
      spark.read.parquet(s"${ctx.inputs}/docs.parquet").count()
  override def extraEndToEnd: Map[String, Double] =
    Map("recall_at_10" -> hits.toDouble / math.max(asked, 1L))
}
