package graftbench

import graft.Main
import graft.dedup.Dedup
import graft.functions.Bpe
import graft.queries.PipelineQueries
import graft.streaming.SigIndex
import org.apache.spark.sql.functions._

/** Nightly CDC curation: `corpus-pipeline incremental=true` over small
  * delta batches against the state the seed batch built. Each op is one
  * delta batch through clean, decontaminate, scrub, mix, shard and pack. */
final class CurateCdc(ctx: Ctx) extends Workload {
  val name = "curate_cdc"
  val nominalOpS = 30.0
  override def minOps = 2
  private val spark = ctx.spark
  private val Steps = "steps=clean,decontaminate,scrub,mix,shard,pack"
  private val Stages = Seq("clean", "decontaminate", "scrub", "mix", "shard", "pack")
  private val exactDups: Map[Int, Set[Long]] =
    Json.parse(Fs.read(s"${ctx.inputs}/expected.json")).asInstanceOf[Map[String, Any]]("exact_dups")
      .asInstanceOf[Map[String, Any]].map { case (b, ids) =>
        b.toInt -> ids.asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long]).toSet }
  private val deltas = exactDups.keySet.size
  private def live = s"${ctx.work}/live"
  private def batchOf(i: Int) = 2 + i % deltas
  private def batchPath(b: Int) = s"${ctx.inputs}/batch=$b.parquet"
  private val deltaRows = spark.read.parquet(batchPath(2)).count()

  private def pipeline(dir: String, b: Int): Unit =
    Main.runPipeline(spark, Seq("corpus-pipeline", s"in=${batchPath(b)}", s"out=$dir/out",
      "incremental=true", s"state=$dir/state", s"batch=$b", Steps,
      s"evals=${ctx.inputs}/evals.parquet", "shards=4"))

  def setup(dir: String): Unit = pipeline(dir, 1)
  def startPass(p: String): Unit = {
    require(deltas >= 1, "no delta batches generated")
    Restore(p, live)
  }
  def liveDir(p: String): String = live

  def op(i: Int, traced: Boolean): Unit = {
    val b = batchOf(i)
    require(i < deltas, s"op $i needs delta batch $b; the inputs hold $deltas")
    if (traced) layers(b)
    ctx.span("queries.corpus_pipeline") { pipeline(live, b) }
    if (traced) {
      val rec = Fs.read(s"$live/out/runs/batch=$b.json")
      Stages.foreach { s =>
        val m = ("\"stage\":\"" + s + "\"[^}]*?\"sec\":([0-9.eE+-]+)").r.findFirstMatchIn(rec)
        ctx.add(s"queries.stage.${s}_s", m.map(_.group(1).toDouble).getOrElse(0.0))
      }
    }
  }

  /** The clean stage's layers, called one by one on the delta before the
    * pipeline runs it. The pipeline's clean then replays the batch, which
    * the signature index makes idempotent (readers skip the batch's own
    * rows; appends are keyed upserts). */
  private def layers(b: Int): Unit = {
    val delta = spark.read.parquet(batchPath(b))
    val index = new SigIndex(spark, s"$live/state/sig", idCol = "doc_id")
    val signed = ctx.span("dedup.minhash_signature") {
      delta.select(col("doc_id"),
          Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 128).as("sig"))
        .filter(size(col("sig")) > 0)
        .withColumn("bh", Dedup.bandHashes(col("sig"), 16, 8))
        .localCheckpoint()
    }
    val liveBands = Manifest.liveBytes(s"$live/state/sig/bands")
    val pairs = ctx.span("streaming.sig_candidates") {
      index.candidates(signed.select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "h"))), b)
        .localCheckpoint().count()
    }
    ctx.add("streaming.sig_candidates.pairs", pairs.toDouble)
    ctx.ratio("streaming.sig_candidates.read_frac", ctx.lastInputBytes("streaming.sig_candidates"), liveBands)
    ctx.add("streaming.sig_candidates.read_base_mb", liveBands / 1048576.0)
    val kept = ctx.span("queries.clean_incremental") {
      PipelineQueries.corpusCleanIncremental(delta, index, b, keepText = true).localCheckpoint()
    }
    ctx.span("streaming.sig_append") {
      index.append(signed.join(kept.select("doc_id"), "doc_id").select("doc_id", "sig", "bh"), b)
    }
    ctx.span("functions.bpe_encode") {
      ctx.materialize(kept.select(Bpe.bpeEncodeIds(col("text"), Bpe.builtin,
        Bpe.vocab(Bpe.builtin, ('a' to 'z').map(_.toString))).as("ids")))
    }
  }

  def rowsPerOp(i: Int): Long = deltaRows

  private def survivors() = spark.read.parquet(s"$live/state/survivors")

  def check(i: Int): Seq[String] = {
    val b = batchOf(i)
    val s = survivors()
    val mine = s.filter(col("batch") === b).select("doc_id").collect().map(_.getLong(0)).toSet
    val leaked = mine & exactDups(b)
    val repeats = s.groupBy("doc_id").count().filter(col("count") > 1).count()
    (if (mine.isEmpty) Seq(s"batch $b kept no documents") else Nil) ++
      (if (leaked.isEmpty) Nil else Seq(s"batch $b kept ${leaked.size} planted exact duplicates")) ++
      (if (repeats == 0) Nil else Seq(s"$repeats survivor ids repeat across batches"))
  }

  override def storeBytes(live: String): Long = Fs.bytes(s"$live/state")
  def liveRows(live: String): Long = spark.read.parquet(s"$live/state/survivors").count()
}
