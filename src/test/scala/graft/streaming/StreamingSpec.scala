package graft.streaming

import graft.SparkSpec
import graft.queries.StreamQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("windowed counts over a MemoryStream match the batch twin on the same data") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = Streaming.windowedCounts(df)
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0),
      (ts("2024-01-01 10:10:00"), "view", 8.0))
    input.addData(rows: _*)
    q.processAllAvailable()
    val streamed = spark.table("wc").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    val batch = Streaming.windowedCounts(rows.toDF("ts", "event_type", "value")).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(batch.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
  }

  test("rule tagging on a stream emits the same tags as batch") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val out = Streaming.tagStream(df, StreamQueries.eventRules, current_date())
    val q = out.writeStream.format("memory").queryName("tags").outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), "purchase", 450.0),
      (2L, ts("2024-01-01 10:01:00"), "view", 1.0),
      (3L, ts("2024-01-01 10:02:00"), "error", 1.0))
    q.processAllAvailable()
    val got = spark.table("tags").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    q.stop()
    assert(got(1L) == Seq(301, 302))
    assert(got(2L) == Seq(303))
    assert(!got.contains(3L)) // no rule hits -> filtered
  }

  test("stream-static enrichment join tags with dimension attributes") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"), (3L, "HOUSEHOLD"))
      .toDF("c_custkey", "c_mktsegment")
    val enriched = Streaming.enrich(
      input.toDF().toDF("user_id", "ts", "event_type", "value"),
      dim, col("user_id") === col("c_custkey"))
    val out = Streaming.tagStream(enriched, StreamQueries.enrichedRules, current_date())
    val q = out.writeStream.format("memory").queryName("enr").outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), "purchase", 10.0), // BUILDING buyer -> 311
      (2L, ts("2024-01-01 10:01:00"), "view", 1.0),      // MACHINERY browser -> 312
      (3L, ts("2024-01-01 10:02:00"), "purchase", 5.0),  // HOUSEHOLD -> no rule
      (9L, ts("2024-01-01 10:03:00"), "purchase", 5.0))  // unknown user -> dropped by join
    q.processAllAvailable()
    val got = spark.table("enr").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2).toList).toMap
    q.stop()
    assert(got == Map(1L -> List(311), 2L -> List(312)))
  }

  test("stream-stream attribution join matches views to purchases within the window") {
    val s = spark
    import s.implicits._
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = Streaming.attributionJoin(
      views.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("event_id", "user_id", "ts"))
    val q = out.writeStream.format("memory").queryName("attr").outputMode("append").start()
    views.addData(
      (10L, 1L, ts("2024-01-01 10:00:00")),  // in window of purchase at 10:30
      (11L, 1L, ts("2024-01-01 08:00:00")),  // too old
      (12L, 2L, ts("2024-01-01 10:10:00")))  // other user
    purchases.addData((20L, 1L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    val got = spark.table("attr").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == Set((20L, 10L)), s"expected only the in-window same-user view, got $got")
  }

  test("streaming decontamination: eval-gram hits dropped per micro-batch; survivors match the batch form") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_streamdecon").toString
    val evalText = "the quick brown fox jumps over the lazy dog tonight"
    val evals = Seq((100L, evalText)).toDF("doc_id", "text")
    // 1: shares a verbatim 5-gram with the eval item; 2/4: clean;
    // 3 (second batch): a different shared 5-gram window — the fixed
    // gram table must keep catching across batches with no state
    val d1 = "intro words then the quick brown fox jumps and more trailing text here"
    val d2 = "entirely separate content about completely other subjects and unrelated things"
    val d3 = "prefix chatter fox jumps over the lazy dog suffix chatter closing words"
    val d4 = "fresh prose with plenty of novel vocabulary nothing resembling the held out suite"
    val survived = scala.collection.mutable.SortedSet.empty[Long]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), evals,
      df => survived ++= df.select("doc_id").collect().map(_.getLong(0)),
      s"$base/ckpt")
    input.addData((1L, d1), (2L, d2))
    q.processAllAvailable()
    assert(survived.toSet == Set(2L), s"batch 1: contaminated doc 1 must drop, got $survived")
    input.addData((3L, d3), (4L, d4))
    q.processAllAvailable()
    // cache identity is the canonicalized plan: the stream caches the
    // read-back of ITS checkpoint-scoped gram parquet, so a probe on
    // that path reads the stream's cache entry — and a SECOND stream
    // on the same evals gets its own path, so neither's termination
    // can evict the other's cache (the r11 review's shared-entry
    // hazard, pinned below)
    def gramsDir(ck: String): String =
      new java.io.File(ck).listFiles()
        .filter(_.getName.startsWith("evalgrams-")).head.getAbsolutePath
    def evalGramsProbe = spark.read.parquet(gramsDir(s"$base/ckpt"))
    assert(evalGramsProbe.storageLevel.useMemory,
      "probe must see the live stream's cached eval grams (guards the leak assert below)")
    val input2 = MemoryStream[(Long, String)]
    val q2 = Streaming.decontaminateStream(
      input2.toDF().toDF("doc_id", "text"), evals, _ => (), s"$base/ckpt2")
    input2.addData((9L, d4)); q2.processAllAvailable()
    def evalGramsProbe2 = spark.read.parquet(gramsDir(s"$base/ckpt2"))
    assert(evalGramsProbe2.storageLevel.useMemory, "second stream caches its own entry")
    q.stop()
    // the eval-gram cache dies with the query (self-removing
    // listener; the bus is async — poll briefly)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (evalGramsProbe.storageLevel.useMemory && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(!evalGramsProbe.storageLevel.useMemory,
      "evalGrams must unpersist when the query terminates — leaked cache")
    // the first stream's termination must NOT evict the still-running
    // second stream's cache; its own stop releases it
    assert(evalGramsProbe2.storageLevel.useMemory,
      "a terminating stream must not unpersist a sibling stream's eval grams")
    q2.stop()
    val deadline2 = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (evalGramsProbe2.storageLevel.useMemory && System.nanoTime() < deadline2)
      Thread.sleep(50)
    assert(!evalGramsProbe2.storageLevel.useMemory,
      "the second stream's cache dies with its own query")
    assert(survived.toSet == Set(2L, 4L),
      s"batch 2: the stateless gram table keeps catching (doc 3), got $survived")
    // parity: streamed survivors == the nightly batch form over the union
    val union = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val batchSurvivors = union.join(
      graft.queries.PipelineQueries.corpusDecontaminateDocs(union, evals)
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(survived.toSet == batchSurvivors,
      s"stream == batch contract: $survived vs $batchSurvivors")
  }

  test("streaming near-dup dedup: history and intra-batch dups dropped across micro-batches") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val textB = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    val textC = "entirely different content about completely other subjects and various unrelated things here"
    val survived = scala.collection.mutable.SortedSet.empty[Long]
    val input = MemoryStream[(Long, String)]
    val q = Streaming.dedupNearStream(
      input.toDF().toDF("doc_id", "text"), index,
      df => survived ++= df.select("doc_id").collect().map(_.getLong(0)),
      s"$base/ckpt")
    input.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    assert(survived.toSet == Set(1L, 2L))
    // batch 2: 3 = copy of A (history dup), 4+5 = identical new docs
    // (intra-batch dup, min id wins), 6 = genuinely new
    val textD = "fresh prose with plenty of novel vocabulary nothing resembling previous documents at all"
    input.addData((3L, textA), (4L, textC), (5L, textC), (6L, textD))
    q.processAllAvailable()
    q.stop()
    assert(survived.toSet == Set(1L, 2L, 4L, 6L),
      s"expected history dup 3 and intra-batch dup 5 dropped, got $survived")
    // the index accumulated exactly the survivors
    assert(index.read().get.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L, 6L))
  }

  test("near-dup replay: a re-run micro-batch (same batchId) emits the same survivors") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val textB = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    val batch = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Set[Long] =
      Streaming.dedupNearBatch(df, index, "text", "doc_id", 0.8, 128, 16, 3, batchId = id)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run(batch, 7L) == Set(1L, 2L))
    // crash-after-upsert: the index already holds batch 7's signatures;
    // without the batch_id exclusion the replay would match every doc
    // against its own (or its sibling's) entry and emit nothing — the
    // docs would be permanently lost
    assert(run(batch, 7L) == Set(1L, 2L), "replay of the same batch must be idempotent")
    // a genuinely later batch still dedups against batch 7's history
    assert(run(Seq((3L, textA)).toDF("doc_id", "text"), 8L) == Set.empty[Long])
  }

  test("SigIndex takedown: a deleted doc's future near-copy SURVIVES the next clean; replay idempotent; vacuum reclaims") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sigdel").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val textB = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen"
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Set[Long] =
      Streaming.dedupNearBatch(df, index, "text", "doc_id", 0.8, 128, 16, 3, batchId = id)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run(Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"), 1L) == Set(1L, 2L))
    // while doc 1 is indexed, its near-copy is suppressed
    assert(run(Seq((3L, textA)).toDF("doc_id", "text"), 2L) == Set.empty[Long])
    // TAKEDOWN doc 1: both stores shrink (16 bands/doc in this config)
    val (docs, bandRows) = index.delete(Seq(1L).toDF("doc_id"))
    assert(docs == 1L, s"expected 1 doc removed, got $docs")
    assert(bandRows == 16L, s"expected 16 band rows removed, got $bandRows")
    // the ghost canonical is gone: a FUTURE near-copy of the
    // taken-down doc survives the next incremental clean instead of
    // being suppressed against a doc that no longer exists downstream
    assert(run(Seq((4L, textA)).toDF("doc_id", "text"), 3L) == Set(4L),
      "a near-copy of a deleted doc must survive — no ghost canonical")
    assert(index.read().get.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(2L, 4L))
    // and doc 4 is now the canonical: a LATER copy is suppressed again
    assert(run(Seq((5L, textA)).toDF("doc_id", "text"), 4L) == Set.empty[Long])
    // replayed takedown is a committed no-op (absent keys)
    assert(index.delete(Seq(1L).toDF("doc_id")) == ((0L, 0L)))
    // the stats surface reflects the shrink (1,2,4 survived; 1 deleted)
    assert(index.describe().toMap.apply("docs") == "2")
    // vacuum makes the takedown's superseded files unrecoverable
    assert(index.vacuum(keepVersions = 1, minAgeMs = 0L) > 0L)
  }

  test("SigIndex takedown through the EMBEDDING dedup path: the RHP banding width (6, not 16) is frozen and cleared") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sigdel_emb").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "id")
    val dim = 64
    def unit(seed: Long): Array[Float] = graft.VecFixtures.unit(dim, seed)
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Set[Long] =
      Streaming.dedupNearEmbeddingBatch(df, index, "vec", "id", 0.85, dim,
          bands = 6, bitsPerBand = 8, seed = 42L, batchId = id)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(run(Seq((1L, unit(1))).toDF("id", "vec"), 1L) == Set(1L))
    assert(run(Seq((2L, unit(1))).toDF("id", "vec"), 2L) == Set.empty[Long],
      "a near-copy must be suppressed while the canonical is indexed")
    // delete is banding-agnostic: the width meta recorded at first
    // append is the RHP config's 6, not the MinHash paths' 16
    val (docs, bandRows) = index.delete(Seq(1L).toDF("id"))
    assert(docs == 1L && bandRows == 6L,
      s"expected (1 doc, 6 RHP band rows), got ($docs, $bandRows)")
    assert(run(Seq((3L, unit(1))).toDF("id", "vec"), 3L) == Set(3L),
      "a near-copy of the deleted vector must survive — no ghost canonical")
  }

  test("SigIndex refuses an append whose banding width disagrees with the frozen one (empty batches pass)") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sigwidth").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    // first writer freezes bands=16 (the MinHash path's width)
    assert(Streaming.dedupNearBatch(Seq((1L, textA)).toDF("doc_id", "text"),
      index, "text", "doc_id", 0.8, 128, 16, 3, batchId = 1L).count() == 1L)
    // a 6-band writer (the RHP shape) sharing the SAME dir would append
    // band rows delete() can never reach — it must refuse loudly, not
    // silently leave future orphan rows
    val sixBand = Seq((2L, Array.fill(128)(7L), Array.fill(6)(99L)))
      .toDF("doc_id", "sig", "bh")
    val e = intercept[IllegalArgumentException](index.append(sixBand, 2L))
    assert(e.getMessage.contains("banding config"), e.getMessage)
    // the same-width append still lands, and an EMPTY batch (width
    // unwitnessed) never trips the check
    assert(Streaming.dedupNearBatch(Seq((3L, textA + " extra tail words here"))
      .toDF("doc_id", "text"), index, "text", "doc_id", 0.8, 128, 16, 3,
      batchId = 3L).count() == 1L)
    index.append(sixBand.limit(0), 4L)
  }

  test("SigIndex freezes the width at the first NON-EMPTY append: empty-first-batch and legacy metas backfill, so the refusal still arms") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sigbackfill").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    // first batch EMPTY: meta exists but cannot witness a width —
    // without the backfill the width check would never arm and a
    // mixed-width writer could slip in forever after
    index.append(Seq.empty[(Long, Array[Long], Array[Long])]
      .toDF("doc_id", "sig", "bh"), 1L)
    val sixteen = Seq((1L, Array.fill(128)(7L), Array.fill(16)(99L)))
      .toDF("doc_id", "sig", "bh")
    index.append(sixteen, 2L)
    val sixBand = Seq((2L, Array.fill(128)(7L), Array.fill(6)(98L)))
      .toDF("doc_id", "sig", "bh")
    val e = intercept[IllegalArgumentException](index.append(sixBand, 3L))
    assert(e.getMessage.contains("banding config"), e.getMessage)
    // legacy meta (bands line removed by hand): the non-empty history
    // witnesses 16 via the column-pruned scan, so a 6-band append
    // refuses even BEFORE any backfill lands...
    val metaP = new org.apache.hadoop.fs.Path(s"$base/index/meta.txt")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaP, false)
    val out = fs.create(metaP, true)
    try out.write("bandParts=64\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val reopened = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val e2 = intercept[IllegalArgumentException](reopened.append(sixBand, 4L))
    assert(e2.getMessage.contains("banding config"), e2.getMessage)
    // ...and a same-width append freezes the line back, re-arming the
    // cheap frozen-path refusal
    reopened.append(sixteen, 5L)
    val e3 = intercept[IllegalArgumentException](reopened.append(sixBand, 6L))
    assert(e3.getMessage.contains("was written with bands=16"), e3.getMessage)
  }

  test("SigIndex takedown on a legacy meta (no frozen banding width): the max(band) fallback resolves it") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sigdel_legacy").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    assert(Streaming.dedupNearBatch(Seq((1L, textA)).toDF("doc_id", "text"),
      index, "text", "doc_id", 0.8, 128, 16, 3, batchId = 1L).count() == 1L)
    // regress meta.txt to the pre-r14 shape: bandParts only
    val metaP = new org.apache.hadoop.fs.Path(s"$base/index/meta.txt")
    val fs = metaP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaP, false)
    val out = fs.create(metaP, true)
    try out.write("bandParts=64\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // a fresh instance (no cached width) must resolve bands from the
    // store itself and still clear every band row
    val reopened = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val (docs, bandRows) = reopened.delete(Seq(1L).toDF("doc_id"))
    assert(docs == 1L && bandRows == 16L,
      s"legacy fallback must still remove all rows, got ($docs, $bandRows)")
    // an all-deleted store may drop every bucket from its manifest —
    // None and an empty frame both mean "no docs left"
    assert(reopened.read().forall(_.isEmpty))
  }

  test("streaming embedding near-dup: history and intra-batch dups dropped; signatures-only state") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_embdup").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "id")
    val dim = 64
    import graft.VecFixtures.{unit => unitV, nearDup}
    def unit(seed: Long): Array[Float] = unitV(dim, seed)
    val (va, vb, vc, vd) = (unit(1), unit(2), unit(3), unit(4))
    val survived = scala.collection.mutable.SortedSet.empty[Long]
    val input = MemoryStream[(Long, Array[Float])]
    val q = Streaming.dedupNearEmbeddingStream(
      input.toDF().toDF("id", "vec"), index,
      df => survived ++= df.select("id").collect().map(_.getLong(0)),
      s"$base/ckpt")
    input.addData((1L, va), (2L, vb))
    q.processAllAvailable()
    assert(survived.toSet == Set(1L, 2L))
    // batch 2: 3 = near-dup of 1 (history), 4+5 = intra-batch
    // near-dups of each other (min id wins), 6 = genuinely new
    input.addData((3L, nearDup(va, 31L)), (4L, vc), (5L, nearDup(vc, 32L)), (6L, vd))
    q.processAllAvailable()
    q.stop()
    assert(survived.toSet == Set(1L, 2L, 4L, 6L),
      s"expected history dup 3 and intra-batch dup 5 dropped, got $survived")
    // state is signatures only: no vector column, ~3 longs + bands/row
    val stored = index.read().get
    assert(!stored.columns.contains("vec"), "the index must hold signatures, not vectors")
    assert(stored.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 6L))
  }

  test("embedding near-dup replay: a re-run micro-batch (same batchId) is idempotent") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_embreplay").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "id")
    val dim = 64
    def unit(seed: Long): Array[Float] = graft.VecFixtures.unit(dim, seed)
    val batch = Seq((1L, unit(1)), (2L, unit(2))).toDF("id", "vec")
    def run(df: org.apache.spark.sql.DataFrame, bid: Long): Set[Long] =
      Streaming.dedupNearEmbeddingBatch(df, index, "vec", "id", 0.85, dim, 6, 8, 42L, bid)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(run(batch, 7L) == Set(1L, 2L))
    assert(run(batch, 7L) == Set(1L, 2L), "replay of the same batch must be idempotent")
    // a later batch still dedups against batch 7's history (identical
    // vector -> hamming 0 -> est_cos 1.0)
    assert(run(Seq((3L, unit(1))).toDF("id", "vec"), 8L) == Set.empty[Long])
  }

  test("near-dup history probe opens only the batch's band partitions, not the index") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    val base = java.nio.file.Files.createTempDirectory("graft_sigprune").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    // 12 accumulated docs spread signature rows over most of the 64
    // band partitions (12 docs × 16 bands = 192 keys)
    def doc(i: Long) = (i, (1 to 20).map(w => s"w${i}_$w").mkString(" "))
    for (b <- 0 until 4) {
      val batch = (0 until 3).map(j => doc(b * 3 + j)).toDF("doc_id", "text")
      Streaming.dedupNearBatch(batch, index, "text", "doc_id", 0.8, 128, 16, 3, batchId = b)
    }
    // the band keys of ONE new doc: at most 16 of 64 partitions
    val signed = Seq(doc(99L)).toDF("doc_id", "text")
      .select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 128).as("sig"))
      .withColumn("bh", Dedup.bandHashes(col("sig"), 16, 8))
    val bNew = signed.select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "h")))
    val parts = index.partsFor(bNew)
    assert(parts.size <= 16, s"one doc has at most 16 band keys, got ${parts.size} partitions")
    val opened = index.bands.filesForPartitions(parts).size
    val live = index.bands.liveFileCount
    assert(opened > 0 && opened < live,
      s"history probe must open a strict subset of the band store: $opened of $live files")
    // the layout modulus is pinned: reopening with a different
    // bandParts would silently mis-prune, so it must refuse instead
    val e = intercept[IllegalArgumentException] {
      new SigIndex(spark, s"$base/index", idCol = "doc_id", bandParts = 32)
    }
    assert(e.getMessage.contains("bandParts"))
  }

  test("SigIndex layout: default adopts the recorded bandParts; suggestBandParts scales") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    val base = java.nio.file.Files.createTempDirectory("graft_sigadopt").toString
    // first writer sizes for its target corpus (non-default 128)...
    val first = new SigIndex(spark, s"$base/index", idCol = "doc_id", bandParts = 128)
    val batch = Seq((1L, (1 to 20).map(w => s"a$w").mkString(" ")),
      (2L, (1 to 20).map(w => s"b$w").mkString(" "))).toDF("doc_id", "text")
    Streaming.dedupNearBatch(batch, first, "text", "doc_id", 0.8, 128, 16, 3, batchId = 0)
    // ...and a default-constructed reopen (the CLI case) ADOPTS it:
    // the probe hashes with the recorded modulus, so candidates from
    // history are still found (an identical re-sent doc dedups)
    val reopened = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    val dup = Seq((99L, (1 to 20).map(w => s"a$w").mkString(" "))).toDF("doc_id", "text")
    val survivors = Streaming.dedupNearBatch(
      dup, reopened, "text", "doc_id", 0.8, 128, 16, 3, batchId = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!survivors.contains(99L),
      "a duplicate of indexed history must be caught through the adopted layout")
    // growing-store guideline: floor for local corpora, corpus-sized
    // at scale (r13 raised the cap 4096 → 65536 so partitions stay at
    // the 64 MiB design point to a billion docs and beyond)
    import graft.streaming.{SigIndex => SI}
    assert(SI.suggestBandParts(500000) == 64)            // sf10 ⇒ the local default
    assert(SI.suggestBandParts(1000000000L) == 9537,     // 1e9 docs ⇒ 64 MiB parts
      s"1e9 docs: ${SI.suggestBandParts(1000000000L)}")
    assert(SI.suggestBandParts(100000000000L) == 65536)  // 1e11 docs ⇒ the cap
    val pts = Seq(1L, 1000000L, 100000000L, 1000000000L)
    val got = pts.map(SI.suggestBandParts(_))
    assert(got == got.sorted, s"must be monotone in expected docs, got $got")
  }

  test("big-delta band probe: the prune-dead path returns exactly the naive join's candidates; the read warning names the batch-size rule") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    val base = java.nio.file.Files.createTempDirectory("graft_sigbloom").toString
    val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
    // 7 distinct texts recycled across ids: cross-batch near-dups exist
    def doc(i: Long) = (i, (1 to 20).map(w => s"t${i % 7}_w$w").mkString(" "))
    val hist = (0L until 30L).map(doc).toDF("doc_id", "text")
    Streaming.dedupNearBatch(hist, index, "text", "doc_id", 0.8, 128, 16, 3, batchId = 0)
    def bandsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 128).as("sig"))
      .withColumn("bh", Dedup.bandHashes(col("sig"), 16, 8))
      .select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "h")))
    // a BIG batch: 25 docs / 7 texts ⇒ ~112 distinct band keys touch
    // well over half the 64-part layout — the partition prune is dead
    val bNewBig = bandsOf((100L until 125L).map(doc).toDF("doc_id", "text"))
      .localCheckpoint()
    val got = index.candidates(bNewBig, batchId = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(index.lastCandidateProbe._1,
      "a batch whose keys cover the layout must report the prune dead")
    assert(index.lastCandidateProbe._2 > 0, "predicted read bytes must be real")
    // ground truth: the plain equi-join against the FULL band store
    // (no partition prune): the candidate sets are EQUAL
    val full = index.bands.read().get
      .filter(col("batch_id").isNull || col("batch_id") =!= lit(1L))
    val expected = bNewBig
      .join(full.select(col("doc_id").as("old_id"), col("band"), col("h")),
        Seq("band", "h"))
      .filter(col("old_id") =!= col("doc_id"))
      .select("doc_id", "old_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "vacuous fixture: no cross-batch collisions")
    assert(got == expected,
      s"the prune-dead path must equal the naive join:\ngot $got\nexpected $expected")
    // a SMALL batch (1 doc, ≤16 keys) keeps the pruned fast path
    index.candidates(bandsOf(Seq(doc(200L)).toDF("doc_id", "text")), 2L).count()
    assert(!index.lastCandidateProbe._1, "a small batch must keep the partition prune")
    // the warning is byte-floored: silent at test scale, loud (naming
    // the batch-size rule and the layout knob) when the predicted
    // read crosses the floor
    def stderrOf(body: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true))
      try body finally System.setErr(old)
      buf.toString
    }
    assert(!stderrOf(index.candidates(bNewBig, 1L).count()).contains("WARNING"),
      "a KB-scale read must not warn (1 GiB floor)")
    index.warnReadBytesFloor = 0L
    val warned = stderrOf(index.candidates(bNewBig, 1L).count())
    assert(warned.contains("bandParts/bands") && warned.contains("suggestBandParts"),
      warned)
  }

  test("near-dup stream with compactEvery bounds the index's live files, same survivors") {
    val s = spark
    import s.implicits._
    def doc(i: Long) = (i, (1 to 20).map(w => s"t${i}_$w").mkString(" "))
    def run(base: String, compactEvery: Int): (Set[Long], SigIndex) = {
      val index = new SigIndex(spark, s"$base/index", idCol = "doc_id")
      val survived = scala.collection.mutable.SortedSet.empty[Long]
      val input = MemoryStream[(Long, String)]
      val q = Streaming.dedupNearStream(
        input.toDF().toDF("doc_id", "text"), index,
        df => survived ++= df.select("doc_id").collect().map(_.getLong(0)),
        s"$base/ckpt", compactEvery = compactEvery)
      for (b <- 0 until 6) {
        input.addData((0 until 5).map(j => doc(b * 5 + j)): _*)
        q.processAllAvailable()
      }
      q.stop()
      (survived.toSet, index)
    }
    // filesForPartitions(Nil) = exactly the files conservative pruning
    // can never exclude, i.e. the unclustered ingest files
    def unclustered(ix: SigIndex): Int = ix.bands.filesForPartitions(Nil).size
    val b1 = java.nio.file.Files.createTempDirectory("graft_sigcompact_on").toString
    val b2 = java.nio.file.Files.createTempDirectory("graft_sigcompact_off").toString
    val (survivorsOn, ixOn) = run(b1, compactEvery = 2)
    val (survivorsOff, ixOff) = run(b2, compactEvery = 0)
    assert(survivorsOn == survivorsOff && survivorsOn == (0L until 30L).toSet,
      "compaction is layout-only: identical survivors")
    // appends land unclustered (fast ingest, conservatively read by
    // every probe); the maintenance hook folds them into the
    // partition-pruned layout — without it they accumulate and the
    // band probe degrades toward a full scan
    assert(unclustered(ixOn) == 0,
      "a maintained index must hold only partition-pruned (clustered) band files")
    assert(unclustered(ixOff) > 0,
      "setup: the unmaintained index must have accumulated unclustered ingest files")
    assert(ixOff.compact() > 0)
    assert(unclustered(ixOff) == 0, "one manual compact clusters everything")
  }

  test("streaming sessionize: open session held in state, closed on later event") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.sessionize(
        input.toDS().withWatermark("ts", "10 minutes").as[Ev])
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    def inst(t: String) = ts(t).toInstant
    input.addData(Ev(1L, 1L, inst("2024-01-01 10:00:00")), Ev(1L, 2L, inst("2024-01-01 10:10:00")))
    q.processAllAvailable()
    assert(spark.table("sess").count() == 0, "open session must not be emitted yet")
    input.addData(Ev(1L, 3L, inst("2024-01-01 12:00:00"))) // >30min gap closes session 1
    q.processAllAvailable()
    val sessions = spark.table("sess").collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (session_seq, n_events)
    q.stop()
    assert(sessions.toSeq == Seq((1L, 2L)))
  }

  test("stream -> snapshot sink: each batch upserts; latest tags win") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_stream_snap").toString
    val store = new graft.sources.SnapshotStore(spark, s"$base/snap")
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val tagged = Streaming.tagStream(
      input.toDF().toDF("user_id", "ts", "event_type", "value"),
      StreamQueries.eventRules, current_date())
    val q = Streaming.sinkToSnapshot(tagged, store, s"$base/ckpt")
    input.addData((1L, ts("2024-01-01 10:00:00"), "purchase", 450.0))
    q.processAllAvailable()
    assert(store.read().get.count() == 1)
    val tags1 = store.read().get.filter(col("user_id") === 1L)
      .select("tag_ids").head().getSeq[Int](0)
    assert(tags1 == Seq(301, 302))
    // second batch: same user, different rule hits -> upsert replaces
    input.addData((1L, ts("2024-01-01 11:00:00"), "view", 1.0),
                  (2L, ts("2024-01-01 11:00:00"), "purchase", 10.0))
    q.processAllAvailable()
    q.stop()
    val byUser = store.read().get.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(byUser(1L) == Seq(303), "latest batch replaces user 1's tags")
    assert(byUser(2L) == Seq(301))
  }

  test("streaming dedup: duplicate keys within the watermark emit once") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = input.toDF().toDF("doc_id", "ts", "text")
    val q = Streaming.dedupStream(df, "doc_id", Some("1 hour"))
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 10:05:00"), "a-dup"),
      (2L, ts("2024-01-01 10:06:00"), "b"))
    q.processAllAvailable()
    input.addData((1L, ts("2024-01-01 10:10:00"), "a-dup-2"))
    q.processAllAvailable()
    val ids = spark.table("dd").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
  }

  test("streaming sessionize: watermark timeout closes a session with no further events") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[Ev]
    val q = Streaming.sessionize(
        input.toDS().withWatermark("ts", "10 minutes").as[Ev])
      .writeStream.format("memory").queryName("sess_to").outputMode("append").start()
    def inst(t: String) = ts(t).toInstant
    input.addData(Ev(1L, 1L, inst("2024-01-01 10:00:00")))
    q.processAllAvailable()
    assert(spark.table("sess_to").count() == 0)
    // a DIFFERENT user's much-later event advances the watermark past
    // user 1's last+gap; user 1's open session must emit via timeout
    input.addData(Ev(2L, 9L, inst("2024-01-01 13:00:00")))
    q.processAllAvailable()
    input.addData(Ev(2L, 10L, inst("2024-01-01 13:00:01"))) // extra trigger
    q.processAllAvailable()
    val got = spark.table("sess_to").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    q.stop()
    assert(got.contains((1L, 1L, 1L)), s"user 1 session should time out; got ${got.toSeq}")
  }

  test("windowed MG heavy-hitter candidates: stream state is O(k) and recount == exact hitters") {
    val s = spark
    import s.implicits._
    // two daily windows; 'hot' dominates day 1, 'warm' day 2; 60
    // distinct cold items exceed k=8 counters
    def day1(i: Int) = ts(f"2024-01-01 ${i % 24}%02d:30:00")
    def day2(i: Int) = ts(f"2024-01-02 ${i % 24}%02d:30:00")
    val rows = (1 to 40).map(i => (day1(i), "hot")) ++
      (1 to 30).map(i => (day1(i), s"cold_$i")) ++
      (1 to 20).map(i => (day2(i), "warm")) ++
      (1 to 30).map(i => (day2(i), s"chill_$i"))
    val k = 8
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val df = input.toDF().toDF("ts", "props")
    val q = Streaming.windowedHeavyHitters(df, col("props"), "1 day", k = k)
      .writeStream.format("memory").queryName("hh").outputMode("complete").start()
    // feed in two chunks to force partial-state merges across batches
    val (a, b) = new scala.util.Random(5).shuffle(rows).splitAt(rows.size / 2)
    input.addData(a: _*); q.processAllAvailable()
    input.addData(b: _*); q.processAllAvailable()
    val cand = spark.table("hh").collect()
      .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getSeq[String](2).toSet)).toMap
    q.stop()
    assert(cand.keySet == Set("2024-01-01 00:00:00.0", "2024-01-02 00:00:00.0"))
    val (n1, c1) = cand("2024-01-01 00:00:00.0")
    val (n2, c2) = cand("2024-01-02 00:00:00.0")
    assert(n1 == 70 && n2 == 50)
    assert(c1.size <= k && c2.size <= k, "summary must stay bounded by k")
    // every item above the n/(k+1) bound must survive as a candidate
    assert(c1.contains("hot") && c2.contains("warm"))
    // exact recount of candidates == plain per-window heavy hitters at phi=0.2
    val batch = rows.toDF("ts", "props")
    val exact = batch.groupBy(window(col("ts"), "1 day").getField("start").as("w"), col("props"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    for ((w, (n, cs)) <- cand) {
      val recount = cs.toSeq.flatMap(p => exact.get((w, p)).map(p -> _))
        .filter(_._2 >= math.ceil(0.2 * n).toLong).toMap
      val truth = exact.collect { case ((`w`, p), c) if c >= math.ceil(0.2 * n).toLong => p -> c }
      assert(recount == truth, s"window $w: recounted $recount vs exact $truth")
    }
  }
}
