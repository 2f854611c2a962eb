package graft.similarity

import graft.SparkSpec
import graft.queries.SimilarityQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ index: build → serve parity with the inline
  * query path, frozen-model CDC adds, and the streaming serve loop. */
class PqIndexSpec extends SparkSpec {
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private def dir = sf("any")

  private def corpus: DataFrame =
    graft.sources.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def queries: DataFrame = SimilarityQueries.queriesDf(spark, dir)

  private def rows(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("a failed (re)build sweeps its staged models tmp — nothing leaks in the index dir") {
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_sweep").toString
    // poison the sidecar path: a plain FILE where the sq8 store's
    // directory would go makes the tier overwrite fail at execution —
    // after the models are serialized and before their commit, the
    // crash point that used to leak a staged models temp forever
    // (nothing, including vacuum, covered it)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/idx"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/idx", "sq8"), "not a directory\n")
    val idx = new PqIndex(spark, s"$base/idx", sq8 = true)
    intercept[Exception](idx.build(corpus))
    assert(!idx.isBuilt, "a failed build must stay loudly unbuilt")
    val leaked = new java.io.File(s"$base/idx").listFiles()
      .filter(_.getName.contains(graft.sources.SmallFile.TmpPrefix))
    assert(leaked.isEmpty,
      s"a failed build must sweep its staged models: ${leaked.mkString(", ")}")
  }

  test("built index serves the same top-k as the inline IVF-PQ query") {
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex").toString
    val index = new PqIndex(spark, s"$base/idx")
    // isBuilt is the COMMIT test, not a models.txt probe: build writes
    // the models before the (long) full encode, so models-without-codes
    // is a crashed build, not a built index — a caller adopting it
    // would CDC-add onto a store that never saw the seed corpus
    assert(!index.isBuilt, "fresh dir is not built")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/idx"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/idx", "models.txt"), "partial\n")
    assert(!index.isBuilt, "models.txt without a committed codes manifest is a crashed build")
    index.build(corpus)
    assert(index.isBuilt, "a committed build reports built")
    val (model, coarse) = index.models()
    val served = index.topK(queries, SimilarityQueries.K)
    val inline = Pq.ivfPqTopK(queries, corpus, SimilarityQueries.K, SimilarityQueries.Dim,
      prefit = Some(model), prefitCoarse = Some(coarse))
    assert(rows(served) == rows(inline),
      "index-served results must equal the inline path under the same frozen models")
    // model round-trip through the sidecar is exact
    val (m2, c2) = index.models()
    assert(m2.codebooks.toSeq == model.codebooks.toSeq)
    assert(c2.centroids.map(_.toSeq).toSeq == coarse.centroids.map(_.toSeq).toSeq)
  }

  test("topKRerank: exact re-scoring repairs shortlist order; full-candidate rerank IS brute force") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_rr").toString
    val vecs = (0 until 200).map(i => (i.toLong, graft.VecFixtures.unit(64, 8000L + i)))
      .toDF("id", "vec")
    // deliberately coarse codebook (m=2, k=2): heavy quantization so
    // the PQ shortlist actually misorders and the rerank has work
    val index = new PqIndex(spark, s"$base/idx", m = 2, k = 2, nCells = 4, nProbe = 4)
    index.build(vecs)
    val qs = (0 until 20).map(i => (1000L + i,
      graft.VecFixtures.nearDup(graft.VecFixtures.unit(64, 8000L + i * 7), 9000L + i)))
      .toDF("id", "vec")
    val bf = Similarity.bruteForceTopK(qs, vecs, 5)
    val plain = index.topK(qs, 5)
    val rr = index.topKRerank(qs, vecs, 5, candMult = 4)
    val (rPlain, rRr) = (Similarity.recall(plain, bf), Similarity.recall(rr, bf))
    // deterministic dominance: any true neighbor the plain search
    // returns was in the candidate set, and only other TRUE neighbors
    // can out-score it exactly — rerank recall never loses
    assert(rRr >= rPlain, f"rerank recall $rRr%.3f < plain $rPlain%.3f")
    // reranked scores are EXACT cosines (match brute force pairwise)
    val bfCos = bf.select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rr.select("query_id", "neighbor_id", "cosine").collect().foreach { r =>
      bfCos.get((r.getLong(0), r.getLong(1))).foreach(exact =>
        assert(math.abs(r.getDouble(2) - exact) < 1e-6,
          s"rerank cosine must be exact: ${r.getLong(0)}->${r.getLong(1)}"))
    }
    // candMult covering the whole corpus + full probe = brute force
    val rrFull = index.topKRerank(qs, vecs, 5, candMult = 40)
    def rows(df: DataFrame) = df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rows(rrFull) == rows(bf),
      "full-candidate rerank must equal exact brute force")
  }

  test("filtered topK: ranks computed within the allow-list, excluded nearest surfaces the runner-up") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_filt").toString
    // 10 twin-pairs (2i, 2i+1 near-identical), pairs mutually far;
    // full-probe layout so the only semantics in play are the filter's
    val twins = (0 until 10).flatMap { i =>
      val anchor = graft.VecFixtures.unit(64, 7000L + i)
      Seq(((2 * i).toLong, anchor),
        ((2 * i + 1).toLong, graft.VecFixtures.nearDup(anchor, 7100L + i)))
    }
    val corpus = twins.toDF("id", "vec")
    val index = new PqIndex(spark, s"$base/idx", nCells = 4, nProbe = 4)
    index.build(corpus)
    val qs = (0 until 10).map(i => (1000L + i, twins(2 * i)._2)).toDF("id", "vec")
    val evens = twins.map(_._1).filter(_ % 2 == 0).toDF("id")
    val odds = twins.map(_._1).filter(_ % 2 == 1).toDF("id")
    def top1(df: DataFrame): Map[Long, Long] =
      df.filter(col("rank") === 1).select("query_id", "neighbor_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // query i sits AT vector 2i: unfiltered top-1 is 2i itself
    assert(top1(index.topK(qs, 3)) == (0 until 10).map(i => (1000L + i) -> (2L * i)).toMap)
    // evens-only: same winners; odds-only: the twin takes rank 1 —
    // the filter excluded the true nearest and the runner-up surfaced
    assert(top1(index.topK(qs, 3, evens)) ==
      (0 until 10).map(i => (1000L + i) -> (2L * i)).toMap)
    assert(top1(index.topK(qs, 3, odds)) ==
      (0 until 10).map(i => (1000L + i) -> (2L * i + 1)).toMap)
    // nothing outside the allow-list is ever scored out
    val oddHits = index.topK(qs, 5, odds).select("neighbor_id")
      .collect().map(_.getLong(0)).toSet
    assert(oddHits.forall(_ % 2 == 1), s"allow-list must bound results: $oddHits")
    // the allow-list composes with the exact re-rank: candidates are
    // generated WITHIN the filter, so rerank can't resurface an
    // excluded id, and the twin still wins rank 1 with exact scores
    val rrOdd = index.topKRerank(qs, corpus, 3, candMult = 2, allowed = Some(odds))
    assert(rrOdd.select("neighbor_id").collect().map(_.getLong(0)).forall(_ % 2 == 1),
      "rerank must honor the allow-list")
    assert(top1(rrOdd) == (0 until 10).map(i => (1000L + i) -> (2L * i + 1)).toMap)
    // and the filtered search equals brute force over the filtered
    // subset (full probe, PQ scores both sides — set equality on ids)
    val bf = Similarity.bruteForceTopK(qs,
        corpus.filter(col("id") % 2 === 1), 3)
      .filter(col("rank") === 1).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1(index.topK(qs, 3, odds)) == bf,
      "filtered rank-1 must match brute force over the allowed subset")
    // streamed filtered serve equals the batch filtered search
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val qIn = MemoryStream[(Long, Array[Float])]
    val sq = index.serveStream(qIn.toDF().toDF("id", "vec"), 3,
      df => got ++= df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))),
      java.nio.file.Files.createTempDirectory("graft_pqf_ckpt").toString,
      allowed = Some(() => odds))
    (0 until 10).foreach(i => qIn.addData((1000L + i, twins(2 * i)._2)))
    sq.processAllAvailable(); sq.stop()
    val batchRows = index.topK(qs, 3, odds)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.toSet == batchRows, "streamed filtered serve must equal batch filtered topK")
  }

  test("filtered topK: auto probe budget scales with allow-list selectivity; fixed budget under-recalls") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_sel").toString
    // 8 tight clusters whose anchors have strictly DECREASING cosine
    // to the query direction e0: anchor_j = a_j·e0 + sqrt(1-a_j²)·e_j
    // with a_j = 0.8 − 0.1j — so a probe budget of 4 provably probes
    // clusters 0..3 and the allow-list (cluster 7, cosine 0.1) lives
    // entirely in cells a fixed budget never opens
    def anchor(j: Int): Array[Float] = {
      val a = (0.8 - 0.1 * j).toFloat
      val v = new Array[Float](64)
      v(0) = a; v(8 + j) = math.sqrt(1.0 - a * a).toFloat
      v
    }
    val clusters = (0 until 8).flatMap { j =>
      (0 until 20).map(i => ((20 * j + i).toLong,
        graft.VecFixtures.nearDup(anchor(j), 600L + 20 * j + i)))
    }
    val corpus = clusters.toDF("id", "vec")
    val autoIdx = new PqIndex(spark, s"$base/idx", nCells = 8) // nProbe = 0 = auto
    autoIdx.build(corpus)
    val coarse = autoIdx.models()._2
    val q = { val v = new Array[Float](64); v(0) = 1f; v }
    val qs = Seq((1L, q)).toDF("id", "vec")
    val allowed = (140L until 160L).toDF("id") // cluster 7 only
    // base budget: suggestNProbe(8) = 4; selectivity 20/160 = 12.5%
    // scales it to ceil(4/0.125) = 32, capped at every cell
    assert(autoIdx.probeForFiltered(coarse, 20L, 160L) == 8,
      s"12.5% filter must scale 4 -> all 8 cells: ${autoIdx.probeForFiltered(coarse, 20L, 160L)}")
    val got = autoIdx.topK(qs, 20, allowed)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got == (140L until 160L).toSet,
      s"auto probe must recover the whole allowed cluster: $got")
    // the same store under an EXPLICIT nProbe=4 handle: the operator's
    // override is honored verbatim — and demonstrably under-recalls,
    // which is exactly why the auto path must scale
    val fixedIdx = new PqIndex(spark, s"$base/idx", nCells = 8, nProbe = 4)
    assert(fixedIdx.probeForFiltered(coarse, 20L, 160L) == 4, "explicit nProbe stays verbatim")
    assert(fixedIdx.topK(qs, 20, allowed).count() == 0L,
      "fixed 4-cell probe never opens the allowed cluster's cell")
    // empty allow-list: no scaling (result is empty whatever we probe)
    assert(autoIdx.probeForFiltered(coarse, 0L, 160L) == 4)
    // BOTH estimate inputs are lazy: an explicit-nProbe serve must not
    // pay EITHER count job (allow-list or codes) per call/micro-batch,
    // and an empty allow-list must not pay the codes count
    assert(fixedIdx.probeForFiltered(coarse,
      sys.error("allow count must not run under explicit nProbe"),
      sys.error("codes count must not run under explicit nProbe")) == 4)
    assert(autoIdx.probeForFiltered(coarse, 0L,
      sys.error("codes count must not run for an empty allow-list")) == 4)
  }

  test("OPQ-built index: parity with the inline composed chain; rotated adds retrievable") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_opq").toString
    val index = new PqIndex(spark, s"$base/idx", opq = true)
    index.build(corpus)
    val (model, coarse, rot) = index.modelsWithRotation()
    assert(rot.isDefined && rot.get.length == SimilarityQueries.Dim * SimilarityQueries.Dim,
      "an OPQ build must persist its rotation")
    val served = index.topK(queries, SimilarityQueries.K)
    val inline = Pq.opqIvfPqTopK(queries, corpus, SimilarityQueries.K, SimilarityQueries.Dim,
      prefit = Some(Pq.OpqIvfPqModel(rot.get, SimilarityQueries.Dim, coarse, model)))
    assert(rows(served) == rows(inline),
      "OPQ index serving must equal the inline composed path under the same frozen models")
    // CDC add under the frozen rotation: an exact copy must rank first
    val v0 = corpus.filter(col("id") === 0L).select("vec").head().getSeq[Float](0).toArray
    index.add(Seq((920001L, v0)).toDF("id", "vec"))
    val got = index.topK(Seq((0L, v0)).toDF("id", "vec"), 5)
      .select("neighbor_id", "rank").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.get(920001L).contains(1),
      s"the planted copy must be the top hit through the rotated encode path, got $got")
  }

  test("topK scans only the probed cells' files, results identical to the full scan") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_prune").toString
    val index = new PqIndex(spark, s"$base/idx") // nCells = 16, nProbe = 4
    index.build(corpus)
    val (model, coarse) = index.models()
    // a small serve batch probes few cells — the realistic serving shape
    val batch = queries.limit(2)
    val cells = Pq.probeCells(batch, model, coarse, nProbe = 4)
    assert(cells.size <= 8 && cells.size < coarse.nCells,
      s"2 queries × 4 probes must not touch every cell, got $cells")
    val (opened, live) = index.scanFootprint(cells)
    assert(opened > 0 && opened < live,
      s"probe must prune the codes scan: opened $opened of $live live files")
    // pruning is I/O-only: identical rows to a search over the FULL table
    val store = new graft.sources.SnapshotStore(spark, s"$base/idx/codes", key = "neighbor_id")
    val full = Pq.searchCodes(batch, store.read().get.select("neighbor_id", "cell", "codes", "cn"),
      SimilarityQueries.K, model, coarse, nProbe = 4)
    assert(rows(index.topK(batch, SimilarityQueries.K)) == rows(full),
      "cell-pruned serving must be bit-identical to the unpruned search")
  }

  test("a tiny index (nCells < default nProbe) stays searchable: probe clamps to all cells") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_tiny").toString
    // nCells = 2 with the default nProbe = 4: the old probeCells/slice
    // path tolerated this (probe everything); the fused probe must too
    val index = new PqIndex(spark, s"$base/idx", nCells = 2)
    index.build(corpus)
    val got = index.topK(queries, 3)
    assert(got.count() > 0)
    assert(got.select("rank").collect().forall(_.getInt(0) <= 3))
  }

  test("add() under frozen models: a planted duplicate becomes retrievable") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex2").toString
    val index = new PqIndex(spark, s"$base/idx")
    index.build(corpus)
    // plant: a copy of vector 0 under a fresh id
    val v0 = corpus.filter(col("id") === 0L).select("vec").head().getSeq[Float](0).toArray
    index.add(Seq((900001L, v0)).toDF("id", "vec"))
    val got = index.topK(Seq((0L, v0)).toDF("id", "vec"), 5)
      .select("neighbor_id", "rank").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.contains(900001L),
      s"the identical planted vector must rank in the top-5, got $got")
    assert(got(900001L) == 1, "an exact copy is the nearest neighbor")
  }

  test("maintainStream: streamed vectors become retrievable; replayed rows are idempotent") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex4").toString
    val index = new PqIndex(spark, s"$base/idx")
    index.build(corpus)
    val v0 = corpus.filter(col("id") === 0L).select("vec").head().getSeq[Float](0).toArray
    val input = MemoryStream[(Long, Array[Float])]
    val q = index.maintainStream(input.toDF().toDF("id", "vec"), s"$base/ckpt")
    input.addData((910001L, v0))
    q.processAllAvailable()
    // same row again (an at-least-once replay): keyed upsert, no dup
    input.addData((910001L, v0))
    q.processAllAvailable()
    q.stop()
    val got = index.topK(Seq((0L, v0)).toDF("id", "vec"), 3)
      .select("neighbor_id", "rank").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.get(910001L).contains(1), s"streamed vector must be the top hit, got $got")
    // exactly one copy of the id in the index
    import graft.sources.SnapshotStore
    val n = new SnapshotStore(spark, s"$base/idx/codes", key = "neighbor_id")
      .read().get.filter(col("neighbor_id") === 910001L).count()
    assert(n == 1L)
  }

  test("maintenance lifecycle: auto-compaction bounds live files, vacuum reclaims, topK stable") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex5").toString
    val index = new PqIndex(spark, s"$base/idx")
    index.build(corpus)
    val store = new graft.sources.SnapshotStore(spark, s"$base/idx/codes", key = "neighbor_id")
    val probe = corpus.limit(3).collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def topIds() = rows(index.topK(probe.toSeq.toDF("id", "vec"), 5))

    // 6 micro-batches of fresh vectors, auto-compacting every 2: live
    // file count must stay bounded by the LAYOUT FLOOR — one file per
    // (key bucket, cell partition) — instead of growing with the batch
    // count (the codes store is cell-partitioned for probe pruning, so
    // the floor is buckets × nCells, not buckets)
    val vecs = corpus.limit(40).collect().map(_.getSeq[Float](1).toArray)
    val input = MemoryStream[(Long, Array[Float])]
    val q = index.maintainStream(input.toDF().toDF("id", "vec"), s"$base/ckpt", compactEvery = 2)
    var expectIds = Set.empty[Long]
    for (b <- 0 until 6) {
      val ids = (0 until 5).map(i => 930000L + b * 10 + i)
      expectIds ++= ids
      input.addData(ids.zipWithIndex.map { case (id, i) => (id, vecs(b * 5 + i)) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val live = store.liveFileCount
    assert(live <= 32 * 16,
      s"6 maintained batches must stay compacted (<= buckets × cells files), got $live")
    // every streamed id still present exactly once
    val streamed = store.read().get.filter(col("neighbor_id") >= 930000L)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(streamed.length == expectIds.size && streamed.toSet == expectIds)

    // vacuum reclaims the superseded generations; search is unchanged
    val beforeVacuum = topIds()
    val reclaimed = index.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(reclaimed > 0, "a maintained index must have vacuum food")
    assert(topIds() == beforeVacuum, "vacuum must not change search results")
    // and a manual compact on the already-compacted store is a no-op
    assert(index.compact() == 0)
  }

  test("serveStream: each micro-batch equals the batch topK") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex3").toString
    val index = new PqIndex(spark, s"$base/idx")
    index.build(corpus)
    val qvecs = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val input = MemoryStream[(Long, Array[Float])]
    val q = index.serveStream(
      input.toDF().toDF("id", "vec"), SimilarityQueries.K,
      df => got ++= rows(df), s"$base/ckpt")
    input.addData(qvecs.take(3).toSeq: _*)
    q.processAllAvailable()
    input.addData(qvecs.slice(3, 6).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val expect = rows(index.topK(
      qvecs.take(6).toSeq.toDF("id", "vec"), SimilarityQueries.K))
    assert(got.toSet == expect, "streamed results must equal the batch search")
  }

  test("default build sizes cells and buckets from the corpus; explicit knobs win") {
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_auto").toString
    val index = new PqIndex(spark, s"$base/idx") // nCells = buckets = 0 ⇒ auto
    index.build(corpus)
    val n = corpus.count()
    val (_, coarse) = index.models()
    assert(coarse.nCells == Similarity.suggestNCells(n),
      s"auto build must persist suggestNCells($n) centroids, got ${coarse.nCells}")
    val store = new graft.sources.SnapshotStore(spark, s"$base/idx/codes",
      key = "neighbor_id")
    assert(store.bucketCount.contains(PqIndex.suggestBuckets(n, coarse.nCells)),
      s"auto build must record the suggested bucket layout, got ${store.bucketCount}")
    // explicit knobs are honored verbatim (a rebuild-scoped decision)
    val pinned = new PqIndex(spark, s"$base/idx2", nCells = 3, buckets = 48)
    pinned.build(corpus)
    assert(pinned.models()._2.nCells == 3)
    assert(new graft.sources.SnapshotStore(spark, s"$base/idx2/codes",
      key = "neighbor_id").bucketCount.contains(48))
    // fitSampleN is the extreme-scale escape hatch: a bigger training
    // sample raises the cell bound (auto cells = min(4√n, sample/40)),
    // and the auto layout tracks it
    val scaled = new PqIndex(spark, s"$base/idx3", fitSampleN = 4000)
    scaled.build(corpus)
    assert(scaled.models()._2.nCells == Similarity.suggestNCells(n, sampleN = 4000),
      s"fitSampleN must move the auto cell bound, got ${scaled.models()._2.nCells}")
  }

  test("remove(): a deleted id is unservable in batch AND from the next serve micro-batch") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_del").toString
    val index = new PqIndex(spark, s"$base/idx")
    index.build(corpus)
    // plant an exact copy of vector 0 — the unambiguous rank-1 hit —
    // then take it down; the copy must vanish from every serving path
    val v0 = corpus.filter(col("id") === 0L).select("vec").head().getSeq[Float](0).toArray
    index.add(Seq((940001L, v0)).toDF("id", "vec"))
    def top(): Map[Long, Int] = index.topK(Seq((0L, v0)).toDF("id", "vec"), 5)
      .select("neighbor_id", "rank").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(top().get(940001L).contains(1), "planted copy must serve before the takedown")

    val input = MemoryStream[(Long, Array[Float])]
    val served = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = index.serveStream(input.toDF().toDF("id", "vec"), 5,
      df => served += df.select("neighbor_id").collect().map(_.getLong(0)).toSet,
      s"$base/ckpt")
    input.addData((0L, v0))
    q.processAllAvailable()
    assert(served.head.contains(940001L), "pre-delete micro-batch must serve the id")

    assert(index.remove(Seq(940001L).toDF("id")) == 1L)
    input.addData((1L, v0))
    q.processAllAvailable()
    q.stop()
    assert(!served.last.contains(940001L),
      "the micro-batch AFTER the takedown must not serve the removed id")
    assert(!top().contains(940001L), "batch topK must not serve the removed id")
    // removing it again is a no-op (replayed takedown)
    assert(index.remove(Seq(940001L).toDF("id")) == 0L)
    // vacuum reclaims the superseded generation; serving unchanged
    assert(index.vacuum(keepVersions = 1, minAgeMs = 0L) > 0)
    assert(!top().contains(940001L))
  }

  test("auto nProbe tracks the frozen cell count; recall at the full-auto layout clears the floor") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_recall").toString
    // corpus with PLANTED structure: 3000 gaussian vectors plus a 0.97-
    // cosine near-duplicate of every 50th — the retrieval target a
    // serving index exists for (noise-level gaussian neighbors are not;
    // their recall is bounded by data geometry, measured in ScaleRun).
    // A planted pair whose cell is NOT probed is lost, so this is the
    // probe budget's test, not the codes': the dup lands near but not
    // always IN the query's cell at ~220 auto cells.
    val baseVecs = (0L until 3000L).map(i => (i, graft.VecFixtures.unit(64, i)))
    val dups = (0L until 3000L by 50).map(i =>
      (100000L + i, graft.VecFixtures.nearDup(graft.VecFixtures.unit(64, i), seed = i + 7)))
    val corpus = (baseVecs ++ dups).toDF("id", "vec")
    val queries = (0L until 3000L by 50).map(i => (i, graft.VecFixtures.unit(64, i))).toDF("id", "vec")
    val index = new PqIndex(spark, s"$base/idx") // ALL knobs auto, nProbe included
    index.build(corpus)
    val (_, coarse) = index.models()
    // the probe default resolves from the FROZEN layout, not a constant
    assert(index.resolvedNProbe == Similarity.suggestNProbe(coarse.nCells),
      s"auto probe must size from the ${coarse.nCells}-cell layout, got ${index.resolvedNProbe}")
    assert(coarse.nCells > 32,
      s"fixture must exercise a corpus-sized layout (got ${coarse.nCells} cells) " +
        "or the probe fraction isn't being tested")
    // an explicit nProbe still wins (serving-time knob, no rebuild)
    assert(new PqIndex(spark, s"$base/idx", nProbe = 9).resolvedNProbe == 9)
    // planted-dup recall under auto cells AND auto probes: each query's
    // near-dup must surface in its top-10
    val hits = index.topK(queries, 10)
      .filter(col("neighbor_id") === col("query_id") + 100000L).count()
    val rate = hits.toDouble / queries.count()
    info(f"planted near-dup recall@10 at full-auto layout = $rate%.3f " +
      s"(${index.resolvedNProbe} of ${coarse.nCells} cells)")
    assert(rate >= 0.8,
      f"auto probe budget lost planted near-duplicates: $rate%.3f < 0.8")
  }

  test("build-time recall floor: auto layout passes, a probe-starved layout fails loudly") {
    val s = spark
    import s.implicits._
    // 100 tight clusters × 10 members: every vector's true top-10 IS
    // its cluster (cross-cluster anchors are near-orthogonal), so a
    // layout that keeps clusters probeable achieves high recall and a
    // shattered one (500 cells, probe 1 ⇒ ~2 candidates/query) cannot —
    // the verdict's "bad layout ships silently" case, now a build error
    val corpus = (for (c <- 0 until 100; i <- 0 until 10) yield {
      val anchor = graft.VecFixtures.unit(64, 3000L + c)
      val rnd = new scala.util.Random(c * 1000L + i)
      ((c * 10 + i).toLong, anchor.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }).toDF("id", "vec")
    val base = java.nio.file.Files.createTempDirectory("graft_pqindex_floor").toString
    // full-auto layout clears the floor — build completes
    new PqIndex(spark, s"$base/ok").build(corpus, minRecall = 0.8)
    // degenerate: cells ≫ clusters with a single probe starves every
    // query of its candidates; the floor must fail the build, naming
    // the resolved layout
    val err = intercept[RuntimeException] {
      new PqIndex(spark, s"$base/bad", nCells = 500, nProbe = 1)
        .build(corpus, minRecall = 0.8)
    }
    assert(err.getMessage.contains("recall validation"), err.getMessage)
    assert(err.getMessage.contains("500 cells") && err.getMessage.contains("nProbe 1"),
      s"failure must name the layout it measured: ${err.getMessage}")
    // minRecall = 0 (default) keeps validation off: the same layout builds
    new PqIndex(spark, s"$base/off", nCells = 500, nProbe = 1).build(corpus)
  }

  test("suggestBuckets: floor 1 locally (file floor = buckets × cells), 64MiB-file growth, capped") {
    import PqIndex.suggestBuckets
    // sf-local: MBs of codes over corpus-sized cells must NOT multiply
    // into a small-file explosion — one bucket, cells already split files
    assert(suggestBuckets(200000, cells = 500) == 1)
    // 100 TB raw ≈ 1e11 vectors ⇒ ~3.2 TB codes over 500 sample-bounded
    // cells ⇒ ~96 buckets of ~64 MiB files per cell — the layout a
    // 1000-executor cluster wants (files ≫ executors, none tiny)
    assert(suggestBuckets(100000000000L, cells = 500) == 96)
    // pathological input can't explode the driver-side bookkeeping
    assert(suggestBuckets(Long.MaxValue / 4, cells = 1) == 4096)
    // monotone in n for a fixed cell count
    val pts = Seq(1L, 1000L, 100000000L, 10000000000L, 1000000000000L)
    val got = pts.map(n => suggestBuckets(n, cells = 200))
    assert(got == got.sorted, s"suggestBuckets must be monotone, got $got")
  }
}
