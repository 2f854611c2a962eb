package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthesize an sf1-scale dataset (10× sf0.1) under
  * `bench_scratch/sf1` for scaling experiments — NOT gate input (the
  * driver's own testdata stays the only correctness corpus).
  *
  * Relational tables are amplified by key-shifted copies: every key
  * column moves by `k · stride` in copy k, so foreign keys stay
  * consistent (orders of copy k reference customers of copy k) and no
  * artificial duplicate keys appear. `documents`/`embeddings` are NOT
  * copied — textual/vector copies would over-plant near-duplicates and
  * turn the pair queries into adversarial quadratic inputs instead of
  * "the same distribution, bigger". They are re-synthesized from
  * per-row seeds with planted duplicate rates comparable to the
  * driver's corpora (~5% near-dups, ~1% exact dups; random 64-dim
  * gaussians whose pairwise cosine noise floor sits well under the 0.4
  * dedup threshold).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "bench_scratch/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val flags = args.drop(3).toSet
    // "corpus-only": documents + embeddings only — the sf10 scaling
    // runs exercise the corpus/ANN paths and skip ~2 GB of relational
    // amplification they never read
    // "embeddings-only": just the vector table (the r11 clustered
    // re-measure shares sf100's documents — re-synthesizing 1.9 GB of
    // identical text to change 0.5 GB of vectors would be waste)
    // "clustered": embeddings drawn from a 1024-mode gaussian mixture
    // instead of one isotropic gaussian — see the embeddings section
    val embeddingsOnly = flags("embeddings-only")
    val corpusOnly = flags("corpus-only") || embeddingsOnly
    val clustered = flags("clustered")
    // "dim16": 16-dim embeddings instead of 64 — 4× less disk per
    // vector, the r13-VERDICT #6 route to the next ANN decade (80M
    // vectors) inside the sandbox disk budget; same mode structure
    val dim = if (flags("dim16")) 16 else 64
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    def amplify(name: String, shifts: Map[String, Long]): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val union = (0 until copies).map { k =>
        shifts.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(k * stride))
        }
      }.reduce(_ unionByName _)
      union.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$copies")
    }
    if (!corpusOnly) {
      amplify("customer", Map("c_custkey" -> 1000000L))
      amplify("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
      amplify("lineitem", Map("l_orderkey" -> 10000000L, "l_partkey" -> 1000000L,
        "l_suppkey" -> 1000000L))
      amplify("part", Map("p_partkey" -> 1000000L))
      amplify("supplier", Map("s_suppkey" -> 1000000L))
      amplify("events", Map("event_id" -> 100000000L, "user_id" -> 1000000L))
      for (t <- Seq("region", "nation"))
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    // ---- documents: fresh synthesis, seeded per doc ----
    // 2/3 content words from a 20k vocab, 1/3 stopwords: vocabulary
    // DIVERSITY matters — a stopword-dominated corpus collapses every
    // SimHash signature onto the same few values and turns the
    // block-bucket join quadratic (observed: 8-word stopword spam made
    // dedup_simhash's candidate set ~n²/2 at 50k docs)
    // ALL-LETTER vocabulary: TextFunctions.words() extracts
    // [A-Za-z]+ runs, so digit-suffixed tokens ("w123") would collapse
    // to one token and make every SimHash signature identical
    // (observed: n²/2 candidate pairs → OOM). Function-word pool: the
    // real stopwords (quality/langid signal) plus letter-coded filler,
    // 64 distinct like real English's common-word set; content words
    // letter-code a 20k vocab.
    def alpha(n: Int): String = {
      var v = n; val sb = new StringBuilder
      do { sb.append(('a' + v % 26).toChar); v /= 26 } while (v > 0)
      sb.result()
    }
    val stop = Vector("the", "and", "of", "to", "in", "is", "it", "that") ++
      (0 until 56).map(i => "f" + alpha(i))
    def baseText(id: Long): String = {
      val rnd = new scala.util.Random(id * 2654435761L + 13)
      val n = 30 + rnd.nextInt(120)
      (1 to n).map { i =>
        if (i % 3 == 0) stop(rnd.nextInt(stop.size)) else "w" + alpha(rnd.nextInt(20000))
      }.mkString(" ")
    }
    val langs = Vector("en", "en", "en", "de", "fr", "es")
    val nDocs = 5000L * copies
    if (embeddingsOnly) {
      writeEmbeddings(spark, out, copies, clustered, dim)
      spark.stop(); return
    }
    // distributed synthesis (per-row seeds make it embarrassingly
    // parallel): at copies=100 the old driver-side Seq was ~GBs of
    // String heap for no reason
    val docs = spark.range(0L, nDocs, 1L, 32).as[Long].map { id =>
      val text =
        if (id % 97 == 3 && id >= 3) baseText(id - 3) // exact dup
        else if (id % 20 == 1) { // near dup: last word altered
          val ws = baseText(id - 1).split(' '); ws(ws.length - 1) = "altered"; ws.mkString(" ")
        } else baseText(id)
      val lang = langs((id % langs.size).toInt)
      (id, text, lang, "synthetic", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scalegen] documents $nDocs")

    writeEmbeddings(spark, out, copies, clustered, dim)
    spark.stop()
  }

  /** Embeddings table, ~2% planted near-dups either way.
    *
    * Default (isotropic): one seeded 64-dim gaussian per id. Pairwise
    * cosines concentrate at 0 ± 1/√64, so every query's true top-10
    * sit at the noise ceiling — recall numbers measure the DATA's
    * ceiling, not the index (the r10 sf100 tables: recall@10 ≈ 0.03
    * flat across 8× cells, BY CONSTRUCTION unbeatable).
    *
    * `clustered`: a 1024-mode gaussian mixture — the SemdedupSpec
    * planted-structure fixture scaled up. Mode centers are seeded unit
    * gaussians (‖c‖² ≈ 64); a member adds 0.5/coord noise (‖n‖² ≈ 16),
    * so intra-mode cosine ≈ 64/(64+16) = 0.8 vs inter-mode 0 ± 0.125 —
    * a query's true neighbors are its ~n/1024 mode-mates, exploitable
    * structure a coarse quantizer CAN concentrate (and the only data
    * on which the cells/probe/rerank suggest rules are falsifiable).
    * Mode assignment is a multiplicative hash of id, so the planted
    * near-dup pairs (which share the BASE vector) stay intact. */
  val EmbModes = 1024

  private def center(m: Int, dim: Int): Array[Float] = {
    val rnd = new scala.util.Random(m * 2862933555777941757L + 3037000499L)
    Array.fill(dim)(rnd.nextGaussian().toFloat)
  }

  private def rawVec(id: Long, clustered: Boolean, dim: Int): Array[Float] = {
    val rnd = new scala.util.Random(id * 1099511628211L + 7)
    if (!clustered) Array.fill(dim)(rnd.nextGaussian().toFloat)
    else {
      val c = center((((id * 0x9E3779B97F4A7C15L) >>> 40) % EmbModes).toInt, dim)
      c.map(x => x + 0.5f * rnd.nextGaussian().toFloat)
    }
  }

  /** The embedding of `id` — EXACTLY what [[writeEmbeddings]] persists
    * for that id (planted near-dup rule included: id % 50 == 1 copies
    * id-1 with +0.01 on coord 0). Exposed so streaming-encode probes
    * can build an index from this function directly — a 500M-vector
    * frame synthesized per-row in the scan never materializes raw
    * vectors on disk (the r13 "route b" to decades past the disk
    * budget: only the 8 B/vec codes + SQ8 tier ever hit disk). */
  def embVec(id: Long, clustered: Boolean, dim: Int): Array[Float] =
    if (id % 50 == 1 && id >= 1) { val b = rawVec(id - 1, clustered, dim); b(0) += 0.01f; b }
    else rawVec(id, clustered, dim)

  private def writeEmbeddings(spark: org.apache.spark.sql.SparkSession,
                              out: String, copies: Int, clustered: Boolean,
                              dim: Int = 64): Unit = {
    import spark.implicits._
    val nVecs = 2000L * copies
    val embs = spark.range(0L, nVecs, 1L, 32).as[Long].map { id =>
      (id, embVec(id, clustered, dim), (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
    embs.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scalegen] embeddings $nVecs" + (if (clustered) " (clustered)" else ""))
  }
}
