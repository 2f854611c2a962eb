package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class LayeredFileCacheSpec extends SparkSpec {

  /** A cache over `store` whose layers are plain persisted reads, and
    * the (file count, row count) of each layer build. */
  private def cacheOver(store: SnapshotStore, maxLayers: Int = 8) = {
    val built = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val cache = new LayeredFileCache(store, maxLayers)({ (rows, nFiles) =>
      built += ((nFiles, rows.count()))
      rows.persist()
    })((rows, _) => rows.persist())
    (cache, built)
  }

  /** The served rows by key; every key must be served once. */
  private def served(cache: LayeredFileCache): Map[Long, String] = {
    val rows = cache.frame().get.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length == rows.length, "a key served twice")
    rows.toMap
  }

  test("a mask-free append layers; a masking upsert and a retired file rebuild") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_lfc").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val (cache, built) = cacheOver(store)
    try {
      assert(served(cache).size == 100 && cache.layerCount == 1)
      assert(built.last == ((store.liveFiles.size, 100L)))

      // fresh keys: a mask-free append caches only its own files
      val base = store.liveFiles.toSet
      store.upsert(Seq((1001L, "n1"), (1002L, "n2")).toDF("user_id", "v"))
      assert(store.liveView.get.masking.isEmpty, "setup: fresh keys append without masks")
      val got = served(cache)
      assert(cache.layerCount == 2 && built.size == 2)
      assert(built.last == (((store.liveFiles.toSet -- base).size, 2L)), "only the new files are read")
      assert(got.size == 102 && got(1001L) == "n1")

      // a replacement appends a masking generation: the cached base
      // still holds the old row, so the cache rebuilds
      store.upsert(Seq((7L, "u7")).toDF("user_id", "v"))
      assert(store.liveView.get.masking.nonEmpty, "setup: the replacement is masked")
      val replaced = served(cache)
      assert(cache.layerCount == 1 && built.size == 3)
      assert(built.last == ((store.liveFiles.size, 102L)), "a full re-read, through the mask")
      assert(replaced.size == 102 && replaced(7L) == "u7")

      // a delete rewrites a bucket: its old files retire, so it rebuilds
      store.delete(Seq(8L).toDF("user_id"))
      val deleted = served(cache)
      assert(cache.layerCount == 1 && built.size == 4)
      assert(deleted.size == 101 && !deleted.contains(8L) && deleted(7L) == "u7")

      // an unchanged store serves from the cache
      served(cache)
      assert(built.size == 4)
    } finally cache.release()
  }

  test("the capped LSM merge keeps every row") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_lfc_cap").toString + "/snap"
    val store = new SnapshotStore(spark, dir, buckets = 4)
    store.overwrite((1L to 50L).map(i => (i, s"v$i")).toDF("user_id", "v"))
    val (cache, built) = cacheOver(store, maxLayers = 2)
    try {
      served(cache)
      for (batch <- 1 to 4) {
        store.upsert((1L to 5L).map(i => (1000L * batch + i, s"b$batch")).toDF("user_id", "v"))
        val got = served(cache)
        assert(cache.layerCount <= 2, s"batch $batch: ${cache.layerCount} layers")
        assert(got.size == 50 + 5 * batch && got(1000L * batch + 1) == s"b$batch")
      }
      assert(built.size == 5, "every batch layered; merges never re-read files")
      assert(cache.frame().get.filter(col("user_id") <= 50L).count() == 50L)
    } finally cache.release()
  }
}
