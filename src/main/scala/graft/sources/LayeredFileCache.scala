package graft.sources

import org.apache.spark.sql.DataFrame

/** File-grained warm-serving cache over a [[SnapshotStore]] (r15,
  * VERDICT r14 #3) — the shared mechanism behind the TextIndex warm
  * postings cache and the PqIndex warm SQ8 sidecar cache.
  *
  * The r14 caches retired their WHOLE cached frame on any generation
  * change, so a serve loop interleaving small CDC adds with query
  * batches paid the full re-read (+ re-layout) per batch — measured
  * ~10× WORSE than serving cold at 5M docs (PLANS r15). This cache is
  * a vector of LAYERS, each a persisted frame keyed by the
  * store-relative files it read. On a token change whose new
  * live-file list is a SUPERSET of the cached files — exactly the
  * insert fast path's signature (fresh-keyed adds append files;
  * nothing is rewritten) — only the delta files are read into a new
  * layer and the cached base survives. Any removed file (delete,
  * replace-merge, compact, vacuum, rm+rebuild) fails the superset
  * check and rebuilds from scratch, which is the only sound response:
  * a retired file's rows may have been superseded. So does a new file
  * of a MASKING generation (a merge-on-read upsert): its mask hides
  * rows of files already cached. Layers are capped (`maxLayers`) so
  * per-read union overhead stays bounded; hitting the cap merges the
  * two layers with the FEWEST files (LSM-style, r15) — a delta-sized
  * relayout from the already-cached frames, so a pure-append history
  * never re-reads its base layer. The r15 first cut consolidated via
  * a full file re-read instead, which put the whole-store rebuild
  * (~the first-batch cost) back on every 8th generation — the exact
  * cost the layering exists to avoid.
  *
  * Freshness is keyed on the store's generation token (manifest
  * version + live-file hash, never the bare version — a store deleted
  * and rebuilt out-of-band restarts at v1, and a version-keyed cache
  * would silently serve the OLD corpus). One manifest read per
  * [[frame]] call is the freshness price.
  *
  * `buildLayer` decides the cached LAYOUT (range-partitioning, sort,
  * column pruning, persist level) — the caller owns it because the
  * layout IS the win (a bare persist measured SLOWER than cold, r14).
  * The cache reads the layer's files itself, with the masks of the
  * same manifest read its file list came from, and hands `buildLayer`
  * those rows and the file count. `relayout` applies the SAME layout
  * (including the persist) to an in-memory union of layers — the merge
  * path's twin of `buildLayer`, handed the merged file count so
  * partition sizing can match.
  */
final class LayeredFileCache(store: SnapshotStore, maxLayers: Int = 8)
                            (buildLayer: (DataFrame, Int) => DataFrame)
                            (relayout: (DataFrame, Int) => DataFrame) {
  private var token: Option[(Long, Int)] = None
  private var layers: Vector[(Set[String], DataFrame)] = Vector.empty

  def layerCount: Int = synchronized(layers.size)

  /** The cached frame for the store's CURRENT generation (a union of
    * the live layers), or None when the store has no committed data.
    * Validates the generation token on every call; layers or rebuilds
    * as the file delta dictates. */
  def frame(): Option[DataFrame] = synchronized {
    def union = Some(layers.map(_._2).reduce(_ unionByName _))
    store.liveView match {
      case None => release(); None
      case Some(view) if token.contains(view.token) && layers.nonEmpty => union
      case Some(view) if view.files.isEmpty => release(); None
      case Some(view) =>
        def layer(files: Seq[String]) = buildLayer(store.readFileSubset(view, files)
          .getOrElse(sys.error("warm cache: empty file set")), files.size)
        val live = view.files
        val cachedSet = layers.iterator.flatMap(_._1).toSet
        val newFiles = live.filterNot(cachedSet)
        // a masking generation hides rows of files already cached, so
        // its new files force a rebuild exactly as a retired file does;
        // only a mask-free append layers
        if (layers.nonEmpty && cachedSet.subsetOf(live.toSet) && !newFiles.exists(view.masks)) {
          // append-only delta: cache ONLY the new files as a layer
          if (newFiles.nonEmpty)
            layers = layers :+ ((newFiles.toSet, layer(newFiles)))
          // over the cap: merge the two layers with the FEWEST files
          // (LSM-style) — a delta-sized relayout from the cached
          // frames, never a whole-store file re-read. Materialize the
          // merged layer BEFORE unpersisting its parents (after that,
          // evicted blocks recompute from the still-live files — an
          // append-only history retires nothing, so lineage holds).
          while (layers.size > maxLayers) {
            val bySize = layers.sortBy(_._1.size)
            val (ka, fa) = bySize(0)
            val (kb, fb) = bySize(1)
            val merged = relayout(fa.unionByName(fb), (ka ++ kb).size)
            merged.count()
            fa.unpersist(); fb.unpersist()
            layers = layers.filterNot(l => l._1 == ka || l._1 == kb) :+
              ((ka ++ kb, merged))
          }
        } else {
          release()
          layers = Vector((live.toSet, layer(live)))
        }
        token = Some(view.token)
        union
    }
  }

  /** Unpersist every layer and forget the token (the next [[frame]]
    * re-reads and re-caches). */
  def release(): Unit = synchronized {
    layers.foreach(_._2.unpersist())
    layers = Vector.empty
    token = None
  }
}
