package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Static-side reference frames for the admission loop ([[Admission]],
  * both modalities), cached once per index GENERATION
  * ([[graft.extensions.CorpusIndex.generation]]) instead of once per
  * invocation.
  *
  * The admission marker legs join every micro-batch against frames
  * derived from the certified index (banded signatures, SRP band
  * rows). Re-deriving those per batch would make admission O(corpus)
  * per batch; persisting them per INVOCATION (the round-6 shape) leaked
  * two cached frames per [[StreamingClean.batchVerdicts]] call in a
  * long-lived session (the nightly re-admission pass). This memo keys
  * the cache by (session, indexDir, index content fingerprint) — the
  * same discipline as the k-means / content-proof memos — so:
  *
  *  - repeated batch passes against an unchanged index reuse one cached
  *    generation (no leak, no rebuild);
  *  - an index APPEND or REBUILD changes the fingerprint, which re-keys
  *    the cache: the superseded generation for the same (session, dir)
  *    is unpersisted and dropped — stale frames are never served;
  *  - at most one generation per (session, index) is ever held.
  *
  * Each slot is stored as a SEGMENT LIST so the closed admission loop
  * can roll a generation forward in O(batch) instead of re-deriving
  * O(corpus): [[extend]] appends the admitted delta's frames as new
  * eagerly-materialized segments (lineage truncated — a lazy union over
  * the grown source files would double-count the delta) and re-keys.
  * Past [[MaxSegments]] segments a slot is consolidated into one frame
  * (the LSM discipline): per-batch admission pays O(batch) plus an
  * amortized O(corpus / MaxSegments) merge, and the banding join's
  * static side stays a bounded union.
  */
private[graft] object RefCache {

  /** Segment-count ceiling per slot before consolidation: bounds both
    * the union fan-in in the join plan and the amortized merge cost.
    * Mutable only as a test seam (RefCacheSpec drives the
    * consolidation path with a tiny ceiling). */
  private[graft] var MaxSegments = 32

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Vector[DataFrame]]]()

  /** Full builds — the memo's observable (spec-pinned). */
  private[graft] val buildCount = new java.util.concurrent.atomic.AtomicLong()

  /** Incremental extends that hit a cached predecessor (spec-pinned). */
  private[graft] val extendCount = new java.util.concurrent.atomic.AtomicLong()

  /** Segment-list consolidations (the amortized LSM merge) — the
    * observable the `clean.loop` smoke asserts on: steady-state
    * admission must show extends ≫ consolidations and ZERO rebuilds. */
  private[graft] val consolidateCount = new java.util.concurrent.atomic.AtomicLong()

  /** Keyed by the CONTEXT, not the session: foreachBatch hands its
    * callback a cloned streaming session (MicroBatchExecution's
    * sparkSessionForStream), and a session-identity key would give the
    * stream a cold cache disjoint from the one the driving session
    * warmed. Cached frames are context-shared (one BlockManager), so
    * the wider scope serves both safely. */
  private def prefixOf(session: SparkSession, dir: String) =
    s"${System.identityHashCode(session.sparkContext)}:$dir:"

  /** The cached frames for this index generation (each slot the union
    * of its segments), building + persisting on first use and retiring
    * any superseded generation of the same (session, dir).
    * `fingerprint` must change whenever the index's served content
    * changes (the meta content fields do). */
  def get(session: SparkSession, dir: String, fingerprint: String)
         (build: => Seq[DataFrame]): Seq[DataFrame] = {
    val prefix = prefixOf(session, dir)
    val key = prefix + fingerprint
    import scala.jdk.CollectionConverters._
    val stale = memo.keySet().asScala.filter(k => k.startsWith(prefix) && k != key).toList
    stale.foreach(k => Option(memo.remove(k)).foreach(_.foreach(_.foreach(_.unpersist()))))
    memo.computeIfAbsent(key, _ => {
      buildCount.incrementAndGet()
      // localCheckpoint (eager, lineage TRUNCATED), not persist: a
      // lazily-persisted generation keeps a plan that re-reads the
      // index's parquet files on any unmaterialized/evicted partition —
      // and the round-10 self-triggering compaction REWRITES those
      // files mid-stream (measured: FAILED_READ_FILE on the batch after
      // a fold). Truncation makes the cached generation independent of
      // artifact layout, the same contract extend() already gives the
      // deltas; the first join would have materialized the frames
      // anyway. Tradeoff (applies to the delta segments too): a
      // localCheckpoint block lost with its executor is unrecoverable —
      // the stream fails and restarts with a fresh get() build. On a
      // multi-executor cluster with preemption, prefer reliable
      // checkpointing (sparkContext.setCheckpointDir + checkpoint())
      // for the generation frames; local mode — this deployment — has
      // no partial-executor-loss failure mode short of process death.
      build.map(f => Vector(f.localCheckpoint(true)))
    }).map(_.reduce(_ unionByName _))
  }

  /** Roll a cached generation forward with a known delta — the closed
    * admission loop's commit hook. The new generation's slots = the
    * predecessor's segments plus the delta frames, each delta
    * materialized EAGERLY with its lineage truncated (localCheckpoint:
    * the delta's logical plan reads source files the grown index now
    * also contains — evaluating it lazily after the append would
    * double-count). Returns false (and caches nothing) when the
    * predecessor generation is not cached or the arity mismatches —
    * the next [[get]] then derives the new generation from scratch,
    * which is always correct. */
  def extend(session: SparkSession, dir: String,
             oldFingerprint: String, newFingerprint: String,
             deltas: Seq[DataFrame]): Boolean = {
    if (oldFingerprint == newFingerprint) return true // nothing admitted
    val prefix = prefixOf(session, dir)
    // validate BEFORE removing: an arity mismatch must leave the cached
    // generation in the memo (still reachable for get()'s stale cleanup
    // to unpersist), not strand its frames in executor storage
    val peek = memo.get(prefix + oldFingerprint)
    if (peek == null || peek.size != deltas.size) return false
    val prev = memo.remove(prefix + oldFingerprint)
    if (prev == null) return false // lost a race to another retire
    // retirement caveat: unpersist() frees persist()-cached segments
    // promptly, but a localCheckpoint-ed segment's blocks are released
    // by the ContextCleaner when the dataset is GC'd — dropping the
    // reference here is what makes that happen; it is eventual, not
    // immediate (bounded: at most one superseded generation per index
    // is ever awaiting collection)
    val next = prev.zip(deltas).map { case (segs, d) =>
      val grown = segs :+ d.localCheckpoint(true)
      if (grown.size > MaxSegments) {
        consolidateCount.incrementAndGet()
        val merged = grown.reduce(_ unionByName _).localCheckpoint(true)
        grown.foreach(_.unpersist())
        Vector(merged)
      } else grown
    }
    memo.put(prefix + newFingerprint, next)
    extendCount.incrementAndGet()
    true
  }
}
