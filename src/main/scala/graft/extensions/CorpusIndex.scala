package graft.extensions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.sources.TsdbStorage

/** The half of a corpus index's `_meta` row that every index carries:
  * the corpus fingerprint and the idempotent-writer cursor.
  *
  *  - `corpusRows`/`idMin`/`idMax`/`idSum`/`contentXor` bind the index
  *    to the corpus it covers: count, min/max/sum of the id column and
  *    the xor of xxhash64(id, content) — order-independent,
  *    overflow-free (the reason it is not a sum: ANSI mode would throw
  *    on a wrapped Long), rolled forward by append. `idSum` catches
  *    same-count/same-range id swaps; `contentXor` catches a corpus
  *    rewritten in place under unchanged ids. `corpusRows = -1` is an
  *    UNKNOWN fingerprint (a meta predating it, or no `_meta` at all),
  *    which [[CorpusIndex.resolveFor]] never serves.
  *  - `txnCursors` — the per-app ([[TxnCursors]]) streaming cursor: the
  *    last (checkpoint, batchId) whose append committed. foreachBatch is
  *    at-least-once, so a crash after the index commit but before the
  *    checkpoint commit replays the micro-batch; the replay is
  *    recognized (same appId, batchId ≤ cursor) and skipped instead of
  *    appending duplicate rows into a certified index. `lastAppId` /
  *    `lastBatchId` keep the legacy single-cursor columns written.
  */
final case class CorpusState(corpusRows: Long = -1L, idMin: Long = 0L, idMax: Long = 0L,
                             idSum: Long = 0L, contentXor: Long = 0L, lastAppId: String = "",
                             lastBatchId: Long = -1L, txnCursors: String = "") {

  def fingerprint: CorpusIndex.Fingerprint = (corpusRows, idMin, idMax, idSum, contentXor)

  /** This state after an append of a delta with fingerprint `fp`
    * committed under `txn`. An EMPTY delta's all-zero fingerprint must
    * not fold into min/max (idMin = min(real, 0) would corrupt the
    * identity and uncertify the index at the next verify), and an
    * unknown fingerprint stays unknown; the cursor advances either way
    * — an empty commit is still a commit. */
  def committed(fp: CorpusIndex.Fingerprint, txn: Option[(String, Long)]): CorpusState = {
    val (n, lo, hi, sum, xor) = fp
    val grown =
      if (n == 0 || corpusRows < 0) this
      else if (corpusRows == 0) copy(n, lo, hi, sum, xor)
      else copy(corpusRows + n, math.min(idMin, lo), math.max(idMax, hi), idSum + sum,
        contentXor ^ xor)
    txn.fold(grown) { case (app, bid) =>
      grown.copy(lastAppId = app, lastBatchId = bid,
        txnCursors = TxnCursors.advance(grown.txnCursors, app, bid))
    }
  }
}

/** An index's self-description from `_meta`: its own scheme fields plus
  * the shared [[CorpusState]]. */
trait CorpusMeta {
  def state: CorpusState
  def corpusRows: Long = state.corpusRows
  def idMin: Long = state.idMin
  def idMax: Long = state.idMax
  def idSum: Long = state.idSum
  def contentXor: Long = state.contentXor
  def lastAppId: String = state.lastAppId
  def lastBatchId: Long = state.lastBatchId

  /** Per-app replay check ([[TxnCursors]]): the last applied batchId
    * for `app`, if any. */
  def appliedBatch(app: String): Option[Long] = TxnCursors.applied(state.txnCursors, app)
}

/** One `_meta` row, read by column name (a positional read would
  * silently swap fields under schema evolution — a swapped
  * planes/bandBits mis-bands every stored code). A column the row lacks
  * — or every column, when there is no `_meta` — takes the caller's
  * default. */
final class MetaRow private[extensions] (g: Option[org.apache.parquet.example.data.Group]) {
  def has(c: String): Boolean = g.exists(_.getType.containsField(c))
  def int(c: String, dflt: Int): Int = if (has(c)) g.get.getInteger(c, 0) else dflt
  def long(c: String, dflt: Long): Long = if (has(c)) g.get.getLong(c, 0) else dflt
  def string(c: String, dflt: String): String = if (has(c)) g.get.getString(c, 0) else dflt
}

/** The corpus-index protocol, one implementation for [[AnnIndex]] and
  * [[TextIndex]] — the certify-or-fallback rule of the engine's
  * chunk-stat index (TsdbStorage) applied to a derived artifact:
  *
  *  - `_SYNCED` is the commit marker: every mutation drops it first and
  *    restores it only after the index content committed, so a crash in
  *    between leaves the index uncertified and queries recompute.
  *  - `_meta` (one row) binds the index to its corpus ([[CorpusState]])
  *    and records its scheme; [[resolveFor]] serves an index only when
  *    it is certified, its scheme is one the caller bands with, and its
  *    fingerprint matches the live corpus.
  *  - Writers (build/append/compact/fsck) are single-writer: each holds
  *    the `_LOCK` lease ([[graft.sources.WriterLock]]) for its term and
  *    first resolves any crashed compact swap ([[ArtifactSwap]]) of its
  *    tables. Readers never mutate: a query racing a live compact falls
  *    back to recompute for the duration of the swap.
  *
  * An index supplies only what differs: its id and content columns,
  * its conf key, its payload tables (the first is the main table the
  * fragment test and compaction act on), its `_meta` column layout and
  * scheme fields, its build and its append payload.
  */
abstract class CorpusIndex[M <: CorpusMeta] {
  import CorpusIndex._

  /** Session conf key pointing the queries at a persisted index. */
  val ConfKey: String

  /** Whether resolveFor's per-query fingerprint check includes the
    * CONTENT term (default true). The content hash is one xxhash64 agg
    * over the vectors/text — an O(corpus) column scan per query, the
    * exact growth-with-corpus cost the index exists to amortize. A
    * deployment whose corpus is append-only (in-place mutation
    * impossible by construction) sets this false to keep the per-query
    * check at the column-pruned id stats; [[verify]] (and through it
    * `maintain()`) still checks content regardless. One key for both
    * indexes. */
  val ContentCheckKey = "spark.graft.index.contentCheck"

  /** "ANN index" / "text index" — error messages and the proof-memo key. */
  protected val label: String
  protected val idCol: String
  /** The content the fingerprint hashes, in its canonical form. */
  protected def contentCol(corpus: DataFrame): Column
  /** Payload tables under the index dir; the first is the main table. */
  protected val tables: Seq[String]
  /** `_meta` columns in their on-disk order (format: never reorder). */
  protected val metaLayout: Seq[String]
  /** This index's own `_meta` columns; the shared writer adds the
    * [[CorpusState]] columns. */
  protected def schemeColumns(m: M): Map[String, Any]
  protected def metaOf(r: MetaRow, state: CorpusState): M
  protected def withState(m: M, state: CorpusState): M
  /** Whether a query banding with this code's default scheme can serve
    * an index with meta `m`. */
  protected def servable(m: M): Boolean = true

  /** Build (or rebuild) the index from a full corpus and certify it. */
  def build(spark: SparkSession, corpus: DataFrame, dir: String): Unit
  /** Refuse an append the index cannot take (before anything is
    * written; the index stays certified). */
  protected def checkAppend(spark: SparkSession, dir: String, m: M, delta: DataFrame): Unit = ()
  /** Write the delta's payload rows, under the dropped marker. */
  protected def appendPayload(spark: SparkSession, dir: String, m: M, delta: DataFrame): Unit
  /** Fold further tables after [[compact]] rewrote the main one. */
  protected def compactPayload(spark: SparkSession, dir: String, rowsPerFile: Long): Unit = ()

  /** The maintenance retune hook `maintain()` consults on a certified
    * index: Some(reason) after a rebuild with a retuned scheme, None
    * when the index needs none. */
  def retune(spark: SparkSession, dir: String, corpus: DataFrame): Option[String] = None

  protected def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected def mainTable: String = tables.head

  /** A writer entry's lease term, after resolving crashed swaps. */
  protected def writer[T](spark: SparkSession, dir: String)(body: => T): T =
    graft.sources.WriterLock.withLock(spark, dir, graft.sources.WriterLock.newOwner()) {
      tables.foreach(ArtifactSwap.recover(spark, dir, _))
      body
    }

  /** True iff the index exists AND its last mutation committed. */
  def usable(spark: SparkSession, dir: String): Boolean = TsdbStorage.markedInSync(spark, dir)

  /** Fail unless the index at `dir` is [[usable]]. */
  def certified(spark: SparkSession, dir: String): Unit =
    require(usable(spark, dir), s"$label at $dir is absent or uncertified — build() it first")

  /** The served content's generation: the scheme columns plus the
    * fingerprint, the txn cursor excluded — an append that kept nothing
    * advances the cursor but serves the same content. The admission
    * loop's reference-cache key ([[graft.streaming.RefCache]]). */
  def generation(m: M): String =
    (metaLayout.flatMap(schemeColumns(m).get) :+ m.state.fingerprint).mkString(":")

  /** The certified index dir the session points at, if any. Marker-only:
    * corpus identity is NOT checked here — query paths use
    * [[resolveFor]]. */
  def resolve(spark: SparkSession): Option[String] =
    Option(spark.conf.get(ConfKey, null)).filter(usable(spark, _))

  /** The certified index dir IF its scheme is servable and its
    * fingerprint matches `corpus` (any frame with the index's id and
    * content columns). Anything else — unknown fingerprint, stale
    * index, foreign corpus, other scheme — is not served; the caller
    * recomputes, which is always correct. */
  def resolveFor(spark: SparkSession, corpus: DataFrame): Option[String] =
    resolve(spark).filter { dir =>
      val m = readMeta(spark, dir)
      servable(m) && fingerprintMatches(spark, m, corpus)
    }

  private def fingerprintMatches(spark: SparkSession, m: M, corpus: DataFrame): Boolean =
    m.corpusRows >= 0 && {
      if (graft.core.Conf.bool(spark, ContentCheckKey, true))
        contentProven(spark, m.state.fingerprint, corpus)
      else // column-pruned id stats only (see ContentCheckKey)
        idStats(corpus) == ((m.corpusRows, m.idMin, m.idMax, m.idSum))
    }

  /** The session memo of PROVEN content checks: the content hash is an
    * O(corpus) column scan, and for the text index it reads + hashes
    * the very column whose derivation the index amortizes (measured at
    * sf0.1: ~0.3 s/query — an index-served dedup_ngram was NET slower
    * than recompute). The key binds the proof to the index fingerprint
    * plus the corpus's canonicalized-plan hash and sorted input-file
    * listing, so any change that could alter content misses the memo
    * and re-proves: a rewritten file set has new part-file names, a
    * transformed frame a different plan hash, a rebuilt index a new
    * fingerprint. A hit still pays the column-pruned id-stats check;
    * external byte-level mutation preserving file names AND ids is the
    * only slip, and [[verify]] / maintain() are memo-blind. */
  private def contentProven(spark: SparkSession, fp: Fingerprint, corpus: DataFrame): Boolean = {
    val key = s"${System.identityHashCode(spark)}:$label:$fp:${corpusIdentity(corpus)}"
    if (contentProofs.contains(key))
      idStats(corpus) == ((fp._1, fp._2, fp._3, fp._4))
    else {
      contentScanCount.incrementAndGet()
      val ok = fingerprint(corpus) == fp
      if (ok) {
        if (contentProofs.size > 64) contentProofs.clear()
        contentProofs.add(key)
      }
      ok
    }
  }

  /** Full-fingerprint audit (content term ALWAYS included, whatever
    * ContentCheckKey says): a mismatch UNCERTIFIES the index — the
    * maintenance-time backstop for deployments that opted the
    * per-query content check out. */
  def verify(spark: SparkSession, dir: String, corpus: DataFrame): Boolean = {
    if (!usable(spark, dir)) return false
    val m = readMeta(spark, dir)
    val ok = m.corpusRows >= 0 && fingerprint(corpus) == m.state.fingerprint
    if (!ok) TsdbStorage.markStatsOutOfSync(spark, dir)
    ok
  }

  private def idStatCols: Seq[Column] = Seq(count(col(idCol)),
    coalesce(min(idCol), lit(0L)), coalesce(max(idCol), lit(0L)), coalesce(sum(idCol), lit(0L)))

  /** The content term: xor of xxhash64(id, content). Empty corpus → 0. */
  protected def contentTerm(corpus: DataFrame): Column =
    coalesce(bit_xor(xxhash64(col(idCol), contentCol(corpus))), lit(0L))

  /** The cheap (column-pruned) half of the fingerprint. */
  protected def idStats(corpus: DataFrame): (Long, Long, Long, Long) = {
    val r = corpus.agg(idStatCols.head, idStatCols.tail: _*).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** (rows, min/max/sum id, content xor) of a corpus in one agg pass;
    * empty corpus → all zeros. */
  private[graft] def fingerprint(corpus: DataFrame): Fingerprint = {
    val r = corpus.agg(idStatCols.head, idStatCols.tail :+ contentTerm(corpus): _*).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** The index's self-description. The one-row `_meta` is read with the
    * parquet reader on the driver: one listing of `_meta`, no Spark job,
    * and no "All paths were ignored" warning, which Spark's reader logs
    * for a root whose name starts with `_`. No `_meta`, or one
    * predating `content_xor` (an xor has no sentinel value, so its
    * absence demotes the whole fingerprint), reads as an UNKNOWN
    * fingerprint, which resolveFor refuses to serve; rebuild to
    * upgrade. Legacy single-cursor metas fold into a one-entry
    * [[TxnCursors]] map. */
  def readMeta(spark: SparkSession, dir: String): M = {
    val r = new MetaRow(readMetaGroup(spark, new Path(dir, "_meta")))
    val app = r.string("last_app_id", "")
    val bid = r.long("last_batch_id", -1L)
    metaOf(r, CorpusState(
      if (r.has("content_xor")) r.long("corpus_rows", -1L) else -1L,
      r.long("id_min", 0L), r.long("id_max", 0L), r.long("id_sum", 0L),
      r.long("content_xor", 0L), app, bid,
      if (r.has("txn_cursors")) r.string("txn_cursors", "")
      else if (app.nonEmpty) TxnCursors.render(Vector(app -> bid))
      else ""))
  }

  private[graft] def writeMeta(spark: SparkSession, dir: String, m: M): Unit = {
    val s = m.state
    val v = schemeColumns(m) ++ Map("corpus_rows" -> s.corpusRows, "id_min" -> s.idMin,
      "id_max" -> s.idMax, "id_sum" -> s.idSum, "content_xor" -> s.contentXor,
      "last_app_id" -> s.lastAppId, "last_batch_id" -> s.lastBatchId,
      "txn_cursors" -> s.txnCursors)
    val schema = StructType(metaLayout.map(c => v(c) match {
      case _: Int  => StructField(c, IntegerType, nullable = false)
      case _: Long => StructField(c, LongType, nullable = false)
      case _       => StructField(c, StringType)
    }))
    spark.createDataFrame(java.util.List.of(Row.fromSeq(metaLayout.map(v))), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_meta")
  }

  /** Incrementally index a delta: the replay check, then the payload
    * under the dropped marker, the fingerprint rolled forward and the
    * cursor advanced in `_meta`, then the marker restored — the commit.
    * `txn` = (appId = checkpoint path, batchId): a replayed micro-batch
    * (same appId, batchId not beyond the cursor) is a no-op, keeping the
    * index exactly-once under foreachBatch's at-least-once contract.
    * Batch-style callers omit it (no replay source, no idempotency
    * claim). */
  def append(spark: SparkSession, delta: DataFrame, dir: String,
             txn: Option[(String, Long)] = None): Unit = writer(spark, dir) {
    certified(spark, dir)
    val m = readMeta(spark, dir)
    if (!txn.exists { case (app, bid) => m.appliedBatch(app).exists(bid <= _) }) {
      val fp = fingerprint(delta)
      checkAppend(spark, dir, m, delta)
      TsdbStorage.markStatsOutOfSync(spark, dir)
      appendPayload(spark, dir, m, delta)
      writeMeta(spark, dir, withState(m, m.state.committed(fp, txn)))
      TsdbStorage.markStatsInSync(spark, dir)
    }
  }

  /** Streaming maintenance: every non-empty micro-batch of `source`
    * (the corpus's shape) is one [[append]] under the (checkpoint,
    * batchId) txn. foreachBatch is at-least-once; the txn cursor skips a
    * replayed batch, which lifts the loop to exactly-once, and a NEW
    * stream (fresh checkpoint) restarts batch numbering without being
    * mistaken for a replay. Appends are per-item deterministic, so the
    * streamed index equals a batch append of the same rows. The index
    * must be built first; an uncertified one fails the next micro-batch
    * fast. */
  def appendStream(source: DataFrame, dir: String, checkpoint: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) append(batch.sparkSession, batch, dir, txn = Some((checkpoint, batchId)))
      }
      .start()

  /** Integrity probe (the fsck of this artifact): every payload and
    * `_meta` file fully decompressed, distributed. A corrupt file
    * UNCERTIFIES the index immediately — even without repair — so
    * queries fall back instead of throwing mid-query; with repair the
    * bad files are dropped. Full repair is build() (the index is
    * derived data: dropping it loses nothing). */
  def fsck(spark: SparkSession, dir: String, repair: Boolean = false): Seq[String] =
    writer(spark, dir) {
      val bad = (tables :+ "_meta").flatMap(t => TsdbStorage.probeFiles(spark, s"$dir/$t"))
      if (bad.nonEmpty) {
        TsdbStorage.markStatsOutOfSync(spark, dir)
        if (repair) { val f = fs(spark, dir); bad.foreach(p => f.delete(new Path(p), false)) }
      }
      bad
    }

  /** Size-targeted file count for `rows` rows. */
  protected def targetFiles(rows: Long, rowsPerFile: Long): Int =
    math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt

  private def mainRows(spark: SparkSession, dir: String): Long = {
    val m = readMeta(spark, dir)
    if (m.corpusRows >= 0) m.corpusRows else spark.read.parquet(s"$dir/$mainTable").count()
  }

  /** Compaction invocations: the closed-loop smoke and specs assert
    * maintenance actually fired instead of inferring it from timings. */
  private[graft] val compactCount = new java.util.concurrent.atomic.AtomicLong()

  /** Rewrite the append-accumulated main table (contents unchanged)
    * into ~rowsPerFile-sized files RANGE-CLUSTERED on the id — the file
    * count scales with the corpus (never a one-task monolith), readers
    * keep full parallelism, and parquet min/max footers let id-probing
    * reads prune whole files. The [[ArtifactSwap]] discipline covers
    * the swap. */
  def compact(spark: SparkSession, dir: String,
              rowsPerFile: Long = DefaultRowsPerFile): Unit = writer(spark, dir) {
    certified(spark, dir)
    compactCount.incrementAndGet()
    val files = targetFiles(mainRows(spark, dir), rowsPerFile)
    ArtifactSwap.rewrite(spark, dir, mainTable) { tmp =>
      spark.read.parquet(s"$dir/$mainTable")
        .repartitionByRange(files, col(idCol))
        .sortWithinPartitions(idCol)
        .write.parquet(tmp)
    }
    compactPayload(spark, dir, rowsPerFile)
  }

  /** Append-accumulation signature (the engine's fragmentedDays analog):
    * more main-table files than 2× the size-targeted count compact()
    * would write, and more than `minFiles` — the floor for callers that
    * amortize compaction against many small appends (the closed
    * admission loop: a small store's size target is a handful of files,
    * so the bare 2×-target rule would fire an O(corpus) rewrite every
    * couple of batches). Directory-listing metadata only. */
  def fragmented(spark: SparkSession, dir: String, rowsPerFile: Long = DefaultRowsPerFile,
                 minFiles: Int = 0): Boolean = {
    val p = new Path(dir, mainTable)
    val f = fs(spark, dir)
    f.exists(p) && usable(spark, dir) &&
      f.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) >
        math.max(2L * targetFiles(mainRows(spark, dir), rowsPerFile), minFiles.toLong)
  }
}

object CorpusIndex {

  /** (rows, min id, max id, id sum, content xor). */
  type Fingerprint = (Long, Long, Long, Long, Long)

  /** Default compact target: ~4M rows per file (~tens of MB compressed
    * for the slim code/signature rows) — keeps a 10⁹-row table at a few
    * hundred parallel-readable files. */
  val DefaultRowsPerFile: Long = 4L * 1000 * 1000

  /** Proven content checks (see [[CorpusIndex.contentProven]]), bounded
    * at 64, whole-clear. */
  private val contentProofs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Full content-scan invocations — the memo's observable. */
  private[graft] val contentScanCount = new java.util.concurrent.atomic.AtomicLong()

  /** Driver-side corpus identity: canonicalized plan + input files. No
    * data scan — both are materialized at analysis time. */
  private[extensions] def corpusIdentity(corpus: DataFrame): String = {
    val planHash = corpus.queryExecution.analyzed.semanticHash()
    val files = java.util.UUID.nameUUIDFromBytes(
      corpus.inputFiles.sorted.mkString("\n").getBytes("UTF-8"))
    s"$planHash:$files"
  }

  /** The first row of the part files under `meta`; None when the
    * directory is absent or holds no row. */
  private def readMetaGroup(spark: SparkSession,
                            meta: Path): Option[org.apache.parquet.example.data.Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = try meta.getFileSystem(conf).listStatus(meta).toSeq.map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
        .sortBy(_.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    parts.iterator.flatMap { p =>
      val in = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p).withConf(conf).build()
      try Option(in.read()) finally in.close()
    }.nextOption()
  }
}
