package graft.extensions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Training-shard exporter — the writer behind `shard_manifest`: ships
  * the corpus as hash-assigned parquet shards plus the manifest the
  * loader reads before the first byte of data.
  *
  * Layout: `outDir/shards/docs/shard=N/…` (the data) and
  * `outDir/shards/meta/manifest/…` + `outDir/shards/meta/cursor` (the
  * manifest and the append-idempotency cursor, swapped TOGETHER as one
  * [[ArtifactSwap]] artifact — see [[append]]'s crash analysis).
  *
  * Scale shape: the shard column is appended map-side and rows reach
  * their shard files via `sortWithinPartitions` + `partitionBy` — NO
  * shuffle. A `repartition(col("shard"))` would serialize each shard
  * into one task (a 6 TB task at 100 TB corpus / 16 shards); this shape
  * keeps parallelism = input tasks and open files per task ≤ N_SHARDS.
  *
  * Incremental exports ride the hash assignment's stability: a new
  * batch only ADDS files to existing shard dirs (no old shard is ever
  * reshuffled), under deterministic `b_<app>_<batch>_<i>.parquet` names
  * so a replayed move overwrites itself. Exactly-once:
  *   1. move batch files into the shard dirs (idempotent — replay
  *      deletes its own names first);
  *   2. swap `meta` = merged manifest + advanced cursor + extended
  *      applied log in ONE rename.
  * Crash before the swap → neither record names the batch, a replay
  * redoes the (idempotent) moves and re-merges against the OLD
  * manifest; crash after → the batch is named and the replay is a
  * no-op. The cursor is the bounded fast path (16 most-recent apps);
  * the append-only `applied.log` (~20 bytes per batch, swapped with
  * the manifest) is the durable record, so cursor eviction can never
  * make a committed batch look unapplied. The manifest can never
  * double-count a batch.
  */
object ShardExport {

  private val Name = "shards"

  /** Corpus with its shard assignment — the SAME expression
    * `shard_manifest` aggregates, so the manifest describes exactly the
    * layout this writes. */
  private[graft] def withShard(df: DataFrame): DataFrame =
    df.withColumn("shard", expr(TrainingQueries.shardExpr))

  /** Per-shard manifest rows of a documents-shaped frame (the
    * shard_manifest aggregation, shared by the full write and the
    * append merge so both derive identical facts). */
  private[graft] def manifestOf(df: DataFrame): DataFrame =
    withShard(df)
      .select(col("doc_id"), col("n_chars"), col("shard"),
        size(expr("filter(split(text, ' '), t -> t != '')")).cast("long").as("n_toks"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))

  /** Finalize manifest rows: recompute the balance-skew column from the
    * (possibly merged) totals. */
  private def withSkew(m: DataFrame): DataFrame =
    m.crossJoin(broadcast(m.agg(sum("n_tokens").as("t_tot"))))
      .withColumn("skew_pm",
        expr(s"n_tokens * 1000 * ${TrainingQueries.N_SHARDS} DIV greatest(t_tot, 1)"))
      .select("shard", "n_docs", "n_tokens", "n_chars",
        "min_doc_id", "max_doc_id", "skew_pm")

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Export `sfDir`'s documents as a fresh shard layout, atomically
    * swapped (a previous export stays live until the final rename). */
  def write(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    ArtifactSwap.recover(spark, outDir, Name)
    ArtifactSwap.rewrite(spark, outDir, Name) { tmp =>
      val df = spark.read.parquet(s"$sfDir/documents.parquet")
      withShard(df)
        .sortWithinPartitions("shard")
        .write.partitionBy("shard").mode("overwrite").parquet(s"$tmp/docs")
      withSkew(manifestOf(df))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta/manifest")
      writeCursor(spark, s"$tmp/meta", "")
    }
  }

  /** Append a documents-shaped batch to an existing export, exactly
    * once per (appId, batchId) — see the object doc for the protocol.
    * Returns true if the batch was applied, false on a replay no-op. */
  def append(spark: SparkSession, batch: DataFrame, outDir: String,
      appId: String, batchId: Long): Boolean = {
    // a crashed FULL export's swap must be recovered before any append
    // touches the tree — otherwise batch files land inside a half-swapped
    // layout and the next write()'s recovery mistakes the debris for a
    // live export
    ArtifactSwap.recover(spark, outDir, Name)
    val root = s"$outDir/$Name"
    val f = fs(spark, root)
    if (!f.exists(new Path(s"$root/docs")))
      throw new java.io.IOException(s"no export at $root to append to — run write() first")
    ArtifactSwap.recover(spark, root, "meta")
    // appIds become file-name components and applied-log tokens:
    // sanitize once and use the SAME token for names, log, and cursor
    // (a streaming checkpoint PATH as appId would otherwise smuggle
    // '/' into the flat-name contract the replay hygiene scans)
    val app = sanitize(appId)
    val cur = readCursor(spark, s"$root/meta")
    // two replay records: the bounded cursor map (fast path, evictable
    // at 16 apps) and the append-only applied log, swapped with the
    // manifest — the log is the durable exactly-once record, so cursor
    // eviction can NEVER make a committed batch look unapplied (the
    // ambiguity a rebuild-from-data heuristic cannot resolve once a
    // second writer has uncommitted files on disk)
    if (TxnCursors.applied(cur, app).exists(_ >= batchId)) return false
    val log = readApplied(spark, s"$root/meta")
    if (log.contains(app -> batchId)) return false
    val prefix = s"b_${app}_${batchId}_"

    // 1. batch files → shard dirs under deterministic replay-safe names
    val tmp = new Path(s"$root/append.tmp")
    f.delete(tmp, true)
    withShard(batch).sortWithinPartitions("shard")
      .write.partitionBy("shard").mode("overwrite").parquet(tmp.toString)
    for (st <- f.listStatus(tmp) if st.isDirectory && st.getPath.getName.startsWith("shard=")) {
      val dst = new Path(s"$root/docs/${st.getPath.getName}")
      f.mkdirs(dst)
      // replay hygiene: this batch's own names from a crashed attempt
      for (old <- f.listStatus(dst) if old.getPath.getName.startsWith(prefix))
        f.delete(old.getPath, false)
      val parts = f.listStatus(st.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      parts.zipWithIndex.foreach { case (p, i) =>
        val to = new Path(dst, s"$prefix$i.parquet")
        if (!f.rename(p.getPath, to)) // some FS impls return false, not throw
          throw new java.io.IOException(s"rename ${p.getPath} -> $to failed")
      }
    }
    f.delete(tmp, true)

    // 2. merged manifest + advanced cursor + extended applied log, one
    //    atomic meta swap — the three commit records can never diverge
    val mergedDf = withSkew(
      spark.read.parquet(s"$root/meta/manifest")
        .select("shard", "n_docs", "n_tokens", "n_chars", "min_doc_id", "max_doc_id")
        .unionByName(manifestOf(batch))
        .groupBy("shard")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
          sum("n_chars").as("n_chars"),
          min("min_doc_id").as("min_doc_id"), max("max_doc_id").as("max_doc_id")))
    val schema = mergedDf.schema
    val merged = mergedDf.collect() // bounded: N_SHARDS rows — materialized
                                    // BEFORE the swap drops the manifest read
    ArtifactSwap.rewrite(spark, root, "meta") { metaTmp =>
      spark.createDataFrame(spark.sparkContext.parallelize(merged.toSeq, 1), schema)
        .write.mode("overwrite").parquet(s"$metaTmp/manifest")
      writeCursor(spark, metaTmp, TxnCursors.advance(cur, app, batchId))
      writeText(spark, s"$metaTmp/applied.log",
        (log + (app -> batchId)).toSeq.sorted.map { case (a, b) => s"$a\t$b" }.mkString("\n"))
    }
    true
  }

  /** App tokens live in file names and tab-separated logs. */
  /** Streaming export — the last stage of the online pipeline (admit →
    * clean → EXPORT): each non-empty micro-batch of documents-shaped
    * rows is one [[append]] under the (checkpoint, batchId) txn, so a
    * replayed micro-batch is a no-op and a crash inside an append
    * replays cleanly. Loaders never see a torn state: batch files appear
    * only under complete deterministic names, and the manifest always
    * describes a prefix of the applied batches. The target must be an
    * existing [[write]] layout. */
  def appendStream(source: DataFrame, outDir: String, checkpoint: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) append(batch.sparkSession, batch, outDir, checkpoint, batchId)
        () // the replay flag is not foreachBatch's business
      }
      .start()

  private def sanitize(appId: String): String =
    appId.replaceAll("[^A-Za-z0-9.-]", "-")

  /** The durable applied-batch set — one "app\tbid" line per committed
    * append, ~20 bytes each, swapped with the manifest. */
  private def readApplied(spark: SparkSession, metaDir: String): Set[(String, Long)] = {
    val f = fs(spark, metaDir)
    val p = new Path(s"$metaDir/applied.log")
    if (!f.exists(p)) return Set.empty
    val in = f.open(p)
    val s = try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    s.split('\n').filter(_.nonEmpty).flatMap { l =>
      val i = l.lastIndexOf('\t')
      if (i < 0) None else l.drop(i + 1).toLongOption.map(l.take(i) -> _)
    }.toSet
  }

  private def writeText(spark: SparkSession, path: String, s: String): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(path), true)
    out.write(s.getBytes("UTF-8")); out.close()
  }

  private def writeCursor(spark: SparkSession, metaDir: String, s: String): Unit = {
    val f = fs(spark, metaDir)
    val out = f.create(new Path(s"$metaDir/cursor"), true)
    out.write(s.getBytes("UTF-8")); out.close()
  }

  private def readCursor(spark: SparkSession, metaDir: String): String = {
    val f = fs(spark, metaDir)
    val p = new Path(s"$metaDir/cursor")
    if (!f.exists(p)) return ""
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  def readDocs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/$Name/docs")

  def readManifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/$Name/meta/manifest")
}
