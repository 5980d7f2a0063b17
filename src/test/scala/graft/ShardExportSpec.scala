package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.extensions.ShardExport

/** The export last mile: the shipped layout must round-trip exactly,
  * the manifest must describe the bytes actually written (not a
  * parallel computation that could drift), and the swap discipline must
  * make a re-export atomic and crash debris recoverable.
  */
class ShardExportSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("exported shards round-trip the corpus exactly, shard = the manifest's expression") {
    val out = tmpDir("graft-shardexp")
    ShardExport.write(spark, sfDir, out)
    val back = ShardExport.readDocs(spark, out)
    // every row survives, no row invented
    assert(back.count() === docs.count())
    assert(back.select("doc_id").exceptAll(docs.select("doc_id")).isEmpty)
    assert(docs.select("doc_id").exceptAll(back.select("doc_id")).isEmpty)
    // the physical partition column equals the shard expression per row
    val mismatched = ShardExport.withShard(docs).select(col("doc_id"), col("shard").as("want"))
      .join(back.select(col("doc_id"), col("shard").cast("long").as("got")), "doc_id")
      .filter(col("want") =!= col("got"))
    assert(mismatched.isEmpty, "partition dir must equal the manifest's shard expression")
  }

  test("shipped manifest agrees with the shipped data, totals cover the corpus") {
    val out = tmpDir("graft-shardexp-m")
    ShardExport.write(spark, sfDir, out)
    val man = ShardExport.readManifest(spark, out)
    val fromData = ShardExport.readDocs(spark, out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
    val diff = man.select("shard", "n_docs", "n_chars", "min_doc_id", "max_doc_id")
      .exceptAll(fromData.select("shard", "n_docs", "n_chars", "min_doc_id", "max_doc_id"))
    assert(diff.isEmpty, "manifest rows must match per-shard facts of the shipped files")
    // totals: every document accounted for exactly once
    assert(man.agg(sum("n_docs")).collect()(0).getLong(0) === docs.count())
    // skew column satisfies its definition: permille of the balanced share
    val sk = man.select("n_tokens", "skew_pm").collect()
    val tot = sk.map(_.getLong(0)).sum
    sk.foreach { r =>
      assert(r.getLong(1) === r.getLong(0) * 1000 * 16 / tot)
    }
  }

  test("append is exactly-once: batch lands in existing shards, manifest merges, replay is a no-op") {
    val out = tmpDir("graft-shardexp-a")
    ShardExport.write(spark, sfDir, out)
    val base = ShardExport.readDocs(spark, out).count()
    // the batch: a re-keyed slice, so ids are disjoint from the base
    val batch = docs.filter(col("doc_id") % 10 === 3)
      .withColumn("doc_id", col("doc_id") + 7000000L)
    val bn = batch.count()
    assert(ShardExport.append(spark, batch, out, "appA", 1L), "first apply must land")
    val after = ShardExport.readDocs(spark, out)
    assert(after.count() === base + bn)
    // every appended row is in the shard its hash assigns
    val mis = ShardExport.withShard(batch).select(col("doc_id"), col("shard").as("want"))
      .join(after.select(col("doc_id"), col("shard").cast("long").as("got")), "doc_id")
      .filter(col("want") =!= col("got"))
    assert(mis.isEmpty, "appends must respect the stable hash assignment")
    // manifest after merge ≡ manifest recomputed from the shipped data
    val man = ShardExport.readManifest(spark, out)
      .select("shard", "n_docs", "n_tokens", "n_chars", "min_doc_id", "max_doc_id")
      .collect().map(_.toSeq).toSet
    val want = ShardExport.manifestOf(docs.unionByName(batch))
      .collect().map(_.toSeq).toSet
    assert(man === want, "merged manifest must equal a from-scratch recompute")
    // replay: same (app, batch) → nothing changes
    assert(!ShardExport.append(spark, batch, out, "appA", 1L), "replay must report no-op")
    assert(ShardExport.readDocs(spark, out).count() === base + bn)
    assert(ShardExport.readManifest(spark, out)
      .select("shard", "n_docs", "n_tokens", "n_chars", "min_doc_id", "max_doc_id")
      .collect().map(_.toSeq).toSet === man, "replay must not double-count the manifest")
    // a second app's batch does not disturb the first's cursor
    assert(ShardExport.append(spark, batch.withColumn("doc_id", col("doc_id") + 1000L),
      out, "appB", 1L))
    assert(!ShardExport.append(spark, batch, out, "appA", 1L), "appA cursor survives appB")
  }

  test("append crash before the meta swap: replay re-lands the files once and the manifest merges once") {
    val out = tmpDir("graft-shardexp-x")
    ShardExport.write(spark, sfDir, out)
    val batch = docs.filter(col("doc_id") % 10 === 4)
      .withColumn("doc_id", col("doc_id") + 8000000L)
    val bn = batch.count()
    val base = ShardExport.readDocs(spark, out).count()
    // simulate the crash window: files moved (a full append), then the
    // meta swap "lost" — restore the pre-append meta and re-run
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaBak = new Path(s"$out/meta.bak")
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$out/shards/meta"), fs, metaBak,
      false, spark.sparkContext.hadoopConfiguration)
    assert(ShardExport.append(spark, batch, out, "appX", 1L))
    fs.delete(new Path(s"$out/shards/meta"), true)
    fs.rename(metaBak, new Path(s"$out/shards/meta")) // cursor now pre-append again
    // replay after the "crash": idempotent moves (no row duplication),
    // manifest merged exactly once
    assert(ShardExport.append(spark, batch, out, "appX", 1L), "cursor is old — must re-apply")
    assert(ShardExport.readDocs(spark, out).count() === base + bn,
      "replayed file moves must overwrite, not duplicate")
    val man = ShardExport.readManifest(spark, out)
      .select("shard", "n_docs", "n_tokens", "n_chars", "min_doc_id", "max_doc_id")
      .collect().map(_.toSeq).toSet
    val want = ShardExport.manifestOf(docs.unionByName(batch)).collect().map(_.toSeq).toSet
    assert(man === want, "manifest counts the batch exactly once after the crash replay")
  }

  test("append replay after cursor eviction: the applied log still proves the batch committed") {
    val out = tmpDir("graft-shardexp-e")
    ShardExport.write(spark, sfDir, out)
    val batch = docs.filter(col("doc_id") % 10 === 5)
      .withColumn("doc_id", col("doc_id") + 9000000L)
    assert(ShardExport.append(spark, batch, out, "appE", 1L))
    val want = ShardExport.readManifest(spark, out)
      .select("shard", "n_docs", "n_tokens", "n_chars", "min_doc_id", "max_doc_id")
      .collect().map(_.toSeq).toSet
    // simulate TxnCursors' 16-app eviction: blank appE's cursor entry.
    // The durable applied log (swapped with the manifest) still names
    // the batch, so the replay is a NO-OP — never a second merge.
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(new Path(s"$out/shards/meta/cursor"), true)
    os.write("other\t7".getBytes("UTF-8")); os.close()
    assert(!ShardExport.append(spark, batch, out, "appE", 1L),
      "the applied log must prove the evicted app's batch committed")
    assert(ShardExport.readDocs(spark, out).count() === docs.count() + batch.count())
    val after = ShardExport.readManifest(spark, out)
      .select("shard", "n_docs", "n_tokens", "n_chars", "min_doc_id", "max_doc_id")
      .collect().map(_.toSeq).toSet
    assert(after === want, "no-op replay leaves the manifest untouched")
    // and a genuinely NEW batch from the evicted app still lands
    assert(ShardExport.append(spark, batch.withColumn("doc_id", col("doc_id") + 500L),
      out, "appE", 2L))
  }

  test("appId sanitization: a checkpoint PATH as appId never leaks '/' into batch file names") {
    val out = tmpDir("graft-shardexp-p")
    ShardExport.write(spark, sfDir, out)
    val batch = docs.filter(col("doc_id") % 20 === 9)
      .withColumn("doc_id", col("doc_id") + 9500000L)
    assert(ShardExport.append(spark, batch, out, "/tmp/some/ckpt dir", 3L))
    assert(!ShardExport.append(spark, batch, out, "/tmp/some/ckpt dir", 3L), "replay no-op")
    // every batch file is a DIRECT child of its shard dir, flat-named
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDirs = fs.listStatus(new Path(s"$out/shards/docs")).filter(_.isDirectory)
    val batchFiles = shardDirs.flatMap(sd => fs.listStatus(sd.getPath))
      .filter(_.getPath.getName.startsWith("b_"))
    assert(batchFiles.nonEmpty && batchFiles.forall(_.isFile),
      "sanitized app tokens keep batch files flat inside shard dirs")
    assert(ShardExport.readDocs(spark, out).count() === docs.count() + batch.count())
  }

  test("streaming export: micro-batches land exactly once, stream result ≡ batch appends") {
    val out = tmpDir("graft-shardexp-s")
    ShardExport.write(spark, sfDir, out)
    val base = ShardExport.readDocs(spark, out).count()
    val src = tmpDir("graft-shardexp-src")
    def write(off: Long): Unit =
      docs.filter(col("doc_id") % 10 === 6)
        .withColumn("doc_id", col("doc_id") + off)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(src)
    write(5000000L)
    val stream = spark.readStream.schema(
      docs.select("doc_id", "text", "lang", "source", "n_chars").schema).parquet(src)
    val q = ShardExport.appendStream(stream, out, tmpDir("graft-shardexp-ckpt"))
    try {
      q.processAllAvailable()
      write(6000000L) // a second micro-batch
      q.processAllAvailable()
      val bn = docs.filter(col("doc_id") % 10 === 6).count()
      assert(ShardExport.readDocs(spark, out).count() === base + 2 * bn)
      // manifest describes exactly the shipped files after both batches
      val man = ShardExport.readManifest(spark, out)
        .select("shard", "n_docs", "min_doc_id", "max_doc_id").collect().map(_.toSeq).toSet
      val want = ShardExport.manifestOf(docs
          .unionByName(docs.filter(col("doc_id") % 10 === 6).withColumn("doc_id", col("doc_id") + 5000000L))
          .unionByName(docs.filter(col("doc_id") % 10 === 6).withColumn("doc_id", col("doc_id") + 6000000L)))
        .select("shard", "n_docs", "min_doc_id", "max_doc_id").collect().map(_.toSeq).toSet
      assert(man === want)
    } finally q.stop()
  }

  test("re-export swaps atomically; crash debris recovers on the next write") {
    val out = tmpDir("graft-shardexp-c")
    ShardExport.write(spark, sfDir, out)
    val before = ShardExport.readDocs(spark, out).count()
    // simulate a crashed export: a half-written tmp left behind
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$out/shards.compacting/docs"))
    ShardExport.write(spark, sfDir, out) // recover() + fresh swap
    assert(ShardExport.readDocs(spark, out).count() === before)
    assert(!fs.exists(new Path(s"$out/shards.compacting")) &&
      !fs.exists(new Path(s"$out/shards.old")), "no swap debris survives")
  }
}
