package graft

import org.apache.spark.sql.DataFrame

import graft.extensions.{CorpusIndex, CorpusMeta}
import graft.streaming.Admission

/** Closed-loop admission cases that hold for every modality, each taking
  * the modality as one more input: its [[Admission]] loop, its index,
  * the index's main table, the seed corpus it owns and a novel
  * one-item batch per number (ingest-stamped, never a near copy of the
  * seed or of another novel item). StreamingCleanSpec and
  * StreamingEmbedSpec run them on text and on vectors.
  */
trait AdmissionCases { self: SparkSpec =>

  case class Modality[M <: CorpusMeta](name: String, loop: Admission[M, _], index: CorpusIndex[M],
                                       mainTable: String, seed: () => DataFrame,
                                       novel: Int => DataFrame)

  /** A second app (the nightly re-admission pass) commits between a
    * stream's batch and its replay: the cursor is a per-app map, and a
    * defeated replay would re-judge the batch against its own admission
    * (near_dup → empty kept) and overwrite its corpus dir. */
  def nightlyKeepsReplay(mod: Modality[_], owned: String, idx: String, vdir: String,
                         streamApp: String, batch0: DataFrame, admitted: Long,
                         nightly: DataFrame, ownedAfter: Long): Unit = {
    val loop = mod.loop
    loop.admitBatch(spark, nightly, owned, idx, vdir, "nightly-pass", 0L)
    assert(loop.ownedCorpus(spark, owned).count() === ownedAfter, "the nightly's item admitted")
    loop.admitBatch(spark, batch0, owned, idx, vdir, streamApp, 0L)
    val ids = loop.ownedCorpus(spark, owned).collect().map(_.getLong(0)).toSet
    assert(ids.contains(admitted),
      "stream batch 0's replay after the nightly's commit is STILL a no-op — " +
        "its admission survives")
    assert(loop.ownedCorpus(spark, owned).count() === ownedAfter)
  }

  /** The loop folds the index's main-table LSM once it passes the file
    * floor, with content, certification and exactly-once intact. */
  def selfCompaction[M <: CorpusMeta](mod: Modality[M]): Unit = {
    val owned = tmpDir(s"graft-admit-cpt-${mod.name}-owned")
    mod.seed().write.mode("overwrite").parquet(owned)
    val seedRows = mod.seed().count()
    val idx = tmpDir(s"graft-admit-cpt-${mod.name}-idx")
    mod.index.build(spark, mod.loop.ownedCorpus(spark, owned), idx)
    val vdir = tmpDir(s"graft-admit-cpt-${mod.name}-verdicts")
    def mainFiles(): Int = new java.io.File(s"$idx/${mod.mainTable}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    def mainRows(): Long = spark.read.parquet(s"$idx/${mod.mainTable}").count()
    val before = mod.index.compactCount.get()
    // six 1-file novel batches: the main table accumulates append
    // deltas until the floor (3 files) is crossed, then admitBatch
    // itself folds the LSM — no nightly cron involved
    for (b <- 0 until 6)
      mod.loop.admitBatch(spark, mod.novel(b).coalesce(1), owned, idx, vdir, "cpt-app", b.toLong,
        compactFloor = 3)
    assert(mod.index.compactCount.get() > before,
      "the loop self-triggered at least one compaction")
    assert(mainFiles() <= 4,
      s"the folded ${mod.mainTable} table is back near its size target: ${mainFiles()} files")
    // the compaction preserved content + certification: every admitted
    // item is still indexed exactly once and the fingerprint matches
    assert(mainRows() === seedRows + 6, "seed + 6 admitted, no loss, no dup")
    assert(mod.index.verify(spark, idx, mod.loop.ownedCorpus(spark, owned)),
      "fingerprint still matches the grown corpus after the fold")
    // replay of an already-compacted batch is still a no-op
    mod.loop.admitBatch(spark, mod.novel(0), owned, idx, vdir, "cpt-app", 0L)
    assert(mainRows() === seedRows + 6, "exactly-once survives the fold")
  }
}
