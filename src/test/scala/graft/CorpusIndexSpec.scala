package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.types._

import graft.extensions.{AnnIndex, TextIndex}

/** The protocol both corpus indexes share: the `_meta` format, the
  * meta reader, and certify-or-fallback when `_meta` is gone. */
class CorpusIndexSpec extends SparkSpec {

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private lazy val annDir = { val d = tmpDir("graft-cidx-ann"); AnnIndex.build(spark, embeddings, d); d }
  private lazy val textDir = { val d = tmpDir("graft-cidx-text"); TextIndex.build(spark, docs, d); d }

  private def metaSchema(dir: String): Seq[(String, DataType)] =
    spark.read.parquet(s"$dir/_meta").schema.map(f => f.name -> f.dataType)

  test("the _meta column lists and types are the on-disk format both ways") {
    val fp = Seq("corpus_rows", "id_min", "id_max", "id_sum", "content_xor").map(_ -> LongType)
    assert(metaSchema(annDir) === Seq("planes" -> IntegerType, "band_bits" -> IntegerType) ++ fp ++
      Seq("quantizer" -> StringType, "last_app_id" -> StringType, "last_batch_id" -> LongType,
        "k_cells" -> LongType, "txn_cursors" -> StringType, "pq_m" -> LongType,
        "pq_res_m" -> LongType))
    assert(metaSchema(textDir) === Seq("num_hashes" -> IntegerType) ++ fp ++
      Seq("last_app_id" -> StringType, "last_batch_id" -> LongType, "txn_cursors" -> StringType))
  }

  test("resolveFor reads _meta without Spark's ignored-path warning") {
    val name = "org.apache.spark.sql.execution.datasources.DataSource"
    val logger = LogManager.getLogger(name).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val (annD, textD) = (annDir, textDir) // built before the capture starts
    val level = logger.getLevel
    capture.start()
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try {
      spark.conf.set(AnnIndex.ConfKey, annD)
      spark.conf.set(TextIndex.ConfKey, textD)
      assert(AnnIndex.resolveFor(spark, embeddings) === Some(annD))
      assert(TextIndex.resolveFor(spark, docs) === Some(textD))
    } finally {
      spark.conf.unset(AnnIndex.ConfKey)
      spark.conf.unset(TextIndex.ConfKey)
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    assert(!seen.toArray.exists(_.toString.contains("All paths were ignored")),
      seen.toArray.mkString("\n"))
  }

  test("a certified text index whose _meta is gone is not served; the query recomputes") {
    val dir = tmpDir("graft-cidx-nometa")
    TextIndex.build(spark, docs, dir)
    val recomputed = SparkEntry.queries("dedup_minhash")(spark, sfDir).collect().toSeq
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/_meta"))
    assert(TextIndex.usable(spark, dir), "_SYNCED is still there")
    spark.conf.set(TextIndex.ConfKey, dir)
    try {
      assert(TextIndex.resolveFor(spark, docs) === None)
      assert(SparkEntry.queries("dedup_minhash")(spark, sfDir).collect().toSeq === recomputed)
    } finally spark.conf.unset(TextIndex.ConfKey)
  }
}
