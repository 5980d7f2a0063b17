package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** The end-to-end corpus-cleaning pipeline — the X1–X4 operators
  * COMPOSED into the one call a user of this library actually runs
  * over a crawl snapshot: language filter → quality gate → exact
  * dedup (keep-first) → near-dup cluster resolution (keep the
  * component representative). Output is a per-document disposition:
  * every document is attributed to the FIRST stage that dropped it,
  * or `kept`.
  *
  * Stage order is cost order, which is what makes the composition
  * scale: the per-document map-side filters (lang, quality) run
  * first, so the stages with a shuffle (exact hash groupBy) and a
  * candidate join (simhash banding + connected components) see only
  * survivors. Each stage reuses the standalone operator's derivation
  * verbatim ([[TextQueries.withQualityMetrics]],
  * [[DedupQueries.simhashPairsFor]],
  * [[graft.operators.ConnectedComponents]]) — the pipeline is
  * composition, not re-implementation, and its oracle composes the
  * same stage CTEs the standalone oracles gate.
  *
  * The input is the corpus plus an id-shifted planted tranche (docs
  * 0–49 re-appended at +2,000,000 — the dedup_exact precedent): the
  * synthetic corpus has no exact duplicates, and a gate over a
  * never-taken branch proves nothing, so the plant makes every drop
  * path carry rows at every scale factor.
  */
object PipelineQueries {

  private val PLANT = 50L
  private val OFFSET = 2000000L
  /** The one kept language — of this pipeline and of its streaming
    * form, [[graft.streaming.StreamingClean]], whose stage precedence
    * matches this one. */
  private[graft] val KEEP_LANG = "en"

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  val corpusClean: QueryDef = QueryDef(
    build = (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"), col("lang"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") < PLANT)
          .select((col("doc_id") + OFFSET).as("doc_id"), col("text"), col("lang")))
      // persisted: the quality-metrics scan (regex-heavy, corpus-sized)
      // feeds BOTH the survivor filter chain below and the final
      // verdict projection — without the memo it re-runs per consumer
      // (3+ evaluations through ex/s3/comp at round-12 measurement)
      val q = TextQueries.withQualityMetrics(corpus)
        .select(col("doc_id"), col("text"), col("lang"), col("reasons"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val s2 = q.filter(col("lang") === KEEP_LANG && col("reasons") === "")
      // exact stage: content-hash groupBy, min doc_id keeps (one
      // bounded shuffle on the hash; the join back is hash-equi)
      val keepByHash = s2.groupBy(sha2(col("text"), 256).as("chash"))
        .agg(min("doc_id").as("keep_id"))
      // persisted: consumed by the near-dup survivor frame s3 AND the
      // final verdict join (two shuffling consumers of the hash join)
      val ex = s2.withColumn("chash", sha2(col("text"), 256))
        .join(keepByHash, "chash")
        .select(col("doc_id"), col("text"), col("keep_id"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val s3 = ex.filter(col("doc_id") === col("keep_id")).select("doc_id", "text")
      // near-dup stage: simhash banding over survivors only, then
      // connected components; the component's min doc_id is the kept
      // representative. useIndex=false: a derived subset can never
      // fingerprint-match a TextIndex, and the resolve probe would
      // re-evaluate the whole upstream pipeline just to reject it
      // size-gated pair source (DedupQueries.nearPairsRouted): SimHash
      // tier at oracle scale, verified MinHash pairs past the gate —
      // the survivor frame is derived, so the gate reads the BASE
      // table's metadata count (+ plants) as the conservative bound
      // instead of evaluating the pipeline to count survivors
      val comp = graft.operators.ConnectedComponents.resolve(
        DedupQueries.nearPairsRouted(s, s3,
          DedupQueries.corpusRows(docs(s, d)) + PLANT, useIndex = false))
      // verdict = first failing stage; WHEN order guarantees each
      // stage's column is only consulted for docs that reached it
      q.select(col("doc_id"), col("lang"), col("reasons"))
        .join(ex.select(col("doc_id"), col("keep_id")), Seq("doc_id"), "left")
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("lang") =!= KEEP_LANG, "lang")
            .when(col("reasons") =!= "", "quality")
            .when(col("keep_id") =!= col("doc_id"), "exact_dup")
            .when(coalesce(col("cluster_id"), col("doc_id")) =!= col("doc_id"), "near_dup")
            .otherwise("kept").as("verdict"))
        .withColumn("kept", col("verdict") === "kept")
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + $OFFSET, text, lang FROM documents WHERE doc_id < $PLANT
         |), ${TextQueries.qualitySqlCtes("corpus")}, s2 AS (
         |  SELECT c.doc_id, c.text FROM corpus c JOIN qr ON c.doc_id = qr.doc_id
         |  WHERE c.lang = '$KEEP_LANG' AND qr.reasons = ''
         |), ex AS (
         |  SELECT doc_id, text,
         |         min(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
         |  FROM s2
         |), s3 AS (
         |  SELECT doc_id, text FROM ex WHERE doc_id = keep_id
         |), ${DedupQueries.simhashPairsCtes("s3")}, edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs
         |), reach AS (
         |  SELECT doc_id, doc_id AS label FROM s3
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id
         |), comp AS (
         |  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
         |), v AS (
         |  SELECT c.doc_id,
         |         CASE WHEN c.lang <> '$KEEP_LANG' THEN 'lang'
         |              WHEN qr.reasons <> '' THEN 'quality'
         |              WHEN ex.keep_id <> c.doc_id THEN 'exact_dup'
         |              WHEN coalesce(comp.cluster_id, c.doc_id) <> c.doc_id THEN 'near_dup'
         |              ELSE 'kept' END AS verdict
         |  FROM corpus c
         |  JOIN qr ON qr.doc_id = c.doc_id
         |  LEFT JOIN ex ON ex.doc_id = c.doc_id
         |  LEFT JOIN comp ON comp.doc_id = c.doc_id
         |)
         |SELECT doc_id, verdict, verdict = 'kept' AS kept
         |FROM v ORDER BY doc_id""".stripMargin),
    doc = "X1–X4 composed corpus-cleaning pipeline: lang → quality → exact dedup → near-dup clusters, per-doc stage attribution")

  val defs: Map[String, QueryDef] = Map(
    "corpus_clean" -> corpusClean,
  )
}
