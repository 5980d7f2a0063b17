package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** Keyword + hybrid retrieval over the documents table — the lexical
  * complement to the vector family (sim_topk / chunk_topk). A corpus
  * pipeline serves both: embedding recall alone misses exact-term
  * matches (identifiers, rare names), lexical recall alone misses
  * paraphrases; production RAG stacks fuse the two ranked lists.
  *
  *  - `bm25_topk`: Okapi BM25 (k1 = 1.2, b = 0.75) top-K documents per
  *    query document ("more-like-this": the query is the doc's distinct
  *    token set). The plan is inverted-index-shaped — per-term posting
  *    lists (tf) joined to the broadcast query terms — so the work is
  *    ∝ postings of QUERY terms, never ∝ corpus × queries.
  *  - `hybrid_rrf`: reciprocal-rank fusion (Cormack et al. 2009 shape,
  *    k = 60) of the BM25 leg and a cosine leg over the doc_embed
  *    hash-embedding vectors. Each leg contributes floor(1e6/(60+rank)
  *    + 0.5) micro-points over its top-`POOL` list; missing-in-leg
  *    contributes 0.
  *
  * Determinism contract: per-term BM25 contributions are converted to
  * BIGINT micro-units BEFORE the per-(query, doc) sum — integer sums
  * are order-free, so Spark's partial aggregation and DuckDB's serial
  * sum agree bit-for-bit. All double arithmetic (idf, length
  * normalization, cosine) is written in one fixed operation order and
  * mirrored verbatim in the oracle.
  *
  * Scale: tf/df are one exploded groupBy each (the df leg reuses the
  * tf exchange); query terms, per-term df, and the corpus-stats row
  * are broadcast (bounded by the query set, not the corpus); the
  * scoring join shuffles only matched postings; top-K is a
  * query_id-partitioned window over ≤ matched-docs rows.
  */
object RetrievalQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  /** Driver-side memo for bm25's folded literals (n_docs, Σdl, served
    * query-token list) keyed by (session-identity, dataset, index dir).
    * Values are a few hundred bytes; the key embeds the session's
    * identityHashCode so entries never pin a SparkSession object. */
  private val literalMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Seq[String])]()

  /** Query set: the first QUERY_DOCS documents (present at every SF). */
  private val QUERY_DOCS = 3L
  private val TOPK = 10
  /** Per-leg candidate pool fed into the RRF fusion. */
  private val RRF_POOL = 20
  private val RRF_K = 60

  /** BM25 ranked lists: (query_id, doc_id, bm25_micro, rank ≤ pool).
    * k1 = 1.2 and b = 0.75 appear as the literals 2.2 (k1 + 1), 1.2,
    * 0.25 (1 − b) and 0.75 so both engines run the identical op chain. */
  private def bm25Ranks(s: SparkSession, d: String, pool: Int): DataFrame = {
    val corpus = docs(s, d)
    // inverted-index serving (certified + fingerprint-matched TextIndex
    // with the postings component): tf/dl come from stored posting rows,
    // df from the dfreq LSM, n_docs from the index meta, Σdl from the
    // vocab token total — the corpus explode+groupBy (the part that
    // grows with the corpus) happened once at ingest. Every served
    // value is the integer a recompute would derive, so served and
    // recomputed rankings are identical (TextIndexSpec pins it).
    val served = TextIndex.resolveFor(s, corpus)
      .filter(TextIndex.hasPostings(s, _))
    val tf = served match {
      case Some(dir) => TextIndex.readPostings(s, dir)
      case None =>
        val ex = corpus
          .select(col("doc_id"), expr(TextQueries.toksExpr).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            explode(col("toks")).as("tok"))
        // persisted (session-scoped memo, deduped by canonicalized plan —
        // the QueryDef persist contract): both the df branch and the
        // scoring join read tf, and without the memo the corpus
        // explode+groupBy runs twice
        ex.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
          .persist()
    }
    // query terms = the query docs' distinct tokens — exactly their
    // posting rows when served
    val q = served match {
      case Some(dir) => TextIndex.readPostings(s, dir)
        .filter(col("doc_id") < QUERY_DOCS)
        .select(col("doc_id").as("query_id"), col("tok"))
      case None => corpus.filter(col("doc_id") < QUERY_DOCS)
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(expr(TextQueries.toksExpr))).as("tok"))
    }
    // Corpus stats (n_docs, Σdl) MATERIALIZE as two driver longs — one
    // bounded 1-row aggregate (or a meta read when served) — plus, when
    // served, the bounded query-token list. Folding them into literals
    // lets Catalyst constant-fold half the saturation rational's decimal
    // arithmetic AND removes the 1-row crossJoin
    // (BroadcastNestedLoopJoin) from the scoring plan. MEMOIZED per
    // (session, dataset, index): the literal fold makes this build
    // EAGER (up to three driver jobs), so schema/plan-only callers — a
    // registry walk, PlanAudit, EXPLAIN — would otherwise re-run the
    // stat jobs on every construction. Same session-scoped staleness
    // contract as the persisted-DataFrame memos.
    val (nDocs, sumDl, qtoksServed) = literalMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}|$d|${served.getOrElse("-")}",
      _ => served match {
        case Some(dir) =>
          val n = TextIndex.readMeta(s, dir).corpusRows
          // Σ over the vocab's per-token totals = Σ over docs of dl
          val sd = TextIndex.readVocab(s, dir).agg(sum("cnt"))
            .collect()(0).getLong(0) // bounded: 1 row
          val qtoks = q.select("tok").distinct()
            .collect() // bounded: distinct tokens of QUERY_DOCS docs
            .map(_.getString(0)).toSeq
          (n, sd, qtoks)
        case None =>
          val r = corpus.select(expr(TextQueries.toksExpr).as("toks"))
            .agg(count(lit(1)), sum(size(col("toks")).cast("long")))
            .collect()(0) // bounded: 1 row
          (r.getLong(0), r.getLong(1), Nil)
      })
    // document frequency of QUERY terms only (semi-filter first — never
    // a full-vocabulary aggregate). Served: the query tokens are a
    // BOUNDED set (distinct tokens of QUERY_DOCS documents — the same
    // rows the broadcast below ships to every executor), so they go in
    // as literals and the tok-clustered dfreq LSM prunes files by
    // parquet min/max BELOW the consolidating groupBy.
    val dfx = served match {
      case Some(dir) => TextIndex.readDfreqFor(s, dir, qtoksServed)
      case None => tf.join(broadcast(q.select("tok").distinct()), Seq("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
    }
    // Cross-engine-stable scoring (the lm_score rounding discipline):
    // the ONE float op is the idf ln, rounded to BIGINT micro once per
    // DISTINCT TOKEN (V rows, not postings rows) — JVM Math.log and
    // DuckDB's libm ln may differ by 1 ulp, but a flip now needs
    // idf·1e6 within 1 ulp of a .5 boundary instead of compounding
    // through per-posting double products. The k1/b saturation term is
    // an EXACT RATIONAL of the integers (tf, dl, sum_dl, n_docs):
    //   sat = 2.2·tf / (tf + 1.2·(0.25 + 0.75·dl·n_docs/sum_dl))
    //       = 22·tf·sum_dl / (10·tf·sum_dl + 3·sum_dl + 9·dl·n_docs)
    // so the per-posting contribution is ONE integer division
    // (idf_micro · num) div den — deterministic in both engines, and
    // order-free under the per-(query, doc) BIGINT sum. DECIMAL(38,0)
    // holds the products exactly to sum_dl ~ 1e13 (10 T corpus tokens).
    val idfTok = dfx
      .withColumn("idf_micro", expr(
        s"CAST(floor(ln(1.0 + (CAST($nDocs AS DOUBLE) - df + 0.5) / (df + 0.5)) " +
          "* 1000000.0 + 0.5) AS BIGINT)"))
      .select("tok", "idf_micro")
    // constants folded on the driver: 22·Σdl / 10·Σdl / 3·Σdl / 9·N are
    // exact longs to Σdl ~ 4e17 (a 400 T-token corpus) — far past the
    // DECIMAL(38) posting arithmetic's own envelope
    val cMicro = expr(
      s"(CAST(idf_micro AS DECIMAL(38,0)) * tf * ${22L * sumDl}) div " +
        s"(CAST(tf AS DECIMAL(38,0)) * ${10L * sumDl} + CAST(${3L * sumDl} AS DECIMAL(38,0)) " +
        s"+ CAST(dl AS DECIMAL(38,0)) * ${9L * nDocs})")
    // top-`pool` via the graft_topk bounded heap, not a row_number
    // window: the window shuffles every scored (query, doc) row into
    // |queries| = 3 partitions (3 tasks on a 32-core stage) and sorts;
    // the heap partial-aggregates map-side and ships `pool` entries per
    // task-group. bm25_micro stays far under 2^53 (idf ≤ ~17e6 × sat
    // ≤ 2.2 × |query terms|), so the DOUBLE heap score is exact and the
    // cast back to the sum's own type loses nothing; heap tie order
    // (score DESC, id ASC) = the window's ORDER BY.
    graft.functions.VectorFunctions.register(s)
    val scored = tf.join(broadcast(q), Seq("tok"))
      .join(broadcast(idfTok), Seq("tok"))
      .withColumn("c_micro", cMicro)
      .groupBy("query_id", "doc_id").agg(sum("c_micro").as("bm25_micro"))
    val scoreType = scored.schema("bm25_micro").dataType
    scored
      .groupBy("query_id")
      .agg(expr(s"graft_topk(CAST(bm25_micro AS DOUBLE), doc_id, $pool)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").cast(scoreType).as("bm25_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** BM25 oracle CTE chain ending in `rk_b(query_id, doc_id,
    * bm25_micro, rank)`. Mirrors [[bm25Ranks]] op-for-op. */
  private def bm25Ctes: String = {
    import TextQueries.toksSql
    s"""t AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents
       |), ex AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl, u.tok FROM t, unnest(toks) AS u(tok)
       |), tf AS (
       |  SELECT doc_id, tok, count(*)::BIGINT AS tf, max(dl) AS dl FROM ex GROUP BY doc_id, tok
       |), st AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(len(toks))::BIGINT AS sum_dl FROM t
       |), q AS (
       |  SELECT qd.doc_id AS query_id, u.tok
       |  FROM (SELECT doc_id, list_distinct(toks) AS dts FROM t WHERE doc_id < $QUERY_DOCS) qd,
       |       unnest(qd.dts) AS u(tok)
       |), dfx AS (
       |  SELECT tok, count(*)::BIGINT AS df FROM tf
       |  WHERE tok IN (SELECT tok FROM q) GROUP BY tok
       |), idfx AS (
       |  SELECT tok, CAST(floor(ln(1.0 + (st.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
       |         * 1000000.0 + 0.5) AS BIGINT) AS idf_micro
       |  FROM dfx CROSS JOIN st
       |), sc AS (
       |  SELECT q.query_id, tf.doc_id,
       |         sum((idfx.idf_micro::HUGEINT * 22 * tf.tf * st.sum_dl) //
       |             (10::HUGEINT * tf.tf * st.sum_dl + 3::HUGEINT * st.sum_dl
       |              + 9::HUGEINT * tf.dl * st.n_docs))::BIGINT AS bm25_micro
       |  FROM tf JOIN q USING (tok) JOIN idfx USING (tok) CROSS JOIN st
       |  GROUP BY q.query_id, tf.doc_id
       |), rk_b AS (
       |  SELECT query_id, doc_id, bm25_micro,
       |         row_number() OVER (PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id) AS rank
       |  FROM sc
       |)""".stripMargin
  }

  val bm25Topk: QueryDef = QueryDef(
    build = (s, d) =>
      bm25Ranks(s, d, TOPK)
        .select(col("query_id"), col("rank"), col("doc_id"), col("bm25_micro"))
        .orderBy("query_id", "rank"),
    oracle = Some(
      s"""WITH $bm25Ctes
         |SELECT query_id, rank::BIGINT AS rank, doc_id, bm25_micro
         |FROM rk_b WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin),
    doc = "retrieval: Okapi BM25 top-K per query document (inverted-index-shaped posting join). " +
      "NOTE: constructing this DataFrame is EAGER — the corpus-stat literals run up to three bounded driver jobs, memoized per (session, dataset, index)")

  /** Cosine ranked lists over the doc_embed hash-embedding vectors:
    * (query_id, doc_id, rank ≤ pool). Same prep/score shapes as
    * chunk_topk so the fusion legs and the standalone vector queries
    * rank from bit-identical cosines. */
  private def vecRanks(s: SparkSession, d: String, pool: Int): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // dedup_docvec's persisted frame: one session memo, and the
    // query/corpus legs share one embedding pass
    val c = DedupQueries.docvecFrame(s, d).filter(col("n2") > 0)
    val q = c.filter(col("doc_id") < QUERY_DOCS)
      .select(col("doc_id").as("query_id"), col("vd").as("qv"), col("n2").as("qn2"))
    // graft_topk heap instead of the row_number window (the bm25Ranks
    // rationale: the window sorted the whole scored corpus in 3 tasks)
    c.crossJoin(broadcast(q))
      .withColumn("cos_sim", round(
        call_function("graft_dot", col("vd"), col("qv")) /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))), 6))
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cos_sim, doc_id, $pool)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** RRF micro-points for a (nullable) rank column. */
  private def rrfPoints(rank: org.apache.spark.sql.Column) =
    coalesce(floor(lit(1000000.0) / (lit(RRF_K) + rank) + lit(0.5)), lit(0L))

  val hybridRrf: QueryDef = QueryDef(
    build = (s, d) => {
      val bm = bm25Ranks(s, d, RRF_POOL)
        .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
      val vr = vecRanks(s, d, RRF_POOL)
        .select(col("query_id"), col("doc_id"), col("rank").as("vec_rank"))
      val w = Window.partitionBy("query_id").orderBy(col("rrf_micro").desc, col("doc_id"))
      bm.join(vr, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_micro", rrfPoints(col("bm25_rank")) + rrfPoints(col("vec_rank")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TOPK)
        .select("query_id", "rank", "doc_id", "rrf_micro", "bm25_rank", "vec_rank")
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""${TextQueries.hashEmbedSql}, $bm25Ctes, cc AS (
         |  SELECT doc_id, vec, list_dot_product(vec, vec)::BIGINT AS n2 FROM vecs
         |  WHERE list_dot_product(vec, vec) > 0
         |), qq AS (
         |  SELECT doc_id AS query_id, vec, n2 FROM cc WHERE doc_id < $QUERY_DOCS
         |), vsc AS (
         |  SELECT qq.query_id, cc.doc_id,
         |         round(list_dot_product(cc.vec, qq.vec) /
         |               (sqrt(cc.n2::DOUBLE) * sqrt(qq.n2::DOUBLE)), 6) AS cos_sim
         |  FROM cc CROSS JOIN qq
         |), rk_v AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS rank
         |  FROM vsc
         |), pool_b AS (
         |  SELECT query_id, doc_id, rank AS bm25_rank FROM rk_b WHERE rank <= $RRF_POOL
         |), pool_v AS (
         |  SELECT query_id, doc_id, rank AS vec_rank FROM rk_v WHERE rank <= $RRF_POOL
         |), fused AS (
         |  SELECT query_id, doc_id, b.bm25_rank, v.vec_rank,
         |         coalesce(CAST(floor(1000000.0 / ($RRF_K + b.bm25_rank) + 0.5) AS BIGINT), 0) +
         |         coalesce(CAST(floor(1000000.0 / ($RRF_K + v.vec_rank) + 0.5) AS BIGINT), 0) AS rrf_micro
         |  FROM pool_b b FULL OUTER JOIN pool_v v USING (query_id, doc_id)
         |), frk AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS rank
         |  FROM fused
         |)
         |SELECT query_id, rank::BIGINT AS rank, doc_id, rrf_micro,
         |       bm25_rank::BIGINT AS bm25_rank, vec_rank::BIGINT AS vec_rank
         |FROM frk WHERE rank <= $TOPK ORDER BY query_id, rank""".stripMargin),
    doc = "retrieval: reciprocal-rank fusion of the BM25 and cosine legs (hybrid lexical+vector ranking)")

  val defs: Map[String, QueryDef] = Map(
    "bm25_topk"  -> bm25Topk,
    "hybrid_rrf" -> hybridRrf,
  )
}
