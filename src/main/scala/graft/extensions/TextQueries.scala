package graft.extensions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** Text-analysis operators over the `documents` table (SURVEY.md §2.3 X4):
  * tokenization/token statistics, n-gram language ID, quality scoring,
  * content fingerprinting, tf-idf. All are scan + grouped-agg shaped —
  * shuffle keys are doc_id or token, never a driver-side collect — so the
  * plans scale linearly with corpus size.
  *
  * Every Spark expression here has an exact SQL mirror in the oracle;
  * tokenization is a shared contract (split on single space, drop empty
  * tokens) — keep both sides in lockstep.
  */
object TextQueries {

  /** Spark-side token array (drops empty tokens). */
  private[extensions] val toksExpr = "filter(split(text, ' '), t -> t != '')"
  /** DuckDB mirror of [[toksExpr]]. */
  private[extensions] val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Per-language stopword lists for the n-gram language-ID heuristic.
    * Tiny by design: language ID at 100 TB must be a map-only scan, so the
    * lists live in the closure / SQL literal, not in a join.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "von", "ein", "zu", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "人", "这"),
  )
  private val langs = stopwords.keys.toSeq.sorted // de, en, es, fr, zh

  private def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ", ", ")")

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  // -------------------------------------------------------------------
  // Token statistics: whitespace token count, BPE-ish regex token count,
  // distinct tokens, mean token length. Pure map-side (no shuffle except
  // the output sort).
  // -------------------------------------------------------------------
  private val bpeRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  val textStats: QueryDef = QueryDef(
    build = (s, d) =>
      docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          size(expr(s"regexp_extract_all(text, '$bpeRe', 0)")).cast("long").as("n_bpe_tokens"),
          round(expr("aggregate(toks, 0L, (a, t) -> a + length(t))") / size(col("toks")), 6)
            .as("avg_token_len"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""SELECT doc_id,
         |       len(toks)::BIGINT AS n_tokens,
         |       len(list_distinct(toks))::BIGINT AS n_distinct,
         |       len(regexp_extract_all(text, '$bpeRe'))::BIGINT AS n_bpe_tokens,
         |       round(list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks), 6) AS avg_token_len
         |FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin),
    doc = "X4 token counting (whitespace + BPE-ish regex)")

  // -------------------------------------------------------------------
  // Language ID: stopword-hit counts per language, argmax with a fixed
  // lexicographic tie order. Map-only per document.
  // -------------------------------------------------------------------
  val textLang: QueryDef = QueryDef(
    build = (s, d) => {
      val withScores = langs.foldLeft(docs(s, d).withColumn("toks", expr(toksExpr))) {
        (df, l) =>
          df.withColumn(s"s_$l",
            size(expr(s"filter(toks, t -> t IN ${inList(stopwords(l))})")).cast("long"))
      }
      val best = greatest(langs.map(l => col(s"s_$l")): _*)
      // first-match CASE in fixed lexicographic lang order (tie contract)
      val predFirst = langs.foldRight(lit("und")) { (l, e) =>
        when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(e)
      }
      withScores
        .select((Seq(col("doc_id"), col("lang").as("labeled_lang"), predFirst.as("pred_lang")) ++
          langs.map(l => col(s"s_$l"))): _*)
        .orderBy("doc_id")
    },
    oracle = Some {
      val scoreCols = langs.map(l =>
        s"len(list_filter(toks, t -> t IN ${inList(stopwords(l))}))::BIGINT AS s_$l").mkString(",\n       ")
      val bestExpr = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
      val caseExpr = "CASE " + langs.map(l => s"WHEN s_$l = $bestExpr AND $bestExpr > 0 THEN '$l'").mkString(" ") + " ELSE 'und' END"
      s"""WITH t AS (
         |  SELECT doc_id, lang, $toksSql AS toks FROM documents
         |), sc AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |       $scoreCols
         |  FROM t
         |)
         |SELECT doc_id, labeled_lang, $caseExpr AS pred_lang, ${langs.map(l => s"s_$l").mkString(", ")}
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    doc = "X4 language-ID (stopword n-gram heuristic)")

  // -------------------------------------------------------------------
  // Quality scoring: length/diversity/stopword-density composite in
  // [0, 1]. Same closed-form formula on both sides.
  // -------------------------------------------------------------------
  val textQuality: QueryDef = QueryDef(
    build = (s, d) =>
      docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("distinct_ratio", size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
        .withColumn("stop_ratio",
          size(expr(s"filter(toks, t -> t IN ${inList(stopwords("en"))})")).cast("double") / col("n_tokens"))
        .withColumn("len_score", least(lit(1.0), col("n_tokens").cast("double") / 100.0))
        .withColumn("quality",
          round(lit(0.4) * col("len_score") + lit(0.4) * col("distinct_ratio") + lit(0.2) * col("stop_ratio"), 6))
        .select(col("doc_id"), col("n_tokens"), round(col("distinct_ratio"), 6).as("distinct_ratio"),
          round(col("stop_ratio"), 6).as("stop_ratio"), col("quality"),
          (col("quality") >= 0.5).as("keep"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), m AS (
         |  SELECT doc_id,
         |         len(toks)::BIGINT AS n_tokens,
         |         len(list_distinct(toks))::DOUBLE / len(toks) AS distinct_ratio,
         |         len(list_filter(toks, t -> t IN ${inList(stopwords("en"))}))::DOUBLE / len(toks) AS stop_ratio,
         |         least(1.0, len(toks)::DOUBLE / 100.0) AS len_score
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, round(distinct_ratio, 6) AS distinct_ratio,
         |       round(stop_ratio, 6) AS stop_ratio,
         |       round(0.4 * len_score + 0.4 * distinct_ratio + 0.2 * stop_ratio, 6) AS quality,
         |       round(0.4 * len_score + 0.4 * distinct_ratio + 0.2 * stop_ratio, 6) >= 0.5 AS keep
         |FROM m ORDER BY doc_id""".stripMargin),
    doc = "X4 quality scoring (length/diversity/stopword composite)")

  /** (doc_id, q_micro) — the text_quality composite as ONE BIGINT micro
    * (identical double op order to textQuality, then floor(x·1e6+0.5) —
    * the same IEEE ops in both engines). Shared with
    * [[DedupQueries.keepBest]], where the keep decision must order on
    * an integer, never on a rounded double. */
  private[extensions] def qualityMicroFrame(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // greatest(n, 1) denominators: a zero-token document must score
      // q_micro = 0, not 0.0/0 — Spark's NaN→NULL cast and DuckDB's
      // floor(NaN) hard error would otherwise diverge (the dedup_edit
      // ", 1" guard precedent; both engines get the identical guard)
      .withColumn("nd", greatest(col("n_tokens"), lit(1L)))
      .withColumn("distinct_ratio", size(array_distinct(col("toks"))).cast("double") / col("nd"))
      .withColumn("stop_ratio",
        size(expr(s"filter(toks, t -> t IN ${inList(stopwords("en"))})")).cast("double") / col("nd"))
      .withColumn("len_score", least(lit(1.0), col("n_tokens").cast("double") / 100.0))
      .select(col("doc_id"), expr(
        "CAST(floor((0.4D * len_score + 0.4D * distinct_ratio + 0.2D * stop_ratio) " +
          "* 1000000 + 0.5D) AS BIGINT)").as("q_micro"))

  /** The qualityMicroFrame derivation as an oracle CTE `qm(doc_id,
    * q_micro)` (append after a WITH head). */
  private[extensions] def qualityMicroSql: String =
    s"""qm AS (
       |  SELECT doc_id,
       |         CAST(floor((0.4 * least(1.0, len(toks)::DOUBLE / 100.0)
       |           + 0.4 * (len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1))
       |           + 0.2 * (len(list_filter(toks, t -> t IN ${inList(stopwords("en"))}))::DOUBLE / greatest(len(toks), 1)))
       |           * 1000000 + 0.5) AS BIGINT) AS q_micro
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |)""".stripMargin

  // -------------------------------------------------------------------
  // Content fingerprint: md5 over the sorted distinct token set —
  // canonicalizes word order, catches permutation duplicates. Grouped to
  // fingerprint → (count, keeper).
  // -------------------------------------------------------------------
  val fingerprint: QueryDef = QueryDef(
    build = (s, d) =>
      docs(s, d)
        .withColumn("fp", md5(concat_ws(" ", array_sort(array_distinct(expr(toksExpr))))))
        .groupBy("fp")
        .agg(count(lit(1)).as("dup_cnt"), min("doc_id").as("keep_doc_id"))
        .orderBy("fp"),
    oracle = Some(
      s"""SELECT md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp,
         |       count(*)::BIGINT AS dup_cnt, min(doc_id) AS keep_doc_id
         |FROM documents GROUP BY fp ORDER BY fp""".stripMargin),
    doc = "X4 document fingerprinting (canonical token-set hash)")

  // -------------------------------------------------------------------
  // tf-idf: top-3 tokens per document. Two grouped aggregations (tf by
  // (doc, token), df by token) + a shuffle join on token + a bounded
  // per-doc window. At 100 TB the df side is the small one (vocab-sized)
  // and both aggs are partial-agg friendly.
  // -------------------------------------------------------------------
  val tfidf: QueryDef = QueryDef(
    build = (s, d) => {
      val tok = docs(s, d).select(col("doc_id"), explode(expr(toksExpr)).as("token"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tok.distinct().groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },
    oracle = Some(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, token
         |), df AS (
         |  SELECT token, count(*)::BIGINT AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
         |), n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
         |  FROM tf JOIN df USING (token) CROSS JOIN n
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank FROM scored
         |)
         |SELECT doc_id, rank::BIGINT AS rank, token, tf, df, score FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    doc = "X4 tf-idf (two aggregations + join)")

  // -------------------------------------------------------------------
  // Corpus-wide top bigrams: n-gram frequency analysis (the aggregate
  // complement of the per-doc shingle machinery). Bounded output via a
  // rank cutoff; the frequency groupBy is the only full-width shuffle.
  // -------------------------------------------------------------------
  private val TOP_BIGRAMS = 50
  val topBigrams: QueryDef = QueryDef(
    build = (s, d) => {
      val freq = docs(s, d)
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .select(explode(expr(
          """CASE WHEN size(toks) >= 2
            | THEN transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))
            | ELSE array() END""".stripMargin.replaceAll("\n", " "))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
      // Top-k via orderBy+limit plans as TakeOrderedAndProject — a
      // distributed per-partition top-k merged on the driver — instead
      // of a global single-partition window over the whole bigram
      // vocabulary (which grows with corpus size). Rank then derives
      // from a window over the already-bounded TOP_BIGRAMS rows. The
      // partition key is a constant-per-row but NON-FOLDABLE expression
      // (hash(bigram) mod 1 ≡ 0): a literal would be stripped by
      // EliminateWindowPartitions, reintroducing the unpartitioned
      // window this query exists to avoid.
      val w = Window.partitionBy(pmod(hash(col("bigram")), lit(1)))
        .orderBy(col("cnt").desc, col("bigram"))
      freq.orderBy(col("cnt").desc, col("bigram")).limit(TOP_BIGRAMS)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select("rank", "bigram", "cnt")
        .orderBy("rank")
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT $toksSql AS toks FROM documents
         |), bg AS (
         |  SELECT unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' '))
         |    ELSE [] END) AS bigram
         |  FROM t
         |), freq AS (
         |  SELECT bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY bigram
         |), ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY cnt DESC, bigram) AS rank FROM freq
         |)
         |SELECT rank::BIGINT AS rank, bigram, cnt FROM ranked
         |WHERE rank <= $TOP_BIGRAMS ORDER BY rank""".stripMargin),
    doc = "X4 corpus-wide top bigrams (n-gram frequency)")

  // -------------------------------------------------------------------
  // Token counting for training-budget estimation: whitespace tokens vs
  // a BPE-ish pre-tokenizer regex (letter runs | digit runs | single
  // punctuation — the GPT-2-style split that approximates subword counts
  // within a few percent). Map-only; the regex literal is passed as a
  // Column so neither engine's SQL-string escaping touches it. The
  // chars-per-token ratio is emitted as an integer-scaled milli value —
  // floor(x·1000 + 0.5) is the same IEEE operation in both engines,
  // unlike round().
  //
  // The whitespace class is spelled out EXPLICITLY (no \s): Java regex
  // (Spark) and RE2 (DuckDB) disagree on \s (vertical tab), and an
  // implementation-defined class in a hash-gated query is a latent
  // cross-engine mismatch of the series_delta kind.
  // -------------------------------------------------------------------
  private val BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]"

  val tokenCounts: QueryDef = QueryDef(
    build = (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          size(expr(toksExpr)).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BPE_RE), lit(0))).cast("long").as("bpe_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .withColumn("chars_per_bpe_milli",
          when(col("bpe_tokens") === 0L, lit(0L))
            .otherwise(floor(col("n_chars") * 1000.0 / col("bpe_tokens") + 0.5).cast("long")))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id,
         |         len($toksSql)::BIGINT AS ws_tokens,
         |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f]'))::BIGINT AS bpe_tokens,
         |         length(text)::BIGINT AS n_chars
         |  FROM documents
         |)
         |SELECT doc_id, ws_tokens, bpe_tokens, n_chars,
         |       CASE WHEN bpe_tokens = 0 THEN 0
         |            ELSE CAST(floor(n_chars * 1000.0 / bpe_tokens + 0.5) AS BIGINT) END
         |         AS chars_per_bpe_milli
         |FROM t ORDER BY doc_id""".stripMargin),
    doc = "X4 token counting (whitespace + BPE-ish pre-tokenizer regex)")

  // -------------------------------------------------------------------
  // Repetition-based quality filters (the MassiveText/Gopher family):
  // duplicate-token fraction, most-frequent-token fraction, and
  // most-frequent-bigram fraction per document. High values mark the
  // boilerplate/spam documents a pretraining pipeline drops.
  //
  // 100 TB shape: one token explode + grouped counts on (doc_id, token)
  // — partial aggregation collapses each doc's counts map-side (tokens
  // of one doc co-locate after the shuffle on a bounded key). Fractions
  // emitted as integer micro-units (floor(x·1e6 + 0.5) is the identical
  // IEEE op chain in Spark and DuckDB; rounded DOUBLE quotients are not
  // cross-engine stable).
  // -------------------------------------------------------------------
  val repetition: QueryDef = QueryDef(
    build = (s, d) => {
      val t = docs(s, d).select(col("doc_id"), expr(toksExpr).as("toks"))
      val tokAgg = t.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("distinct_tokens"),
          max("c").as("top_tok"))
      val bgAgg = t.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))")).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram"))
      tokAgg.join(bgAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
          floor((col("n_tokens") - col("distinct_tokens")).cast("double") * lit(1000000.0)
            / col("n_tokens") + lit(0.5)).cast("long").as("dup_frac_micro"),
          floor(col("top_tok").cast("double") * lit(1000000.0)
            / col("n_tokens") + lit(0.5)).cast("long").as("top_tok_micro"),
          coalesce(floor(col("top_bigram").cast("double") * lit(1000000.0)
            / col("n_bigrams") + lit(0.5)).cast("long"), lit(0L)).as("top_bigram_micro"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), tok AS (
         |  SELECT doc_id, u.x FROM t, unnest(t.toks) AS u(x)
         |), tc AS (
         |  SELECT doc_id, x, count(*) AS c FROM tok GROUP BY doc_id, x
         |), ta AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS distinct_tokens,
         |         max(c)::BIGINT AS top_tok
         |  FROM tc GROUP BY doc_id
         |), bgl AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 1),
         |                                i -> toks[i] || ' ' || toks[i+1]) AS bgs
         |  FROM t WHERE len(toks) >= 2
         |), bgu AS (
         |  SELECT doc_id, u.x FROM bgl, unnest(bgl.bgs) AS u(x)
         |), bc AS (
         |  SELECT doc_id, x, count(*) AS c FROM bgu GROUP BY doc_id, x
         |), ba AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c)::BIGINT AS top_bigram
         |  FROM bc GROUP BY doc_id
         |)
         |SELECT ta.doc_id, ta.n_tokens, ta.distinct_tokens,
         |       CAST(floor((ta.n_tokens - ta.distinct_tokens)::DOUBLE * 1000000.0 / ta.n_tokens + 0.5) AS BIGINT) AS dup_frac_micro,
         |       CAST(floor(ta.top_tok::DOUBLE * 1000000.0 / ta.n_tokens + 0.5) AS BIGINT) AS top_tok_micro,
         |       coalesce(CAST(floor(ba.top_bigram::DOUBLE * 1000000.0 / ba.n_bigrams + 0.5) AS BIGINT), 0) AS top_bigram_micro
         |FROM ta LEFT JOIN ba ON ta.doc_id = ba.doc_id
         |ORDER BY ta.doc_id""".stripMargin),
    doc = "X4 repetition quality filters (dup-token / top-token / top-bigram fractions)")

  // -------------------------------------------------------------------
  // Composite quality gate: the C4/Gopher-style keep/drop decision with
  // machine-readable reject reasons. Every signal is INTEGER arithmetic
  // (per-mille via BIGINT div) — no float rounding to drift between
  // engines, and the gate is reproducible bit-for-bit on any cluster.
  // Map-only scan; the reasons string is the audit trail a 100 TB
  // filtering run ships alongside the kept corpus.
  // -------------------------------------------------------------------
  private val MIN_TOKENS = 30L
  private val MIN_DISTINCT_PM = 300L   // distinct/total per-mille
  private val TOKLEN_PM_LO = 2000L     // mean token length per-mille (chars ×1000)
  private val TOKLEN_PM_HI = 15000L

  /** Quality metrics + reject-reason string on ANY documents-shaped
    * frame — shared with [[PipelineQueries]] so the pipeline's quality
    * stage IS the quality_gate operator, not a re-implementation. */
  private[graft] def withQualityMetrics(df: DataFrame): DataFrame =
    df.withColumn("toks", expr(toksExpr))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("distinct_pm", expr("CAST(size(array_distinct(toks)) AS BIGINT) * 1000 div n_tokens"))
      .withColumn("toklen_pm", expr("CAST(length(concat_ws('', toks)) AS BIGINT) * 1000 div n_tokens"))
      .withColumn("reasons", concat(
        when(col("n_tokens") < MIN_TOKENS, lit("short;")).otherwise(lit("")),
        when(col("distinct_pm") < MIN_DISTINCT_PM, lit("repetitive;")).otherwise(lit("")),
        when(col("toklen_pm") < TOKLEN_PM_LO || col("toklen_pm") > TOKLEN_PM_HI,
          lit("tok_len;")).otherwise(lit(""))))

  /** SQL mirror of [[withQualityMetrics]] as a CTE chain (`qt`/`qm`/
    * `qr`; terminal `qr(doc_id, n_tokens, distinct_pm, toklen_pm,
    * reasons)`) over source relation `src` — embeddable in composed
    * oracles. */
  private[extensions] def qualitySqlCtes(src: String): String =
    s"""qt AS (
       |  SELECT doc_id, $toksSql AS toks FROM $src
       |), qm AS (
       |  SELECT doc_id,
       |         len(toks)::BIGINT AS n_tokens,
       |         len(list_distinct(toks))::BIGINT * 1000 // len(toks) AS distinct_pm,
       |         length(array_to_string(toks, ''))::BIGINT * 1000 // len(toks) AS toklen_pm
       |  FROM qt
       |), qr AS (
       |  SELECT *,
       |         (CASE WHEN n_tokens < $MIN_TOKENS THEN 'short;' ELSE '' END ||
       |          CASE WHEN distinct_pm < $MIN_DISTINCT_PM THEN 'repetitive;' ELSE '' END ||
       |          CASE WHEN toklen_pm < $TOKLEN_PM_LO OR toklen_pm > $TOKLEN_PM_HI THEN 'tok_len;' ELSE '' END) AS reasons
       |  FROM qm
       |)""".stripMargin

  val qualityGate: QueryDef = QueryDef(
    build = (s, d) =>
      withQualityMetrics(docs(s, d))
        .select(col("doc_id"), col("n_tokens"), col("distinct_pm"), col("toklen_pm"),
          (col("reasons") === "").as("keep"), col("reasons"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH ${qualitySqlCtes("documents")}
         |SELECT doc_id, n_tokens, distinct_pm, toklen_pm, reasons = '' AS keep, reasons
         |FROM qr ORDER BY doc_id""".stripMargin),
    doc = "X4 composite quality gate (keep/drop with reject-reason audit trail)")

  // -------------------------------------------------------------------
  // Vocabulary induction: top-K corpus tokens by frequency with
  // cumulative-coverage per-mille — the "how big must the vocab be"
  // question of tokenizer training. Token counts are one grouped agg
  // (vocab-sized output); the cumulative window runs over the top-K
  // rows only, after a TakeOrderedAndProject — never over the full
  // vocabulary. The partition key is a non-foldable constant
  // (pmod(hash, 1)) so EliminateWindowPartitions cannot rewrite it
  // into a flagged global window: the single partition is bounded at
  // K rows by construction.
  // -------------------------------------------------------------------
  private val VOCAB_K = 100

  val vocabTopK: QueryDef = QueryDef(
    build = (s, d) => {
      val counts = docs(s, d)
        .select(explode(expr(toksExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("total"))
      val top = counts.orderBy(col("cnt").desc, col("token")).limit(VOCAB_K)
      val win = Window.partitionBy(pmod(hash(col("token")), lit(1)))
        .orderBy(col("cnt").desc, col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(total) // single-row corpus total — bounded broadcast
        .withColumn("rank", row_number().over(win).cast("long"))
        .withColumn("cum_pm", expr("sum(cnt) OVER (PARTITION BY pmod(hash(token), 1) ORDER BY cnt DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 div total"))
        .select("rank", "token", "cnt", "cum_pm")
        .orderBy("rank")
    },
    oracle = Some(
      s"""WITH c AS (
         |  SELECT u.t AS token, count(*)::BIGINT AS cnt
         |  FROM (SELECT $toksSql AS toks FROM documents) d, unnest(d.toks) AS u(t)
         |  GROUP BY u.t
         |), tot AS (SELECT sum(cnt)::BIGINT AS total FROM c),
         |top AS (
         |  SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT $VOCAB_K
         |)
         |SELECT row_number() OVER (ORDER BY cnt DESC, token)::BIGINT AS rank,
         |       token, cnt,
         |       (sum(cnt) OVER (ORDER BY cnt DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT * 1000 // tot.total) AS cum_pm
         |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin),
    doc = "X4 vocabulary induction (top-K tokens + cumulative coverage)")

  // -------------------------------------------------------------------
  // BPE merge induction (first iteration): the most frequent ADJACENT
  // CHARACTER pairs across the corpus, weighted by word frequency —
  // the candidate list the first byte-pair-encoding merge picks from,
  // and the char-level complement of vocab_topk's word-level answer.
  // Scale shape: words aggregate FIRST (one grouped shuffle on the
  // word), then pairs explode from the distinct-word table (bounded by
  // vocabulary × word length, not corpus tokens) and aggregate on the
  // pair. A full BPE train iterates this with re-segmentation — that
  // loop is driver logic over these same aggregations; the query gates
  // the corpus-sized step.
  // -------------------------------------------------------------------
  private val MERGES_K = 40

  val bpeMerges: QueryDef = QueryDef(
    build = (s, d) => {
      val words = docs(s, d)
        .select(explode(expr(toksExpr)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wcnt"))
      val pairs = words
        .filter(length(col("word")) >= 2)
        .select(col("wcnt"),
          explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("wcnt").as("cnt"))
      // the window IS global by intent — its input is the MERGES_K-row
      // TakeOrdered result, a bounded constant, so a single-partition
      // window is the right plan (PlanAudit waives it per-rule with
      // that justification rather than the expression disguising it)
      pairs.orderBy(col("cnt").desc, col("pair")).limit(MERGES_K)
        .withColumn("rank", row_number().over(
          Window.partitionBy(lit(0))
            .orderBy(col("cnt").desc, col("pair"))).cast("long"))
        .select("rank", "pair", "cnt")
        .orderBy("rank")
    },
    oracle = Some(
      s"""WITH w AS (
         |  SELECT u.t AS word, count(*)::BIGINT AS wcnt
         |  FROM (SELECT $toksSql AS toks FROM documents) d, unnest(d.toks) AS u(t)
         |  GROUP BY u.t
         |), p AS (
         |  SELECT substring(word, i.i, 2) AS pair, sum(wcnt)::BIGINT AS cnt
         |  FROM w, LATERAL unnest(range(1, length(word))) AS i(i)
         |  WHERE length(word) >= 2
         |  GROUP BY 1
         |), top AS (
         |  SELECT pair, cnt FROM p ORDER BY cnt DESC, pair LIMIT $MERGES_K
         |)
         |SELECT row_number() OVER (ORDER BY cnt DESC, pair)::BIGINT AS rank, pair, cnt
         |FROM top ORDER BY rank""".stripMargin),
    doc = "X4 BPE merge induction (top adjacent char pairs, word-frequency weighted)")

  // -------------------------------------------------------------------
  // PII detection + redaction: emails and URLs found, masked, and
  // counted per document — the scrub pass a training corpus runs before
  // anything else ships. Map-only scan (regex match + replace per row,
  // no shuffle except the output sort), so it composes into the ingest
  // path at any scale. Patterns are written WITHOUT shorthand classes
  // (the Java-regex/RE2 divergence gotcha) so Spark and DuckDB match
  // identical spans; redaction equality is gated via the sha256 of the
  // redacted text. The synthetic corpus carries no PII, so a
  // deterministic tranche (docs ≡ 0 mod 7 get a contact line built from
  // doc_id) makes both redaction paths carry rows at every SF.
  // -------------------------------------------------------------------
  private val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val URL_RE = "https?://[A-Za-z0-9./_-]+"

  val redact: QueryDef = QueryDef(
    build = (s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or https://example.org/p/"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      planted
        .withColumn("n_emails",
          size(regexp_extract_all(col("text"), lit(EMAIL_RE), lit(0))).cast("long"))
        .withColumn("n_urls",
          size(regexp_extract_all(col("text"), lit(URL_RE), lit(0))).cast("long"))
        .withColumn("clean",
          regexp_replace(regexp_replace(col("text"), lit(EMAIL_RE), lit("<EMAIL>")),
            lit(URL_RE), lit("<URL>")))
        .select(col("doc_id"), col("n_emails"), col("n_urls"),
          sha2(col("clean"), 256).as("redacted_hash"),
          length(col("clean")).cast("long").as("redacted_len"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 0
         |              THEN text || ' contact user' || doc_id || '@example.com or https://example.org/p/' || doc_id
         |              ELSE text END AS text
         |  FROM documents
         |), r AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(text, '$EMAIL_RE'))::BIGINT AS n_emails,
         |         len(regexp_extract_all(text, '$URL_RE'))::BIGINT AS n_urls,
         |         regexp_replace(regexp_replace(text, '$EMAIL_RE', '<EMAIL>', 'g'), '$URL_RE', '<URL>', 'g') AS clean
         |  FROM planted
         |)
         |SELECT doc_id, n_emails, n_urls, sha256(clean) AS redacted_hash,
         |       length(clean)::BIGINT AS redacted_len
         |FROM r ORDER BY doc_id""".stripMargin),
    doc = "X4 PII detection + redaction (emails/URLs masked, counts + redacted-content hash)")

  // -------------------------------------------------------------------
  // Unigram-LM quality scoring — the CCNet shape: train a unigram
  // language model ON the corpus itself (token → count / total), score
  // every document by its mean per-token surprisal −log2 p(t). Low
  // scores mark boilerplate/repetitive documents (all-common tokens),
  // high scores mark noise (rare-token soup); the production filter
  // keeps the middle band, per-language. Two grouped aggregations
  // (vocab-sized model + corpus-sized scoring join) — the same 100 TB
  // shape as tf-idf above; the LM side is the small one.
  //
  // Determinism discipline: surprisal is computed ONCE PER VOCABULARY
  // ENTRY (not per occurrence), rounded to micro-bits as a BIGINT
  // there, and documents aggregate exact integers — sums are order-free
  // and the mean is integer division, so no double ever crosses an
  // aggregation boundary.
  // -------------------------------------------------------------------
  /** The per-document LM frame (doc_id, n_tokens, sum_log2_micro,
    * mean_log2_micro), unsorted — shared by the lm_score query and the
    * [[lmCalibration]] threshold table. */
  private def lmFrame(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d).select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .persist() // session-scoped memo (QueryDef cache contract)
    val lm = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tok.agg(count(lit(1)).as("total"))))
      .withColumn("surprisal_micro", expr(
        "CAST(floor(log2(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000 + 0.5D) AS BIGINT)"))
      .select("token", "surprisal_micro")
    tok.join(lm, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("surprisal_micro").as("sum_log2_micro"))
      .withColumn("mean_log2_micro", expr("sum_log2_micro DIV n_tokens"))
      .select("doc_id", "n_tokens", "sum_log2_micro", "mean_log2_micro")
  }

  /** SQL mirror of [[lmFrame]]: CTE chain ending in `lmdoc`. */
  private val lmFrameCtes: String =
    s"""tok AS (
       |  SELECT doc_id, unnest($toksSql) AS token FROM documents
       |), lm AS (
       |  SELECT token,
       |         CAST(floor(log2((SELECT count(*) FROM tok)::DOUBLE / count(*)::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS surprisal_micro
       |  FROM tok GROUP BY token
       |), lmdoc AS (
       |  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
       |         sum(l.surprisal_micro)::BIGINT AS sum_log2_micro,
       |         (sum(l.surprisal_micro) // count(*))::BIGINT AS mean_log2_micro
       |  FROM tok t JOIN lm l USING (token)
       |  GROUP BY t.doc_id
       |)""".stripMargin

  val lmScore: QueryDef = QueryDef(
    build = (s, d) => lmFrame(s, d).orderBy("doc_id"),
    oracle = Some(
      s"""WITH $lmFrameCtes
         |SELECT doc_id, n_tokens, sum_log2_micro, mean_log2_micro
         |FROM lmdoc ORDER BY doc_id""".stripMargin),
    doc = "X4 unigram-LM surprisal scoring (CCNet-style corpus-self-trained quality signal)")

  // -------------------------------------------------------------------
  // LM calibration table — how the lm_score signal becomes a FILTER:
  // per-language deciles of the per-doc mean surprisal, i.e. the
  // threshold table behind CCNet's head/middle/tail bucketing (docs
  // below the p30 of their language are boilerplate-ish, above p70
  // rare-token noise; the cuts are per-LANGUAGE because surprisal
  // distributions differ by language). Rank-based discrete quantiles
  // (value at row floor((n−1)·p/10)+1 of the (score, doc_id) order) —
  // exact integer arithmetic end to end, no interpolation, so the
  // cross-engine gate is trivial. The per-language sort is a
  // partitioned window, not a global one; at 100 TB a production
  // deployment would compute the same table from a per-language
  // sample, which changes this plan only by a filter.
  // -------------------------------------------------------------------
  val lmCalibration: QueryDef = QueryDef(
    build = (s, d) => {
      val scored = lmFrame(s, d)
        .join(docs(s, d).select("doc_id", "lang"), "doc_id")
      val n = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      val targets = n.select(col("lang"), col("n"),
          explode(expr("sequence(1, 9)")).as("decile"))
        .withColumn("target_rn", expr("(n - 1) * decile DIV 10 + 1"))
      val w = Window.partitionBy("lang").orderBy("mean_log2_micro", "doc_id")
      scored
        .select(col("lang"), col("mean_log2_micro"),
          row_number().over(w).cast("long").as("rn"))
        .join(targets, Seq("lang"))
        .filter(col("rn") === col("target_rn"))
        .select(col("lang"), col("decile").cast("long").as("decile"),
          col("n"), col("mean_log2_micro").as("cut_micro"))
        .orderBy("lang", "decile")
    },
    oracle = Some(
      s"""WITH $lmFrameCtes, scored AS (
         |  SELECT d.lang, l.mean_log2_micro, l.doc_id FROM lmdoc l
         |  JOIN documents d USING (doc_id)
         |), ranked AS (
         |  SELECT lang, mean_log2_micro,
         |         row_number() OVER (PARTITION BY lang ORDER BY mean_log2_micro, doc_id)::BIGINT AS rn
         |  FROM scored
         |), n AS (
         |  SELECT lang, count(*)::BIGINT AS n FROM scored GROUP BY lang
         |), targets AS (
         |  SELECT n.lang, n.n, g.decile::BIGINT AS decile,
         |         (n.n - 1) * g.decile // 10 + 1 AS target_rn
         |  FROM n CROSS JOIN generate_series(1, 9) AS g(decile)
         |)
         |SELECT t.lang, t.decile, t.n, r.mean_log2_micro AS cut_micro
         |FROM targets t JOIN ranked r ON r.lang = t.lang AND r.rn = t.target_rn
         |ORDER BY t.lang, t.decile""".stripMargin),
    doc = "X4 LM-score calibration: per-language surprisal deciles (the CCNet head/middle/tail cut table)")

  // -------------------------------------------------------------------
  // Reference-LM scoring — the actual CCNet gate shape: the LM is
  // trained on a REFERENCE corpus and documents are scored against it
  // (CCNet uses a Wikipedia LM; here the reference is a deterministic
  // 80 % md5 split of the corpus and the held-out 20 % is scored, so
  // the whole train-on-A-score-B pipeline is oracle-gated). Laplace
  // smoothing gives unseen tokens a finite surprisal — p(t) =
  // (cnt + 1) / (T + V) — and the per-doc OOV count is its own quality
  // signal (high OOV = vocabulary the reference has never seen: a
  // different language, encoding damage, or genuinely novel text).
  //
  // Determinism: surprisal is a pure function of the integer pair
  // (cnt, T + V), rounded to micro-bits per ROW before any
  // aggregation; doc sums are exact BIGINT. Same vocab-sized LM +
  // corpus-sized join shape as lm_score.
  // -------------------------------------------------------------------
  private val LM_TRAIN_PERMILLE = 800

  /** Score a documents-shaped frame against an explicit reference
    * vocabulary (token, cnt) with Laplace smoothing — the lm_crossval
    * scoring leg, shared verbatim with the online admission gate
    * ([[graft.streaming.StreamingLm]]) so an online score equals the
    * batch one bit-for-bit. Output: (doc_id, n_tokens, oov,
    * sum_log2_micro, mean_log2_micro), unsorted. */
  private[graft] def scoreAgainstVocab(batch: DataFrame, vocab: DataFrame): DataFrame = {
    val denom = vocab.agg((sum("cnt") + count(lit(1))).as("tv")) // T + V
    batch.select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .join(vocab, Seq("token"), "left")
      .crossJoin(broadcast(denom))
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("surprisal_micro", expr(
        "CAST(floor(log2(CAST(tv AS DOUBLE) / CAST(cnt + 1 AS DOUBLE)) * 1000000 + 0.5D) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt") === 0L, 1L).otherwise(0L)).as("oov"),
        sum("surprisal_micro").as("sum_log2_micro"))
      .withColumn("mean_log2_micro", expr("sum_log2_micro DIV n_tokens"))
      .select("doc_id", "n_tokens", "oov", "sum_log2_micro", "mean_log2_micro")
  }

  val lmCrossval: QueryDef = QueryDef(
    build = (s, d) => {
      val bucketed = docs(s, d).withColumn("bkt", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000"))
      val lm = bucketed.filter(col("bkt") < LM_TRAIN_PERMILLE)
        .select(explode(expr(toksExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .persist() // session-scoped memo (QueryDef cache contract)
      scoreAgainstVocab(bucketed.filter(col("bkt") >= LM_TRAIN_PERMILLE), lm)
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH bucketed AS (
         |  SELECT *, ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bkt
         |  FROM documents
         |), traintok AS (
         |  SELECT unnest($toksSql) AS token FROM bucketed WHERE bkt < $LM_TRAIN_PERMILLE
         |), lm AS (
         |  SELECT token, count(*)::BIGINT AS cnt FROM traintok GROUP BY token
         |), denom AS (
         |  SELECT (sum(cnt) + count(*))::BIGINT AS tv FROM lm
         |), heldtok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM bucketed WHERE bkt >= $LM_TRAIN_PERMILLE
         |), scored AS (
         |  SELECT h.doc_id, coalesce(l.cnt, 0) AS cnt,
         |         CAST(floor(log2(d.tv::DOUBLE / (coalesce(l.cnt, 0) + 1)::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS surprisal_micro
         |  FROM heldtok h LEFT JOIN lm l USING (token) CROSS JOIN denom d
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |       sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END)::BIGINT AS oov,
         |       sum(surprisal_micro)::BIGINT AS sum_log2_micro,
         |       (sum(surprisal_micro) // count(*))::BIGINT AS mean_log2_micro
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    doc = "X4 reference-LM scoring (CCNet gate shape): train on an 80% md5 split, score held-out docs with Laplace smoothing + OOV counts")

  // -------------------------------------------------------------------
  // BPE merge APPLICATION — the other half of the tokenizer story:
  // bpe_merges learns the ranked pair table; this query applies the top
  // ENC_MERGES merges to the corpus and reports what the tokenizer
  // training actually buys — per-document symbol counts before/after
  // and the compression ppm. Each merge is a leftmost non-overlapping
  // replace of the raw 2-char pair with a private-use-area placeholder
  // (one per rank), applied in rank order — the first BPE iteration
  // over the character alphabet, exactly reproducible in SQL (replace()
  // has identical leftmost non-overlap semantics in both engines; the
  // oracle runs the rank-ordered chain as a recursive CTE joined to the
  // merge table, the Spark side folds the collected 8-row merge list —
  // bounded metadata, the kmeans discipline).
  //
  // Scale shape: merges apply to the DISTINCT-WORD table (vocabulary-
  // bounded, like bpe_merges itself); the corpus-sized work is the
  // token explode + one join on the word key — the tf-idf shape.
  // -------------------------------------------------------------------
  private val ENC_MERGES = 8

  val bpeEncode: QueryDef = QueryDef(
    build = (s, d) => {
      val words = docs(s, d)
        .select(explode(expr(toksExpr)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wcnt"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val merges = words
        .filter(length(col("word")) >= 2)
        .select(col("wcnt"),
          explode(expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("wcnt").as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(ENC_MERGES)
        .collect() // bounded: ENC_MERGES rows (TakeOrdered)
        .map(_.getString(0))
      val fin = merges.zipWithIndex.foldLeft(words.withColumn("cur", col("word"))) {
        case (df, (pair, i)) =>
          // lit() keeps pair text out of SQL-string escaping entirely
          df.withColumn("cur", call_function("replace",
            col("cur"), lit(pair), lit((57345 + i).toChar.toString)))
      }.select(col("word"), length(col("word")).cast("long").as("n_before"),
        length(col("cur")).cast("long").as("n_after"))
      docs(s, d).select(col("doc_id"), explode(expr(toksExpr)).as("word"))
        .join(fin, "word")
        .groupBy("doc_id")
        .agg(sum("n_before").as("symbols_before"), sum("n_after").as("symbols_after"))
        .select(col("doc_id"), col("symbols_before"), col("symbols_after"),
          expr("symbols_after * 1000000L div symbols_before").as("compression_ppm"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE w AS (
         |  SELECT u.t AS word, count(*)::BIGINT AS wcnt
         |  FROM (SELECT $toksSql AS toks FROM documents) d, unnest(d.toks) AS u(t)
         |  GROUP BY u.t
         |), p AS (
         |  SELECT substring(word, i.i, 2) AS pair, sum(wcnt)::BIGINT AS cnt
         |  FROM w, LATERAL unnest(range(1, length(word))) AS i(i)
         |  WHERE length(word) >= 2
         |  GROUP BY 1
         |), mg AS (
         |  SELECT pair, chr(57344 + rank::INT) AS ph, rank FROM (
         |    SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS rank
         |    FROM p ORDER BY cnt DESC, pair LIMIT $ENC_MERGES)
         |), st AS (
         |  SELECT word, word AS cur, 0 AS step FROM w
         |  UNION ALL
         |  SELECT st.word, replace(st.cur, mg.pair, mg.ph) AS cur, st.step + 1
         |  FROM st JOIN mg ON mg.rank = st.step + 1
         |  WHERE st.step < $ENC_MERGES
         |), fin AS (
         |  SELECT word, length(word)::BIGINT AS n_before, length(cur)::BIGINT AS n_after
         |  FROM st WHERE step = $ENC_MERGES
         |), tok AS (
         |  SELECT doc_id, u.t AS word
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents) d, unnest(d.toks) AS u(t)
         |)
         |SELECT t.doc_id, sum(f.n_before)::BIGINT AS symbols_before,
         |       sum(f.n_after)::BIGINT AS symbols_after,
         |       (sum(f.n_after) * 1000000 // sum(f.n_before))::BIGINT AS compression_ppm
         |FROM tok t JOIN fin f USING (word)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    doc = "X4 BPE merge application: top-8 learned merges applied, per-doc symbol compression")

  // -------------------------------------------------------------------
  // Bigram-LM surprisal — the step from lm_score's unigram toward the
  // KenLM-style n-gram gate CCNet actually runs: score every document
  // by its mean CONDITIONAL surprisal −log2 p(w2 | w1), with
  // p(w2 | w1) = c(w1,w2) / Σ_x c(w1,x) (the bigram-table marginal).
  // Word-salad text (every unigram common, transitions random) scores
  // high here while passing a unigram LM — the signal bigrams exist
  // for. Docs need ≥ 2 tokens to have a bigram; shorter docs are
  // quality_gate's business, not this one's.
  //
  // Scale shape: the LM is bounded by DISTINCT adjacent pairs (corpus-
  // sublinear in natural text), the corpus-sized work is one explode +
  // one join on the bigram key — the tf-idf/lm_score shape. Surprisal
  // is micro-BIGINT per bigram TYPE before any aggregation (order-free
  // doc sums; log2 of a ratio of exact BIGINTs is the same IEEE
  // operation in both engines, the lm_score precedent).
  // -------------------------------------------------------------------
  val lmBigram: QueryDef = QueryDef(
    build = (s, d) => {
      val bg = docs(s, d).select(col("doc_id"), expr(toksExpr).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS w1, toks[i] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val counts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      val lm = counts
        .join(counts.groupBy("w1").agg(sum("cnt").as("c1")), "w1")
        .withColumn("surprisal_micro", expr(
          "CAST(floor(log2(CAST(c1 AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000 + 0.5D) AS BIGINT)"))
        .select("w1", "w2", "surprisal_micro")
      bg.join(lm, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("surprisal_micro").as("sum_log2_micro"))
        .withColumn("mean_log2_micro", expr("sum_log2_micro DIV n_bigrams"))
        .select("doc_id", "n_bigrams", "sum_log2_micro", "mean_log2_micro")
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), bg AS (
         |  SELECT doc_id, toks[i.i] AS w1, toks[i.i + 1] AS w2
         |  FROM t, LATERAL unnest(range(1, len(toks))) AS i(i)
         |  WHERE len(toks) >= 2
         |), c AS (
         |  SELECT w1, w2, count(*)::BIGINT AS cnt FROM bg GROUP BY 1, 2
         |), m AS (
         |  SELECT w1, sum(cnt)::BIGINT AS c1 FROM c GROUP BY 1
         |), lm AS (
         |  SELECT c.w1, c.w2,
         |         CAST(floor(log2(c1::DOUBLE / cnt::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS surprisal_micro
         |  FROM c JOIN m USING (w1)
         |)
         |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
         |       sum(surprisal_micro)::BIGINT AS sum_log2_micro,
         |       (sum(surprisal_micro) // count(*))::BIGINT AS mean_log2_micro
         |FROM bg b JOIN lm USING (w1, w2)
         |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin),
    doc = "X4 bigram-LM conditional surprisal (word-salad detector; the n-gram step toward the KenLM gate)")

  // -------------------------------------------------------------------
  // Per-source curation profile — the CCNet/RefinedWeb move of making
  // keep/drop/reweight decisions at SOURCE granularity (a domain, a
  // dump, a crawl segment), not per document: a source whose documents
  // are mostly near-empty, repetitive, or duplicated gets down-weighted
  // or cut wholesale before per-document filtering ever runs. Composes
  // the already-gated signals — quality metrics (withQualityMetrics,
  // shared verbatim with quality_gate), exact-dup membership (the
  // dedup_exact sha256 keep-first rule) — into one grouped aggregation:
  // a scan + two bounded shuffles (the sha256 grouping and the
  // per-source agg), no new derivation. All emitted values are exact
  // integers (counts, div-scaled ppm).
  //
  // 100 TB: |sources| ≪ |docs| (domains vs pages), so the output is
  // dashboard-sized; the sha256 window shuffles on the content hash
  // exactly like dedup_exact, which is the same bounded shuffle that
  // pass already pays — a deployment computes both in one job.
  // -------------------------------------------------------------------
  val sourceStats: QueryDef = QueryDef(
    build = (s, d) => {
      val q = withQualityMetrics(docs(s, d))
      val rk = docs(s, d)
        .withColumn("rk", row_number().over(
          Window.partitionBy(sha2(col("text"), 256)).orderBy("doc_id")))
        .select("doc_id", "rk")
      q.join(rk, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          sum("n_tokens").as("tok_sum"),
          sum((col("reasons") =!= "").cast("long")).as("n_fail"),
          sum((col("rk") > 1).cast("long")).as("n_dup"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          expr("tok_sum div n_docs").as("tokens_per_doc"),
          expr("n_fail * 1000000L div n_docs").as("quality_fail_ppm"),
          expr("n_dup * 1000000L div n_docs").as("dup_ppm"))
        .orderBy("source")
    },
    oracle = Some(
      s"""WITH ${qualitySqlCtes("documents")}, dd AS (
         |  SELECT doc_id, source, lang,
         |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rk
         |  FROM documents
         |)
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |       count(DISTINCT d.lang)::BIGINT AS n_langs,
         |       (sum(q.n_tokens) // count(*))::BIGINT AS tokens_per_doc,
         |       (sum(CASE WHEN q.reasons <> '' THEN 1 ELSE 0 END) * 1000000
         |          // count(*))::BIGINT AS quality_fail_ppm,
         |       (sum(CASE WHEN d.rk > 1 THEN 1 ELSE 0 END) * 1000000
         |          // count(*))::BIGINT AS dup_ppm
         |FROM dd d JOIN qr q USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin),
    doc = "X4 per-source curation profile (docs, langs, tokens/doc, quality-fail + dup ppm)")

  // -------------------------------------------------------------------
  // X4/X3 bridge: deterministic feature-hash document embeddings — the
  // hashing-trick bag-of-words (Weinberger et al. 2009): every token
  // hashes to one of D = 64 dimensions with a ±1 sign, a document's vector
  // is the signed count per dimension. This is the embedding you get
  // when the corpus ships with NO model-produced vectors — it feeds the
  // same cosine machinery (dedup_embed, sim_*, topic_mixture) because
  // E[cos(hash(a), hash(b))] tracks the bag-of-words cosine. md5-derived
  // dim + sign so the oracle replays it bit-for-bit; outputs are signed
  // BIGINT counts + an integer micro-norm — nothing rounded twice.
  //
  // 100 TB shape: one token explode (∝ corpus tokens) feeding ONE
  // doc-keyed shuffle of D conditional partial sums — the per-partition
  // combine collapses each document's tokens to a single D-column row
  // before the exchange. No (doc, dim) intermediate shuffle, no join.
  // -------------------------------------------------------------------
  // D = 64: the hashing-trick cosine error is O(1/√D) (σ ≈ 0.125 for
  // unrelated bags at 64), so the τ = 0.8 docvec threshold sits ~6σ out
  // and chance pairs vanish; D = 16 measured 32 % of random pairs over
  // threshold — a detector, not a filter.
  private val EMBED_D = 64

  /** (doc_id, vec) hash-embedding frame — the derivation behind
    * doc_embed, shared with [[DedupQueries]]'s docvec dedup so both
    * operate on bit-identical vectors. */
  private[extensions] def hashEmbedVecs(s: SparkSession, d: String): DataFrame = {
    val ex = docs(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .select(col("doc_id"),
        expr(s"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % $EMBED_D").as("dim"),
        expr("CASE WHEN CAST(conv(substring(md5(tok), 9, 1), 16, 10) AS BIGINT) % 2 = 0 " +
          "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END").as("sgn"))
    val sums = (0 until EMBED_D).map(i =>
      sum(when(col("dim") === i, col("sgn")).otherwise(0L)).as(s"v$i"))
    ex.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        array((0 until EMBED_D).map(i => col(s"v$i")): _*).as("vec"))
  }

  /** The doc_embed derivation as oracle CTEs ending in `vecs(doc_id,
    * vec)` — shared with the docvec dedup oracle. */
  private[extensions] def hashEmbedSql: String = {
    val terms = (0 until EMBED_D).map(i =>
      s"sum(CASE WHEN dim = $i THEN sgn ELSE 0 END)::BIGINT").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, u.tok FROM (
       |    SELECT doc_id, $toksSql AS ts FROM documents
       |  ), unnest(ts) AS u(tok)
       |), hx AS (
       |  SELECT doc_id,
       |         ('0x' || substring(md5(tok), 1, 8))::BIGINT % $EMBED_D AS dim,
       |         CASE WHEN ('0x' || substring(md5(tok), 9, 1))::BIGINT % 2 = 0
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM tk
       |), vecs AS (
       |  SELECT doc_id, [$terms] AS vec FROM hx GROUP BY doc_id
       |)""".stripMargin
  }

  // The gated projection serializes the vector as a CSV string: the
  // driver's comparator sorts rows via pandas, which cannot hash array
  // cells (ndarray), so array columns never reach the gate. BIGINT →
  // string is exact and identical in both engines; downstream consumers
  // (dedup_docvec, vecRanks) use hashEmbedVecs directly and keep the
  // typed array.
  val docEmbed: QueryDef = QueryDef(
    build = (s, d) =>
      hashEmbedVecs(s, d)
        .select(col("doc_id"), concat_ws(",", col("vec")).as("vec_csv"),
          expr("CAST(size(filter(vec, x -> x != 0)) AS BIGINT)").as("nnz"),
          expr("CAST(floor(sqrt(CAST(aggregate(vec, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS DOUBLE)) * 1000000 + 0.5D) AS BIGINT)").as("norm_micro"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""$hashEmbedSql
         |SELECT doc_id, array_to_string(vec, ',') AS vec_csv,
         |       len(list_filter(vec, x -> x <> 0))::BIGINT AS nnz,
         |       CAST(floor(sqrt(list_dot_product(vec::DOUBLE[], vec::DOUBLE[])) * 1000000 + 0.5) AS BIGINT) AS norm_micro
         |FROM vecs ORDER BY doc_id""".stripMargin),
    doc = "X4 feature-hash document embeddings (hashing trick, ±1 signs) — model-free vectors for the cosine machinery")

  // -------------------------------------------------------------------
  // X4 RAG-style chunking: fixed W-token windows at stride S (overlap
  // W − S) — the retrieval-prep step that turns documents into
  // embeddable passages. Chunk boundaries are pure arithmetic on the
  // token array, so the op is one map-side explode (∝ output chunks,
  // never doc pairs); the final window clamps so every token is covered
  // exactly once past the overlap. Distinct from dedup_chunks (strided
  // NON-overlapping windows for duplication counting): the overlap here
  // exists so a retrieval hit near a boundary still carries its
  // context.
  // -------------------------------------------------------------------
  private val CS_W = 32
  private val CS_S = 24

  val chunkSplit: QueryDef = QueryDef(
    build = (s, d) =>
      docs(s, d)
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .filter(size(col("toks")) > 0)
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("chunk_id", explode(expr(
          s"sequence(CAST(0 AS BIGINT), (greatest(n - $CS_W, CAST(0 AS BIGINT)) + ${CS_S - 1}) div $CS_S)")))
        .select(col("doc_id"), col("chunk_id"),
          (col("chunk_id") * CS_S).as("start_tok"),
          least(lit(CS_W.toLong), col("n") - col("chunk_id") * CS_S).as("n_toks"),
          md5(concat_ws(" ",
            slice(col("toks"), (col("chunk_id") * CS_S + 1).cast("int"), lit(CS_W)))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
    oracle = Some(
      s"""WITH d AS (
         |  SELECT doc_id, ts, len(ts)::BIGINT AS n FROM (
         |    SELECT doc_id, $toksSql AS ts FROM documents
         |  ) WHERE len(ts) > 0
         |), c AS (
         |  SELECT doc_id, i.ci AS chunk_id, i.ci * $CS_S AS start_tok,
         |         least($CS_W, n - i.ci * $CS_S)::BIGINT AS n_toks,
         |         md5(array_to_string(ts[i.ci * $CS_S + 1 : i.ci * $CS_S + $CS_W], ' ')) AS chunk_md5
         |  FROM d, LATERAL unnest(range(0, (greatest(n - $CS_W, 0) + ${CS_S - 1}) // $CS_S + 1)) AS i(ci)
         |)
         |SELECT doc_id, chunk_id, start_tok, n_toks, chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    doc = "X4 RAG chunking: fixed 32-token windows at stride 24 (8-token overlap), map-side")

  // -------------------------------------------------------------------
  // X4 the Gopher quality rules (Rae et al. 2021, §A1.1) — the NAMED
  // heuristic gate most pretraining pipelines start from, adapted to
  // the whitespace-token contract: word-count bounds, mean-word-length
  // band, minimum alphabetic-word fraction, and the ≥2-stopword
  // English-ness check. Every rule is map-side integer arithmetic over
  // the token array (micro-scaled means, ppm fractions — no rounded
  // doubles), and the verdict names the FIRST failing rule, so the
  // output doubles as the attrition report quality dashboards plot.
  // The stopword rule is English-centric by design (as in the paper) —
  // non-English docs legitimately fail it; this is the report the
  // curator reads next to lang, not a blind filter of record.
  // -------------------------------------------------------------------
  private val GOPHER_STOPS = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val GOPHER_MIN_WORDS = 50L
  private val GOPHER_MAX_WORDS = 100000L

  val qualityGopher: QueryDef = QueryDef(
    build = (s, d) => {
      val stops = GOPHER_STOPS.map(w => s"'$w'").mkString("array(", ", ", ")")
      docs(s, d)
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          expr("aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a + length(t))").as("n_chars_w"),
          expr("CAST(size(filter(toks, t -> t rlike '[a-z]')) AS BIGINT)").as("alpha_words"),
          expr(s"CAST(size(array_intersect(array_distinct(toks), $stops)) AS BIGINT)").as("stop_hits"))
        .select(col("doc_id"), col("n_words"),
          expr("CASE WHEN n_words > 0 THEN n_chars_w * 1000000 div n_words ELSE CAST(0 AS BIGINT) END").as("mean_wl_micro"),
          expr("CASE WHEN n_words > 0 THEN alpha_words * 1000000 div n_words ELSE CAST(0 AS BIGINT) END").as("alpha_ppm"),
          col("stop_hits"))
        .withColumn("fail_rule",
          when(col("n_words") < GOPHER_MIN_WORDS, "too_few_words")
            .when(col("n_words") > GOPHER_MAX_WORDS, "too_many_words")
            .when(col("mean_wl_micro") < 3000000L || col("mean_wl_micro") > 10000000L, "word_length")
            .when(col("alpha_ppm") < 800000L, "non_alpha")
            .when(col("stop_hits") < 2, "stopwords")
            .otherwise("pass"))
        .orderBy("doc_id")
    },
    oracle = Some {
      val stops = GOPHER_STOPS.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents
         |), m AS (
         |  SELECT doc_id,
         |         len(toks)::BIGINT AS n_words,
         |         list_sum(list_transform(toks, t -> len(t)))::BIGINT AS n_chars_w,
         |         len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::BIGINT AS alpha_words,
         |         len(list_intersect(list_distinct(toks), $stops))::BIGINT AS stop_hits
         |  FROM t
         |), r AS (
         |  SELECT doc_id, n_words,
         |         CASE WHEN n_words > 0 THEN n_chars_w * 1000000 // n_words ELSE 0 END AS mean_wl_micro,
         |         CASE WHEN n_words > 0 THEN alpha_words * 1000000 // n_words ELSE 0 END AS alpha_ppm,
         |         stop_hits
         |  FROM m
         |)
         |SELECT doc_id, n_words, mean_wl_micro, alpha_ppm, stop_hits,
         |       CASE WHEN n_words < $GOPHER_MIN_WORDS THEN 'too_few_words'
         |            WHEN n_words > $GOPHER_MAX_WORDS THEN 'too_many_words'
         |            WHEN mean_wl_micro < 3000000 OR mean_wl_micro > 10000000 THEN 'word_length'
         |            WHEN alpha_ppm < 800000 THEN 'non_alpha'
         |            WHEN stop_hits < 2 THEN 'stopwords'
         |            ELSE 'pass' END AS fail_rule
         |FROM r ORDER BY doc_id""".stripMargin
    },
    doc = "X4 Gopher quality rules (Rae et al. 2021): word count, mean word length, alphabetic fraction, stopword presence — first-failing-rule report")

  // -------------------------------------------------------------------
  // X4/X3 chunk-level embeddings: chunk_split × doc_embed — the vectors
  // a retrieval index is actually built over (a passage hit, not a
  // whole-document hit). Same chunk arithmetic as chunk_split (so
  // chunk_ids line up row-for-row with the splitter's output), same
  // md5 dim/sign contract as doc_embed (so chunk vectors live in the
  // SAME space as document vectors and the cosine machinery applies
  // unchanged). One explode chain (chunks, then tokens) into one
  // (doc, chunk)-keyed shuffle of D conditional partial sums.
  // -------------------------------------------------------------------
  /** (doc_id, chunk_id, vec) typed chunk-vector frame — the derivation
    * behind chunk_embed, shared with chunkTopk's candidate side. */
  private[extensions] def chunkEmbedVecs(s: SparkSession, d: String): DataFrame = {
    val ex = docs(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("chunk_id", explode(expr(
        s"sequence(CAST(0 AS BIGINT), (greatest(n - $CS_W, CAST(0 AS BIGINT)) + ${CS_S - 1}) div $CS_S)")))
      .select(col("doc_id"), col("chunk_id"),
        explode(slice(col("toks"), (col("chunk_id") * CS_S + 1).cast("int"), lit(CS_W))).as("tok"))
      .select(col("doc_id"), col("chunk_id"),
        expr(s"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % $EMBED_D").as("dim"),
        expr("CASE WHEN CAST(conv(substring(md5(tok), 9, 1), 16, 10) AS BIGINT) % 2 = 0 " +
          "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END").as("sgn"))
    val sums = (0 until EMBED_D).map(i =>
      sum(when(col("dim") === i, col("sgn")).otherwise(0L)).as(s"v$i"))
    ex.groupBy("doc_id", "chunk_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), col("chunk_id"),
        array((0 until EMBED_D).map(i => col(s"v$i")): _*).as("vec"))
  }

  val chunkEmbed: QueryDef = QueryDef(
    build = (s, d) =>
      chunkEmbedVecs(s, d)
        // CSV-serialized vector in the gated output (the docEmbed rule:
        // the driver comparator cannot sort array cells)
        .select(col("doc_id"), col("chunk_id"),
          concat_ws(",", col("vec")).as("vec_csv"),
          expr("CAST(floor(sqrt(CAST(aggregate(vec, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS DOUBLE)) * 1000000 + 0.5D) AS BIGINT)").as("norm_micro"))
        .orderBy("doc_id", "chunk_id"),
    oracle = Some {
      val terms = (0 until EMBED_D).map(i =>
        s"sum(CASE WHEN dim = $i THEN sgn ELSE 0 END)::BIGINT").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, ts, len(ts)::BIGINT AS n FROM (
         |    SELECT doc_id, $toksSql AS ts FROM documents
         |  ) WHERE len(ts) > 0
         |), c AS (
         |  SELECT doc_id, i.ci AS chunk_id,
         |         ts[i.ci * $CS_S + 1 : i.ci * $CS_S + $CS_W] AS ctoks
         |  FROM d, LATERAL unnest(range(0, (greatest(n - $CS_W, 0) + ${CS_S - 1}) // $CS_S + 1)) AS i(ci)
         |), tk AS (
         |  SELECT doc_id, chunk_id, u.tok FROM c, unnest(ctoks) AS u(tok)
         |), hx AS (
         |  SELECT doc_id, chunk_id,
         |         ('0x' || substring(md5(tok), 1, 8))::BIGINT % $EMBED_D AS dim,
         |         CASE WHEN ('0x' || substring(md5(tok), 9, 1))::BIGINT % 2 = 0
         |              THEN 1 ELSE -1 END AS sgn
         |  FROM tk
         |), vecs AS (
         |  SELECT doc_id, chunk_id, [$terms] AS vec FROM hx GROUP BY doc_id, chunk_id
         |)
         |SELECT doc_id, chunk_id, array_to_string(vec, ',') AS vec_csv,
         |       CAST(floor(sqrt(list_dot_product(vec::DOUBLE[], vec::DOUBLE[])) * 1000000 + 0.5) AS BIGINT) AS norm_micro
         |FROM vecs ORDER BY doc_id, chunk_id""".stripMargin
    },
    doc = "X4 chunk-level hash embeddings (chunk_split × doc_embed) — passage vectors in the document-vector space")

  // -------------------------------------------------------------------
  // X3 passage retrieval: brute-force top-K chunks per query document —
  // the RAG serving query over the chunk_embed index (query = the
  // document-level hash vector, candidates = every chunk vector; both
  // live in the same hashed space by construction). Scoring is the
  // sim_topk discipline: 6dp-rounded cosine + id tiebreak, query set
  // broadcast (bounded constant), one partitioned top-K window. Zero
  // vectors (full sign cancellation) are excluded on both sides — a
  // 0-norm cosine is undefined, and both engines must agree on the
  // exclusion rather than on a NaN.
  // -------------------------------------------------------------------
  private val CHUNK_QUERIES = 3L
  private val CHUNK_K = 5

  val chunkTopk: QueryDef = QueryDef(
    build = (s, d) => {
      graft.functions.VectorFunctions.register(s)
      def prep(df: DataFrame, keep: Seq[String]): DataFrame =
        df.withColumn("n2", expr("aggregate(vec, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
          .filter(col("n2") > 0)
          .withColumn("vd", expr("transform(vec, x -> CAST(x AS DOUBLE))"))
          .select((keep ++ Seq("vd", "n2")).map(col): _*)
      val q = prep(hashEmbedVecs(s, d).filter(col("doc_id") < CHUNK_QUERIES)
        .withColumnRenamed("doc_id", "query_id"), Seq("query_id"))
        .select(col("query_id"), col("vd").as("qv"), col("n2").as("qn2"))
      val c = prep(chunkEmbedVecs(s, d), Seq("doc_id", "chunk_id"))
      // graft_topk heap instead of the row_number window (round 12):
      // the scored input is chunks × queries — corpus-sized — and the
      // window form full-sorts it per task where the heap keeps k
      // entries. The two-column tiebreak (doc_id, chunk_id) packs into
      // one heap id as doc_id·2²¹ + chunk_id, which preserves the
      // lexical order exactly when 0 ≤ chunk_id < 2²¹ and
      // 0 ≤ doc_id < 2⁴¹; outside that envelope the packing raises
      // instead of mis-ranking (chunk_id is tokens/CS_S so 2²¹ chunks
      // means a ≥2²¹·CS_S-token document; TopKPairs would silently
      // skip a NULL id, hence the loud guard).
      c.crossJoin(broadcast(q))
        .withColumn("cos_sim", round(
          call_function("graft_dot", col("vd"), col("qv")) /
            (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))), 6))
        .withColumn("pid",
          when(col("chunk_id").between(0L, (1L << 21) - 1) &&
               col("doc_id").between(0L, (1L << 41) - 1),
            shiftleft(col("doc_id").cast("long"), 21).plus(col("chunk_id").cast("long")))
          .otherwise(expr("CAST(raise_error('chunk_topk: (doc_id, chunk_id) outside the 41/21-bit packing envelope') AS BIGINT)")))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cos_sim, pid, $CHUNK_K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          shiftrightunsigned(col("col.id"), 21).as("doc_id"),
          col("col.id").bitwiseAND((1L << 21) - 1).as("chunk_id"),
          col("col.score").as("cos_sim"))
        .orderBy("query_id", "rank")
    },
    oracle = Some {
      val terms = (0 until EMBED_D).map(i =>
        s"sum(CASE WHEN dim = $i THEN sgn ELSE 0 END)::BIGINT").mkString(", ")
      s"""WITH d AS (
         |  SELECT doc_id, ts, len(ts)::BIGINT AS n FROM (
         |    SELECT doc_id, $toksSql AS ts FROM documents
         |  ) WHERE len(ts) > 0
         |), c0 AS (
         |  SELECT doc_id, i.ci AS chunk_id,
         |         ts[i.ci * $CS_S + 1 : i.ci * $CS_S + $CS_W] AS ctoks
         |  FROM d, LATERAL unnest(range(0, (greatest(n - $CS_W, 0) + ${CS_S - 1}) // $CS_S + 1)) AS i(ci)
         |), chx AS (
         |  SELECT doc_id, chunk_id,
         |         ('0x' || substring(md5(u.tok), 1, 8))::BIGINT % $EMBED_D AS dim,
         |         CASE WHEN ('0x' || substring(md5(u.tok), 9, 1))::BIGINT % 2 = 0
         |              THEN 1 ELSE -1 END AS sgn
         |  FROM c0, unnest(ctoks) AS u(tok)
         |), cv AS (
         |  SELECT doc_id, chunk_id, [$terms] AS vec FROM chx GROUP BY doc_id, chunk_id
         |), cc AS (
         |  SELECT doc_id, chunk_id, vec, list_dot_product(vec, vec)::BIGINT AS n2 FROM cv
         |  WHERE list_dot_product(vec, vec) > 0
         |), qhx AS (
         |  SELECT t.doc_id,
         |         ('0x' || substring(md5(u.tok), 1, 8))::BIGINT % $EMBED_D AS dim,
         |         CASE WHEN ('0x' || substring(md5(u.tok), 9, 1))::BIGINT % 2 = 0
         |              THEN 1 ELSE -1 END AS sgn
         |  FROM (SELECT doc_id, $toksSql AS ts FROM documents WHERE doc_id < $CHUNK_QUERIES) t,
         |       unnest(t.ts) AS u(tok)
         |), qv AS (
         |  SELECT doc_id AS query_id, [$terms] AS vec FROM qhx GROUP BY doc_id
         |), qq AS (
         |  SELECT query_id, vec, list_dot_product(vec, vec)::BIGINT AS n2 FROM qv
         |  WHERE list_dot_product(vec, vec) > 0
         |), scored AS (
         |  SELECT q.query_id, c.doc_id, c.chunk_id,
         |         round(list_dot_product(c.vec, q.vec) /
         |               (sqrt(c.n2::DOUBLE) * sqrt(q.n2::DOUBLE)), 6) AS cos_sim
         |  FROM cc c CROSS JOIN qq q
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, doc_id, chunk_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, doc_id, chunk_id, cos_sim
         |FROM rk WHERE rank <= $CHUNK_K ORDER BY query_id, rank""".stripMargin
    },
    doc = "X3 passage retrieval: brute-force top-K chunk vectors per query document (RAG serving over chunk_embed)")

  // -------------------------------------------------------------------
  // X4 token-distribution entropy per document — the information-density
  // quality signal (low entropy = repetitive/template text; the
  // compression-ratio proxy without a codec). Shannon entropy in NATS
  // over the doc's token histogram. Determinism: each term
  // −p·ln(p) is a per-row scalar rounded to BIGINT micro BEFORE the
  // per-doc sum (integer sums are order-free; a double sum would
  // reassociate under partial aggregation). One exploded groupBy — the
  // same shuffle shape as text_tokens.
  // -------------------------------------------------------------------
  val textEntropy: QueryDef = QueryDef(
    build = (s, d) => {
      val ex = docs(s, d)
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
          explode(col("toks")).as("tok"))
      val p = col("cnt").cast("double") / col("n")
      ex.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"), max("n").as("n"))
        .withColumn("tm", floor(-(p * log(p)) * lit(1000000.0) + lit(0.5)))
        .groupBy("doc_id").agg(max("n").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum("tm").as("entropy_micro"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH ex AS (
         |  SELECT doc_id, len(toks)::BIGINT AS n, u.tok
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents), unnest(toks) AS u(tok)
         |), tf AS (
         |  SELECT doc_id, tok, count(*)::BIGINT AS cnt, max(n) AS n FROM ex GROUP BY doc_id, tok
         |), terms AS (
         |  SELECT doc_id, n,
         |         CAST(floor(-((cnt::DOUBLE / n) * ln(cnt::DOUBLE / n)) * 1000000.0 + 0.5) AS BIGINT) AS tm
         |  FROM tf
         |)
         |SELECT doc_id, max(n) AS n_tokens, count(*)::BIGINT AS n_distinct,
         |       sum(tm)::BIGINT AS entropy_micro
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    doc = "X4 per-document token entropy (nats, micro-int terms) — the repetitive-text quality signal")

  // -------------------------------------------------------------------
  // X4 Zipf fit — the log-log rank-frequency slope of the corpus's
  // top-ZIPF_K vocabulary (natural text sits near slope −1; a corpus of
  // templates or spam drifts away — a corpus-health number). The rank
  // window runs over the ZIPF_K-row TakeOrdered result (bounded
  // constant — the bpe_merges waiver pattern), never the vocabulary.
  // Determinism: ln(rank)/ln(cnt) go to BIGINT micro per point, the
  // five regression sums are exact integers, and the closed-form
  // slope/intercept mirror in one op order (the series_acf discipline).
  // -------------------------------------------------------------------
  private val ZIPF_K = 100

  val textZipf: QueryDef = QueryDef(
    build = (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val top = docs(s, d)
        .select(explode(expr(toksExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(ZIPF_K)
      val w = Window.orderBy(col("cnt").desc, col("token"))
      val pts = top
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("xm", floor(log(col("rank").cast("double")) * lit(1000000.0) + lit(0.5)))
        .withColumn("ym", floor(log(col("cnt").cast("double")) * lit(1000000.0) + lit(0.5)))
      val dec = (c: Column) => c.cast("decimal(28,0)")
      val sums = pts.agg(count(lit(1)).as("n"),
        sum(dec(col("xm"))).as("sx"), sum(dec(col("ym"))).as("sy"),
        sum(dec(col("xm")) * dec(col("ym"))).as("sxy"),
        sum(dec(col("xm")) * dec(col("xm"))).as("sxx"))
      val nd = col("n").cast("double")
      def dd(c: String) = col(c).cast("double")
      val sl = (nd * dd("sxy") - dd("sx") * dd("sy")) / (nd * dd("sxx") - dd("sx") * dd("sx"))
      sums.select(col("n").as("n_points"),
        floor(sl * lit(1000000.0) + lit(0.5)).as("slope_micro"),
        floor((dd("sy") - sl * dd("sx")) / nd + lit(0.5)).as("intercept_micro"))
    },
    oracle = Some(
      s"""WITH counts AS (
         |  SELECT u.tok AS token, count(*)::BIGINT AS cnt
         |  FROM (SELECT $toksSql AS toks FROM documents), unnest(toks) AS u(tok)
         |  GROUP BY u.tok
         |), top AS (
         |  SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT $ZIPF_K
         |), pts AS (
         |  SELECT CAST(floor(ln((row_number() OVER (ORDER BY cnt DESC, token))::DOUBLE)
         |              * 1000000.0 + 0.5) AS BIGINT) AS xm,
         |         CAST(floor(ln(cnt::DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS ym
         |  FROM top
         |), sums AS (
         |  SELECT count(*)::BIGINT AS n,
         |         sum(xm::HUGEINT) AS sx, sum(ym::HUGEINT) AS sy,
         |         sum(xm::HUGEINT * ym) AS sxy, sum(xm::HUGEINT * xm) AS sxx
         |  FROM pts
         |)
         |SELECT n AS n_points,
         |       CAST(floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
         |                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |                  * 1000000.0 + 0.5) AS BIGINT) AS slope_micro,
         |       CAST(floor((sy::DOUBLE - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
         |                   / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * sx::DOUBLE)
         |                  / n::DOUBLE + 0.5) AS BIGINT) AS intercept_micro
         |FROM sums""".stripMargin),
    doc = "X4 Zipf rank-frequency fit over the top-100 vocabulary (log-log least squares on exact micro-ints)")

  // -------------------------------------------------------------------
  // X4 source language drift — KL(source ‖ corpus) over the labeled
  // language distribution, per source: the curation signal that flags a
  // source whose language mix diverges from the corpus (scraper drift,
  // mislabeled feeds) before it skews the trained mixture. Terms
  // p_s·ln(p_s/p_c) are per-(source, lang) scalars rounded to BIGINT
  // micro before the per-source sum; the lang-marginal and corpus-total
  // sides are broadcast-sized (|langs|, 1). Two grouped aggregates over
  // one corpus scan.
  // -------------------------------------------------------------------
  val sourceLangKl: QueryDef = QueryDef(
    build = (s, d) => {
      val doc = docs(s, d).select(col("source"), col("lang"))
      val sl = doc.groupBy("source", "lang").agg(count(lit(1)).as("cnt_sl"))
      val srcTot = sl.groupBy("source").agg(sum("cnt_sl").as("n_s"))
      val langTot = sl.groupBy("lang").agg(sum("cnt_sl").as("cnt_l"))
      val tot = sl.agg(sum("cnt_sl").as("n"))
      val ps = col("cnt_sl").cast("double") / col("n_s")
      val pc = col("cnt_l").cast("double") / col("n")
      val term = floor(ps * log(ps / pc) * lit(1000000.0) + lit(0.5))
      sl.join(srcTot, "source")
        .join(broadcast(langTot), "lang")
        .crossJoin(broadcast(tot))
        .withColumn("tm", term)
        .groupBy("source").agg(max("n_s").as("n_docs"), sum("tm").as("kl_micro"))
        .orderBy("source")
    },
    oracle = Some(
      """WITH sl AS (
        |  SELECT source, lang, count(*)::BIGINT AS cnt_sl FROM documents GROUP BY source, lang
        |), st AS (
        |  SELECT source, sum(cnt_sl)::BIGINT AS n_s FROM sl GROUP BY source
        |), lt AS (
        |  SELECT lang, sum(cnt_sl)::BIGINT AS cnt_l FROM sl GROUP BY lang
        |), tt AS (
        |  SELECT sum(cnt_sl)::BIGINT AS n FROM sl
        |), terms AS (
        |  SELECT sl.source, st.n_s,
        |         CAST(floor((sl.cnt_sl::DOUBLE / st.n_s)
        |              * ln((sl.cnt_sl::DOUBLE / st.n_s) / (lt.cnt_l::DOUBLE / tt.n))
        |              * 1000000.0 + 0.5) AS BIGINT) AS tm
        |  FROM sl JOIN st USING (source) JOIN lt USING (lang) CROSS JOIN tt
        |)
        |SELECT source, max(n_s) AS n_docs, sum(tm)::BIGINT AS kl_micro
        |FROM terms GROUP BY source ORDER BY source""".stripMargin),
    doc = "X4 per-source language-mix drift: KL(source ‖ corpus) in exact micro terms")

  // -------------------------------------------------------------------
  // X4 corpus health report — the one-call curation dashboard: the
  // counts a pipeline owner reads FIRST (size, vocabulary of sources/
  // langs, exact-dup mass, quality pass rate, mean length), as tidy
  // (metric, value) rows so it feeds any plotting/alerting layer
  // without schema work. One corpus scan feeds a single multi-aggregate
  // (partial-agg friendly); the exact-dup mass adds one sha256 groupBy;
  // `stack` pivots the 1×N row to N×2 — no per-metric passes, no
  // collect. All values are exact BIGINTs (ratios as ppm with
  // truncating integer division).
  // -------------------------------------------------------------------
  val corpusReport: QueryDef = QueryDef(
    build = (s, d) => {
      // pass predicate = text_quality's keep EXACTLY: the same micro-int
      // rounding (floor(x·1e6+0.5) ≥ 500000, qualityMicroFrame's rule) —
      // an unrounded ≥ 0.5 here would let a doc with quality in
      // [0.4999995, 0.5) disagree with the gate this dashboard
      // summarizes. greatest(n, 1) denominators: zero-token docs score
      // 0, never NaN (both engines, same guard).
      val base = docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("nd", greatest(col("n_tokens"), lit(1L)))
        .withColumn("distinct_ratio", size(array_distinct(col("toks"))).cast("double") / col("nd"))
        .withColumn("stop_ratio",
          size(expr(s"filter(toks, t -> t IN ${inList(stopwords("en"))})")).cast("double") / col("nd"))
        .withColumn("len_score", least(lit(1.0), col("n_tokens").cast("double") / 100.0))
        .withColumn("pass", (expr(
          "CAST(floor((0.4D * len_score + 0.4D * distinct_ratio + 0.2D * stop_ratio) " +
            "* 1000000 + 0.5D) AS BIGINT)") >= lit(500000L)).cast("long"))
      val agg = base.agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("source").as("n_sources"),
        countDistinct("lang").as("n_langs"),
        sum("pass").as("n_quality_pass"))
      val dups = base.select(sha2(col("text"), 256).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(when(col("c") > 1, col("c")).otherwise(0L)), lit(0L)).as("n_exact_dup_docs"))
      agg.crossJoin(dups) // both sides are single aggregate rows
        .select(expr(
          """stack(8,
            |  'n_docs', n_docs,
            |  'n_tokens', n_tokens,
            |  'n_chars', n_chars,
            |  'n_sources', n_sources,
            |  'n_langs', n_langs,
            |  'n_exact_dup_docs', n_exact_dup_docs,
            |  'quality_pass_ppm', n_quality_pass * 1000000 DIV n_docs,
            |  'mean_doc_tokens', n_tokens DIV n_docs) AS (metric, value)""".stripMargin))
        .orderBy("metric")
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, source, lang, n_chars, $toksSql AS toks FROM documents
         |), m AS (
         |  SELECT doc_id, text, source, lang, n_chars,
         |         len(toks)::BIGINT AS n_tokens,
         |         (CASE WHEN CAST(floor((0.4 * least(1.0, len(toks)::DOUBLE / 100.0)
         |             + 0.4 * (len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1))
         |             + 0.2 * (len(list_filter(toks, t -> t IN ${inList(stopwords("en"))}))::DOUBLE / greatest(len(toks), 1)))
         |             * 1000000 + 0.5) AS BIGINT) >= 500000 THEN 1 ELSE 0 END)::BIGINT AS pass
         |  FROM t
         |), a AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
         |         sum(n_chars)::BIGINT AS n_chars,
         |         count(DISTINCT source)::BIGINT AS n_sources,
         |         count(DISTINCT lang)::BIGINT AS n_langs,
         |         sum(pass)::BIGINT AS n_quality_pass
         |  FROM m
         |), dd AS (
         |  SELECT coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0)::BIGINT AS n_exact_dup_docs
         |  FROM (SELECT sha256(text) AS h, count(*)::BIGINT AS c FROM m GROUP BY 1)
         |)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM a
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM a
         |  UNION ALL SELECT 'n_chars', n_chars FROM a
         |  UNION ALL SELECT 'n_sources', n_sources FROM a
         |  UNION ALL SELECT 'n_langs', n_langs FROM a
         |  UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM dd
         |  UNION ALL SELECT 'quality_pass_ppm', a.n_quality_pass * 1000000 // a.n_docs FROM a
         |  UNION ALL SELECT 'mean_doc_tokens', a.n_tokens // a.n_docs FROM a
         |) ORDER BY metric""".stripMargin),
    doc = "X4 corpus health report: one-call (metric, value) dashboard — size, source/lang vocabulary, exact-dup mass, quality pass rate")

  val defs: Map[String, QueryDef] = Map(
    "quality_gate"     -> qualityGate,
    "text_entropy"     -> textEntropy,
    "text_zipf"        -> textZipf,
    "source_lang_kl"   -> sourceLangKl,
    "quality_gopher"   -> qualityGopher,
    "chunk_embed"      -> chunkEmbed,
    "chunk_topk"       -> chunkTopk,
    "doc_embed"        -> docEmbed,
    "chunk_split"      -> chunkSplit,
    "vocab_topk"       -> vocabTopK,
    "text_stats"       -> textStats,
    "text_repetition"  -> repetition,
    "text_tokens"      -> tokenCounts,
    "text_bigrams"     -> topBigrams,
    "text_lang"        -> textLang,
    "text_quality"     -> textQuality,
    "corpus_report"    -> corpusReport,
    "text_fingerprint" -> fingerprint,
    "text_tfidf"       -> tfidf,
    "text_redact"      -> redact,
    "source_stats"     -> sourceStats,
    "lm_bigram"        -> lmBigram,
    "bpe_encode"       -> bpeEncode,
    "bpe_merges"       -> bpeMerges,
    "lm_score"         -> lmScore,
    "lm_calibration"   -> lmCalibration,
    "lm_crossval"      -> lmCrossval,
  )
}
