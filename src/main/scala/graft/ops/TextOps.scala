package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, n-gram language ID, and document fingerprinting —
  * the LLM-training-pipeline surface (BASELINE.json north_star). All
  * per-row array expressions (no shuffle): at 100 TB these run embedded
  * in the scan stage under whole-stage codegen.
  *
  * Every computation is mirrored token-for-token in the DuckDB oracle
  * (split on single space, same hash formula, same tie-breaks).
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Fixed stopword list for quality scoring (shared with oracle SQL). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  /** Curation quality floor shared by corpus_curate / curate_neardup. */
  private val QualityMin = 0.44

  /** The 80/10/10 split assignment as a pure function of the document
    * id — ONE definition (with its SQL twin) for q_split_train,
    * corpus_curate and curate_neardup.
    */
  private def splitCol(docId: Column): Column = {
    val u = graft.Cols.unitHash(docId.cast("string"))
    when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
  }

  private def splitSql(id: String): String = {
    val u = graft.OracleSql.unitHash(s"CAST($id AS VARCHAR)")
    s"CASE WHEN $u < 0.8 THEN 'train' WHEN $u < 0.9 THEN 'val' ELSE 'test' END"
  }

  /** Sequence-packing knobs: tokens per packed bin, and the number of
    * independent packing shards per language (each shard packs its own
    * contiguous stream, which is what keeps the packing window
    * partition-parallel at scale).
    */
  val PackBudget = 512
  val PackShards = 8

  /** RAG chunking knobs: window tokens and stride tokens (overlap =
    * ChunkWin - ChunkStride). Production tunes per retriever; the
    * explode shape is independent of the values.
    */
  val ChunkWin = 64
  val ChunkStride = 48

  /** Cross-validation fold count for `q_cv_folds`. */
  val CvFolds = 5

  /** Training-shard count for `text_shuffle_shard` (production sizes
    * this to the writer parallelism; the plan shape is independent).
    */
  val NumShards = 16

  /** Per-language cutoff-estimation sample size for text_ccnet_buckets:
    * the k smallest-hash docs per language stand in for CCNet's
    * distribution-estimation subset. Bounded by construction — the
    * cutoff relation is O(langs · k) at any corpus size.
    */
  val CcnetSampleK = 99

  /** Per-source document cap for `q_source_cap` (per-domain quota). */
  val SourceCap = 15

  /** Hashed-unigram feature-bucket count for the DSIR-style importance
    * queries (production uses 10⁴–10⁶ buckets; the ratio-table shape is
    * count-independent).
    */
  val DsirBuckets = 64

  /** Per-language signature token sets for the n-gram language-ID
    * heuristic. Deterministic argmax, ties broken by this fixed order.
    */
  val langSignatures: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "de" -> Seq("data", "table", "row"),
    "es" -> Seq("query", "scan", "filter"),
    "fr" -> Seq("join", "merge", "group"),
    "zh" -> Seq("spark", "stream", "batch"))

  private def tokens(c: Column): Column = split(c, " ")

  /** The language-ID argmax as ONE definition with its SQL twin —
    * shared by `text_langid` and `q_lang_confusion` so the per-doc
    * prediction and the confusion matrix can never disagree.
    * Deterministic: ties resolve to the earliest entry in
    * [[langSignatures]].
    */
  private lazy val predLangSql: String = {
    val toks = "string_split(text, ' ')"
    val scores = langSignatures.map { case (l, ws) => l -> sqlCountIn(toks, ws) }
    scores.zipWithIndex.map { case ((l, sc), i) =>
      val laterGte = scores.drop(i + 1).map { case (_, sc2) => s"$sc >= $sc2" }
      if (laterGte.isEmpty) s"ELSE '$l'"
      else s"WHEN ${laterGte.mkString(" AND ")} THEN '$l'"
    }.mkString("CASE ", " ", " END")
  }

  private def predLangCol: Column = {
    val toks = tokens(col("text"))
    val scores = langSignatures.map { case (l, ws) => l -> countIn(toks, ws) }
    scores.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((l, sc), i), acc) =>
        val later = scores.drop(i + 1)
        if (later.isEmpty) acc
        else when(later.map { case (_, sc2) => sc >= sc2 }.reduce(_ && _), lit(l))
          .otherwise(acc)
    }
  }

  /** Adjacent word-bigram pairs — ONE definition (with its SQL twin)
    * shared by `text_ngram_pmi` and `text_rep_ratio`, so the
    * collocation and repetition metrics can never disagree on what a
    * bigram is (the same single-sourcing discipline as
    * [[DedupOps.shingles3]]).
    */
  private def bigramPairs(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1), i =>
      struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2")))

  /** SQL twin of [[bigramPairs]]: a (w1, w2) relation over `src`, which
    * must expose a `tokens` list column; `keyCols` (e.g. `"doc_id, "`)
    * is carried through.
    */
  private def bigramSql(src: String, keyCols: String = ""): String =
    s"""SELECT ${keyCols}tokens[i] AS w1, tokens[i+1] AS w2
       |FROM (SELECT ${keyCols}tokens, unnest(range(1, len(tokens))) AS i FROM $src) x""".stripMargin

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t))).cast(LongType)

  private def sqlCountIn(toksSql: String, words: Seq[String]): String =
    s"CAST(len(list_filter($toksSql, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT)"

  /** THE document quality score — 0.5*stop_ratio + 0.5*alpha_ratio.
    * Single definition (with its SQL twin below) shared by
    * `text_quality` and `corpus_curate`, so the curation filter can
    * never drift from the published score.
    */
  private[graft] def qualityCol(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast(LongType)
    // zero-length guard: 0/0 is Spark NULL but DuckDB NaN (non-ANSI
    // divide vs IEEE) — NULLIF-style divisor makes an empty document's
    // quality NULL on BOTH engines (and NULL fails every quality
    // floor, so empties never survive curation)
    val nChars = when(length(text) === 0, lit(null)).otherwise(length(text))
    lit(0.5) * (countIn(toks, stopwords).cast(DoubleType) / nTok) +
      lit(0.5) * (length(regexp_replace(text, "[^a-z]", ""))
        .cast(DoubleType) / nChars)
  }

  private val qualitySql: String = {
    val toks = "string_split(text, ' ')"
    s"""(0.5 * (CAST(${sqlCountIn(toks, stopwords)} AS DOUBLE) / len($toks))
       | + 0.5 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / NULLIF(length(text), 0)))""".stripMargin
  }

  /** CCNet tercile bucketing over a (doc_id, lang, text) relation —
    * the body of `text_ccnet_buckets`, factored so MixtureBucketsSpec
    * can pin the cutoff-less-language contract on synthetic data: a
    * language whose every document has NULL quality yields no cutoff
    * row, and the LEFT cutoff attach routes its documents to 'tail'
    * (every document is bucketed exactly once, never dropped).
    */
  private[graft] def ccnetBuckets(d: DataFrame): DataFrame = {
    val negH =
      -(graft.Cols.hex60(concat(lit("ccnet|"), col("doc_id").cast("string")))
        .cast(DoubleType))
    val base = d.select(col("doc_id"), col("lang"),
      qualityCol(col("text")).as("quality"), negH.as("negh"))
      .persist()
    val topk = udaf(new graft.functions.TopKAgg(CcnetSampleK))
    val sampleIds = base.filter(col("quality").isNotNull)
      .groupBy("lang").agg(topk(col("negh"), col("doc_id")).as("cands"))
      .select(col("lang"), explode(col("cands.id")).as("doc_id"))
    val qs = base.join(broadcast(sampleIds), Seq("lang", "doc_id"))
      .groupBy("lang").agg(sort_array(collect_list(col("quality"))).as("qs"))
    val m = size(col("qs"))
    val cut = qs.select(col("lang"),
      element_at(col("qs"), (m - ceil(m / lit(3.0)) + 1).cast("int")).as("c1"),
      element_at(col("qs"), (m - ceil(m * 2 / lit(3.0)) + 1).cast("int")).as("c2"))
    base.join(broadcast(cut), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("quality"),
        when(col("quality") >= col("c1"), "head")
          .when(col("quality") >= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  val queries: Seq[Q] = Seq(

    // ── token / char statistics ─────────────────────────────────────
    Q("text_stats",
      """SELECT doc_id, lang,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
        |FROM documents""".stripMargin) { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        length(col("text")).cast(LongType).as("chars"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).cast(LongType).as("n_uniq"),
        length(regexp_replace(col("text"), " ", "")).cast(LongType).as("n_nonspace"))
    },

    // ── quality scoring: stopword ratio / alpha ratio / token length ─
    Q("text_quality", {
      val toks = "string_split(text, ' ')"
      s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(${sqlCountIn(toks, stopwords)} AS DOUBLE) / len($toks) AS stop_ratio,
         |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($toks) AS avg_token_len,
         |  $qualitySql AS quality
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      val toks = tokens(col("text"))
      val nTok = size(toks).cast(LongType)
      val stopRatio = countIn(toks, stopwords).cast(DoubleType) / nTok
      val alphaRatio =
        length(regexp_replace(col("text"), "[^a-z]", "")).cast(DoubleType) / length(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        stopRatio.as("stop_ratio"),
        alphaRatio.as("alpha_ratio"),
        (length(regexp_replace(col("text"), " ", "")).cast(DoubleType) / nTok).as("avg_token_len"),
        qualityCol(col("text")).as("quality"))
    },

    // ── language ID: signature-set scoring, deterministic argmax ────
    Q("text_langid", {
      s"""SELECT doc_id, lang, $predLangSql AS pred_lang,
         |  (($predLangSql) = lang) AS hit
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      val pred = predLangCol
      docs(s, dir).select(col("doc_id"), col("lang"),
        pred.as("pred_lang"), (pred === col("lang")).as("hit"))
    },

    // ── language-ID confusion matrix (curation QA) ──────────────────
    // Declared vs detected language counts with per-declared-language
    // rates — the QA view that decides whether the langid dial is safe
    // to filter on. The SAME single-sourced classifier as text_langid;
    // one hash agg to a |langs|²-bounded relation, rate attached by a
    // window over that tiny relation.
    Q("q_lang_confusion",
      s"""WITH c AS (
         |  SELECT lang, $predLangSql AS pred_lang, count(*) AS n
         |  FROM documents GROUP BY lang, $predLangSql)
         |SELECT lang, pred_lang, n,
         |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
         |    AS rate
         |FROM c""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      docs(s, dir)
        .groupBy(col("lang"), predLangCol.as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rate", col("n").cast(DoubleType) / sum("n").over(w))
    },

    // ── BPE-ish subword token counting ──────────────────────────────
    // A byte-pair-style pre-tokenizer regex (letter runs | digit runs |
    // single punctuation — the character-class core of GPT-2's pattern,
    // kept to constructs whose leftmost-longest semantics are identical
    // in Java regex and RE2) counts the units a subword tokenizer would
    // split further. Whitespace-token counts sit in text_stats; the two
    // together give the token-budget estimate a training pipeline needs.
    Q("text_tokens_bpe", {
      val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe,
         |  CAST(len(list_filter(regexp_extract_all(text, '$pat'),
         |        t -> regexp_matches(t, '^[A-Za-z]+$$'))) AS BIGINT) AS n_word,
         |  CAST(len(list_filter(regexp_extract_all(text, '$pat'),
         |        t -> regexp_matches(t, '^[0-9]+$$'))) AS BIGINT) AS n_num,
         |  CAST(COALESCE(list_sum(list_transform(regexp_extract_all(text, '$pat'),
         |        t -> length(t))), 0) AS BIGINT) AS n_chars_tokenized
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      // one-pass native scan (BpeTokenStatsExpr) — the composed
      // regexp_extract_all + three interpreted HOF lambdas
      // materialized the token array four expressions deep
      val st = org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.BpeTokenStatsExpr(
          org.apache.spark.sql.GraftColumnShim.expression(col("text"))))
      docs(s, dir).select(col("doc_id"), st.as("st"))
        .select(col("doc_id"), col("st.n_bpe"), col("st.n_word"),
          col("st.n_num"), col("st.n_chars_tokenized"))
    },

    // ── edit-distance similarity on planted near-duplicate pairs ────
    // Levenshtein is exact integer arithmetic in both engines; pairs
    // are each 10th doc vs its 4/5-token truncation (the same planted
    // near-dups the LSH dedup families hunt), so the distances also
    // characterize what "near-duplicate" means in this corpus.
    Q("text_editdist",
      s"""SELECT doc_id,
         |  CAST(levenshtein(text, ttext) AS BIGINT) AS edit_dist,
         |  CAST(length(text) AS BIGINT) AS len_orig,
         |  CAST(length(ttext) AS BIGINT) AS len_trunc
         |FROM (
         |  SELECT doc_id, text,
         |    ${DedupOps.truncatedTextSql} AS ttext
         |  FROM documents WHERE doc_id % 10 = 0) t""".stripMargin) { (s, dir) =>
      // DedupOps.truncatedText: the SAME planted-near-dup transform the
      // LSH dedup families hunt — this query characterizes its distances.
      // The truncation is a string PREFIX of the original by
      // construction (joining the first k tokens with the same
      // separator prefixes joining all of them), and Levenshtein to a
      // prefix is exactly the deleted-suffix length:
      // levenshtein(a, b) = |a| - |b| whenever b is a prefix of a
      // (<= by |a|-|b| deletions; >= because any edit script must
      // account for the length gap). So the O(|a|·|b|) DP per row —
      // the whole cost of this query at scale, ~1 Mcell per document
      // pair — collapses to a length difference with bit-identical
      // output (EditDistPrefixSpec property-pins the identity against
      // Spark's own levenshtein on adversarial token lists; the
      // DuckDB oracle still runs the real levenshtein).
      val trunc = DedupOps.truncatedText(col("text"))
      docs(s, dir).filter(col("doc_id") % 10 === 0).select(
        col("doc_id"),
        (length(col("text")) - length(trunc)).cast(LongType).as("edit_dist"),
        length(col("text")).cast(LongType).as("len_orig"),
        length(trunc).cast(LongType).as("len_trunc"))
    },

    // ── deterministic train/val/test split ──────────────────────────
    // The reproducible-sampling operator every training pipeline needs:
    // the split is a pure function of the document id's hash (no RNG,
    // no engine-specific TABLESAMPLE), so any engine — and any re-run —
    // assigns every document to the same 80/10/10 bucket.
    Q("q_split_train",
      s"""SELECT split, lang, count(*) AS n FROM (
         |  SELECT lang, ${splitSql("doc_id")} AS split
         |  FROM documents) t
         |GROUP BY split, lang""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("lang"), splitCol(col("doc_id")).as("split"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
    },

    // ── corpus-statistics term weighting (IDF-shaped two-pass) ──────
    // Per-doc top-3 terms by rarity-weighted frequency: tf * 1e6 / df,
    // the log-free integer-exact surrogate of tf-idf (ln() can differ
    // in the last ulp between libm implementations, so the weight stays
    // rational). The SHAPE is the point at scale: one explode + two
    // hash aggregations + one token-keyed join + a per-doc top-k — the
    // classic corpus-statistics pipeline (rare-term extraction,
    // vocabulary pruning) with no driver-side state.
    Q("q_term_weights",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) t GROUP BY token),
        |j AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |         CAST(tf.tf * 1000000 AS DOUBLE) / df.df AS weight
        |  FROM tf JOIN df ON tf.token = df.token)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, token, tf, df, weight FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |                               ORDER BY weight DESC, token) AS rk
        |  FROM j) t
        |WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")).persist()
      // df derived from tf (exactly one row per (doc, token) there):
      // one explode and one fewer shuffle than re-aggregating tok
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val j = tf.join(df, "token")
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          ((col("tf") * 1000000L).cast(DoubleType) / col("df")).as("weight"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("weight").desc, col("token"))
      j.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "token", "tf", "df", "weight")
    },

    // ── PII redaction ───────────────────────────────────────────────
    // The scrubbing pass every training corpus needs before the
    // tokenizer sees it. The fixture text has no natural PII, so every
    // 5th doc is augmented with a deterministic email + phone (same
    // synthesis in the oracle), then ALL docs go through the redactor.
    // Patterns stay inside the regex subset whose leftmost-longest
    // semantics are identical in Java regex and RE2: character classes
    // and bounded/unbounded counts, no backrefs or lookaround. Per-row
    // expression in the scan stage — no shuffle at any scale.
    Q("text_pii_redact", {
      val email = "[a-z0-9._]+@[a-z0-9.]+"
      val phone = "[0-9]{3}-[0-9]{4}"
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(aug, '$email', '<EMAIL>', 'g'),
         |                 '$phone', '<PHONE>', 'g') AS clean,
         |  CAST(len(regexp_extract_all(aug, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(aug, '$phone')) AS BIGINT) AS n_phone
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |           || '@mail.example.com or call 555-'
         |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE text END AS aug
         |  FROM documents) t""".stripMargin
    }) { (s, dir) =>
      val email = "[a-z0-9._]+@[a-z0-9.]+"
      val phone = "[0-9]{3}-[0-9]{4}"
      val aug = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text"))
      docs(s, dir).select(col("doc_id"), aug.as("aug")).select(
        col("doc_id"),
        regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"),
          phone, "<PHONE>").as("clean"),
        size(regexp_extract_all(col("aug"), lit(email), lit(0)))
          .cast(LongType).as("n_email"),
        size(regexp_extract_all(col("aug"), lit(phone), lit(0)))
          .cast(LongType).as("n_phone"))
    },

    // ── stratified (rebalancing) sampling ───────────────────────────
    // Per-stratum rates — downsample the dominant language, keep the
    // rest — as a pure function of the doc id's hash: no RNG, no
    // engine-specific TABLESAMPLE, identical membership on any engine
    // or re-run. Scan-stage filter; at scale this never shuffles.
    Q("q_sample_stratified", {
      val u = graft.OracleSql.unitHash("'smp|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, $u AS u,
         |    CASE lang WHEN 'en' THEN 0.05 ELSE 0.2 END AS rate
         |  FROM documents) t
         |WHERE u < rate""".stripMargin
    }) { (s, dir) =>
      val u = graft.Cols.unitHash(concat(lit("smp|"), col("doc_id").cast("string")))
      val rate = when(col("lang") === "en", lit(0.05)).otherwise(lit(0.2))
      docs(s, dir).filter(u < rate).select("doc_id", "lang")
    },

    // ── fixed-size per-stratum sampling ─────────────────────────────
    // Exactly K docs per language, selected by hash order — the
    // "give me 1000 eval docs per domain" operator. Ranking by a pure
    // hash of the id is a uniform draw without replacement that any
    // engine reproduces; ties broken by doc_id. One shuffle on the
    // stratum key; the per-stratum sort is window-local.
    Q("q_sample_fixed_k", {
      val u = graft.OracleSql.unitHash("'fk|' || CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY $u, doc_id) AS rk
         |  FROM documents) t
         |WHERE rk <= 5""".stripMargin
    }) { (s, dir) =>
      val u = graft.Cols.unitHash(concat(lit("fk|"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(u, col("doc_id"))
      docs(s, dir)
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 5)
        .select("doc_id", "lang", "rk")
    },

    // ── vocabulary build with cumulative coverage ───────────────────
    // Top-20 tokens by frequency plus the cumulative share of the
    // corpus they cover — the vocabulary-pruning / OOV-budget operator.
    // Scale shape: explode + one hash agg to vocab-sized counts, then
    // TakeOrdered(20) — the 20-row window runs on the head only, and
    // its running sum equals the global one because the top-20 are a
    // prefix of the global (n DESC, token) order.
    Q("text_vocab",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |r AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token) AS rk,
        |    sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n) OVER () AS total
        |  FROM cnt)
        |SELECT CAST(rk AS BIGINT) AS rk, token, n,
        |       CAST(cum AS DOUBLE) / total AS coverage
        |FROM r WHERE rk <= 20""".stripMargin) { (s, dir) =>
      val cnt = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .persist()
      val total = cnt.agg(sum("n").as("total"))
      val top = cnt.orderBy(col("n").desc, col("token")).limit(20)
      val ord = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      top.crossJoin(broadcast(total))
        .withColumn("rk", row_number().over(ord).cast(LongType))
        .withColumn("coverage",
          sum("n").over(ord.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
            .cast(DoubleType) / col("total"))
        .select("rk", "token", "n", "coverage")
    },

    // ── bigram association (PMI-shaped collocation mining) ──────────
    // score = P(a,b) / (P(a)P(b)) in the log-free rational form
    // (n_ab * N) / (n_a * n_b): each count cast to double FIRST (an
    // int64 product n_ab*N overflows at ~1e13-bigram corpora; the
    // double product is one correctly-rounded IEEE multiply, identical
    // in both engines), one division — where ln() would drift in the
    // last ulp between libm implementations. Scale shape:
    // explode to bigrams, two vocab-sized hash aggs, two hash joins on
    // the token key — no window over the corpus, no driver state.
    Q("text_ngram_pmi",
      s"""WITH tok AS (
         |  SELECT string_split(text, ' ') AS tokens FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (${bigramSql("tok")}),
         |bc AS (SELECT w1, w2, count(*) AS n_ab,
         |              sum(count(*)) OVER () AS n_tot
         |       FROM bg GROUP BY w1, w2),
         |uc AS (SELECT unnest(tokens) AS token FROM tok),
         |un AS (SELECT token, count(*) AS n FROM uc GROUP BY token)
         |SELECT w1, w2, n_ab,
         |       a.n AS n_a, b.n AS n_b,
         |       (CAST(n_ab AS DOUBLE) * CAST(n_tot AS DOUBLE))
         |         / (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS score
         |FROM bc JOIN un a ON bc.w1 = a.token JOIN un b ON bc.w2 = b.token
         |WHERE n_ab >= 5""".stripMargin) { (s, dir) =>
      val toks = tokens(col("text"))
      val tok = docs(s, dir).filter(size(toks) >= 2)
        .select(toks.as("tokens")).persist()
      val bg = tok.select(explode(bigramPairs(col("tokens"))).as("p"))
        .select(col("p.w1"), col("p.w2"))
      // n_tot via a 1-row agg + broadcast, NOT a global window: the
      // bigram-count relation is vocab^2-sized and a partitionless
      // window would collapse it onto one task at scale
      val cnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab")).persist()
      val bc = cnt.crossJoin(broadcast(cnt.agg(sum("n_ab").as("n_tot"))))
      val un = tok.select(explode(col("tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      bc.join(un.select(col("token").as("w1"), col("n").as("n_a")), "w1")
        .join(un.select(col("token").as("w2"), col("n").as("n_b")), "w2")
        .filter(col("n_ab") >= 5)
        .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
          ((col("n_ab").cast(DoubleType) * col("n_tot").cast(DoubleType)) /
            (col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType))).as("score"))
    },

    // ── end-to-end corpus curation (the flagship LLM-data pipeline) ─
    // quality-filter -> exact-dedup (keep min doc_id per digest) ->
    // deterministic split assignment, in ONE pass shape: per-row
    // expressions in the scan stage, a single hash shuffle on the
    // content digest, and a hash-free split function — the whole
    // curation pipeline costs one shuffle at any corpus size. Corpus:
    // documents + exact copies of every 7th doc (same augmentation as
    // dedup_exact), so the dedup stage provably drops rows.
    Q("corpus_curate", {
      val toks = "string_split(text, ' ')"
      s"""WITH aug AS (
         |  ${DedupOps.dupAugSql(Seq("lang", "text"))}),
         |q AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality
         |  FROM aug),
         |d AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM q WHERE quality >= $QualityMin)
         |SELECT doc_id, lang, n_tokens, quality,
         |  ${splitSql("doc_id")} AS split
         |FROM d WHERE rn = 1""".stripMargin
    }) { (s, dir) =>
      val aug = DedupOps.dupAug(s, dir, Seq("lang", "text"))
      val nTok = size(tokens(col("text"))).cast(LongType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      aug.select(col("doc_id"), col("lang"), col("text"),
        nTok.as("n_tokens"), qualityCol(col("text")).as("quality"))
        .filter(col("quality") >= QualityMin)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
          splitCol(col("doc_id")).as("split"))
    },

    // ── near-dup curation: the composed production dedup pipeline ───
    // MinHash pairs -> connected components -> keep ONLY each group's
    // canonical (min-id) member -> quality filter -> split assignment,
    // over the near-dup-augmented corpus. Every stage reuses the
    // factored machinery (minhashPairs*, connectedComponents,
    // qualityCol, unitHash) — the point is that the library composes:
    // a real curation run is exactly this chain at 100 TB, where each
    // stage is the bucketed/one-shuffle shape proven by its own query.
    Q("curate_neardup", {
      s"""WITH pairs AS (${DedupOps.minhashPairsSql}),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |comp AS (WITH ${DedupOps.componentsSql("edges")}),
         |corpus AS (${DedupOps.docsAugSql})
         |SELECT doc_id, n_tokens, quality,
         |  ${splitSql("doc_id")} AS split
         |FROM (
         |  SELECT c.doc_id AS doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id
         |  WHERE k.doc_id IS NULL OR k.component = c.doc_id) t
         |WHERE quality >= $QualityMin""".stripMargin
    }) { (s, dir) =>
      // star contraction, not min-label propagation: same (doc_id,
      // component) contract and oracle, O(log n) rounds instead of
      // O(diameter) — measurably faster on this pair graph and the
      // formulation the composed pipeline would ship at 100 TB
      val comp = DedupOps.starMemberMap(
        DedupOps.minhashPairsDf(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b")),
        edgesDistinctCanonical = true)
        .withColumnRenamed("doc_id", "cid")
      DedupOps.docsAug(s, dir)
        .join(comp, col("doc_id") === col("cid"), "left")
        .filter(col("cid").isNull || col("component") === col("doc_id"))
        .select(col("doc_id"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"),
          qualityCol(col("text")).as("quality"))
        .filter(col("quality") >= QualityMin)
        .withColumn("split", splitCol(col("doc_id")))
    },

    // ── near-dup curation with a QUALITY keeper policy ──────────────
    // Same composed pipeline as curate_neardup, but each near-dup
    // family keeps its HIGHEST-QUALITY member (ties -> lowest id)
    // instead of the lowest id — the keeper policy a production
    // curation run actually wants: among near-identical copies,
    // retain the cleanest text, then apply the floor and split. Scale
    // shape: the per-family argmax is a window PARTITIONED by the
    // family key — one hash shuffle, partition-parallel at any corpus
    // size, and family cardinality is bounded by the LSH contract
    // (dedup_component_sizes is the check), so no skew. Singletons
    // (no near-dup edge) are their own family via COALESCE. A family
    // whose best member still fails the quality floor is dropped
    // entirely — by design: every copy of junk is junk.
    Q("curate_rep_quality",
      s"""WITH pairs AS (${DedupOps.minhashPairsSql}),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |comp AS (WITH ${DedupOps.componentsSql("edges")}),
         |corpus AS (${DedupOps.docsAugSql}),
         |fam AS (
         |  SELECT c.doc_id AS doc_id, COALESCE(k.component, c.doc_id) AS family,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY family ORDER BY quality DESC, doc_id) AS rn
         |  FROM fam)
         |SELECT doc_id, family, n_tokens, quality,
         |  ${splitSql("doc_id")} AS split
         |FROM r WHERE rn = 1 AND quality >= $QualityMin""".stripMargin) { (s, dir) =>
      val comp = DedupOps.starMemberMap(
        DedupOps.minhashPairsDf(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b")),
        edgesDistinctCanonical = true)
        .withColumnRenamed("doc_id", "cid")
      // Per-family argmax as a TWO-PASS primitive-buffer hash
      // aggregate — the round-14 assignSem discipline. The previous
      // max(struct(qkey, negid, payload)) formulation planned as a
      // partial SORT-aggregate (struct buffers are not hash-aggregable),
      // which sorts the ENTIRE corpus relation by family inside every
      // partition before the first combine — the exact plan shape the
      // r14 fix removed from SemDeDup because it died at sf100. Pass 1:
      // max(coalesce(quality, -1)) per family — primitive buffer,
      // genuine map-side combine (coalesce ranks every real score above
      // NULL; quality is non-negative, and an all-NULL family's winner
      // fails the floor either way). Pass 2: keep the max-achievers and
      // take min(doc_id) — the oracle's ORDER BY quality DESC NULLS
      // LAST, doc_id tie-break. The family relation is NOT persisted —
      // the two passes recompute it (the assignSem discipline: two
      // linear passes beat caching corpus-width rows), and the
      // equality filter is safe because the deterministic codegen'd
      // expression re-derives bit-identical doubles on both passes
      // (spec-pinned for assignSem, same machinery); every family
      // keeps >= 1 row by construction (the max is one of its values).
      val fam = DedupOps.docsAug(s, dir)
        .join(comp, col("doc_id") === col("cid"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("family"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"),
          qualityCol(col("text")).as("quality"))
      val best = fam.groupBy("family")
        .agg(max(coalesce(col("quality"), lit(-1.0))).as("best_q"))
      val tied = fam.join(best, "family")
        .filter(coalesce(col("quality"), lit(-1.0)) === col("best_q"))
      val winner = tied.groupBy("family").agg(min(col("doc_id")).as("win_id"))
      tied.join(winner, "family")
        .filter(col("doc_id") === col("win_id"))
        .filter(col("quality") >= QualityMin)
        .select(col("doc_id"), col("family"), col("n_tokens"), col("quality"),
          splitCol(col("doc_id")).as("split"))
    },

    // ── leakage-free train/val/test split across near-dup families ──
    // The split-integrity guard an eval-honest pipeline needs: keying
    // the 80/10/10 split on doc_id puts near-duplicate copies of the
    // same text on BOTH sides of the train/test boundary (memorized
    // training text graded as held-out). Keying the SAME unit-hash
    // split on the near-dup FAMILY id sends every copy to the same
    // side by construction. Rows carry both assignments plus the
    // family-spread of the naive split (distinct naive splits within
    // the family, a partitioned window) — > 1 is exactly a leak the
    // naive split would have shipped, so the fix and the evidence for
    // it land in one relation. Scale shape: minhash pairs + star
    // components (both bucketed), one left join to attach families,
    // and family-partitioned windows — no global ordering anywhere.
    Q("curate_split_leakfree",
      s"""WITH pairs AS (${DedupOps.minhashPairsSql}),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         |comp AS (WITH ${DedupOps.componentsSql("edges")}),
         |corpus AS (${DedupOps.docsAugSql}),
         |fam AS (
         |  SELECT c.doc_id AS doc_id, COALESCE(k.component, c.doc_id) AS family
         |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id)
         |SELECT doc_id, family,
         |  CAST(count(*) OVER (PARTITION BY family) AS BIGINT) AS fam_size,
         |  ${splitSql("family")} AS split,
         |  ${splitSql("doc_id")} AS naive_split,
         |  CAST(count(DISTINCT ${splitSql("doc_id")})
         |    OVER (PARTITION BY family) AS BIGINT) AS naive_spread
         |FROM fam""".stripMargin) { (s, dir) =>
      val comp = DedupOps.starMemberMap(
        DedupOps.minhashPairsDf(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b")),
        edgesDistinctCanonical = true)
        .withColumnRenamed("doc_id", "cid")
      val wF = org.apache.spark.sql.expressions.Window.partitionBy("family")
      DedupOps.docsAug(s, dir)
        .join(comp, col("doc_id") === col("cid"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("family"))
        .withColumn("fam_size", count(lit(1)).over(wF).cast(LongType))
        .withColumn("split", splitCol(col("family")))
        .withColumn("naive_split", splitCol(col("doc_id")))
        .withColumn("naive_spread",
          size(collect_set(col("naive_split")).over(wF)).cast(LongType))
    },

    // ── deterministic global shuffle into training shards ───────────
    // The "shuffle the corpus and write N shards" step before
    // training: shard = hash(id) mod NumShards, within-shard order =
    // an independent hash (so shard assignment and intra-shard order
    // are uncorrelated), ordinal = row_number PARTITIONED by shard —
    // one hash shuffle into NumShards groups, each sorted
    // independently, no global sort. Reproducible end-to-end from ids
    // alone (reruns and backfills land every doc in the same place),
    // which is what makes the training order auditable. At 100 TB
    // NumShards is sized to executor count; the per-shard sort is the
    // only per-group cost.
    Q("text_shuffle_shard", {
      val shardH = graft.OracleSql.hex60("'shard|' || CAST(doc_id AS VARCHAR)")
      val ordH = graft.OracleSql.hex60("'ord|' || CAST(doc_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT doc_id, $shardH % $NumShards AS shard, $ordH AS ord
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
         |       AS BIGINT) AS ordinal
         |FROM h""".stripMargin
    }) { (s, dir) =>
      val h = docs(s, dir).select(col("doc_id"),
        (graft.Cols.hex60(concat(lit("shard|"), col("doc_id").cast("string")))
          % NumShards).as("shard"),
        graft.Cols.hex60(concat(lit("ord|"), col("doc_id").cast("string")))
          .as("ord"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy(col("ord"), col("doc_id"))
      h.withColumn("ordinal", row_number().over(w).cast(LongType))
        .select("doc_id", "shard", "ordinal")
    },

    // ── per-source quota cap (domain balancing) ─────────────────────
    // "No source may contribute more than SourceCap documents, keep
    // its best by quality" — the per-domain cap every web-scale corpus
    // applies so one crawl domain cannot dominate the mixture. A
    // window PARTITIONED by source (one hash shuffle on the source
    // key, each group ranked independently) — never a global sort; at
    // 100 TB the group count is the domain count, and a pathological
    // mega-domain is exactly what the cap truncates.
    Q("q_source_cap",
      s"""WITH q AS (
         |  SELECT doc_id, source, $qualitySql AS quality FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rn
         |  FROM q)
         |SELECT doc_id, source, quality, CAST(rn AS BIGINT) AS source_rank
         |FROM r WHERE rn <= $SourceCap""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
      docs(s, dir)
        .select(col("doc_id"), col("source"), qualityCol(col("text")).as("quality"))
        .withColumn("source_rank", row_number().over(w).cast(LongType))
        .filter(col("source_rank") <= SourceCap)
    },

    // ── DSIR-style hashed-unigram importance ratios ─────────────────
    // The distribution-matching table behind importance resampling
    // (Xie et al. 2023, "Data Selection for LMs via Importance
    // Resampling"): hash every token into DsirBuckets buckets and
    // compare the target distribution (here: English docs as the
    // stand-in target domain) against the raw corpus. Per-bucket
    // ratio = n_target / n_raw — exactly one division of two exact
    // counts, so cross-engine determinism is free. Scale shape: one
    // explode + one map-side-combinable hash agg to a DsirBuckets-row
    // relation; the token stream never leaves the scan stage.
    Q("q_dsir_buckets",
      s"""WITH tok AS (
         |  SELECT lang, ${graft.OracleSql.hex60("u.tok")} % $DsirBuckets AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) u(tok))
         |SELECT bucket, count(*) AS n_raw,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_target,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS ratio
         |FROM tok GROUP BY bucket""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .select(col("lang"), (graft.Cols.hex60(col("tok")) % DsirBuckets).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_target"))
        .select(col("bucket"), col("n_raw"), col("n_target"),
          (col("n_target") / col("n_raw")).as("ratio"))
    },

    // ── per-document DSIR importance weight ─────────────────────────
    // Apply the bucket-ratio table: a document's weight is the mean
    // target/raw ratio over its tokens — the log-free importance
    // proxy that keeps the oracle exact (ln is not correctly rounded
    // cross-engine; a mean of ratios preserves the resampling order).
    // Ratios are floor-quantized to int64 BEFORE the per-doc sum
    // (order-independent where a float sum would drift), one division
    // at the end. Scale shape: the bucket table is O(DsirBuckets) and
    // broadcast; the per-doc agg is one hash shuffle on doc_id.
    Q("q_dsir_weights",
      s"""WITH tok AS (
         |  SELECT doc_id, lang, ${graft.OracleSql.hex60("u.tok")} % $DsirBuckets AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) u(tok)),
         |b AS (
         |  SELECT bucket,
         |    CAST(floor((CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      / count(*)) * 1000000000.0) AS BIGINT) AS rq
         |  FROM tok GROUP BY bucket)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |  CAST(sum(b.rq) AS DOUBLE) / (count(*) * 1000000000.0) AS weight
         |FROM tok t JOIN b ON b.bucket = t.bucket
         |GROUP BY t.doc_id""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("lang"),
          (graft.Cols.hex60(col("tok")) % DsirBuckets).as("bucket"))
      val b = tok.groupBy("bucket")
        .agg(floor((sum(when(col("lang") === "en", 1L).otherwise(0L)) /
            count(lit(1))) * lit(1000000000.0))
          .cast(LongType).as("rq"))
      tok.join(broadcast(b), Seq("bucket"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (sum("rq").cast(DoubleType) /
            (count(lit(1)) * lit(1000000000.0))).as("weight"))
    },

    // ── Bloom-filter decontamination (the scale path) ───────────────
    // text_decontam's exact shingle join shuffles the full benchmark
    // n-gram set; at 100 TB the production screen is a Bloom filter:
    // the benchmark's shingles set J=3 md5-derived bit positions in an
    // M=4096-bit filter (kept as a ≤M-row distinct-position relation —
    // mergeable, broadcastable), and a corpus shingle is a
    // contamination CANDIDATE iff all J of its positions are set.
    // n_exact rides along, so every row exhibits the one-sided
    // guarantee (n_maybe >= n_exact; the gap is the FP rate the
    // M/J sizing controls). Determinism: bit positions are integer
    // arithmetic over the shared md5 hash — no floats anywhere.
    // Scale shape: filter build is one hash agg over the (small)
    // benchmark side; the probe is a per-row generator (J rows per
    // distinct shingle) + one broadcast join on the position key.
    // Shingles are md5'd to 60-bit ints AT THE SCAN (the minhash/
    // span_frac discipline — every shuffle and the broadcast Bloom/
    // bench sides carry 8-byte ints, never gram strings), and the j
    // Bloom positions derive from that ONE digest by double hashing
    // (Kirsch & Mitzenmacher 2006: pos_i = (h1 + i*h2) mod m, h2 odd
    // so it is invertible mod the power-of-two m) — one md5 per
    // shingle total where the previous formulation paid one per
    // (shingle, seed). Both engines compute identical integer
    // arithmetic on the identical digest, so cross-engine parity is
    // exact even under a 60-bit collision (unlike a string-vs-hash
    // split, a collision here changes both engines the same way).
    Q("text_decontam_bloom", {
      val m = 4096; val j = 3
      val posSql =
        s"((sh % $m) + u.j * ((((sh // $m) % $m) * 2 + 1))) % $m"
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |s0 AS (
         |  SELECT doc_id, unnest(${DedupOps.shingles3Sql}) AS shs
         |  FROM t WHERE len(tokens) >= 3),
         |s AS (SELECT DISTINCT doc_id, ${graft.OracleSql.hex60("shs")} AS sh FROM s0),
         |bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0),
         |bits AS (
         |  SELECT DISTINCT $posSql AS pos
         |  FROM bench, unnest([0, 1, 2]) u(j)),
         |probe AS (
         |  SELECT doc_id, sh, $posSql AS pos
         |  FROM s, unnest([0, 1, 2]) u(j)
         |  WHERE doc_id % 97 <> 0),
         |hit AS (
         |  SELECT p.doc_id, p.sh, count(*) AS n_set
         |  FROM probe p JOIN bits b ON b.pos = p.pos
         |  GROUP BY p.doc_id, p.sh),
         |mb AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_maybe
         |  FROM hit WHERE n_set = $j GROUP BY doc_id),
         |exact AS (
         |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM s JOIN bench ON s.sh = bench.sh
         |  WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
         |SELECT mb.doc_id, mb.n_maybe, COALESCE(exact.n_exact, 0) AS n_exact
         |FROM mb LEFT JOIN exact ON mb.doc_id = exact.doc_id""".stripMargin
    }) { (s, dir) =>
      val m = 4096; val mBits = 12; val j = 3
      require(m == (1 << mBits))
      // h2 comes from the ARGUMENT column (shiftright(sh, 12) == the
      // oracle's `sh // 4096` for the non-negative hex60 value — an
      // expr("sh div ...") here would re-resolve the name 'sh' from
      // the surrounding plan instead of using the parameter)
      def pos(sh: Column, seed: Column): Column =
        (sh % m + seed * ((shiftright(sh, mBits) % m) * 2 + 1)) % m
      // (doc_id, sh) distinct BY CONSTRUCTION: the hashed shingle
      // array is array_distinct'd per document before exploding, so
      // the oracle's `SELECT DISTINCT doc_id, sh` needs no
      // relation-level distinct() — that was a full shuffle of the
      // exploded 10x-corpus shingle stream
      val shRel = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tokens"))
        .filter(size(col("tokens")) >= 3)
        .select(col("doc_id"),
          explode(DedupOps.hashedShingles(col("tokens"), 3)).as("sh"))
        .persist()
      val bench = shRel.filter(col("doc_id") % 97 === 0).select("sh").distinct()
      // The filter IS its bit array: m=4096 bits, so the distinct set
      // positions collect into a literal mask (bounded driver-side
      // build, <= m rows — the size of the filter itself, the same
      // memory contract broadcasting a built Bloom filter implies).
      // Each probe row then tests its j positions INSIDE the scan's
      // codegen — the previous shape exploded j rows per shingle
      // through a broadcast position-join and re-aggregated them by
      // (doc_id, sh), shuffling 3x the shingle stream to recover a
      // per-row conjunction.
      val mask = new Array[Int](m)
      bench
        .select(explode(array((0 until j).map(lit): _*)).as("j"), col("sh"))
        .select(pos(col("sh"), col("j")).cast("int").as("pos"))
        .distinct().collect().foreach(r => mask(r.getInt(0)) = 1)
      val maskCol = typedlit(mask.toSeq)
      def isSet(p: Column): Column =
        element_at(maskCol, p.cast("int") + 1) === 1
      // n_set = j in the oracle counts the j probe ROWS (duplicated
      // positions included) that land on set bits — true iff every
      // position is set, i.e. this conjunction
      val mb = shRel.filter(col("doc_id") % 97 =!= 0)
        .filter((0 until j).map(i => isSet(pos(col("sh"), lit(i)))).reduce(_ && _))
        .groupBy("doc_id").agg(count(lit(1)).as("n_maybe"))
      val exact = shRel.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
      mb.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_maybe"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
    },

    // ── cross-modal curation: SemDeDup verdict + quality + split ────
    // The third curation variant (after exact-dedup corpus_curate and
    // MinHash curate_neardup): dedup on the EMBEDDING side — a doc
    // survives if its vector has no smaller-id semantic near-twin in
    // its cluster (SimilarityOps.semanticDropped, fixture contract
    // doc_id == vec_id) — then the quality floor and hash split. The
    // composition a multimodal corpus actually runs: text features
    // gate quality, embedding geometry gates redundancy. Scale shape:
    // the drop set arrives via one hash anti-join on doc_id; the
    // SemDeDup machinery keeps its Σ|cluster|² bound via the
    // corpus-adaptive k (semClusteredVectors — see the dedup_semantic
    // design note; the fixed-k formulation measured 52x at 10x data).
    Q("curate_semantic",
      s"""WITH sem AS (${graft.ops.SimilarityOps.semanticDroppedSql}),
         |q AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    $qualitySql AS quality
         |  FROM documents d
         |  WHERE NOT EXISTS (SELECT 1 FROM sem WHERE sem.vec_id = d.doc_id))
         |SELECT doc_id, n_tokens, quality, ${splitSql("doc_id")} AS split
         |FROM q WHERE quality >= $QualityMin""".stripMargin) { (s, dir) =>
      val cl = graft.ops.SimilarityOps.semClusteredVectors(s, dir).persist()
      val dropped = graft.ops.SimilarityOps.semanticDropped(cl)
        .withColumnRenamed("vec_id", "doc_id")
      docs(s, dir)
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast(LongType).as("n_tokens"),
          qualityCol(col("text")).as("quality"))
        .filter(col("quality") >= QualityMin)
        .withColumn("split", splitCol(col("doc_id")))
    },

    // ── fingerprinting: content md5 + position-weighted rolling hash ─
    Q("text_fingerprint", {
      val toks = "string_split(text, ' ')"
      s"""SELECT doc_id,
         |  md5(text) AS fp_md5,
         |  CAST(list_sum(list_transform($toks,
         |         (t, i) -> (((${graft.OracleSql.hex60("t")} % 1000003) * i) % 2147483648)))
         |       % 2147483648 AS BIGINT) AS fp_roll
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      // Same formula: token hash h = hex60(t) % 1000003, weighted by its
      // 1-based position, summed, mod 2^31. Spark's transform index is
      // 0-based, hence i+1. Each TERM reduces mod 2^31 before the sum
      // (value unchanged — mod distributes over the sum of non-negative
      // terms): the raw weighted sum grows ~1e6·n²/2, which wraps
      // Spark's int64 silently at n ≈ 4M tokens while DuckDB's
      // list_sum promotes to HUGEINT; reduced terms push the wrap
      // beyond 4e9 tokens per document — unreachable.
      val weighted = transform(tokens(col("text")), (t, i) =>
        ((graft.Cols.hex60(t) % lit(1000003L)) * (i.cast(LongType) + lit(1L)))
          % lit(2147483648L))
      docs(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("fp_md5"),
        (aggregate(weighted, lit(0L), (acc, x) => acc + x) % lit(2147483648L))
          .cast(LongType).as("fp_roll"))
    },

    // ── sequence packing (concat-and-chunk token binning) ───────────
    // The pre-training batcher's shape: documents are concatenated into
    // a token stream and cut every PackBudget tokens; each doc records
    // the bin it STARTS in and its offset there. Packing is per
    // (lang, shard) — shard = doc_id % PackShards — because a single
    // global order would serialize the window onto one task: sharded
    // packing is exactly what a distributed packer does (each worker
    // packs its own shard), and the shard key makes the window
    // partition-parallel at any corpus size. All-BIGINT arithmetic —
    // bit-identical on any engine. Oracle gotcha: DuckDB's window
    // sum(BIGINT) is HUGEINT, and int128 survives % — pandas renders
    // HUGEINT as float64 ("5.0" vs "5"), so the modulo must be CAST
    // back to BIGINT or the driver's hash compare fails.
    Q("text_seq_pack", {
      val toks = "string_split(text, ' ')"
      s"""SELECT doc_id, lang, shard, n_tokens,
         |  CAST(floor((cum - n_tokens) / ${PackBudget}.0) AS BIGINT) AS bin_id,
         |  CAST((cum - n_tokens) % $PackBudget AS BIGINT) AS bin_off
         |FROM (
         |  SELECT doc_id, lang, doc_id % $PackShards AS shard,
         |    CAST(len($toks) AS BIGINT) AS n_tokens,
         |    sum(CAST(len($toks) AS BIGINT))
         |      OVER (PARTITION BY lang, doc_id % $PackShards
         |            ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM documents) t""".stripMargin
    }) { (s, dir) =>
      val nTok = size(tokens(col("text"))).cast(LongType)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          (col("doc_id") % PackShards).as("shard"), nTok.as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / lit(PackBudget.toDouble))
            .cast(LongType).as("bin_id"),
          ((col("cum") - col("n_tokens")) % PackBudget).as("bin_off"))
    },

    // ── packing tail compaction plan ────────────────────────────────
    // Sharded packing leaves <= one partially-filled tail bin per
    // (lang, shard) stream (the runbook's stated trade-off); this is
    // the second-phase plan that repacks those tails per language into
    // full bins — the same concat-and-chunk formula telescoped one
    // level up, over a shard-count-sized relation (40 rows here, never
    // corpus-sized). A stream whose total is an exact bin multiple has
    // no tail and is absent. All-BIGINT arithmetic.
    Q("q_pack_compact", {
      val toks = "string_split(text, ' ')"
      s"""WITH t AS (
         |  SELECT lang, doc_id % $PackShards AS shard,
         |         CAST(sum(len($toks)) AS BIGINT) AS total
         |  FROM documents GROUP BY lang, doc_id % $PackShards),
         |tails AS (
         |  SELECT lang, shard, total % $PackBudget AS fill FROM t
         |  WHERE total % $PackBudget > 0),
         |c AS (
         |  SELECT lang, shard, fill,
         |    sum(fill) OVER (PARTITION BY lang ORDER BY shard
         |                    ROWS UNBOUNDED PRECEDING) AS cumf
         |  FROM tails)
         |SELECT lang, shard, fill,
         |  CAST(floor((cumf - fill) / ${PackBudget}.0) AS BIGINT) AS merge_group,
         |  CAST((cumf - fill) % $PackBudget AS BIGINT) AS merge_off
         |FROM c""".stripMargin
    }) { (s, dir) =>
      val t = docs(s, dir)
        .groupBy(col("lang"), (col("doc_id") % PackShards).as("shard"))
        .agg(sum(size(tokens(col("text"))).cast(LongType)).as("total"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("shard")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t.select(col("lang"), col("shard"), (col("total") % PackBudget).as("fill"))
        .filter(col("fill") > 0)
        .withColumn("cumf", sum("fill").over(w))
        .select(col("lang"), col("shard"), col("fill"),
          floor((col("cumf") - col("fill")) / lit(PackBudget.toDouble))
            .cast(LongType).as("merge_group"),
          ((col("cumf") - col("fill")) % PackBudget).as("merge_off"))
    },

    // ── benchmark decontamination (n-gram overlap flagging) ─────────
    // The eval-leak guard every training corpus needs: any document
    // sharing a word 3-gram with the benchmark set is flagged with its
    // overlap count. Benchmark = every 97th doc (stand-in for an eval
    // suite; production swaps in the real benchmark corpus, same
    // plumbing — the 3-gram width is the dial, 8-13 in production).
    // Scale shape: the benchmark shingle set is tiny relative to the
    // corpus -> broadcast hash join against it; corpus side is one
    // explode, one map-side-combinable count. No all-pairs anything.
    Q("text_decontam",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |s AS (
         |  SELECT doc_id, unnest(${DedupOps.shingles3Sql}) AS sh
         |  FROM t WHERE len(tokens) >= 3),
         |bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, count(*) AS n_hits
         |FROM s JOIN bench ON s.sh = bench.sh
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY s.doc_id""".stripMargin) { (s, dir) =>
      val sh = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tokens"))
        .filter(size(col("tokens")) >= 3)
        .select(col("doc_id"), explode(DedupOps.shingles3(col("tokens"))).as("sh"))
        .persist()
      val bench = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    },

    // ── repetition ratios (Gopher-style quality signals) ────────────
    // Per-doc modal-bigram share and duplicate-token ratio — the
    // repetition filters of Gopher/C4-class curation. Scale shape:
    // all three counters are per-row pure functions of the token
    // array, so ONE native scan pass (RepetitionStatsExpr: tokens
    // interned to dense ids, bigrams counted in a long-keyed map)
    // computes them with no explode, no aggregation, and no join —
    // per-row memory bounded by document length, never O(n^2).
    // top_share = modal bigram occurrences / bigram slots (n_tokens-1),
    // bounded in (0, 1] even for overlapping repeats like "a a a a";
    // dup_ratio = 1 - distinct/total tokens. Integer counts + one
    // double division each — bit-identical cross-engine.
    Q("text_rep_ratio",
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (${bigramSql("t", "doc_id, ")}),
         |bc AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY doc_id, w1, w2),
         |top AS (SELECT doc_id, max(c) AS top_cnt FROM bc GROUP BY doc_id),
         |st AS (
         |  SELECT doc_id,
         |    CAST(len(tokens) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tokens)) AS BIGINT) AS n_uniq
         |  FROM t)
         |SELECT st.doc_id, n_tokens, top_cnt,
         |  CAST(top_cnt AS DOUBLE) / (n_tokens - 1) AS top_share,
         |  1.0 - CAST(n_uniq AS DOUBLE) / n_tokens AS dup_ratio
         |FROM st JOIN top ON st.doc_id = top.doc_id""".stripMargin) { (s, dir) =>
      val st = org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.RepetitionStatsExpr(
          org.apache.spark.sql.GraftColumnShim.expression(tokens(col("text")))))
      docs(s, dir)
        .select(col("doc_id"), st.as("st"))
        .filter(col("st.n_tokens") >= 2)
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.top_cnt").as("top_cnt"),
          (col("st.top_cnt").cast(DoubleType) / (col("st.n_tokens") - 1))
            .as("top_share"),
          (lit(1.0) - col("st.n_uniq").cast(DoubleType) / col("st.n_tokens"))
            .as("dup_ratio"))
    },

    // ── Gopher-style composite document filter ──────────────────────
    // The MassiveText quality rules (Rae et al. 2021, A1.1) restated
    // over this corpus's signals: token-count bounds, mean word
    // length band, alphabetic-word fraction, a stopword floor, and
    // the duplicate-3-gram fraction — each rule a column, plus the
    // conjunction as the keep/drop verdict, so a pipeline can both
    // filter on the verdict and AUDIT which rule fired per document.
    // Thresholds are tuned to this corpus's measured distributions
    // (the published 50-token floor would pass/fail nothing here —
    // a filter that never fires is untested code). Scale shape: ONE
    // scan, every signal an array expression over the token list (no
    // explode, no join, no shuffle) — at 100 TB this runs entirely
    // inside the scan stage's codegen. Double divisions are single
    // IEEE ops on integer-exact operands — bit-identical cross-engine.
    Q("text_gopher_quality", {
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(tokens) AS BIGINT) AS n_tokens,
         |    CAST(list_sum(list_transform(tokens, t -> len(t))) AS DOUBLE)
         |      / len(tokens) AS mean_word_len,
         |    CAST(len(list_filter(tokens, t -> regexp_matches(t, '[a-z]')))
         |      AS DOUBLE) / len(tokens) AS alpha_frac,
         |    ${sqlCountIn("tokens", stopwords)} AS n_stop,
         |    CASE WHEN len(tokens) >= 3 THEN
         |      1.0 - CAST(len(${DedupOps.shingles3Sql}) AS DOUBLE)
         |        / (len(tokens) - 2)
         |    ELSE CAST(0.0 AS DOUBLE) END AS dup3_frac
         |  FROM t)
         |SELECT doc_id, n_tokens, mean_word_len, alpha_frac, n_stop, dup3_frac,
         |  CASE WHEN n_tokens BETWEEN 20 AND 1000
         |        AND mean_word_len BETWEEN 3.8 AND 10.0
         |        AND alpha_frac >= 0.8
         |        AND n_stop >= 1
         |        AND dup3_frac <= 0.05
         |       THEN 'keep' ELSE 'drop' END AS verdict
         |FROM m""".stripMargin
    }) { (s, dir) =>
      // tokens MATERIALIZED in their own projection, not inlined: the
      // 3-gram lambda references the token array four times per
      // position, and an inline split(text) gets re-evaluated at every
      // reference (measured: the inline form cost 3.9s of a 4.0s query
      // at sf0.1; this shape runs in ~0.4s — same discipline as
      // DedupOps.shingleSets)
      val toks = col("toks")
      val n = size(toks).cast(LongType)
      val meanLen = aggregate(transform(toks, t => length(t).cast(LongType)),
        lit(0L), (a, x) => a + x).cast(DoubleType) / n
      // letter test via translate, not an RLike in the lambda (a regex
      // predicate recompiles per element under interpreted HOF eval):
      // stripping [a-z] changes a token iff it contains a letter —
      // the same predicate the oracle's regexp_matches(t, '[a-z]')
      // evaluates
      val alphaFrac = size(filter(toks,
        t => translate(t, "abcdefghijklmnopqrstuvwxyz", "") =!= t))
        .cast(DoubleType) / n
      val dup3 = when(n >= 3,
        lit(1.0) - size(DedupOps.shingles3(toks)).cast(DoubleType) / (n - 2))
        .otherwise(lit(0.0))
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), n.as("n_tokens"), meanLen.as("mean_word_len"),
          alphaFrac.as("alpha_frac"),
          countIn(toks, stopwords).as("n_stop"), dup3.as("dup3_frac"))
        .withColumn("verdict",
          when(col("n_tokens").between(20, 1000) &&
            col("mean_word_len").between(3.8, 10.0) &&
            col("alpha_frac") >= 0.8 &&
            col("n_stop") >= 1 &&
            col("dup3_frac") <= 0.05, "keep").otherwise("drop"))
    },

    // ── count-min sketch (bounded-memory frequency estimation) ──────
    // The heavy-hitter sketch: token counts folded into a fixed
    // d=3 x w=1024 cell grid (three independent hash rows), probed for
    // the stopword list and compared against the exact counts —
    // est >= exact always, and the overcount column measures collision
    // error. Scale shape: one map-side-combinable hash agg to
    // VOCAB-sized token counts, then the constant 3x explode folds that
    // small relation into the FIXED-size cell grid (3072 rows at any
    // corpus size) — the corpus-sized stream is exploded zero extra
    // times. The probe is a broadcast join on the (row, bucket) key.
    // Pure integer arithmetic — bit-identical cross-engine.
    Q("q_sketch_cms", {
      val probeVals = stopwords.map(w => s"('$w')").mkString(", ")
      def bucket(tok: String, j: String) =
        s"(${graft.OracleSql.hex60(s"'cms' || $j || '|' || $tok")} % 1024)"
      s"""WITH tok AS (
         |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         |tc AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         |cells AS (
         |  SELECT j, bucket, CAST(sum(n) AS BIGINT) AS cell_n FROM (
         |    SELECT n, j, ${bucket("t", "CAST(j AS VARCHAR)")} AS bucket
         |    FROM tc, unnest([0, 1, 2]) u(j)) x
         |  GROUP BY j, bucket),
         |probes AS (SELECT token FROM (VALUES $probeVals) p(token)),
         |pj AS (
         |  SELECT token, j, ${bucket("token", "CAST(j AS VARCHAR)")} AS bucket
         |  FROM probes, unnest([0, 1, 2]) u(j)),
         |est AS (
         |  SELECT token, min(COALESCE(cell_n, 0)) AS est
         |  FROM pj LEFT JOIN cells USING (j, bucket) GROUP BY token),
         |ex AS (SELECT t AS token, n AS exact FROM tc)
         |SELECT token, est, COALESCE(exact, 0) AS exact,
         |       est - COALESCE(exact, 0) AS overcount
         |FROM est LEFT JOIN ex USING (token)""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      def bucket(tok: Column, j: Column): Column =
        graft.Cols.hex60(concat(lit("cms"), j.cast("string"), lit("|"), tok)) % 1024
      val js = explode(array((0 until 3).map(j => lit(j)): _*)).as("j")
      val tc = docs(s, dir).select(explode(tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("n")).persist()
      val cells = tc.select(col("t"), col("n"), js)
        .select(col("n"), col("j"), bucket(col("t"), col("j")).as("bucket"))
        .groupBy("j", "bucket").agg(sum("n").as("cell_n"))
      val pj = stopwords.toDF("token").select(col("token"), js)
        .select(col("token"), col("j"), bucket(col("token"), col("j")).as("bucket"))
      // the cell grid is FIXED-size (3 x 1024 at any corpus scale) —
      // broadcast it to the probe side
      val est = pj.join(broadcast(cells), Seq("j", "bucket"), "left")
        .groupBy("token").agg(min(coalesce(col("cell_n"), lit(0L))).as("est"))
      val ex = tc.filter(col("t").isInCollection(stopwords))
        .select(col("t").as("token"), col("n").as("exact"))
      est.join(ex, Seq("token"), "left")
        .select(col("token"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"),
          (col("est") - coalesce(col("exact"), lit(0L))).as("overcount"))
    },

    // ── BM25 retrieval ranking ──────────────────────────────────────
    // Top-10 documents for a fixed 3-term query under BM25 with the
    // LOG-FREE rational idf (N - df + 0.5)/(df + 0.5) — monotone in the
    // true idf, so ranks are BM25 ranks, while ln() would drift in the
    // last ulp between libm implementations (same policy as
    // q_term_weights / text_ngram_pmi). k1=1.2, b=0.75. The per-doc
    // score sums its 3 term contributions in FIXED textual order
    // (conditional aggregates, not a data-ordered sum), so every double
    // op is one IEEE evaluation — bit-identical cross-engine. Scale
    // shape: explode -> tf hash agg -> broadcast the 3-term df row ->
    // per-doc conditional agg -> TakeOrdered(10); the classic
    // inverted-index scoring pipeline with no driver state.
    Q("q_bm25", {
      val terms = Seq("fast", "query", "data")
      val termVals = terms.map(t => s"('$t')").mkString(", ")
      // CAST(tf AS DOUBLE) before the 2.2 multiply: DuckDB would
      // otherwise compute BIGINT * DECIMAL exactly (6.6 vs Spark's
      // double 6.600000000000001) and drift in the last ulp
      val contrib = terms.map(t =>
        s"""COALESCE(sum(CASE WHEN token = '$t' THEN
           |  ((CAST(n_docs - df + 0.5 AS DOUBLE) / (df + 0.5)))
           |  * (CAST(tf AS DOUBLE) * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
           |  END), 0.0)""".stripMargin).mkString("(", " + ", ")")
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
         |st AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl FROM d),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(len(tokens)) AS DOUBLE) / count(*) AS avgdl FROM d),
         |tok AS (SELECT doc_id, unnest(tokens) AS token FROM d),
         |q AS (SELECT term FROM (VALUES $termVals) v(term)),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok
         |  WHERE token IN (SELECT term FROM q) GROUP BY doc_id, token),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |sc AS (
         |  SELECT tf.doc_id, $contrib AS score
         |  FROM tf JOIN df USING (token)
         |       JOIN st ON tf.doc_id = st.doc_id, g
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, score, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc) t
         |WHERE rk <= 10""".stripMargin
    }) { (s, dir) =>
      val terms = Seq("fast", "query", "data")
      val d = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("tokens")).persist()
      val st = d.select(col("doc_id"), size(col("tokens")).cast(LongType).as("dl"))
      val g = d.agg(count(lit(1)).cast(LongType).as("n_docs"),
        (sum(size(col("tokens"))).cast(DoubleType) / count(lit(1))).as("avgdl"))
      val tf = d.select(col("doc_id"), explode(col("tokens")).as("token"))
        .filter(col("token").isInCollection(terms))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val joined = tf.join(broadcast(df), "token")
        .join(st, "doc_id")
        .crossJoin(broadcast(g))
      val contrib = terms.map(t =>
        coalesce(sum(when(col("token") === t,
          ((col("n_docs") - col("df") + 0.5).cast(DoubleType) / (col("df") + 0.5))
            * (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast(DoubleType) / col("avgdl")))))), lit(0.0)))
        .reduce(_ + _)
      val sc = joined.groupBy(col("doc_id")).agg(contrib.as("score"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      sc.withColumn("rk", row_number().over(w).cast(LongType)).filter(col("rk") <= 10)
    },

    // ── domain-mixture rebalancing weights ──────────────────────────
    // The data-mixing operator: per-language token shares plus the
    // sampling multiplier that moves the mixture to a uniform target
    // (weight = target_share / actual_share = total / (n_langs *
    // lang_tokens)). Production swaps the uniform target for a tuned
    // mixture vector; the plumbing — one hash agg to a domain-sized
    // relation, one 1-row broadcast of the corpus totals — is the
    // entire cost at any scale. Exact-integer counts, one double
    // division — bit-identical cross-engine.
    Q("q_mix_weights",
      """WITH pl AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |               count(*) AS n_langs FROM pl)
        |SELECT lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / tot_tokens AS share,
        |  CAST(tot_tokens AS DOUBLE) / (n_langs * n_tokens) AS weight
        |FROM pl, tot""".stripMargin) { (s, dir) =>
      val pl = docs(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
        .persist()
      val tot = pl.agg(sum("n_tokens").as("tot_tokens"),
        count(lit(1)).as("n_langs"))
      // 1-row broadcast corpus-total attach (same pattern as text_vocab)
      pl.crossJoin(broadcast(tot)).select(
        col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast(DoubleType) / col("tot_tokens")).as("share"),
        (col("tot_tokens").cast(DoubleType) / (col("n_langs") * col("n_tokens")))
          .as("weight"))
    },

    // ── temperature-scaled mixture (multilingual up/down-sampling) ──
    // The α-temperature sampler multilingual LM training uses to keep
    // low-resource languages from vanishing (Conneau & Lample 2019 /
    // mT5): p_l ∝ share_l^α, here α = 1/2 so the exponent is sqrt —
    // IEEE-correctly-rounded in BOTH engines, unlike pow(x, 0.3),
    // whose cross-engine bit-identity is not guaranteed. weight =
    // p_temp/share is the per-token resampling factor (>1 upsamples a
    // low-resource language). The normalizer z = Σ_l sqrt(share_l) is
    // a DOUBLE sum, which is order-sensitive — so both engines fold it
    // sequentially over the lang-sorted list (Spark `aggregate` /
    // DuckDB `list_reduce`), making it bit-identical by construction.
    // Scale shape: identical to q_mix_weights — one map-side-
    // combinable agg to a |langs|-bounded relation; everything after
    // is arithmetic on that bounded set (1-row broadcast attaches).
    Q("q_mix_temperature",
      """WITH pl AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM pl),
        |sh AS (
        |  SELECT lang, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / tot_tokens AS share,
        |    sqrt(CAST(n_tokens AS DOUBLE) / tot_tokens) AS sq
        |  FROM pl, tot),
        |z AS (
        |  SELECT list_reduce(
        |    list_transform(list_sort(list(struct_pack(lang := lang, sq := sq))),
        |      x -> x.sq), (a, b) -> a + b) AS z
        |  FROM sh)
        |SELECT lang, n_tokens, share,
        |  sq / z AS p_temp,
        |  (sq / z) / share AS weight
        |FROM sh, z""".stripMargin) { (s, dir) =>
      val pl = docs(s, dir)
        .groupBy("lang")
        .agg(sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
        .persist()
      val tot = pl.agg(sum("n_tokens").as("tot_tokens"))
      val sh = pl.crossJoin(broadcast(tot)).select(
        col("lang"), col("n_tokens"),
        (col("n_tokens").cast(DoubleType) / col("tot_tokens")).as("share"))
        .withColumn("sq", sqrt(col("share")))
      val z = sh.agg(
        aggregate(
          transform(array_sort(collect_list(struct(col("lang"), col("sq")))),
            x => x.getField("sq")),
          lit(0.0), (a, x) => a + x).as("z"))
      sh.crossJoin(broadcast(z)).select(
        col("lang"), col("n_tokens"), col("share"),
        (col("sq") / col("z")).as("p_temp"),
        ((col("sq") / col("z")) / col("share")).as("weight"))
    },

    // ── CCNet-style quality terciles (head / middle / tail) ─────────
    // CCNet (Wenzek et al. 2020) buckets each language's documents
    // into perplexity terciles and trains on the head; restated over
    // this corpus's quality score. The SCALE-SAFE formulation: tercile
    // cutoffs are estimated from a BOUNDED deterministic sample — the
    // CcnetSampleK docs with the smallest md5 hash per language, via
    // the TopKAgg aggregator (map-side combine, the shuffle carries
    // O(langs·k) rows) — then every doc is bucketed by ONE streaming
    // threshold comparison. Never a per-language window over the full
    // corpus: a window PARTITION BY lang puts an entire language's 50
    // TB in one sort partition at production scale; sample-then-
    // threshold is how CCNet itself applies its cutoffs. Ties at a
    // cutoff spill into the better bucket (documented CCNet behavior —
    // buckets are approximately, not exactly, equal). Cutoff values
    // are exact sampled doubles; comparisons are exact — bit-identical
    // cross-engine. The cutoff attach is a LEFT join: a language whose
    // every document has NULL quality produces no cutoff row, and its
    // documents land in 'tail' (both >= comparisons are NULL) instead
    // of silently vanishing — "every document is bucketed exactly
    // once" is the contract, pinned on synthetic data by
    // MixtureBucketsSpec.
    Q("text_ccnet_buckets", {
      val negh = s"-(CAST(${graft.OracleSql.hex60("'ccnet|' || CAST(doc_id AS VARCHAR)")} AS DOUBLE))"
      s"""WITH q AS (
         |  SELECT doc_id, lang, $qualitySql AS quality, $negh AS negh
         |  FROM documents),
         |s AS (
         |  SELECT lang, quality FROM (
         |    SELECT lang, quality,
         |      row_number() OVER (PARTITION BY lang ORDER BY negh DESC, doc_id) AS rn
         |    FROM q WHERE quality IS NOT NULL) t
         |  WHERE rn <= $CcnetSampleK),
         |cut AS (
         |  SELECT lang,
         |    qs[CAST(len(qs) - ceil(len(qs) / 3.0) + 1 AS INTEGER)] AS c1,
         |    qs[CAST(len(qs) - ceil(len(qs) * 2 / 3.0) + 1 AS INTEGER)] AS c2
         |  FROM (SELECT lang, list_sort(list(quality)) AS qs FROM s GROUP BY lang) t)
         |SELECT q.doc_id, q.lang, q.quality,
         |  CASE WHEN q.quality >= c.c1 THEN 'head'
         |       WHEN q.quality >= c.c2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM q LEFT JOIN cut c ON q.lang = c.lang""".stripMargin
    }) { (s, dir) => ccnetBuckets(docs(s, dir)) },

    // ── RAG-style chunking (fixed window + stride, overlap = W - S) ─
    // Split each document into ChunkWin-token windows every ChunkStride
    // tokens — the retrieval-corpus chunker (chunks overlap by
    // ChunkWin - ChunkStride tokens so no boundary sentence is lost).
    // Scale shape: a per-row sequence explode bounded by n/S + 1 — the
    // output is a constant factor of the input, produced in the scan
    // stage with no shuffle. All-BIGINT arithmetic.
    Q("text_chunk_overlap", {
      val toks = "string_split(text, ' ')"
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
         |c AS (
         |  SELECT doc_id, n,
         |    CASE WHEN n <= $ChunkWin THEN 1
         |         ELSE 1 + CAST(ceil((n - $ChunkWin) / ${ChunkStride}.0) AS BIGINT)
         |    END AS n_chunks
         |  FROM t)
         |SELECT doc_id, n AS n_tokens, chunk_id,
         |  chunk_id * $ChunkStride AS chunk_start,
         |  least(CAST($ChunkWin AS BIGINT), n - chunk_id * $ChunkStride) AS chunk_len
         |FROM (SELECT doc_id, n, unnest(range(0, n_chunks)) AS chunk_id FROM c) x""".stripMargin
    }) { (s, dir) =>
      val n = size(tokens(col("text"))).cast(LongType)
      val nChunks = when(col("n") <= ChunkWin, lit(1L))
        .otherwise(lit(1L) +
          ceil((col("n") - ChunkWin) / lit(ChunkStride.toDouble)).cast(LongType))
      docs(s, dir)
        .select(col("doc_id"), n.as("n"))
        .withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1)))
        .select(col("doc_id"), col("n").as("n_tokens"), col("chunk_id"),
          (col("chunk_id") * ChunkStride).as("chunk_start"),
          least(lit(ChunkWin.toLong), col("n") - col("chunk_id") * ChunkStride)
            .as("chunk_len"))
    },

    // ── BPE pair-count step (tokenizer induction) ───────────────────
    // One iteration of byte-pair-encoding vocabulary training: count
    // adjacent CHARACTER pairs within every word across the corpus and
    // rank the merge candidates (top-20, ties by pair). Scale shape:
    // per-document pair counts pre-combined INSIDE the scan by a
    // native expression (CharPairCountsExpr — one code-point pass per
    // document, no per-character substr allocations, rows shrink from
    // total-chars to distinct-pairs-per-doc) -> one map-side-combinable
    // hash agg to an alphabet²-sized relation -> top-k over that tiny
    // relation. Production iterates: apply the winning merge, recount —
    // each step is exactly this query.
    Q("text_bpe_pair_step",
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (
        |  SELECT substr(w, i, 1) AS c1, substr(w, i + 1, 1) AS c2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2) t),
        |c AS (SELECT c1, c2, count(*) AS n FROM p GROUP BY c1, c2)
        |SELECT c1, c2, n, rk FROM (
        |  SELECT c1, c2, n,
        |    row_number() OVER (ORDER BY n DESC, c1, c2) AS rk
        |  FROM c) r
        |WHERE rk <= 20""".stripMargin) { (s, dir) =>
      val pairCounts = org.apache.spark.sql.GraftColumnShim.column(
        graft.functions.CharPairCountsExpr(
          org.apache.spark.sql.GraftColumnShim.expression(col("text"))))
      val c = docs(s, dir)
        .select(explode(pairCounts).as("p"))
        .select(col("p.c1"), col("p.c2"), col("p.n"))
        .groupBy("c1", "c2").agg(sum("n").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("c1"), col("c2"))
      c.withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 20)
    },

    // ── k-fold cross-validation assignment ──────────────────────────
    // Deterministic 5-fold partition as a pure hash of doc_id (the
    // q_split_train discipline generalized to k folds): per (lang,
    // fold) doc/token counts plus each fold's share of its language —
    // the balance check run before any CV experiment. One hash agg to
    // a langs×folds-sized relation; the per-lang total attaches via a
    // window over that tiny relation, never the corpus.
    Q("q_cv_folds", {
      val fold = s"${graft.OracleSql.hex60("CAST(doc_id AS VARCHAR)")} % $CvFolds"
      s"""WITH pf AS (
         |  SELECT lang, $fold AS fold, count(*) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang, $fold)
         |SELECT lang, fold, n_docs, n_tokens,
         |  CAST(n_docs AS DOUBLE)
         |    / CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS fold_share
         |FROM pf""".stripMargin
    }) { (s, dir) =>
      val fold = graft.Cols.hex60(col("doc_id").cast("string")) % CvFolds
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      docs(s, dir)
        .groupBy(col("lang"), fold.as("fold"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"))
        .withColumn("fold_share",
          col("n_docs").cast(DoubleType) / sum("n_docs").over(w))
    },
  )
}
