package graft.queries

import org.apache.spark.sql.functions._

import graft.api.{SortKey, Table}
import graft.operators.{Dedup, Multimodal, PhraseFilter, Similarity, Splits, TextAnalysis, UrlOps}
import Tables._

/** Training-data pipeline corpus: text analysis, dedup (exact / minhash-LSH /
  * simhash / jaccard / embedding), similarity search, multimodal plumbing —
  * the beyond-the-reference operators (BASELINE.json north star). */
object PipelineQueries {

  /** Deterministic pseudo-centroids spanning unit-cube corners — shared by
    * the q73 engine query and its generated oracle. (Defined before `defs`:
    * the defs initializer reads it.) */
  val IvfCentroids: Seq[Seq[Double]] = (0 until 4).map(c =>
    (0 until 64).map(j => if (((c >> (j % 2)) & 1) == 1) 0.5 else -0.5).toSeq)

  /** Shared ranked BPE merge list (engine literal + oracle VALUES for
    * q60l): tokenizes scan/the/order/row/key/fast fully through
    * multi-iteration cascades; everything else stays partial pieces. */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("a", "n"), ("s", "c"), ("sc", "an"), ("t", "h"), ("th", "e"),
    ("o", "r"), ("d", "e"), ("de", "r"), ("or", "der"), ("r", "o"), ("ro", "w"),
    ("k", "e"), ("ke", "y"), ("f", "a"), ("fa", "s"), ("fas", "t"))

  /** Shared WordPiece vocab (engine literal + oracle VALUES list for
    * q60k): covers the whole corpus vocabulary EXCEPT the continuations
    * of "agg" and "dup", so those two words exercise the UNK collapse. */
  val WordpieceVocab: Seq[String] = Seq(
    "a", "ba", "##tch", "big", "co", "##lumn", "cu", "##st", "##omer",
    "da", "##ta", "fa", "fi", "##lter", "gr", "##oup", "ha", "##sh",
    "jo", "##in", "key", "li", "##ne", "me", "##rge", "or", "##der",
    "pa", "##rt", "qu", "##ery", "row", "sc", "##an", "slow", "sm",
    "##all", "so", "##rt", "sp", "##ark", "st", "##ream", "ta", "##ble",
    "the", "va", "##lue", "ve", "##ctor", "wi", "##ndow")

  val defs: Seq[QueryDef] = Seq(

    // Text quality/statistics battery (C4/Gopher-style signals).
    QueryDef("q60_text_stats", (s, dir) => {
      Table(documents(s, dir))
        .filter(col("doc_id") < 50)
        .mutate(
          "n_tokens" -> TextAnalysis.tokenCount(col("text")),
          "n_chars" -> TextAnalysis.charCount(col("text")),
          "avg_wlen" -> round(TextAnalysis.avgWordLength(col("text")), 6),
          "stop_ratio" -> round(TextAnalysis.stopwordRatio(col("text")), 6),
          "ws_ratio" -> round(TextAnalysis.whitespaceRatio(col("text")), 6),
          "quality" -> TextAnalysis.qualityScore(col("text")),
          "fp_key_hash" -> md5(TextAnalysis.fingerprintKey(col("text"))))
        .selectNames("doc_id", "n_tokens", "n_chars", "avg_wlen", "stop_ratio",
          "ws_ratio", "quality", "fp_key_hash")
        .sort(SortKey.asc(col("doc_id")))
        .df
    }, Some("""
      WITH toks AS (
        SELECT doc_id, text,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents WHERE doc_id < 50)
      SELECT doc_id,
        CAST(LEN(w) AS INT) AS n_tokens,
        CAST(LENGTH(text) AS INT) AS n_chars,
        ROUND(LIST_AGGREGATE(LIST_TRANSFORM(w, x -> CAST(LENGTH(x) AS BIGINT)), 'sum') / CAST(LEN(w) AS DOUBLE), 6) AS avg_wlen,
        ROUND(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','that','this','be','from'], x))) / CAST(LEN(w) AS DOUBLE), 6) AS stop_ratio,
        ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '\s', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE), 6) AS ws_ratio,
        ((CASE WHEN LEN(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','that','this','be','from'], x))) / CAST(LEN(w) AS DOUBLE) > 0.01 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE) < 0.2 THEN 1.0 ELSE 0.0 END)
         + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE) < 0.3 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality,
        MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(w)), ' ')) AS fp_key_hash
      FROM toks ORDER BY doc_id""")),

    // Full-corpus text featurization (the BENCH row for text analysis):
    // q60 keeps the doc_id<50 per-document listing as the value-level
    // oracle of each feature; this twin runs the same features over EVERY
    // document and aggregates by (lang, source), so the benched work scales
    // with SF instead of measuring the scheduler floor on 50 rows
    // (round-3 verdict #4). Output stays ~35 rows at any SF.
    QueryDef("q60b_text_stats_full", (s, dir) => {
      // ONE fused tokenize+scan per document (TextAnalysis.textStats,
      // r15): the declarative feature set tokenized every text ~6× via
      // interpreted HOF lambdas; identical values (TextStatsFusionSpec +
      // this oracle)
      Table(documents(s, dir))
        .mutate("st" -> TextAnalysis.textStats(col("text"), withFingerprint = true))
        .mutate(
          "n_tokens" -> TextAnalysis.tokenCountOf(col("st")),
          "avg_wlen" -> round(TextAnalysis.avgWordLengthOf(col("st")), 6),
          "stop_ratio" -> round(TextAnalysis.stopwordRatioOf(col("st")), 6),
          "quality" -> TextAnalysis.qualityScoreOf(col("st")),
          "fp" -> md5(TextAnalysis.fingerprintKeyOf(col("st"))))
        .groupBy(col("lang"), col("source"))
        .aggregate(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"),
          dsum(col("quality")).as("sum_quality"),
          dsum(col("avg_wlen")).as("sum_awl"),
          dsum(col("stop_ratio")).as("sum_stop"),
          countDistinct(col("fp")).as("n_fp"))
        // output bounded by the (lang × source) domain (~35 rows at any
        // SF): single-partition sort, no range exchange (r15)
        .sortBounded(SortKey.asc(col("lang")), SortKey.asc(col("source")))
        .df
    }, Some("""
      WITH toks AS (
        SELECT lang, source, text,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents),
      f AS (
        SELECT lang, source,
          LEN(w) AS n_tokens,
          ROUND(LIST_AGGREGATE(LIST_TRANSFORM(w, x -> CAST(LENGTH(x) AS BIGINT)), 'sum') / CAST(LEN(w) AS DOUBLE), 6) AS avg_wlen,
          ROUND(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','that','this','be','from'], x))) / CAST(LEN(w) AS DOUBLE), 6) AS stop_ratio,
          ((CASE WHEN LEN(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','that','this','be','from'], x))) / CAST(LEN(w) AS DOUBLE) > 0.01 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE) < 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE) < 0.3 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality,
          MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(w)), ' ')) AS fp
        FROM toks)
      SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(SUM(CAST(quality AS DECIMAL(38,4))) AS DOUBLE) AS sum_quality,
        CAST(SUM(CAST(avg_wlen AS DECIMAL(38,4))) AS DOUBLE) AS sum_awl,
        CAST(SUM(CAST(stop_ratio AS DECIMAL(38,4))) AS DOUBLE) AS sum_stop,
        COUNT(DISTINCT fp) AS n_fp
      FROM f GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Context-window packing (TextAnalysis.packByBudget): concatenate-
    // then-chunk pack assignment per lang shard — the pretraining-loader
    // step that turns documents into fixed-budget training sequences.
    // Pure prefix-sum window; SQL twin is the same running SUM OVER.
    QueryDef("q60c_pack_budget", (s, dir) => {
      val d = documents(s, dir)
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      TextAnalysis.packByBudget(d, col("n_tokens"), budget = 512L,
          orderBy = Seq(col("doc_id")), shard = Seq(col("lang")))
        .select(col("doc_id"), col("lang"), col("pack_id"), col("pack_offset"))
        .orderBy("doc_id")
    }, Some("""
      WITH d AS (
        SELECT doc_id, lang,
          CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents),
      o AS (
        SELECT doc_id, lang,
          COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pack_offset
        FROM d)
      SELECT doc_id, lang,
        CAST(FLOOR(pack_offset / 512.0) AS BIGINT) AS pack_id,
        CAST(pack_offset AS BIGINT) AS pack_offset
      FROM o ORDER BY doc_id""")),

    // Sliding-window chunking (TextAnalysis.chunkByTokens): 32-token
    // windows, 8-token overlap, standard no-fully-contained-tail rule.
    // Window starts, text reassembly, and token counts all value-checked
    // (chunk text compared by md5 to keep the dump slim).
    QueryDef("q60d_chunk_overlap", (s, dir) => {
      TextAnalysis.chunkByTokens(
          documents(s, dir).filter(col("doc_id") < 40).select("doc_id", "text"),
          "text", chunkTokens = 32, overlapTokens = 8)
        .select(col("doc_id"), col("chunk_index"),
          md5(col("chunk_text")).as("chunk_md5"), col("chunk_ntokens"))
        .orderBy("doc_id", "chunk_index")
    }, Some("""
      WITH w AS (
        SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), x -> x != '') AS ws
        FROM documents WHERE doc_id < 40),
      st AS (
        SELECT doc_id, ws,
          UNNEST(LIST_FILTER(GENERATE_SERIES(0, LEN(ws) - 1, 24), s -> s = 0 OR s + 8 < LEN(ws))) AS s
        FROM w WHERE LEN(ws) > 0)
      SELECT doc_id, CAST(s // 24 AS INT) AS chunk_index,
        MD5(ARRAY_TO_STRING(ws[s + 1 : s + 32], ' ')) AS chunk_md5,
        CAST(LEAST(32, LEN(ws) - s) AS INT) AS chunk_ntokens
      FROM st ORDER BY doc_id, chunk_index""")),

    // BM25 scoring (TextAnalysis.bm25Score) against a fixed term set:
    // corpus stats (N, avgdl, per-term df) in one aggregate, map-side
    // Robertson/Lucene-idf scoring. Scores rounded to 6 dp on both sides
    // (ln() may differ in the last ulp across libm implementations).
    QueryDef("q60e_bm25", (s, dir) => {
      Table(TextAnalysis.bm25Score(documents(s, dir), "text",
          terms = Seq("data", "spark", "merge"), k1 = 1.2, b = 0.75))
        .mutate("score" -> round(col("bm25"), 6))
        .selectNames("doc_id", "score")
        .sort(SortKey.asc(col("doc_id")))
        .df
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents),
      stats AS (
        SELECT COUNT(*) AS n, AVG(LEN(w)) AS avgdl,
          SUM(CASE WHEN LIST_CONTAINS(w, 'data') THEN 1 ELSE 0 END) AS df1,
          SUM(CASE WHEN LIST_CONTAINS(w, 'spark') THEN 1 ELSE 0 END) AS df2,
          SUM(CASE WHEN LIST_CONTAINS(w, 'merge') THEN 1 ELSE 0 END) AS df3
        FROM d)
      SELECT doc_id,
        ROUND(
          LEN(LIST_FILTER(w, x -> x = 'data')) * 2.2
            / (LEN(LIST_FILTER(w, x -> x = 'data')) + 1.2 * (0.25 + 0.75 * LEN(w) / avgdl))
            * LN(1 + (n - df1 + 0.5) / (df1 + 0.5))
          + LEN(LIST_FILTER(w, x -> x = 'spark')) * 2.2
            / (LEN(LIST_FILTER(w, x -> x = 'spark')) + 1.2 * (0.25 + 0.75 * LEN(w) / avgdl))
            * LN(1 + (n - df2 + 0.5) / (df2 + 0.5))
          + LEN(LIST_FILTER(w, x -> x = 'merge')) * 2.2
            / (LEN(LIST_FILTER(w, x -> x = 'merge')) + 1.2 * (0.25 + 0.75 * LEN(w) / avgdl))
            * LN(1 + (n - df3 + 0.5) / (df3 + 0.5)),
          6) AS score
      FROM d CROSS JOIN stats ORDER BY doc_id""")),

    // Heuristic language ID (profile n-gram argmax, first-wins ties).
    QueryDef("q61_langid", (s, dir) => {
      Table(documents(s, dir))
        .filter(col("doc_id") < 100)
        .mutate(
          "s_en" -> TextAnalysis.langScore(col("text"), "en"),
          "s_de" -> TextAnalysis.langScore(col("text"), "de"),
          "pred_lang" -> TextAnalysis.langId(col("text")))
        .selectNames("doc_id", "s_en", "s_de", "pred_lang")
        .sort(SortKey.asc(col("doc_id")))
        .df
    }, Some("""
      WITH scored AS (
        SELECT doc_id, LOWER(text) AS t FROM documents WHERE doc_id < 100),
      s AS (
        SELECT doc_id,
          (CASE WHEN CONTAINS(t, ' th') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'the') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'he ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, ' an') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'and') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'nd ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, ' of') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'of ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'ing') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, ' to') THEN 1 ELSE 0 END) AS s_en,
          (CASE WHEN CONTAINS(t, 'en ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'er ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, ' de') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'der') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'ie ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'die') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'sch') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'ein') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'ich') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'nde') THEN 1 ELSE 0 END) AS s_de,
          (CASE WHEN CONTAINS(t, ' de') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'de ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, ' le') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'es ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'le ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'ent') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'ne ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'la ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, ' la') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'tio') THEN 1 ELSE 0 END) AS s_fr,
          (CASE WHEN CONTAINS(t, ' de') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'de ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, ' la') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'la ') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'os ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, ' co') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'es ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, 'ión') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, 'el ') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, ' el') THEN 1 ELSE 0 END) AS s_es,
          (CASE WHEN CONTAINS(t, '的') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, '是') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, '了') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, '在') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, '人') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, '有') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, '我') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, '他') THEN 1 ELSE 0 END)
          + (CASE WHEN CONTAINS(t, '这') THEN 1 ELSE 0 END) + (CASE WHEN CONTAINS(t, '中') THEN 1 ELSE 0 END) AS s_zh
        FROM scored)
      SELECT doc_id, CAST(s_en AS INT) AS s_en, CAST(s_de AS INT) AS s_de,
        CASE WHEN s_en >= GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
             WHEN s_de >= GREATEST(s_de, s_fr, s_es, s_zh) THEN 'de'
             WHEN s_fr >= GREATEST(s_fr, s_es, s_zh) THEN 'fr'
             WHEN s_es >= GREATEST(s_es, s_zh) THEN 'es'
             ELSE 'zh' END AS pred_lang
      FROM s ORDER BY doc_id""")),

    // Exact-duplicate groups by content key (hash-groupBy dedup).
    QueryDef("q62_dedup_groups", (s, dir) => {
      val d = documents(s, dir)
        .withColumn("key2", concat_ws(" ", slice(split(col("text"), " "), 1, 2)))
      Dedup.exactGroups(d, "doc_id", col("key2"))
        .withColumn("member_ids", concat_ws(",", transform(col("member_ids"), _.cast("string"))))
        .orderBy(col("content_hash").asc)
    }, Some("""
      SELECT MD5(key2) AS content_hash, COUNT(*) AS dup_count,
        MIN(doc_id) AS keeper_id,
        ARRAY_TO_STRING(LIST_SORT(LIST(doc_id)), ',') AS member_ids
      FROM (SELECT doc_id, ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:2], ' ') AS key2 FROM documents)
      GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY content_hash""")),

    // Keep-first dedup (one shuffle, row_number==1). Projection is pushed
    // BELOW the dedup by hand: the min_by struct buffer blocks Catalyst
    // column pruning, so feeding the full row would scan+ship `text` for a
    // 3-column result — DuckDB's optimizer prunes the same way on its side.
    // With payload ⊆ keys+ord, Dedup.exact plans as a codegen HashAggregate.
    QueryDef("q63_dedup_keep_first", (s, dir) => {
      Table(Dedup.exact(documents(s, dir).select("doc_id", "lang", "source"),
          Seq("lang", "source"), "doc_id"))
        .selectNames("doc_id", "lang", "source")
        // keep-first on (lang, source) emits one row per key pair — a
        // domain-bounded (~35-row) result at any SF: single-partition
        // sort, no range exchange + sampling pass (r15)
        .sortBounded(SortKey.asc(col("doc_id")))
        .df
    }, Some("""
      SELECT doc_id, lang, source FROM documents
      QUALIFY ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
      ORDER BY doc_id""")),

    // Sketches: minhash signature, simhash, rolling fingerprint, subword
    // count — engine-specific hashes, not SQL-reproducible → rows-only.
    QueryDef("q64_sketches", (s, dir) => {
      val toks = Dedup.tokens(col("text"))
      Table(documents(s, dir))
        .filter(col("doc_id") < 20)
        .mutate(
          "minhash0" -> element_at(Dedup.minhashSignature(
            Dedup.shingleHashes(Dedup.shingles(toks, 3)), 16), 1),
          "simhash" -> Dedup.simhash(toks),
          "rolling_fp" -> TextAnalysis.rollingFingerprint(col("text")),
          "n_subwords" -> TextAnalysis.subwordCount(col("text")))
        .selectNames("doc_id", "minhash0", "simhash", "rolling_fp", "n_subwords")
        .sort(SortKey.asc(col("doc_id")))
        .df
    }, None),

    // MinHash-LSH near-dup candidate pairs (banding + verify), md5 token
    // hash → the FULL pipeline (signature minima with the engine's (a,b)
    // params, band buckets, jaccard verify) is oracle-checked in DuckDB.
    QueryDef("q65_minhash_pairs", (s, dir) => {
      Dedup.minhashLsh(documents(s, dir), "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5,
          tokenHash = Dedup.md5Hash28)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    }, Some(SketchOracles.minhashLsh(numHashes = 32, bands = 8, threshold = 0.5))),

    // Benchmark decontamination (Dedup.decontaminate): remove corpus docs
    // that exactly or near-duplicate a blocklist ("eval set"). The
    // blocklist is every 7th document — untouched when doc_id % 14 == 0
    // (those corpus docs hit the EXACT stage on the normalized token
    // stream) and ' zzz'-suffixed otherwise (jaccard ≈0.97 against the
    // original → the minhash NEAR stage). Both removal paths are
    // oracle-checked end-to-end in DuckDB (md5 token-hash mode).
    QueryDef("q65b_decontaminate", (s, dir) => {
      val docs = documents(s, dir)
      val corpus = docs
      val block = docs.filter(col("doc_id") % 7 === 0)
        .select(when(col("doc_id") % 14 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zzz"))).as("btext"))
      Dedup.decontaminate(corpus, "doc_id", "text", block, "btext",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5,
          tokenHash = Dedup.md5Hash28)
        .select("doc_id")
        .orderBy("doc_id")
    }, Some(SketchOracles.decontaminate(numHashes = 32, bands = 8, threshold = 0.5))),

    // Bloom-prefiltered exact decontamination (Dedup.decontaminateExactBloom):
    // the huge-blocklist scale path — bloom cuts the corpus to candidates
    // map-side, a semi-join verifies, so the RESULT is exact and shares
    // the plain exact-removal oracle (every 14th doc's untouched text
    // matches; the bloom adds no semantic difference by construction).
    QueryDef("q65g_decontaminate_bloom", (s, dir) => {
      val docs = documents(s, dir)
      val block = docs.filter(col("doc_id") % 14 === 0).select(col("text").as("btext"))
      Dedup.decontaminateExactBloom(docs, "doc_id", "text", block, "btext",
          fpp = 0.01)
        .select("doc_id")
        .orderBy("doc_id")
    }, Some("""
      WITH ck AS (
        SELECT doc_id,
          MD5(ARRAY_TO_STRING(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != ''), ' ')) AS k
        FROM documents),
      bk AS (
        SELECT DISTINCT MD5(ARRAY_TO_STRING(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != ''), ' ')) AS k
        FROM documents WHERE doc_id % 14 = 0)
      SELECT doc_id FROM ck WHERE k NOT IN (SELECT k FROM bk) ORDER BY doc_id""")),

    // N-gram overlap decontamination (Dedup.decontaminateNgrams — the
    // GPT-3 13-gram collision test, here 8-grams so the synthetic docs
    // actually collide): blocklist = a 20-token window from every 9th
    // document, so exactly the documents long enough to contain their own
    // window's 8-grams get removed. The oracle rebuilds both gram sets
    // with the same sliding windows and removes on any intersection.
    QueryDef("q65h_decontaminate_ngrams", (s, dir) => {
      val docs = documents(s, dir)
      val block = docs.filter(col("doc_id") % 9 === 0)
        .select(concat_ws(" ",
          slice(Dedup.tokens(col("text")), 5, 20)).as("btext"))
      Dedup.decontaminateNgrams(docs, "doc_id", "text", block, "btext", n = 8)
        .select("doc_id")
        .orderBy("doc_id")
    }, Some("""
      WITH tok AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents),
      blk AS (
        SELECT LIST_FILTER(STRING_SPLIT_REGEX(LOWER(
            ARRAY_TO_STRING(w[5:24], ' ')), '[^a-z0-9]+'), x -> x != '') AS bw
        FROM tok WHERE doc_id % 9 = 0),
      bg AS (
        SELECT DISTINCT g FROM blk, UNNEST(
          CASE WHEN LEN(bw) < 8 THEN [ARRAY_TO_STRING(bw, ' ')]
               ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(bw)-7),
                 i -> ARRAY_TO_STRING(bw[i:i+7], ' ')) END) AS t(g)),
      cg AS (
        SELECT doc_id, UNNEST(
          CASE WHEN LEN(w) < 8 THEN [ARRAY_TO_STRING(w, ' ')]
               ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w)-7),
                 i -> ARRAY_TO_STRING(w[i:i+7], ' ')) END) AS g
        FROM tok),
      hits AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g))
      SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM hits)
      ORDER BY doc_id""")),

    // Cluster-aware near-dedup (Dedup.nearDedup): minhash-LSH pairs →
    // connected components (large-star/small-star) → keep each duplicate
    // cluster's minimum doc_id. Transitive-closure-correct: a chain
    // a–b–c keeps only a. The DuckDB twin closes the SAME pair graph with
    // a recursive CTE — banding, jaccard verify, AND the component
    // min-labels are all value-checked end-to-end.
    QueryDef("q65c_near_dedup", (s, dir) => {
      Dedup.nearDedup(documents(s, dir), "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5,
          tokenHash = Dedup.md5Hash28)
        .select("doc_id")
        .orderBy("doc_id")
    }, Some(SketchOracles.nearDedup(numHashes = 32, bands = 8, threshold = 0.5))),

    // Exact word-set Jaccard pairs within a language block — SQL-checkable
    // twin of the LSH path (verifies the verify-stage math).
    QueryDef("q66_jaccard_pairs", (s, dir) => {
      Dedup.ngramJaccardPairs(
          documents(s, dir).filter(col("doc_id") < 60), "doc_id", "text",
          blockBy = col("lang"), n = 1, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    }, Some("""
      WITH d AS (
        SELECT doc_id, lang,
          LIST_DISTINCT(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '')) AS w
        FROM documents WHERE doc_id < 60)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        ROUND(LEN(LIST_INTERSECT(a.w, b.w)) / CAST(LEN(LIST_DISTINCT(a.w || b.w)) AS DOUBLE), 6) AS jaccard
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.w, b.w)) / CAST(LEN(LIST_DISTINCT(a.w || b.w)) AS DOUBLE) >= 0.6
      ORDER BY doc_a, doc_b""")),

    // Duplicate clusters from the q66 pair graph: connectedComponents
    // (alternating large-star/small-star, min-label) vs a DuckDB
    // recursive-CTE transitive closure over the identical edge set.
    QueryDef("q66b_dup_clusters", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        documents(s, dir).filter(col("doc_id") < 60), "doc_id", "text",
        blockBy = col("lang"), n = 1, threshold = 0.6)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    }, Some(SketchOracles.jaccardClusters(maxDocId = 60L, threshold = 0.6))),

    // SimHash hamming near-dup pairs, md5-64 token hash → bit-lane math,
    // quadrant banding, and Hamming verify all oracle-checked in DuckDB.
    QueryDef("q67_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(documents(s, dir), "doc_id", "text", maxHamming = 12,
          tokenHash = Dedup.md5Hash64)
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    }, Some(SketchOracles.simhashPairs(maxHamming = 12))),

    // Brute-force exact top-k cosine neighbors (broadcast probes, one
    // corpus scan, per-probe rank) vs DuckDB list_cosine_similarity.
    QueryDef("q68_embedding_topk", (s, dir) => {
      val e = embeddings(s, dir)
      Similarity.bruteForceTopK(
          e, "vec_id", "embedding",
          e.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
        .withColumn("cosine", round(col("cosine"), 6))
        // output bounded at probes × k (15 rows at any SF): single-
        // partition sort, no range exchange + sampling pass (r15)
        .coalesce(1)
        .sortWithinPartitions(col("probe_id").asc, col("rank").asc)
    }, Some("""
      WITH probes AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 3),
      scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
          ROUND(LIST_COSINE_SIMILARITY(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)),
                                       LIST_TRANSFORM(p.pv, x -> CAST(x AS DOUBLE))), 6) AS cosine
        FROM embeddings e CROSS JOIN probes p),
      ranked AS (
        SELECT probe_id, neighbor_id, cosine,
          ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) - 1 AS rank
        FROM scored)
      SELECT probe_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
      FROM ranked WHERE rank < 5 ORDER BY probe_id, rank""")),

    // LSH-bucketed approximate neighbors: the hyperplane matrix is a
    // deterministic literal, so the oracle rebuilds the SAME buckets from
    // the same plane constants — bucket assignment, candidate join, and
    // ranking are all DuckDB-checked. ScalaTest asserts recall vs brute
    // force separately.
    QueryDef("q69_ann_lsh", (s, dir) => {
      val e = embeddings(s, dir)
      Similarity.lshTopK(
          e, "vec_id", "embedding",
          e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, planes = 4)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("probe_id").asc, col("rank").asc)
    }, Some(SketchOracles.lshTopK("vec_id < 5", k = 3, planes = 4, dim = 64, seed = 7L))),

    // IVF-style coarse-quantized ANN: literal centroid set (as an offline
    // k-means would supply), probes search nProbe nearest cells — centroid
    // assignment and ranking oracle-checked from the same literals.
    QueryDef("q73_ivf_topk", (s, dir) => {
      val e = embeddings(s, dir)
      Similarity.ivfTopK(
          e, "vec_id", "embedding",
          e.filter(col("vec_id") < 5), "vec_id", "embedding",
          centroids = PipelineQueries.IvfCentroids, k = 3, nProbe = 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("probe_id").asc, col("rank").asc)
    }, Some(SketchOracles.ivfTopK("vec_id < 5", PipelineQueries.IvfCentroids, k = 3, nProbe = 2))),

    // In-engine k-means (Similarity.kmeans / kmeansStep): one Lloyd update
    // from the q73 centroid literals — argmin assignment + exact
    // decimal-sum means, both engines bit-identical before the 6-dp
    // display rounding. (Multi-iteration convergence is spec-tested; the
    // oracle pins the update math the loop repeats.)
    QueryDef("q73b_kmeans_step", (s, dir) => {
      val step = Similarity.kmeansStep(embeddings(s, dir), "embedding",
        PipelineQueries.IvfCentroids)
      val dim = PipelineQueries.IvfCentroids.head.size
      step.select(col("cell"), col("n"),
          round(element_at(col("centroid"), 1), 6).as("c0"),
          round(element_at(col("centroid"), 2), 6).as("c1"),
          round((0 until dim).map(j => element_at(col("centroid"), j + 1))
            .reduce(_ + _), 6).as("digest"))
        .orderBy("cell")
    }, Some(SketchOracles.kmeansStep(PipelineQueries.IvfCentroids,
      PipelineQueries.IvfCentroids.head.size))),

    // Embedding near-dup pairs via hyperplane buckets — oracle rebuilds the
    // buckets from the same plane literals.
    QueryDef("q70_embedding_neardup", (s, dir) => {
      Dedup.embeddingNearDups(embeddings(s, dir), "vec_id", "embedding",
          planes = 4, threshold = 0.25)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("doc_a").asc, col("doc_b").asc)
    }, Some(SketchOracles.embeddingNearDups(planes = 4, dim = 64, seed = 7L, threshold = 0.25))),

    // SemDeDup-style semantic dedup (Dedup.semanticDedup): k-means-cell
    // assignment bounds the pair step, within-cell cosine >= threshold,
    // connected components, keep each group's minimum vec_id. The oracle
    // closes the identical pair graph with a recursive CTE — assignment
    // argmin, cosine cut, AND the component min-labels all value-checked.
    QueryDef("q70b_semantic_dedup", (s, dir) => {
      Dedup.semanticDedup(embeddings(s, dir), "vec_id", "embedding",
          centroids = PipelineQueries.IvfCentroids, threshold = 0.3)
        .select("vec_id")
        .orderBy("vec_id")
    }, Some(SketchOracles.semanticDedup(PipelineQueries.IvfCentroids, threshold = 0.3))),

    // Paragraph/segment-level exact dedup (Dedup.segmentDedup): a derived
    // corpus where each "page" concatenates 3 consecutive documents with
    // blank-line separators — so every interior document is boilerplate
    // repeated on 3 pages — deduped corpus-wide keep-first, documents
    // reassembled from surviving segments. Counts AND the exact rebuilt
    // text (md5) are value-checked against a window-based SQL twin.
    QueryDef("q65d_segment_dedup", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val base = documents(s, dir).filter(col("doc_id") < 120)
        .select(col("doc_id"), concat_ws("\n\n", col("text"),
          lead(col("text"), 1).over(w), lead(col("text"), 2).over(w)).as("text"))
      Dedup.segmentDedup(base, "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_segments"), col("n_kept"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id, CONCAT_WS(chr(10)||chr(10), text,
          LEAD(text, 1) OVER (ORDER BY doc_id), LEAD(text, 2) OVER (ORDER BY doc_id)) AS text
        FROM documents WHERE doc_id < 120),
      lists AS (SELECT doc_id, STRING_SPLIT_REGEX(text, '\n{2,}') AS l FROM base),
      segs AS (
        SELECT doc_id, UNNEST(l) AS seg, UNNEST(range(1, LEN(l) + 1)) AS pos
        FROM lists),
      marked AS (
        SELECT doc_id, pos, seg,
          ROW_NUMBER() OVER (PARTITION BY MD5(LOWER(TRIM(seg))) ORDER BY doc_id, pos) AS rn
        FROM segs),
      reb AS (
        SELECT doc_id,
          COALESCE(STRING_AGG(seg, chr(10)||chr(10) ORDER BY pos) FILTER (WHERE rn = 1), '') AS new_text,
          COUNT(*) AS n_segments,
          COUNT(*) FILTER (WHERE rn = 1) AS n_kept
        FROM marked GROUP BY doc_id)
      SELECT doc_id, MD5(new_text) AS text_md5, CAST(n_segments AS INT) AS n_segments, n_kept
      FROM reb ORDER BY doc_id""")),

    // Within-document repeated-segment removal (map-side sibling of
    // segmentDedup): every doc gets a planted internal repeat; first
    // occurrences keep their order and original text.
    QueryDef("q65f_withindoc_segments", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val base = documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"), concat_ws("\n\n",
          col("text"), lead(col("text"), 1, "tail seg").over(w), col("text")).as("text"))
      base.select(col("doc_id"),
          md5(TextAnalysis.dedupSegmentsWithinDoc(col("text"))).as("clean_md5"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id, text || chr(10) || chr(10)
          || LEAD(text, 1, 'tail seg') OVER (ORDER BY doc_id)
          || chr(10) || chr(10) || text AS text
        FROM documents WHERE doc_id < 150),
      segs AS (
        SELECT doc_id, UNNEST(l) AS seg, UNNEST(range(1, LEN(l) + 1)) AS pos
        FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\n{2,}') AS l FROM base)),
      marked AS (
        SELECT doc_id, pos, seg,
          ROW_NUMBER() OVER (PARTITION BY doc_id, MD5(LOWER(TRIM(seg)))
            ORDER BY pos) AS rn
        FROM segs WHERE TRIM(seg) != ''),
      reb AS (
        SELECT doc_id,
          STRING_AGG(seg, chr(10)||chr(10) ORDER BY pos) FILTER (WHERE rn = 1) AS ct
        FROM marked GROUP BY doc_id)
      SELECT b.doc_id, MD5(COALESCE(r.ct, '')) AS clean_md5
      FROM base b LEFT JOIN reb r ON b.doc_id = r.doc_id ORDER BY b.doc_id""")),

    // Cross-document repeated-window span removal (exact-substring dedup,
    // Lee et al. 2022 shape) — md5 window-hash mode so DuckDB rebuilds the
    // identical duplicate-window set, merges spans with a gaps-and-islands
    // twin, and the cleaned text md5 must agree byte-for-byte. The corpus
    // is given planted cross-doc duplication (each doc concatenated with
    // its successor, so every window inside doc i+1's text occurs in both
    // doc i and doc i+1).
    QueryDef("q65e_repeated_spans", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val base = documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"),
          concat_ws(" ", col("text"), lead(col("text"), 1, "").over(w)).as("text"))
      Dedup.stripRepeatedSpans(base, "doc_id", "text", w = 8,
          windowHash = Dedup.md5Hash28)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_removed_tokens"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id, text || ' ' || LEAD(text, 1, '') OVER (ORDER BY doc_id) AS text
        FROM documents WHERE doc_id < 150),
      toks AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS t
        FROM base),
      wins AS (
        SELECT doc_id, t, UNNEST(range(0, GREATEST(LEN(t) - 8 + 1, 0))) AS s FROM toks),
      keyed AS (
        SELECT doc_id, s,
          CAST(CONCAT('0x', SUBSTRING(MD5(ARRAY_TO_STRING(t[s+1:s+8], ' ')), 1, 7)) AS BIGINT) AS key
        FROM wins),
      dup AS (SELECT key FROM keyed GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 2),
      ds AS (SELECT DISTINCT doc_id, s FROM keyed JOIN dup USING (key)),
      brk AS (
        SELECT doc_id, s,
          CASE WHEN s <= MAX(s + 8) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 0 ELSE 1 END AS b
        FROM ds),
      isl AS (SELECT doc_id, s, SUM(b) OVER (PARTITION BY doc_id ORDER BY s) AS g FROM brk),
      spans AS (SELECT doc_id, MIN(s) AS ss, MAX(s) + 8 AS ee FROM isl GROUP BY doc_id, g),
      tokpos AS (SELECT doc_id, UNNEST(t) AS tok, UNNEST(range(0, LEN(t))) AS j FROM toks),
      kept AS (
        SELECT tp.doc_id, tp.tok, tp.j FROM tokpos tp
        WHERE NOT EXISTS (SELECT 1 FROM spans sp
          WHERE sp.doc_id = tp.doc_id AND sp.ss <= tp.j AND tp.j < sp.ee)),
      reb AS (
        SELECT doc_id, STRING_AGG(tok, ' ' ORDER BY j) AS ct, COUNT(*) AS nk
        FROM kept GROUP BY doc_id)
      SELECT b.doc_id, MD5(COALESCE(r.ct, '')) AS clean_md5,
        CAST(LEN(t.t) - COALESCE(r.nk, 0) AS BIGINT) AS n_removed_tokens
      FROM base b JOIN toks t USING (doc_id) LEFT JOIN reb r ON b.doc_id = r.doc_id
      ORDER BY doc_id""")),

    // Corpus-level heavy hitters (TextAnalysis.topTokens): the mergeable
    // Misra-Gries Aggregator run in its exact regime (capacity 512 >>
    // corpus vocabulary), so the sketch counts equal true counts and the
    // whole path — explode, bounded-map partials, mergeable-summaries
    // merge, final top-k — is value-checked against plain GROUP BY.
    QueryDef("q60f_top_tokens", (s, dir) => {
      TextAnalysis.topTokens(documents(s, dir), "text", k = 15, capacity = 512)
    }, Some("""
      WITH toks AS (
        SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '')) AS token
        FROM documents)
      SELECT token, COUNT(*) AS count FROM toks
      GROUP BY token ORDER BY count DESC, token LIMIT 15""")),

    // Deterministic per-group cap (Splits.cappedPerGroup): at most k docs
    // per source, selected as the k smallest seeded id-hashes — computed
    // with the bounded mergeable top-k Aggregator (no window over hot
    // groups). The oracle IS the window formulation: both must pick the
    // identical winner set.
    QueryDef("q87c_capped_per_group", (s, dir) => {
      Splits.cappedPerGroup(documents(s, dir), "doc_id", col("source"), k = 10, seed = 7L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("source")
    }, Some("""
      WITH u AS (
        SELECT doc_id, source,
          CAST(CONCAT('0x', SUBSTRING(MD5('7:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) / 268435456.0 AS u
        FROM documents),
      r AS (SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn FROM u)
      SELECT source, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM r WHERE rn <= 10 GROUP BY 1 ORDER BY 1""")),

    // CCNet-style unigram LM quality score (TextAnalysis.unigramLogProb):
    // vocabSize 20 over a 31-token corpus vocabulary, so BOTH the
    // in-model and the oov additive-floor paths are exercised. The
    // oracle retrains the same model (count desc, token asc, limit) and
    // mirrors the ordered per-token fold term by term.
    QueryDef("q60g_unigram_lm", (s, dir) => {
      TextAnalysis.unigramLogProb(documents(s, dir), "text",
          vocabSize = 20, capacity = 4096)
        .select(col("doc_id"), round(col("lm_score"), 6).as("lm_score"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents),
      flat AS (SELECT doc_id, UNNEST(w) AS tok, UNNEST(range(1, LEN(w) + 1)) AS pos FROM toks),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM flat),
      model AS (SELECT tok, COUNT(*) AS cnt FROM flat GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20),
      terms AS (
        SELECT f.doc_id, f.pos, -LN(COALESCE(m.cnt, 0.5) / n.total) AS t
        FROM flat f LEFT JOIN model m ON f.tok = m.tok CROSS JOIN n),
      agg AS (SELECT doc_id, LIST_SUM(LIST(t ORDER BY pos)) AS s, COUNT(*) AS c
        FROM terms GROUP BY doc_id)
      SELECT d.doc_id, ROUND(COALESCE(a.s / a.c, 0.0), 6) AS lm_score
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id ORDER BY d.doc_id""")),

    // Gopher line-level rule battery (Rae et al. 2021 §A1.1): the corpus
    // is given a line structure (original text, a bulleted neighbor line,
    // the original repeated, an ellipsis footer) so every signal is
    // non-trivial; the oracle recomputes each fraction and the composed
    // pass gate from the same construction.
    QueryDef("q60h_gopher_rules", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val base = documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), concat_ws("\n",
          col("text"),
          concat(lit("- "), lead(col("text"), 1, "item").over(w)),
          col("text"),
          lit("read more ...")).as("text"))
      base.select(col("doc_id"),
          round(TextAnalysis.bulletLineFraction(col("text")), 6).as("bullet_frac"),
          round(TextAnalysis.ellipsisLineFraction(col("text")), 6).as("ellipsis_frac"),
          round(TextAnalysis.dupLineFraction(col("text")), 6).as("dup_line_frac"),
          round(TextAnalysis.dupLineCharFraction(col("text")), 6).as("dup_char_frac"),
          round(TextAnalysis.alphaWordFraction(col("text")), 6).as("alpha_frac"),
          round(TextAnalysis.symbolWordRatio(col("text")), 6).as("symbol_ratio"),
          TextAnalysis.gopherQualityPass(col("text")).as("gopher_pass"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id,
          text || chr(10) || '- ' || LEAD(text, 1, 'item') OVER (ORDER BY doc_id)
            || chr(10) || text || chr(10) || 'read more ...' AS text
        FROM documents WHERE doc_id < 200),
      lns AS (
        SELECT doc_id, text,
          LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(text, chr(10)), l -> TRIM(l)),
            l -> l != '') AS ls,
          LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'), x -> x != '') AS ws,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM base),
      flat AS (SELECT doc_id, UNNEST(ls) AS l FROM lns),
      dupc AS (
        SELECT doc_id, SUM((cnt - 1) * LEN(l)) AS dchars, SUM(cnt * LEN(l)) AS tchars
        FROM (SELECT doc_id, l, COUNT(*) AS cnt FROM flat GROUP BY doc_id, l)
        GROUP BY doc_id),
      m AS (
        SELECT lns.doc_id,
          LEN(LIST_FILTER(ls, l -> regexp_matches(l, '^[-*•]'))) / CAST(LEN(ls) AS DOUBLE) AS bullet_frac,
          LEN(LIST_FILTER(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) / CAST(LEN(ls) AS DOUBLE) AS ellipsis_frac,
          1.0 - LEN(LIST_DISTINCT(ls)) / CAST(LEN(ls) AS DOUBLE) AS dup_line_frac,
          dupc.dchars / CAST(dupc.tchars AS DOUBLE) AS dup_char_frac,
          LEN(LIST_FILTER(ws, x -> regexp_matches(x, '\p{L}'))) / CAST(LEN(ws) AS DOUBLE) AS alpha_frac,
          LEN(REGEXP_EXTRACT_ALL(text, '#|\.\.\.')) / CAST(LEN(ws) AS DOUBLE) AS symbol_ratio,
          LEN(w) AS nw,
          CAST(LIST_SUM(LIST_TRANSFORM(w, x -> LEN(x))) AS DOUBLE) / LEN(w) AS awl,
          LEN(LIST_FILTER(LIST_DISTINCT(w), x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','that','this','be','from'], x))) AS nstops
        FROM lns JOIN dupc ON lns.doc_id = dupc.doc_id)
      SELECT doc_id,
        ROUND(bullet_frac, 6) AS bullet_frac,
        ROUND(ellipsis_frac, 6) AS ellipsis_frac,
        ROUND(dup_line_frac, 6) AS dup_line_frac,
        ROUND(dup_char_frac, 6) AS dup_char_frac,
        ROUND(alpha_frac, 6) AS alpha_frac,
        ROUND(symbol_ratio, 6) AS symbol_ratio,
        (nw BETWEEN 50 AND 100000) AND (awl BETWEEN 3.0 AND 10.0)
          AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
          AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
          AND nstops >= 2 AS gopher_pass
      FROM m ORDER BY doc_id""")),

    // Quality-classifier scoring + character entropy: fastText-style
    // hashed-ngram linear classifier (weights as plan literals, shared
    // verbatim with the oracle below) and the position-ordered entropy
    // fold — the oracle replays bucket hashing, the weight lookup, the
    // ln-based log2, and both ordered sums term-by-term.
    QueryDef("q60i_classifier_entropy", (s, dir) => {
      val w = (0 until 32).map(i => ((i * 37) % 19 - 9) / 10.0)
      documents(s, dir).select(col("doc_id"),
          round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"),
          round(TextAnalysis.classifierScore(col("text"), w, bias = -0.1, seed = 13L), 6)
            .as("clf_score"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH toks AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS tk
        FROM documents),
      grams AS (
        SELECT doc_id,
          tk || LIST_TRANSFORM(range(1, GREATEST(LEN(tk), 1)), i -> tk[i] || ' ' || tk[i+1]) AS g
        FROM toks),
      gflat AS (
        SELECT doc_id, UNNEST(g) AS gram, UNNEST(range(1, LEN(g) + 1)) AS pos FROM grams),
      gterm AS (
        SELECT doc_id, pos,
          (${(0 until 32).map(i => ((i * 37) % 19 - 9) / 10.0).mkString("[", ", ", "]")})[
            CAST(CAST(CONCAT('0x', SUBSTRING(MD5('13:' || gram), 1, 7)) AS BIGINT) % 32 AS INT) + 1] AS t
        FROM gflat),
      gd AS (SELECT doc_id, LIST_SUM(LIST(t ORDER BY pos)) / COUNT(*) AS dot
        FROM gterm GROUP BY doc_id),
      ch AS (
        SELECT doc_id,
          UNNEST(LIST_TRANSFORM(range(1, LEN(text) + 1), i -> SUBSTRING(text, i, 1))) AS c,
          UNNEST(range(1, LEN(text) + 1)) AS pos
        FROM documents),
      cn AS (SELECT doc_id, c, COUNT(*) AS k, MIN(pos) AS fp FROM ch GROUP BY doc_id, c),
      nn AS (SELECT doc_id, COUNT(*) AS n FROM ch GROUP BY doc_id),
      et AS (
        SELECT cn.doc_id, cn.fp, nn.n,
          cn.k * -(LN(cn.k / CAST(nn.n AS DOUBLE)) / LN(2.0)) AS t
        FROM cn JOIN nn ON cn.doc_id = nn.doc_id),
      ea AS (SELECT doc_id, LIST_SUM(LIST(t ORDER BY fp)) / ANY_VALUE(n) AS h
        FROM et GROUP BY doc_id)
      SELECT d.doc_id, ROUND(COALESCE(ea.h, 0.0), 6) AS entropy,
        ROUND(1.0 / (1.0 + EXP(-(COALESCE(gd.dot, 0.0) + -0.1))), 6) AS clf_score
      FROM documents d LEFT JOIN ea ON d.doc_id = ea.doc_id
      LEFT JOIN gd ON d.doc_id = gd.doc_id
      ORDER BY d.doc_id""")),

    // WordPiece subword tokenization (TextAnalysis.wordpieceTokens — the
    // exact HF greedy longest-match algorithm as a custom Expression):
    // the oracle replays the algorithm step-by-step with a recursive CTE
    // (longest matching piece via a correlated ORDER BY LEN DESC LIMIT 1,
    // any unmatched position collapsing the word to [UNK]). The vocab is
    // one shared literal list.
    QueryDef("q60k_wordpiece", (s, dir) => {
      val pieces = TextAnalysis.wordpieceTokens(col("text"), WordpieceVocab)
      documents(s, dir).filter(col("doc_id") < 80)
        .select(col("doc_id"),
          size(pieces).as("n_pieces"),
          md5(concat_ws(" ", pieces).cast("binary")).as("pieces_md5"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH RECURSIVE
      v(p) AS (VALUES ${WordpieceVocab.map(p => s"('$p')").mkString(", ")}),
      toks AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents WHERE doc_id < 80),
      words AS (
        SELECT doc_id, UNNEST(w) AS word, UNNEST(range(1, LEN(w) + 1)) AS widx FROM toks),
      step(doc_id, widx, word, pos, pieces) AS (
        SELECT doc_id, widx, word, 0, CAST([] AS VARCHAR[]) FROM words
        UNION ALL
        SELECT doc_id, widx, word,
          CASE WHEN mp IS NULL THEN LEN(word)
               ELSE pos + LEN(CASE WHEN pos > 0 THEN SUBSTRING(mp, 3) ELSE mp END) END,
          CASE WHEN mp IS NULL THEN ['[UNK]'] ELSE list_append(pieces, mp) END
        FROM (
          SELECT doc_id, widx, word, pos, pieces,
            (SELECT p FROM v
             WHERE CASE WHEN pos > 0
               THEN p LIKE '##%' AND SUBSTRING(word, pos + 1) LIKE SUBSTRING(p, 3) || '%'
               ELSE p NOT LIKE '##%' AND SUBSTRING(word, pos + 1) LIKE p || '%' END
             ORDER BY LEN(p) DESC LIMIT 1) AS mp
          FROM step WHERE pos < LEN(word) AND pieces != ['[UNK]'])),
      fin AS (SELECT doc_id, widx, pieces FROM step WHERE pos >= LEN(word)),
      flat AS (
        SELECT doc_id, widx, UNNEST(pieces) AS piece,
          UNNEST(range(1, LEN(pieces) + 1)) AS pidx
        FROM fin)
      SELECT t.doc_id,
        CAST(COALESCE(f.n, 0) AS INT) AS n_pieces,
        MD5(COALESCE(f.s, '')) AS pieces_md5
      FROM toks t LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n, STRING_AGG(piece, ' ' ORDER BY widx, pidx) AS s
        FROM flat GROUP BY doc_id) f ON t.doc_id = f.doc_id
      ORDER BY t.doc_id""")),

    // Sentence segmentation stats: the corpus gets a sentence structure
    // (period-joined neighbor texts, a planted question and exclamation),
    // then count and mean word-length per sentence — oracle replays the
    // same terminal-punctuation split.
    QueryDef("q60n_sentences", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val base = documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), concat_ws(" ",
          concat(col("text"), lit(".")),
          concat(lead(col("text"), 1, "next words").over(w), lit("!")),
          lit("Is that so?"),
          col("text")).as("text"))
      base.select(col("doc_id"),
          TextAnalysis.sentenceCount(col("text")).as("n_sentences"),
          round(TextAnalysis.meanSentenceLength(col("text")), 6).as("mean_sentence_words"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id,
          text || '.' || ' ' || LEAD(text, 1, 'next words') OVER (ORDER BY doc_id) || '!'
          || ' ' || 'Is that so?' || ' ' || text AS text
        FROM documents WHERE doc_id < 200),
      ss AS (
        SELECT doc_id,
          LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT_REGEX(text, '[.!?]+(\s+|$)'),
            x -> TRIM(x)), x -> x != '') AS sent
        FROM base),
      fl AS (
        SELECT doc_id, UNNEST(sent) AS s,
          UNNEST(range(1, LEN(sent) + 1)) AS pos
        FROM ss),
      cnt AS (
        SELECT doc_id, COUNT(*) AS n,
          SUM(LEN(LIST_FILTER(STRING_SPLIT_REGEX(s, '\s+'), x -> x != ''))) AS words
        FROM fl GROUP BY doc_id)
      SELECT b.doc_id,
        CAST(COALESCE(c.n, 0) AS INT) AS n_sentences,
        ROUND(COALESCE(c.words / CAST(c.n AS DOUBLE), 0.0), 6) AS mean_sentence_words
      FROM base b LEFT JOIN cnt c ON b.doc_id = c.doc_id
      ORDER BY b.doc_id""")),

    // One-call corpus report (TextAnalysis.corpusReport): counts, token
    // distribution (exact percentiles), empty/dup fractions, source mix —
    // the oracle recomputes every metric row.
    QueryDef("q60m_corpus_report", (s, dir) => {
      TextAnalysis.corpusReport(documents(s, dir), "text", col("source"))
        .orderBy("metric")
    }, Some("""
      WITH t AS (
        SELECT source,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents),
      d AS (SELECT source, LEN(w) AS n_toks, MD5(ARRAY_TO_STRING(w, ' ')) AS k FROM t),
      agg AS (
        SELECT COUNT(*) AS n, CAST(SUM(n_toks) AS DOUBLE) AS tot, AVG(n_toks) AS mean,
          QUANTILE_CONT(CAST(n_toks AS DOUBLE), [0.5, 0.9]) AS pcts,
          SUM(CASE WHEN n_toks = 0 THEN 1 ELSE 0 END) AS empties,
          COUNT(DISTINCT k) AS dk
        FROM d)
      SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, ROUND(CAST(n AS DOUBLE), 6) AS value FROM agg
        UNION ALL SELECT 'total_tokens', ROUND(tot, 6) FROM agg
        UNION ALL SELECT 'mean_tokens', ROUND(mean, 6) FROM agg
        UNION ALL SELECT 'p50_tokens', ROUND(pcts[1], 6) FROM agg
        UNION ALL SELECT 'p90_tokens', ROUND(pcts[2], 6) FROM agg
        UNION ALL SELECT 'empty_frac', ROUND(empties / CAST(n AS DOUBLE), 6) FROM agg
        UNION ALL SELECT 'exact_dup_frac', ROUND(1.0 - dk / CAST(n AS DOUBLE), 6) FROM agg
        UNION ALL
        SELECT 'group_frac_' || source,
          ROUND(COUNT(*) / (SELECT CAST(n AS DOUBLE) FROM agg), 6)
        FROM documents GROUP BY source)
      ORDER BY metric""")),

    // BPE tokenization (TextAnalysis.bpeTokens — GPT-2/Sennrich ranked
    // merges as a custom Expression): the oracle replays the loop with a
    // recursive CTE over a '|'-separated piece state — lowest-rank pair
    // present via correlated lookup, nested REPLACE to take every
    // occurrence (boundary-sharing chains resolve across nestings, same
    // fixpoint as the engine's merge-all pass).
    QueryDef("q60l_bpe", (s, dir) => {
      val pieces = TextAnalysis.bpeTokens(col("text"), BpeMerges)
      documents(s, dir).filter(col("doc_id") < 80)
        .select(col("doc_id"),
          size(pieces).as("n_pieces"),
          md5(concat_ws(" ", pieces).cast("binary")).as("pieces_md5"))
        .orderBy("doc_id")
    }, Some(s"""
      WITH RECURSIVE
      m(a, b, r) AS (VALUES ${BpeMerges.zipWithIndex.map {
        case ((a, b), i) => s"('$a','$b',$i)" }.mkString(", ")}),
      toks AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents WHERE doc_id < 80),
      words AS (
        SELECT doc_id, UNNEST(w) AS word, UNNEST(range(1, LEN(w) + 1)) AS widx FROM toks),
      step(doc_id, widx, state) AS (
        SELECT doc_id, widx,
          '|' || ARRAY_TO_STRING(LIST_TRANSFORM(range(1, LEN(word) + 1), i -> word[i]), '|') || '|'
        FROM words
        UNION ALL
        SELECT doc_id, widx,
          REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(state, pat, rep),
            pat, rep), pat, rep), pat, rep), pat, rep), pat, rep)
        FROM (
          SELECT doc_id, widx, state,
            (SELECT '|' || a || '|' || b || '|' FROM m
             WHERE CONTAINS(state, '|' || a || '|' || b || '|')
             ORDER BY r LIMIT 1) AS pat,
            (SELECT '|' || a || b || '|' FROM m
             WHERE CONTAINS(state, '|' || a || '|' || b || '|')
             ORDER BY r LIMIT 1) AS rep
          FROM step) WHERE pat IS NOT NULL),
      fin AS (
        SELECT doc_id, widx,
          LIST_FILTER(STRING_SPLIT(state, '|'), x -> x != '') AS pieces
        FROM step s
        WHERE NOT EXISTS (SELECT 1 FROM m
          WHERE CONTAINS(s.state, '|' || a || '|' || b || '|'))),
      flat AS (
        SELECT doc_id, widx, UNNEST(pieces) AS piece,
          UNNEST(range(1, LEN(pieces) + 1)) AS pidx
        FROM fin)
      SELECT t.doc_id,
        CAST(COALESCE(f.n, 0) AS INT) AS n_pieces,
        MD5(COALESCE(f.s, '')) AS pieces_md5
      FROM toks t LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n, STRING_AGG(piece, ' ' ORDER BY widx, pidx) AS s
        FROM flat GROUP BY doc_id) f ON t.doc_id = f.doc_id
      ORDER BY t.doc_id""")),

    // C4 line-level cleaning + script-mix ratios: lines with planted
    // boilerplate (javascript / cookie-policy phrases, braces, short and
    // unpunctuated lines) and a CJK tail on every third doc; the oracle
    // replays the C4 keep predicate per line and both script-range counts.
    QueryDef("q60j_c4_scripts", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("doc_id")
      val base = documents(s, dir).filter(col("doc_id") < 150)
        .select(col("doc_id"), concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("click here javascript required"),
          lit("Accept our cookie policy now."),
          concat(lead(col("text"), 1, "and then some more").over(w), lit("!")),
          lit("short one"),
          lit("{ config }"),
          when(col("doc_id") % 3 === 0, lit("你好世界 hello."))
            .otherwise(lit("plain tail line."))).as("text"))
      base.select(col("doc_id"),
          md5(TextAnalysis.c4CleanLines(col("text"))).as("clean_md5"),
          round(TextAnalysis.c4KeepFraction(col("text")), 6).as("keep_frac"),
          round(TextAnalysis.scriptRatios(col("text"))("latin"), 6).as("latin_frac"),
          round(TextAnalysis.scriptRatios(col("text"))("cjk"), 6).as("cjk_frac"))
        .orderBy("doc_id")
    }, Some("""
      WITH base AS (
        SELECT doc_id,
          text || '.' || chr(10)
          || 'click here javascript required' || chr(10)
          || 'Accept our cookie policy now.' || chr(10)
          || LEAD(text, 1, 'and then some more') OVER (ORDER BY doc_id) || '!' || chr(10)
          || 'short one' || chr(10)
          || '{ config }' || chr(10)
          || (CASE WHEN doc_id % 3 = 0 THEN '你好世界 hello.' ELSE 'plain tail line.' END) AS text
        FROM documents WHERE doc_id < 150),
      lns AS (
        SELECT doc_id, text,
          LIST_FILTER(LIST_TRANSFORM(STRING_SPLIT(text, chr(10)), l -> TRIM(l)),
            l -> l != '') AS ls
        FROM base),
      keepref AS (
        SELECT doc_id, ls,
          LIST_FILTER(ls, l ->
            regexp_matches(l, '[.!?"'']$')
            AND LEN(LIST_FILTER(STRING_SPLIT_REGEX(l, '\s+'), x -> x != '')) >= 3
            AND NOT CONTAINS(l, '{') AND NOT CONTAINS(l, '}')
            AND NOT regexp_matches(LOWER(l),
              'javascript|lorem ipsum|cookie policy|terms of use|privacy policy')) AS kept
        FROM lns)
      SELECT k.doc_id,
        MD5(ARRAY_TO_STRING(kept, chr(10))) AS clean_md5,
        ROUND(CASE WHEN LEN(ls) = 0 THEN 0.0
          ELSE LEN(kept) / CAST(LEN(ls) AS DOUBLE) END, 6) AS keep_frac,
        ROUND((LENGTH(b.text) - LENGTH(REGEXP_REPLACE(b.text, '[A-Za-z]', '', 'g')))
          / CAST(LENGTH(b.text) AS DOUBLE), 6) AS latin_frac,
        ROUND((LENGTH(b.text) - LENGTH(REGEXP_REPLACE(b.text,
            '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}]', '', 'g')))
          / CAST(LENGTH(b.text) AS DOUBLE), 6) AS cjk_frac
      FROM keepref k JOIN base b ON k.doc_id = b.doc_id ORDER BY k.doc_id""")),

    // End-to-end quality-filter pipeline: score → filter → per-lang stats.
    QueryDef("q71_quality_pipeline", (s, dir) => {
      Table(documents(s, dir))
        // fused single-pass features (r15) — see q60b
        .mutate("st" -> TextAnalysis.textStats(col("text")))
        .mutate("quality" -> TextAnalysis.qualityScoreOf(col("st")),
          "n_tokens" -> TextAnalysis.tokenCountOf(col("st")))
        .filter(col("quality") >= 0.75)
        .groupBy(col("lang"))
        .aggregate(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_tokens")), 6).as("avg_tokens"),
          sum(col("n_chars")).as("total_chars"))
        // output bounded by the lang domain (~5 rows at any SF):
        // single-partition sort, no range exchange (r15)
        .sortBounded(SortKey.asc(col("lang")))
        .df
    }, Some("""
      WITH q AS (
        SELECT lang, n_chars,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w,
          text
        FROM documents),
      scored AS (
        SELECT lang, n_chars, CAST(LEN(w) AS INT) AS n_tokens,
          ((CASE WHEN LEN(w) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','an','and','or','of','to','in','is','are','was','it','for','on','with','as','at','by','that','this','be','from'], x))) / CAST(LEN(w) AS DOUBLE) > 0.01 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[[:punct:]]', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE) < 0.2 THEN 1.0 ELSE 0.0 END)
           + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) / CAST(LENGTH(text) AS DOUBLE) < 0.3 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality
        FROM q)
      SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_tokens), 6) AS avg_tokens,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM scored WHERE quality >= 0.75 GROUP BY lang ORDER BY lang""")),

    // The FULL curation pipeline end-to-end, value-checked at every stage
    // through one stacked oracle: quality gate (all four criteria) →
    // exact keep-first dedup on the token-stream md5 → minhash-LSH
    // near-dedup (md5 mode, CC closure, keep min id) → seeded 80% sample
    // → context-window packing. The oracle (SketchOracles.fullPipeline)
    // replays each stage's arithmetic over the exact survivor set.
    QueryDef("q71b_full_curation", (s, dir) => {
      val base = documents(s, dir).filter(col("doc_id") < 300)
        .filter(TextAnalysis.qualityScore(col("text")) >= 1.0)
      val exact = Dedup.exact(
        base.withColumn("__ck",
          md5(concat_ws(" ", Dedup.tokens(col("text"))).cast("binary"))),
        Seq("__ck"), "doc_id").drop("__ck")
      val near = Dedup.nearDedup(exact, "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5,
        tokenHash = Dedup.md5Hash28)
      val sampled = near.filter(Splits.hashUnit(col("doc_id"), 5L) < 0.8)
      TextAnalysis.packByBudget(
          sampled.withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
          col("n_tokens"), 512L, orderBy = Seq(col("doc_id")))
        .select(col("doc_id"), col("n_tokens"), col("pack_offset"), col("pack_id"))
        .orderBy("doc_id")
    }, Some(SketchOracles.fullPipeline(numHashes = 32, bands = 8,
      threshold = 0.5, maxDocId = 300, seed = 5L, frac = 0.8, budget = 512L))),

    // Multimodal plumbing: binary payload + typed metadata + stubbed
    // decode/featurize/frame-sample. The stubs are md5-derived
    // deterministic fakes (see Multimodal), so the whole pipeline —
    // including BOTH feature paths (pure expression and mapPartitions
    // batch) — is oracle-checked.
    // REAL header parsers, end-to-end: GIF and WAV headers are SYNTHESIZED
    // in-query from known fields (doc_id/n_chars → LE byte packing via
    // hex/unhex), parsed back by the custom expressions, and the oracle
    // predicts the roundtrip from the same arithmetic — so the parser's
    // byte-offset/endianness logic is value-checked without any image lib.
    QueryDef("q72b_header_probes", (s, dir) => {
      def le16(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(pmod(v, lit(256))), 2, "0"), lpad(hex((v / 256).cast("int")), 2, "0")))
      def le32(v: org.apache.spark.sql.Column) = unhex(concat(
        lpad(hex(pmod(v, lit(256))), 2, "0"),
        lpad(hex(pmod((v / 256).cast("long"), lit(256))), 2, "0"),
        lpad(hex(pmod((v / 65536).cast("long"), lit(256))), 2, "0"),
        lpad(hex(pmod((v / 16777216).cast("long"), lit(256))), 2, "0")))
      val w = (col("n_chars") % 1000 + 1).cast("int")
      val h = (col("doc_id") % 500 + 1).cast("int")
      val gif = concat(lit("GIF89a").cast("binary"), le16(w), le16(h))
      val rate = (col("doc_id") % 40000 + 8000).cast("int")
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val byteRate = rate * ch * 2
      val dataBytes = (col("n_chars") * 4).cast("int")
      val wav = concat(
        lit("RIFF").cast("binary"), le32(lit(36) + dataBytes), lit("WAVE").cast("binary"),
        lit("fmt ").cast("binary"), le32(lit(16)), le16(lit(1)), le16(ch),
        le32(rate), le32(byteRate), le16(ch * 2), le16(lit(16)),
        lit("data").cast("binary"), le32(dataBytes))
      documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          Multimodal.imageHeader(gif).getField("width").as("gif_w"),
          Multimodal.imageHeader(gif).getField("height").as("gif_h"),
          Multimodal.imageHeader(gif).getField("format").as("gif_fmt"),
          Multimodal.audioHeader(wav).getField("sample_rate").as("wav_rate"),
          Multimodal.audioHeader(wav).getField("channels").as("wav_ch"),
          Multimodal.audioHeader(wav).getField("duration_ms").as("wav_ms"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(n_chars % 1000 + 1 AS INT) AS gif_w,
        CAST(doc_id % 500 + 1 AS INT) AS gif_h,
        'gif' AS gif_fmt,
        CAST(doc_id % 40000 + 8000 AS INT) AS wav_rate,
        CAST(doc_id % 2 + 1 AS INT) AS wav_ch,
        CAST(CAST(n_chars * 4 AS BIGINT) * 1000
          // ((doc_id % 40000 + 8000) * (doc_id % 2 + 1) * 2) AS BIGINT) AS wav_ms
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""")),

    QueryDef("q72_multimodal", (s, dir) => {
      val d = documents(s, dir)
        .filter(col("doc_id") < 20)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("media", Multimodal.asMedia(col("payload"), "image", "jpeg"))
        .withColumn("dims", Multimodal.probeImageDims(col("payload")))
        .withColumn("phash", Multimodal.perceptualHash(col("payload")))
        .withColumn("duration_ms", lit(5000L))
      val feat = Multimodal.extractFeatures(d, "payload", dim = 4)
      // the mapPartitions batch path (iterator-in/out, one model call per
      // batch) alongside the expression-only path
      val batched = Multimodal.extractFeaturesBatched(feat, "payload",
        dim = 4, batchSize = 8, outputCol = "features_b")
      Multimodal.sampleFrames(batched, "payload", "duration_ms", everyMs = 1000L)
        .groupBy(col("doc_id"))
        .agg(
          first(col("media").getField("meta").getField("size_bytes")).as("size_bytes"),
          first(col("dims").getField("width")).as("width"),
          first(col("phash")).as("phash"),
          round(first(element_at(col("features"), 1)), 6).as("feat0"),
          round(first(element_at(col("features_b"), 1)).cast("double"), 6).as("featb0"),
          count(lit(1)).as("n_frames"))
        .orderBy(col("doc_id").asc)
    }, Some(SketchOracles.multimodal(durationMs = 5000L, everyMs = 1000L))),

    // REAL pixel/sample decode, end-to-end (round 7): BMP payloads and
    // WAV PCM payloads are SYNTHESIZED distributedly from the nation keys
    // with closed-form pixel/sample values (Multimodal.synthBmp/synthWav),
    // decoded back by the native expressions (bmp_pixels normalizes
    // bottom-up BGR storage to top-down RGB ints; wav_samples
    // sign-extends PCM16), then reduced to statistics the oracle
    // recomputes from the same arithmetic WITHOUT parsing a byte — so
    // padding, row order, channel order and sign extension are all
    // value-checked. feat0 comes from the extractFeaturesBmp
    // mapPartitions path: the batched stub-swap point running on real
    // decoded pixels.
    QueryDef("q72c_real_decode", (s, dir) => {
      import s.implicits._
      val keys = Table(nation(s, dir)).selectNames("n_nationkey").df
        .as[Long].map(k => (k, Multimodal.synthBmp(k), Multimodal.synthWav(k)))
        .toDF("k", "bmp", "wav")
      val withF = Multimodal.extractFeaturesBmp(keys, "bmp",
        dim = 4, batchSize = 8, outputCol = "feat")
      val stats = Multimodal.imageChannelStats(col("bmp"))
      val lum = Multimodal.luminanceBlocks(col("bmp"), 4)
      val samples = Multimodal.wavSamples(col("wav"))
      withF.select(
        col("k").as("n_nationkey"),
        stats.getField("n_px").cast("long").as("n_px"),
        round(stats.getField("mean_r"), 6).as("mean_r"),
        round(stats.getField("mean_g"), 6).as("mean_g"),
        round(stats.getField("mean_b"), 6).as("mean_b"),
        element_at(lum, 1).as("lum0"), element_at(lum, 2).as("lum1"),
        element_at(lum, 3).as("lum2"), element_at(lum, 4).as("lum3"),
        round(element_at(col("feat"), 1).cast("double"), 4).as("feat0"),
        size(samples).cast("long").as("wav_n"),
        round(aggregate(samples, lit(0L), (a, x) => a + x).cast("double") /
          size(samples), 6).as("wav_mean"),
        array_max(transform(samples, x => abs(x))).cast("long").as("wav_peak"))
        .orderBy("n_nationkey")
    }, Some("""
      WITH keys AS (
        SELECT n_nationkey AS k,
               8 + (n_nationkey % 4) * 2 AS w,
               6 + (n_nationkey % 3) * 2 AS h,
               64 + (n_nationkey % 5) * 16 AS nw
        FROM nation),
      ser AS (SELECT UNNEST(RANGE(0, 128)) AS i),
      pxl AS (
        SELECT k, w, h,
          (7*sx.i + 13*sy.i + k) % 256 AS r,
          (3*sx.i + 5*sy.i + 2*k) % 256 AS g,
          (11*sx.i + 17*sy.i + 3*k) % 256 AS b,
          (sy.i*w + sx.i) * 4 // (w*h) AS blk
        FROM keys, ser sx, ser sy WHERE sx.i < w AND sy.i < h),
      lums AS (
        SELECT k, blk, SUM(299*r + 587*g + 114*b) AS lumsum, COUNT(*) AS cnt
        FROM pxl GROUP BY k, blk),
      img AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_px,
          ROUND(AVG(r), 6) AS mean_r, ROUND(AVG(g), 6) AS mean_g,
          ROUND(AVG(b), 6) AS mean_b
        FROM pxl GROUP BY k),
      blk AS (
        SELECT k,
          CAST(SUM(CASE WHEN blk=0 THEN lumsum END) AS BIGINT) AS lum0,
          CAST(SUM(CASE WHEN blk=1 THEN lumsum END) AS BIGINT) AS lum1,
          CAST(SUM(CASE WHEN blk=2 THEN lumsum END) AS BIGINT) AS lum2,
          CAST(SUM(CASE WHEN blk=3 THEN lumsum END) AS BIGINT) AS lum3,
          ROUND(SUM(CASE WHEN blk=0 THEN lumsum END) / (255000.0 * MAX(cnt)), 4) AS feat0
        FROM lums GROUP BY k),
      wav AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS wav_n,
          ROUND(AVG(((37*i + 11*k) % 2048) - 1024), 6) AS wav_mean,
          CAST(MAX(ABS(((37*i + 11*k) % 2048) - 1024)) AS BIGINT) AS wav_peak
        FROM keys, ser WHERE i < nw GROUP BY k)
      SELECT img.k AS n_nationkey, n_px, mean_r, mean_g, mean_b,
        lum0, lum1, lum2, lum3, feat0, wav_n, wav_mean, wav_peak
      FROM img JOIN blk ON img.k = blk.k JOIN wav ON img.k = wav.k
      ORDER BY 1""")),

    // REAL PNG pixel decode, end-to-end: payloads are synthesized
    // distributedly (Multimodal.synthPng — real Deflater zlib stream
    // split over two IDAT chunks, color type cycling gray/RGB/RGBA with
    // k, every row filter type exercised), decoded back by the
    // png_pixels expression (the JDK's ImageIO PNG reader), and reduced
    // to statistics the oracle recomputes from the same closed-form
    // pixel arithmetic WITHOUT parsing a byte.
    QueryDef("q72d_png_decode", (s, dir) => {
      import s.implicits._
      val keys = Table(nation(s, dir)).selectNames("n_nationkey").df
        .as[Long].map(k => (k, Multimodal.synthPng(k))).toDF("k", "png")
      val px = Multimodal.pngPixels(col("png"))
      val n = size(px)
      def chanMean(shift: Int) = round(aggregate(px, lit(0L),
        (acc, p) => acc + shiftright(p, shift).bitwiseAND(lit(255))
          .cast(org.apache.spark.sql.types.LongType))
        .cast("double") / n, 6)
      keys.select(
          col("k").as("n_nationkey"),
          n.cast("long").as("n_px"),
          chanMean(16).as("mean_r"), chanMean(8).as("mean_g"), chanMean(0).as("mean_b"),
          aggregate(px, lit(0L), (acc, p) =>
            acc + (shiftright(p, 16).bitwiseAND(lit(255)) * 299 +
                   shiftright(p, 8).bitwiseAND(lit(255)) * 587 +
                   p.bitwiseAND(lit(255)) * 114)
              .cast(org.apache.spark.sql.types.LongType)).as("lum_sum"))
        .orderBy("n_nationkey")
    }, Some("""
      WITH keys AS (
        SELECT n_nationkey AS k,
               8 + (n_nationkey % 4) * 2 AS w,
               6 + (n_nationkey % 3) * 2 AS h
        FROM nation),
      ser AS (SELECT UNNEST(RANGE(0, 128)) AS i),
      pxl AS (
        SELECT k,
          (7*sx.i + 13*sy.i + k) % 256 AS r,
          CASE WHEN k % 3 = 2 THEN (7*sx.i + 13*sy.i + k) % 256
               ELSE (3*sx.i + 5*sy.i + 2*k) % 256 END AS g,
          CASE WHEN k % 3 = 2 THEN (7*sx.i + 13*sy.i + k) % 256
               ELSE (11*sx.i + 17*sy.i + 3*k) % 256 END AS b
        FROM keys, ser sx, ser sy WHERE sx.i < w AND sy.i < h)
      SELECT k AS n_nationkey, CAST(COUNT(*) AS BIGINT) AS n_px,
        ROUND(AVG(r), 6) AS mean_r, ROUND(AVG(g), 6) AS mean_g,
        ROUND(AVG(b), 6) AS mean_b,
        CAST(SUM(299*r + 587*g + 114*b) AS BIGINT) AS lum_sum
      FROM pxl GROUP BY 1 ORDER BY 1""")),

    // REAL baseline JPEG pixel decode, end-to-end. Payloads synthesize
    // distributedly (Multimodal.synthJpeg — DC-only blocks over a flat
    // quant table, so each decoded pixel is the closed-form dc+128; even
    // k grayscale, odd k YCbCr 4:4:4 with the JFIF matrix at
    // round-half-up), decode through the jpeg_pixels expression (the
    // JDK's ImageIO reader, libjpeg), and reduce to stats the oracle
    // recomputes from the same block formulas WITHOUT parsing a byte —
    // the synthesized Huffman tables, DC prediction chain and
    // quantization have to be right for the hash to match.
    QueryDef("q72e_jpeg_decode", (s, dir) => {
      import s.implicits._
      val keys = Table(nation(s, dir)).selectNames("n_nationkey").df
        .as[Long].map(k => (k, Multimodal.synthJpeg(k))).toDF("k", "jpg")
      val px = Multimodal.jpegPixels(col("jpg"))
      val n = size(px)
      def chanMean(shift: Int) = round(aggregate(px, lit(0L),
        (acc, p) => acc + shiftright(p, shift).bitwiseAND(lit(255))
          .cast(org.apache.spark.sql.types.LongType))
        .cast("double") / n, 6)
      keys.select(
          col("k").as("n_nationkey"),
          n.cast("long").as("n_px"),
          chanMean(16).as("mean_r"), chanMean(8).as("mean_g"), chanMean(0).as("mean_b"),
          aggregate(px, lit(0L), (acc, p) =>
            acc + (shiftright(p, 16).bitwiseAND(lit(255)) * 299 +
                   shiftright(p, 8).bitwiseAND(lit(255)) * 587 +
                   p.bitwiseAND(lit(255)) * 114)
              .cast(org.apache.spark.sql.types.LongType)).as("lum_sum"))
        .orderBy("n_nationkey")
    }, Some("""
      WITH keys AS (
        SELECT n_nationkey AS k, 2 + n_nationkey % 3 AS bw, 2 + n_nationkey % 2 AS bh
        FROM nation),
      ser AS (SELECT UNNEST(RANGE(0, 8)) AS i),
      blocks AS (
        SELECT k, ((7*bx.i + 13*by.i + k) % 151) - 75 + 128 AS yv,
          ((bx.i + 2*by.i + k) % 41) - 20 AS cbv,
          ((3*bx.i + by.i + 2*k) % 37) - 18 AS crv
        FROM keys, ser bx, ser by WHERE bx.i < bw AND by.i < bh),
      px AS (
        SELECT k,
          CASE WHEN k % 2 = 0 THEN yv
               ELSE CAST(FLOOR(yv + 1.402*crv + 0.5) AS INT) END AS r,
          CASE WHEN k % 2 = 0 THEN yv
               ELSE CAST(FLOOR(yv - 0.344136*cbv - 0.714136*crv + 0.5) AS INT) END AS g,
          CASE WHEN k % 2 = 0 THEN yv
               ELSE CAST(FLOOR(yv + 1.772*cbv + 0.5) AS INT) END AS b
        FROM blocks)
      SELECT k AS n_nationkey, CAST(SUM(64) AS BIGINT) AS n_px,
        ROUND(AVG(r), 6) AS mean_r, ROUND(AVG(g), 6) AS mean_g, ROUND(AVG(b), 6) AS mean_b,
        CAST(SUM(64*(299*r + 587*g + 114*b)) AS BIGINT) AS lum_sum
      FROM px GROUP BY 1 ORDER BY 1""")),

    // PROGRESSIVE JPEG decode: synthesized SOF2 frames carry a complete
    // scan script — one interleaved DC scan, then an all-EOB AC scan per
    // component — so every coefficient is sent and the same closed-form
    // dc+128 oracle as q72e value-checks the progressive path end to
    // end. (A DC-only script would leave AC 1-5 unsent, and libjpeg's
    // block smoothing estimates those from neighbouring blocks.) The
    // spec additionally checks ImageIO-encoded full progressive scripts
    // (AC bands, refinement passes, EOB runs) against their source.
    QueryDef("q72g_jpeg_progressive", (s, dir) => {
      import s.implicits._
      val keys = Table(nation(s, dir)).selectNames("n_nationkey").df
        .as[Long].map(k => (k, Multimodal.synthJpeg(k, progressiveDc = true)))
        .toDF("k", "jpg")
      val px = Multimodal.jpegPixels(col("jpg"))
      val n = size(px)
      def chanMean(shift: Int) = round(aggregate(px, lit(0L),
        (acc, p) => acc + shiftright(p, shift).bitwiseAND(lit(255))
          .cast(org.apache.spark.sql.types.LongType))
        .cast("double") / n, 6)
      keys.select(
          col("k").as("n_nationkey"),
          n.cast("long").as("n_px"),
          chanMean(16).as("mean_r"), chanMean(8).as("mean_g"), chanMean(0).as("mean_b"),
          aggregate(px, lit(0L), (acc, p) =>
            acc + (shiftright(p, 16).bitwiseAND(lit(255)) * 299 +
                   shiftright(p, 8).bitwiseAND(lit(255)) * 587 +
                   p.bitwiseAND(lit(255)) * 114)
              .cast(org.apache.spark.sql.types.LongType)).as("lum_sum"))
        .orderBy("n_nationkey")
    }, Some("""
      WITH keys AS (
        SELECT n_nationkey AS k, 2 + n_nationkey % 3 AS bw, 2 + n_nationkey % 2 AS bh
        FROM nation),
      ser AS (SELECT UNNEST(RANGE(0, 8)) AS i),
      blocks AS (
        SELECT k, ((7*bx.i + 13*by.i + k) % 151) - 75 + 128 AS yv,
          ((bx.i + 2*by.i + k) % 41) - 20 AS cbv,
          ((3*bx.i + by.i + 2*k) % 37) - 18 AS crv
        FROM keys, ser bx, ser by WHERE bx.i < bw AND by.i < bh),
      px AS (
        SELECT k,
          CASE WHEN k % 2 = 0 THEN yv
               ELSE CAST(FLOOR(yv + 1.402*crv + 0.5) AS INT) END AS r,
          CASE WHEN k % 2 = 0 THEN yv
               ELSE CAST(FLOOR(yv - 0.344136*cbv - 0.714136*crv + 0.5) AS INT) END AS g,
          CASE WHEN k % 2 = 0 THEN yv ELSE CAST(FLOOR(yv + 1.772*cbv + 0.5) AS INT) END AS b
        FROM blocks)
      SELECT k AS n_nationkey, CAST(SUM(64) AS BIGINT) AS n_px,
        ROUND(AVG(r), 6) AS mean_r, ROUND(AVG(g), 6) AS mean_g, ROUND(AVG(b), 6) AS mean_b,
        CAST(SUM(64*(299*r + 587*g + 114*b)) AS BIGINT) AS lum_sum
      FROM px GROUP BY 1 ORDER BY 1""")),

    // MIXED-format decode through the magic-sniffing image_pixels
    // dispatcher (round 9): each key synthesizes a DIFFERENT format
    // (k%3 → BMP / PNG-RGBA / JPEG), one expression decodes them all,
    // and the oracle recomputes the statistics from each format's own
    // closed-form synthesis — BMP/PNG pixel arithmetic, JPEG DC-block +
    // JFIF-matrix formulas — so a dispatch to the wrong decoder (or any
    // decoder regression) breaks the hash.
    QueryDef("q72f_mixed_image_decode", (s, dir) => {
      import s.implicits._
      val keys = Table(nation(s, dir)).selectNames("n_nationkey").df
        .as[Long].map { k =>
          val payload = (k % 3) match {
            case 0 => Multimodal.synthBmp(k)
            case 1 => Multimodal.synthPng(k)
            case _ => Multimodal.synthJpeg(k)
          }
          (k, payload)
        }.toDF("k", "img")
      val px = Multimodal.imagePixels(col("img"))
      val n = size(px)
      def chanMean(shift: Int) = round(aggregate(px, lit(0L),
        (acc, p) => acc + shiftright(p, shift).bitwiseAND(lit(255))
          .cast(org.apache.spark.sql.types.LongType))
        .cast("double") / n, 6)
      keys.select(
          col("k").as("n_nationkey"),
          n.cast("long").as("n_px"),
          chanMean(16).as("mean_r"), chanMean(8).as("mean_g"), chanMean(0).as("mean_b"),
          aggregate(px, lit(0L), (acc, p) =>
            acc + (shiftright(p, 16).bitwiseAND(lit(255)) * 299 +
                   shiftright(p, 8).bitwiseAND(lit(255)) * 587 +
                   p.bitwiseAND(lit(255)) * 114)
              .cast(org.apache.spark.sql.types.LongType)).as("lum_sum"))
        .orderBy("n_nationkey")
    }, Some("""
      WITH keys AS (SELECT n_nationkey AS k FROM nation),
      ser AS (SELECT UNNEST(RANGE(0, 64)) AS i),
      bmp AS (
        SELECT k, (7*sx.i + 13*sy.i + k) % 256 AS r, (3*sx.i + 5*sy.i + 2*k) % 256 AS g,
               (11*sx.i + 17*sy.i + 3*k) % 256 AS b
        FROM keys, ser sx, ser sy
        WHERE k % 3 = 0 AND sx.i < 8 + (k % 4) * 2 AND sy.i < 6),
      png AS (
        SELECT k, (7*sx.i + 13*sy.i + k) % 256 AS r, (3*sx.i + 5*sy.i + 2*k) % 256 AS g,
               (11*sx.i + 17*sy.i + 3*k) % 256 AS b
        FROM keys, ser sx, ser sy
        WHERE k % 3 = 1 AND sx.i < 8 + (k % 4) * 2 AND sy.i < 8),
      jpgblocks AS (
        SELECT k, ((7*bx.i + 13*by.i + k) % 151) - 75 + 128 AS yv,
               ((bx.i + 2*by.i + k) % 41) - 20 AS cbv,
               ((3*bx.i + by.i + 2*k) % 37) - 18 AS crv
        FROM keys, ser bx, ser by
        WHERE k % 3 = 2 AND bx.i < 4 AND by.i < 2 + k % 2),
      jpg AS (
        SELECT k,
          CASE WHEN k % 2 = 0 THEN yv ELSE CAST(FLOOR(yv + 1.402*crv + 0.5) AS INT) END AS r,
          CASE WHEN k % 2 = 0 THEN yv
               ELSE CAST(FLOOR(yv - 0.344136*cbv - 0.714136*crv + 0.5) AS INT) END AS g,
          CASE WHEN k % 2 = 0 THEN yv ELSE CAST(FLOOR(yv + 1.772*cbv + 0.5) AS INT) END AS b
        FROM jpgblocks),
      px AS (
        SELECT k, r, g, b, 1 AS wt FROM bmp
        UNION ALL SELECT k, r, g, b, 1 FROM png
        UNION ALL SELECT k, r, g, b, 64 FROM jpg)
      SELECT k AS n_nationkey, CAST(SUM(wt) AS BIGINT) AS n_px,
        ROUND(SUM(wt*r)/CAST(SUM(wt) AS DOUBLE), 6) AS mean_r,
        ROUND(SUM(wt*g)/CAST(SUM(wt) AS DOUBLE), 6) AS mean_g,
        ROUND(SUM(wt*b)/CAST(SUM(wt) AS DOUBLE), 6) AS mean_b,
        CAST(SUM(wt*(299*r + 587*g + 114*b)) AS BIGINT) AS lum_sum
      FROM px GROUP BY 1 ORDER BY 1""")),

    // Hash-based train/val/test assignment (Splits.assignSplit): split
    // membership is a pure function of (doc_id, seed) — retry/engine
    // stable, unlike rand(). Checksum = per-split count + id-sum.
    QueryDef("q86_split_assign", (s, dir) => {
      Splits.assignSplit(documents(s, dir), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42L)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy("split")
    }, Some("""
      WITH u AS (
        SELECT doc_id,
          CAST(CONCAT('0x', SUBSTRING(MD5('42:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) / 268435456.0 AS u
        FROM documents)
      SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u GROUP BY 1 ORDER BY 1""")),

    // Deterministic stratified sampling (Splits.stratifiedSample): keep iff
    // hashUnit(id) < fraction(lang); es/zh exercise the default fraction.
    QueryDef("q87_stratified_sample", (s, dir) => {
      Splits.stratifiedSample(documents(s, dir), col("doc_id"), col("lang"),
          fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1),
          seed = 7L, default = 0.05)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    }, Some("""
      WITH u AS (
        SELECT doc_id, lang,
          CAST(CONCAT('0x', SUBSTRING(MD5('7:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) / 268435456.0 AS u
        FROM documents)
      SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u
      WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.1 ELSE 0.05 END
      GROUP BY 1 ORDER BY 1""")),

    // Target-mixture downsampling (Splits.mixtureSample): realize a
    // 0.5/0.25/0.25 en/de/fr corpus mixture with maximal data retention —
    // the binding language keeps rate 1, the rest downsample to match.
    // The oracle recomputes the SAME rate arithmetic (C = min n/w,
    // rate = min(1, C·w/n)) from its own counts: identical IEEE ops on
    // identical inputs ⇒ identical rates, and the kept set is the same
    // deterministic (id, seed) hash filter as q87. Weights sum to exactly
    // 1.0 so driver-side normalization is a no-op on both sides.
    QueryDef("q87b_mixture_sample", (s, dir) => {
      val (sampled, _) = Splits.mixtureSample(documents(s, dir),
        col("doc_id"), col("lang"),
        weights = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25), seed = 11L)
      sampled.groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy("lang")
    }, Some("""
      WITH wt(lang, w) AS (VALUES
        ('en', CAST(0.5 AS DOUBLE)), ('de', CAST(0.25 AS DOUBLE)), ('fr', CAST(0.25 AS DOUBLE))),
      cnt AS (
        SELECT lang, COUNT(*) AS n FROM documents
        WHERE lang IN ('en', 'de', 'fr') GROUP BY 1),
      c AS (SELECT MIN(n / w) AS c FROM cnt JOIN wt USING (lang)),
      r AS (
        SELECT wt.lang, LEAST(CAST(1.0 AS DOUBLE), c.c * wt.w / cnt.n) AS rate
        FROM wt JOIN cnt USING (lang) CROSS JOIN c),
      u AS (
        SELECT doc_id, lang,
          CAST(CONCAT('0x', SUBSTRING(MD5('11:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) / 268435456.0 AS u
        FROM documents)
      SELECT u.lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM u JOIN r ON r.lang = u.lang
      WHERE u.u < r.rate
      GROUP BY 1 ORDER BY 1""")),

    // Quantile bucketing (Splits.bucketByQuantiles, exact mode): corpus
    // length quartiles as plan-literal thresholds + map-side assignment;
    // the oracle recomputes the same interpolated quantiles and replays
    // the <=-chain. (Integer values sit off the non-integral interpolated
    // thresholds, so ulp-level engine differences cannot flip a bucket.)
    QueryDef("q87e_quantile_buckets", (s, dir) => {
      Splits.bucketByQuantiles(documents(s, dir), col("n_chars"), 4)
        .select(col("doc_id"), col("bucket").cast("int").as("bucket"))
        .orderBy("doc_id")
    }, Some("""
      WITH thr AS (
        SELECT QUANTILE_CONT(CAST(n_chars AS DOUBLE), [0.25, 0.5, 0.75]) AS t
        FROM documents)
      SELECT doc_id,
        CAST(CASE WHEN n_chars <= t[1] THEN 0
                  WHEN n_chars <= t[2] THEN 1
                  WHEN n_chars <= t[3] THEN 2
                  ELSE 3 END AS INT) AS bucket
      FROM documents CROSS JOIN thr ORDER BY doc_id""")),

    // DSIR hashed-ngram importance log-weights (Splits.dsirLogWeights):
    // the oracle retrains BOTH bucket distributions from the same corpus
    // (target slice = source 'src0'), mirrors the Laplace smoothing
    // arithmetic exactly, and replays the per-gram ln-ratio fold
    // term-by-term in document gram order (unigrams then bigrams).
    QueryDef("q87d_dsir_weights", (s, dir) => {
      Splits.dsirLogWeights(documents(s, dir), "text",
          isTarget = col("source") === "src0", buckets = 64, alpha = 0.5, seed = 11L)
        .select(col("doc_id"), round(col("dsir_logw"), 6).as("dsir_logw"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, source,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents),
      grams AS (
        SELECT doc_id, source,
          w || LIST_TRANSFORM(range(1, GREATEST(LEN(w), 1)), i -> w[i] || ' ' || w[i+1]) AS g
        FROM toks),
      flat AS (
        SELECT doc_id, source, UNNEST(g) AS gram, UNNEST(range(1, LEN(g) + 1)) AS pos
        FROM grams),
      bk AS (
        SELECT doc_id, source, pos,
          CAST(CONCAT('0x', SUBSTRING(MD5('11:' || gram), 1, 7)) AS BIGINT) % 64 AS b
        FROM flat),
      stats AS (
        SELECT b, SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tc, COUNT(*) AS rc
        FROM bk GROUP BY b),
      tot AS (SELECT CAST(SUM(tc) AS DOUBLE) AS nt, CAST(SUM(rc) AS DOUBLE) AS nr FROM stats),
      lr AS (
        SELECT s.b,
          LN((s.tc + 0.5) / (t.nt + 32.0)) - LN((s.rc + 0.5) / (t.nr + 32.0)) AS v
        FROM stats s CROSS JOIN tot t),
      terms AS (
        SELECT bk.doc_id, bk.pos, lr.v FROM bk JOIN lr ON bk.b = lr.b),
      agg AS (SELECT doc_id, LIST_SUM(LIST(v ORDER BY pos)) AS sc FROM terms GROUP BY doc_id)
      SELECT d.doc_id, ROUND(COALESCE(a.sc, 0.0), 6) AS dsir_logw
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id ORDER BY d.doc_id""")),

    // Seeded corpus shuffle (Splits.shuffled) + loader shard assignment
    // (Splits.shardAssign): first 50 docs of the seed-3 epoch permutation,
    // with the sort key and 8-way shard exposed for value-level checking.
    QueryDef("q88_corpus_shuffle", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val skey = (Splits.hashUnit(col("doc_id"), 3L) * 268435456.0).cast("long")
      Splits.shardAssign(
          Splits.shuffled(documents(s, dir), col("doc_id"), seed = 3L),
          col("doc_id"), nShards = 8, seed = 3L)
        .withColumn("skey", skey)
        .withColumn("pos",
          row_number().over(Window.orderBy(col("skey"), col("doc_id"))) - 1)
        .filter(col("pos") < 50)
        .select(col("pos"), col("doc_id"), col("skey"), col("shard"))
        .orderBy("pos")
    }, Some("""
      WITH u AS (
        SELECT doc_id,
          CAST(CONCAT('0x', SUBSTRING(MD5('3:' || CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS skey
        FROM documents),
      r AS (
        SELECT doc_id, skey,
          CAST(LEAST(CAST(FLOOR(skey / 268435456.0 * 8) AS BIGINT), 7) AS INT) AS shard,
          ROW_NUMBER() OVER (ORDER BY skey, doc_id) - 1 AS pos
        FROM u)
      SELECT pos, doc_id, skey, shard FROM r WHERE pos < 50 ORDER BY pos""")),

    // PII detection + redaction (TextAnalysis.redactPii): deterministic
    // planted email/phone/IP per doc so counts and the redacted-text hash
    // are non-trivial; same construction in the oracle.
    QueryDef("q89_pii_redact", (s, dir) => {
      val planted = concat(col("text"),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit("-999 from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      Table(documents(s, dir))
        .filter(col("doc_id") < 50)
        .mutate("t" -> planted)
        .mutate(
          "n_email" -> TextAnalysis.emailCount(col("t")),
          "n_ip" -> TextAnalysis.ipv4Count(col("t")),
          "n_phone" -> TextAnalysis.phoneCount(col("t")),
          "redacted_hash" -> md5(TextAnalysis.redactPii(col("t"))))
        .selectNames("doc_id", "n_email", "n_ip", "n_phone", "redacted_hash")
        .sort(SortKey.asc(col("doc_id")))
        .df
    }, Some("""
      WITH p AS (
        SELECT doc_id,
          text || ' contact: user' || CAST(doc_id AS VARCHAR)
               || '@example.com or +1-555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || '-999 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t
        FROM documents WHERE doc_id < 50)
      SELECT doc_id,
        CAST(LEN(REGEXP_EXTRACT_ALL(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        CAST(LEN(REGEXP_EXTRACT_ALL(t, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INT) AS n_ip,
        CAST(LEN(REGEXP_EXTRACT_ALL(t, '\+\d[\d\-]{7,}\d')) AS INT) AS n_phone,
        MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(t,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
          '\+\d[\d\-]{7,}\d', '<PHONE>', 'g')) AS redacted_hash
      FROM p ORDER BY doc_id""")),

    // Gopher-style repetition signals (TextAnalysis.dupTokenFraction /
    // topNgramFraction): duplicate-token share and top-2/3-gram dominance.
    QueryDef("q89b_repetition", (s, dir) => {
      Table(documents(s, dir))
        .filter(col("doc_id") < 50)
        .mutate(
          "dup_frac" -> round(TextAnalysis.dupTokenFraction(col("text")), 6),
          "top2_frac" -> round(TextAnalysis.topNgramFraction(col("text"), 2), 6),
          "top3_frac" -> round(TextAnalysis.topNgramFraction(col("text"), 3), 6))
        .selectNames("doc_id", "dup_frac", "top2_frac", "top3_frac")
        .sort(SortKey.asc(col("doc_id")))
        .df
    }, Some("""
      WITH d AS (
        SELECT doc_id,
          LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != '') AS w
        FROM documents WHERE doc_id < 50),
      g AS (
        SELECT doc_id, w,
          LIST_TRANSFORM(RANGE(0, LEN(w) - 1), i -> w[i+1] || ' ' || w[i+2]) AS g2,
          LIST_TRANSFORM(RANGE(0, LEN(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g3
        FROM d)
      SELECT doc_id,
        ROUND(CASE WHEN LEN(w) = 0 THEN 0.0
          ELSE 1.0 - LEN(LIST_DISTINCT(w)) / CAST(LEN(w) AS DOUBLE) END, 6) AS dup_frac,
        ROUND(CASE WHEN LEN(w) < 2 THEN 0.0
          ELSE LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(g2), x -> LEN(LIST_FILTER(g2, y -> y = x)))) / CAST(LEN(g2) AS DOUBLE) END, 6) AS top2_frac,
        ROUND(CASE WHEN LEN(w) < 3 THEN 0.0
          ELSE LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(g3), x -> LEN(LIST_FILTER(g3, y -> y = x)))) / CAST(LEN(g3) AS DOUBLE) END, 6) AS top3_frac
      FROM g ORDER BY doc_id""")),

    // Phrase-blocklist matching (PhraseFilter.matches, the join path): the
    // oracle's twin uses the token-boundary padded-LIKE identity — a
    // phrase occurs as a contiguous token run iff ' '+join(tokens)+' '
    // contains ' '+phrase+' '. Phrases are pre-normalized so both sides
    // compare the same strings.
    QueryDef("q89d_phrase_blocklist", (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val phrases = s.createDataFrame(
        java.util.Arrays.asList(
          Row("table scan"), Row("the fast key"), Row("group query"), Row("zzz qqq never")),
        StructType(Seq(StructField("phrase", StringType))))
      PhraseFilter.matches(documents(s, dir), "doc_id", "text", phrases)
        .orderBy("doc_id", "phrase")
    }, Some("""
      WITH p(phrase) AS (VALUES
        ('table scan'), ('the fast key'), ('group query'), ('zzz qqq never')),
      t AS (
        SELECT doc_id,
          ' ' || ARRAY_TO_STRING(
            LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), x -> x != ''),
            ' ') || ' ' AS s
        FROM documents)
      SELECT DISTINCT doc_id, phrase
      FROM t JOIN p ON CONTAINS(t.s, ' ' || p.phrase || ' ')
      ORDER BY doc_id, phrase""")),

    // URL hygiene battery (UrlOps): synthetic-but-rich URLs built from doc
    // fields (case noise, www, two-level TLDs, default port, tracking
    // params in leading/trailing position, fragments), then host
    // extraction, registrable-domain rollup, normalization, and the
    // domain blocklist filter ('data.net' dropped). The oracle rebuilds
    // the identical URLs and replays each regex step (RE2-portable
    // subset, 'g' flag to match Spark's replace-all).
    QueryDef("q89c_url_ops", (s, dir) => {
      val idS = col("doc_id").cast("string")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
        when(col("doc_id") % 5 === 0, lit("www.")).otherwise(lit("")),
        col("source"), lit("."),
        element_at(array(lit("shop.co.uk"), lit("example.com"), lit("blog.org"), lit("data.net")),
          (col("doc_id") % 4).cast("int") + 1),
        when(col("doc_id") % 7 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), idS,
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=feed&id="), idS, lit("&utm_campaign=x#f")))
          .otherwise(concat(lit("?id="), idS)))
      val withUrl = documents(s, dir).withColumn("__url", url)
      UrlOps.filterBlockedDomains(withUrl, col("__url"), Seq("data.net"))
        .select(col("doc_id"),
          UrlOps.urlHost(col("__url")).as("host"),
          UrlOps.registrableDomain(UrlOps.urlHost(col("__url"))).as("domain"),
          UrlOps.urlNormalize(col("__url")).as("norm"))
        .orderBy("doc_id")
    }, Some("""
      WITH u AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
          || (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END)
          || source || '.'
          || (['shop.co.uk','example.com','blog.org','data.net'])[CAST(doc_id % 4 AS INT) + 1]
          || (CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END)
          || '/p/' || CAST(doc_id AS VARCHAR)
          || (CASE WHEN doc_id % 3 = 0
              THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x#f'
              ELSE '?id=' || CAST(doc_id AS VARCHAR) END) AS url
        FROM documents),
      h AS (
        SELECT doc_id, url,
          NULLIF(REGEXP_REPLACE(
            LIST_EXTRACT(STRING_SPLIT(
              LOWER(REGEXP_EXTRACT(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)), '@'), -1),
            ':[0-9]+$', ''), '') AS host
        FROM u),
      d AS (
        SELECT doc_id, url, host,
          STRING_SPLIT(host, '.') AS p
        FROM h),
      dom AS (
        SELECT doc_id, url, host,
          CASE WHEN LEN(p) <= 2 THEN host
               WHEN LIST_CONTAINS(['co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au','co.jp','ne.jp','or.jp','com.br','com.cn','com.mx','co.in','co.kr','com.tw','com.sg','co.nz'],
                 p[-2] || '.' || p[-1]) AND LEN(p) >= 3
                 THEN p[-3] || '.' || p[-2] || '.' || p[-1]
               ELSE p[-2] || '.' || p[-1] END AS domain
        FROM d),
      n AS (
        SELECT doc_id, host, domain,
          REGEXP_REPLACE(
            REGEXP_REPLACE(
              REGEXP_REPLACE(
                REGEXP_REPLACE(
                  REGEXP_REPLACE(
                    REGEXP_REPLACE(
                      REGEXP_REPLACE(
                        REGEXP_REPLACE(
                          LOWER(REGEXP_EXTRACT(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                            || REGEXP_EXTRACT(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1),
                          '#.*$', '', 'g'),
                        '^(https://[^/?#:]+):443([/?]|$)', '\1\2', 'g'),
                      '^(http://[^/?#:]+):80([/?]|$)', '\1\2', 'g'),
                    '&(utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*', '', 'g'),
                  '\?(utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*&', '?', 'g'),
                '\?(utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*$', '', 'g'),
              '[?&]$', '', 'g'),
            '^([a-z][a-z0-9+.-]*://[^/?#]+)/$', '\1', 'g') AS norm
        FROM dom)
      SELECT doc_id, host, domain, norm FROM n
      WHERE domain IS NULL OR NOT LIST_CONTAINS(['data.net'], domain)
      ORDER BY doc_id"""))
  )
}
