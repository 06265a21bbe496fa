"""Text-analysis operators for training-data pipelines over the
`documents` table: token counting, quality scoring, language-ID
heuristic, document fingerprinting, token histograms.

All expressions are JVM built-ins (split / higher-order filter /
regexp / md5) — one narrow scan, no shuffle except for the histogram's
groupBy. At 100 TB each of these is a single map-stage over the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dpu_olap_spark.functions.text import (
    EVAL_HEX,
    MAX_TOKENS,
    MIN_TOKENS,
    STOPWORDS,
    stopword_hits,
    tokens,
)
from dpu_olap_spark.registry import query
from dpu_olap_spark.sources.tables import load_table, parquet_row_count, table_path

_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_EVAL_HEX_SQL = ", ".join(f"'{h}'" for h in EVAL_HEX)


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars, text,
             string_split(text, ' ') AS toks
      FROM documents
    )
    SELECT
      doc_id, lang,
      len(toks) AS n_tokens,
      length(text) AS text_len,
      n_chars,
      length(replace(text, ' ', '')) AS n_nonspace,
      round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks), 4)
        AS avg_token_len,
      len(list_filter(toks, x -> x IN ({_SW_SQL}))) AS n_stopwords,
      round(CAST(len(list_filter(toks, x -> x IN ({_SW_SQL}))) AS DOUBLE)
            / len(toks), 4) AS stopword_ratio
    FROM t
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/length statistics + stopword ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", " ", ""))
    sw = stopword_hits(toks)
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("text_len"),
        "n_chars",
        n_nonspace.alias("n_nonspace"),
        F.round(n_nonspace.cast("double") / n_tokens, 4).alias("avg_token_len"),
        sw.alias("n_stopwords"),
        F.round(sw.cast("double") / n_tokens, 4).alias("stopword_ratio"),
    )


@query(
    "quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS tl
      FROM documents
    )
    SELECT
      doc_id,
      CASE WHEN len(toks) >= {MIN_TOKENS} AND len(toks) <= {MAX_TOKENS}
           THEN 1 ELSE 0 END AS len_ok,
      CASE WHEN len(list_filter(toks, x -> x IN ({_SW_SQL}))) * 10 >= len(toks)
           THEN 1 ELSE 0 END AS stopword_ok,
      round(
        0.5 * (CASE WHEN len(toks) >= {MIN_TOKENS} AND len(toks) <= {MAX_TOKENS}
               THEN 1 ELSE 0 END)
        + 0.5 * (CASE WHEN len(list_filter(toks, x -> x IN ({_SW_SQL}))) * 10
                      >= len(toks) THEN 1 ELSE 0 END), 2) AS quality
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate: length band + stopword
    density, combined into a [0,1] score. Integer-arithmetic predicates
    keep both engines exactly aligned."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    len_ok = F.when((n >= MIN_TOKENS) & (n <= MAX_TOKENS), 1).otherwise(0)
    sw_ok = F.when(stopword_hits(toks) * 10 >= n, 1).otherwise(0)
    return docs.select(
        "doc_id",
        len_ok.alias("len_ok"),
        sw_ok.alias("stopword_ok"),
        F.round(0.5 * len_ok + 0.5 * sw_ok, 2).alias("quality"),
    )


_MARKERS = {
    "en": ("the", "and", "is"),
    "es": ("el", "la", "que"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
}


def _marker_sql(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in _MARKERS[lang])


@query(
    "lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
        len(list_filter(toks, x -> x IN ({_marker_sql('en')}))) AS hits_en,
        len(list_filter(toks, x -> x IN ({_marker_sql('es')}))) AS hits_es,
        len(list_filter(toks, x -> x IN ({_marker_sql('de')}))) AS hits_de,
        len(list_filter(toks, x -> x IN ({_marker_sql('fr')}))) AS hits_fr
      FROM t
    )
    SELECT doc_id, lang, hits_en, hits_es, hits_de, hits_fr,
      CASE
        WHEN hits_en = 0 AND hits_es = 0 AND hits_de = 0 AND hits_fr = 0
          THEN 'unknown'
        WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr
          THEN 'en'
        WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
        WHEN hits_de >= hits_fr THEN 'de'
        ELSE 'fr'
      END AS pred_lang
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with a deterministic argmax
    (fixed tie-break order en > es > de > fr)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    hits = {lang: stopword_hits(toks, words) for lang, words in _MARKERS.items()}
    sel = docs.select(
        "doc_id",
        "lang",
        *[hits[lang].alias(f"hits_{lang}") for lang in _MARKERS],
    )
    c = {lang: F.col(f"hits_{lang}") for lang in _MARKERS}
    pred = (
        F.when((c["en"] == 0) & (c["es"] == 0) & (c["de"] == 0) & (c["fr"] == 0), "unknown")
        .when((c["en"] >= c["es"]) & (c["en"] >= c["de"]) & (c["en"] >= c["fr"]), "en")
        .when((c["es"] >= c["de"]) & (c["es"] >= c["fr"]), "es")
        .when(c["de"] >= c["fr"], "de")
        .otherwise("fr")
    )
    return sel.withColumn("pred_lang", pred)


@query(
    "fingerprint",
    oracle="""
    SELECT
      doc_id,
      md5(text) AS fp_full,
      md5(substr(text, 1, 64)) AS fp_head,
      md5(concat(lang, ':', source)) AS fp_meta
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 — cross-engine deterministic; see
    functions/text.py on hash choice)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_full"),
        F.md5(F.substring("text", 1, 64)).alias("fp_head"),
        F.md5(F.concat_ws(":", "lang", "source")).alias("fp_meta"),
    )


@query(
    "token_hist",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 50
    """,
)
def q_token_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-50 (explode -> count -> top-k).
    Partial aggregation collapses each partition's counts before the
    shuffle, so shuffled bytes ~ vocabulary size, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


@query(
    "approx_topk_tokens",
    oracle="""
    SELECT token AS item, CAST(COUNT(*) AS BIGINT) AS est_count
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY est_count DESC, item ASC
    LIMIT 20
    """,
)
def q_approx_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters in ONE PASS with bounded memory: approx_top_k
    (Spark 4's space-saving sketch) over the exploded token stream.
    At 100 TB this replaces the exact two-phase top-k (token_hist)
    whenever the distinct-key space outgrows memory — the sketch
    tracks a fixed number of counters per partition and merges. Here
    maxItemsTracked (10,000) far exceeds the corpus vocabulary, in
    which regime the space-saving algorithm degenerates to EXACT
    counting — which is why this query can carry an exact oracle
    (the general sketch case is tolerance-gated like
    approx_percentile); tests/test_sketch_tolerance.py asserts
    vocabulary << maxItemsTracked so the assumption is checked, not
    assumed. The sketch is asked for a 100-item MARGIN, not the final
    20: if counts tie at the rank-20 boundary, which tied item a
    k=20 sketch returns is implementation-defined, while the oracle's
    ORDER BY picks the lexicographically smallest — re-ranking the
    100-item margin by (est_count DESC, item ASC) makes both engines
    cut the same deterministic top-20 (r5 ADVICE)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    sk = toks.agg(
        F.expr("approx_top_k(token, 100, 10000)").alias("tk")
    ).select(F.explode("tk").alias("e"))
    return (
        sk.select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("est_count"),
        )
        .orderBy(F.col("est_count").desc(), F.col("item").asc())
        .limit(20)
    )


_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "token_count",
    oracle=f"""
    SELECT doc_id,
      len(string_split(text, ' ')) AS n_ws_tokens,
      len(regexp_extract_all(text, '{_BPE_RE}')) AS n_sub_tokens,
      round(CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS DOUBLE)
            / len(string_split(text, ' ')), 4) AS fertility
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace words and a BPE-ish regex
    segmentation (letter runs / digit runs / single punctuation — the
    pre-tokenizer shape of byte-pair encoders). `fertility` =
    subtokens per word, the usual tokenizer-cost metric."""
    docs = load_table(spark, sf_dir, "documents")
    n_ws = F.size(tokens(F.col("text")))
    n_sub = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_sub.alias("n_sub_tokens"),
        F.round(n_sub.cast("double") / n_ws, 4).alias("fertility"),
    )


@query(
    "rolling_fingerprint",
    oracle="""
    SELECT doc_id,
      list_reduce(
        list_prepend(
          CAST(0 AS BIGINT),
          list_transform(string_split(text, ' '),
                         t -> CAST(ascii(t) * 256 + length(t) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1000000007) AS roll_fp
    FROM documents
    """,
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream
    (code = ascii(first char) * 256 + token length; fold
    acc*31 + code mod 1e9+7). Unlike the md5 set fingerprints, this
    changes when tokens are REORDERED — the complementary signal for
    near-dup triage. Pure fold expression, JVM-side, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    codes = F.transform(
        tokens(F.col("text")),
        lambda t: (F.ascii(t) * 256 + F.length(t)).cast("long"),
    )
    fp = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % 1000000007
    )
    return docs.select("doc_id", fp.alias("roll_fp"))


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6), 6)
               AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token ASC) AS rn
      FROM scored
    )
    SELECT doc_id, token, tfidf FROM ranked WHERE rn <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: per-doc term frequency x corpus inverse document
    frequency; top-5 terms per document. Plan shape: one explode, two
    partial-agged groupBys, a broadcast-sized DF join (vocabulary <<
    corpus), one ranking window partitioned by doc — every stage
    linear. ln() agrees across libm implementations far below the
    1e-6 rounding, applied before the multiply on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # scalar parameter from the parquet FOOTER (driver-side metadata
    # read, no Spark job — guide §6, same pattern as sink_zorder's
    # normalization maxes): the oracle's n is COUNT(*) FROM documents,
    # which the footer row count equals exactly.  The old docs.count()
    # paid a full job (and its scheduling floor) before the main query
    # could even be submitted.
    n_docs = parquet_row_count(table_path(sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    # tf materialized once (column pruning would otherwise specialize
    # the subtree per consumer and re-explode the corpus for each):
    # one corpus explode, then df derives from the far smaller
    # vocabulary-per-doc aggregate — tf rows are already distinct
    # (doc, token), so a plain count per token == distinct-doc count
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    scored = tf.join(df, "token").select(
        "doc_id", "token", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.select("doc_id", "token", "tfidf", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


# Normalization used by `text_clean` and the composed pipeline:
# lowercase -> strip non-alphanumerics -> collapse runs of spaces -> trim.
_CLEAN_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def _clean_expr() -> F.Column:
    lowered = F.lower(F.col("text"))
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


@query(
    "text_clean",
    oracle=f"""
    SELECT doc_id,
           {_CLEAN_SQL} AS cleaned,
           length({_CLEAN_SQL}) AS clean_len,
           length(text) - length({_CLEAN_SQL}) AS removed
    FROM documents
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lowercase, punctuation strip, whitespace
    collapse) — the first stage of every training-data pipeline; pure
    regexp built-ins, map-only."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = _clean_expr()
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.length(cleaned).alias("clean_len"),
        (F.length("text") - F.length(cleaned)).alias("removed"),
    )


@query(
    "token_positions",
    oracle="""
    SELECT doc_id, pos, token FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ) WHERE doc_id % 50 = 0
    """,
)
def q_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional tokenization (posexplode): token with its 1-based
    position — the layout attention/alignment pipelines need."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    return docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")


@query(
    "pipeline_corpus",
    oracle=f"""
    WITH cleaned AS (
      SELECT doc_id, lang, {_CLEAN_SQL} AS ctext FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, ctext,
             len(string_split(ctext, ' ')) AS n_tokens
      FROM cleaned
      WHERE len(string_split(ctext, ' ')) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
    ),
    deduped AS (
      SELECT md5(ctext) AS fp,
             CAST(MIN(doc_id) AS BIGINT) AS doc_id
      FROM quality GROUP BY md5(ctext)
    ),
    kept AS (
      SELECT q.doc_id, q.lang, q.n_tokens, d.fp
      FROM quality q JOIN deduped d ON q.doc_id = d.doc_id
    ),
    split AS (
      SELECT *,
             CASE WHEN substr(md5(fp), 1, 1) IN ({_EVAL_HEX_SQL})
                  THEN 'eval' ELSE 'train' END AS subset
      FROM kept
    )
    SELECT lang, subset,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM split GROUP BY lang, subset
    """,
)
def q_pipeline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus pipeline, end to end: normalize ->
    length-gate -> exact-dedup (keep min doc_id) -> deterministic
    hash train/eval split -> per-(lang, subset) token accounting.
    Every stage is one of this engine's verified operators chained as
    a single declarative plan — Catalyst fuses the map stages; the
    only shuffles are the dedup groupBy and the final rollup."""
    from dpu_olap_spark.llm.pipeline import curate

    kept = curate(spark, sf_dir)
    return kept.groupBy("lang", "subset").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@query(
    "bm25_scores",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(
               round(ln((CAST(s.n_docs AS DOUBLE) - df.df + CAST(0.5 AS DOUBLE))
                        / (df.df + CAST(0.5 AS DOUBLE))
                        + CAST(1.0 AS DOUBLE)), 6)
               * (tf.tf * CAST(2.2 AS DOUBLE))
               / (tf.tf + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)),
               6) AS bm25
      FROM tf
      JOIN dl ON tf.doc_id = dl.doc_id
      JOIN df ON tf.token = df.token
      CROSS JOIN stats s
    ),
    ranked AS (
      SELECT doc_id, token, bm25,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY bm25 DESC, token ASC) AS rn
      FROM scored
    )
    SELECT doc_id, token, bm25 FROM ranked WHERE rn <= 5
    """,
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-5 terms per document — the
    retrieval-grade extension of tf-idf with saturation and
    document-length normalization; at corpus scale this is the scoring
    half of a data-curation retrieval index. Plan shape matches
    tfidf_top_terms: one explode, three partial-agged groupBys, a
    vocabulary-sized join, one per-doc ranking window — every stage
    linear, nothing quadratic. Corpus constants (N, avgdl) are a
    two-value parameter fetch, not a data collect. Cross-engine
    exactness: every constant is a DOUBLE on both sides (DuckDB bare
    decimals would run DECIMAL arithmetic), the idf ln() is rounded to
    6 before the multiply, the final score rounded to 6 BEFORE the
    rank with token as tiebreak — the round-before-rank recipe."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    # tf materialized once (lazy localCheckpoint; plain derivation
    # would let column pruning specialize the subtree per consumer and
    # re-explode the corpus three times). dl and df then derive FROM
    # tf: SUM of tf per doc == token count, and tf rows are distinct
    # (doc, token) so a plain count per token == distinct-doc count —
    # one corpus explode total, the dominating cost at 100 TB
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs, sum_dl = dl.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()  # two-scalar parameter fetch (corpus stats), not a data collect
    avgdl = float(sum_dl) / float(n_docs)
    idf = F.round(
        F.log((float(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 6
    )
    k1, b = 1.2, 0.75
    norm = F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl") / F.lit(avgdl))
    scored = (
        tf.join(dl, "doc_id")
        .join(dfreq, "token")
        .select(
            "doc_id",
            "token",
            F.round(idf * (F.col("tf") * (k1 + 1.0)) / norm, 6).alias("bm25"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("bm25").desc(), F.col("token").asc())
    return (
        scored.select("doc_id", "token", "bm25", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(n_bigram) AS BIGINT) AS n_w1 FROM c2 GROUP BY w1)
    SELECT c2.w1, c2.w2, c2.n_bigram, c1.n_w1,
           CAST(ROUND(CAST(c2.n_bigram AS DOUBLE) / c1.n_w1, 6) AS DOUBLE) AS p
    FROM c2 JOIN c1 ON c2.w1 = c1.w1
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model — conditional probabilities
    p(w2|w1) = count(w1 w2)/count(w1 *) — the statistical model behind
    perplexity-based quality filtering (CCNet-style). The bigram list
    is built map-side by zipping each token array with its own tail
    (no positional self-join), then two stacked exact aggregations;
    the conditioning count reuses the bigram counts (SUM of n_bigram
    per w1), so the raw token stream is shuffled once, not twice. The
    model table is vocabulary-bounded — tiny next to the corpus — which
    is what makes it broadcastable to the scoring pass at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # NOTE (r18 optimization round): unlike the shingle/segment shapes
    # (where split() inlined in a transform LAMBDA re-ran per element
    # — see dedup._lanes), the zip_with arguments here are plain
    # per-row subtrees and Spark's subexpression elimination already
    # evaluates the split once; an A/B with a hoisted projection
    # measured no win (0.56/0.58 -> 0.58/0.72), so the original
    # single-projection form stays.
    t = tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        docs.where(F.size(t) >= 2)
        .select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
    )
    # c2 feeds both the conditioning totals and the final join;
    # materialize it once so the corpus explodes once (same pruning
    # pitfall as tf-idf: un-materialized, each consumer re-derives it)
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("n_bigram").alias("n_w1"))
    return c2.join(c1, "w1").select(
        "w1",
        "w2",
        "n_bigram",
        "n_w1",
        F.round(F.col("n_bigram").cast("double") / F.col("n_w1"), 6)
        .cast("double")
        .alias("p"),
    )


@query(
    "perplexity_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(n_bigram) AS BIGINT) AS n_w1 FROM c2 GROUP BY w1),
    lm AS (
      SELECT c2.w1, c2.w2,
             CAST(round(ln(CAST(c2.n_bigram AS DOUBLE) / c1.n_w1) * 1000000)
                  AS BIGINT) AS logp_u
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(ROUND(CAST(SUM(lm.logp_u) AS DOUBLE) / COUNT(*) / 1000000, 6)
                AS DOUBLE) AS avg_logp
    FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
    GROUP BY bg.doc_id
    """,
)
def q_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity proxy: mean log-probability of the
    document's bigrams under the corpus bigram LM — the classic
    quality gate (docs whose text the corpus model finds surprising
    are boilerplate, menus, or noise). The LM table is
    vocabulary-bounded so the scoring join BROADCASTS the model to the
    per-doc bigram stream; log-probs travel as integer micro-units
    (round(ln(p)*1e6)) so the per-doc SUM is associative — Spark's
    partial aggregation and DuckDB's single-pass sum agree exactly —
    and only ONE division turns the exact integer back into the
    reported double."""
    docs = load_table(spark, sf_dir, "documents")
    # zip_with args are plain per-row subtrees — CSE covers the split;
    # a hoisted-projection A/B measured no win here (see q_bigram_lm)
    t = tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # the per-doc bigram stream feeds both the model build and the
    # scoring join — two corpus passes, INHERENT to build-then-score
    # (materializing the exploded stream would trade map-side CPU for
    # a corpus-sized spill; recompute wins at 100 TB). c2, which is
    # vocabulary-bounded, IS materialized for its two consumers.
    bg = (
        docs.where(F.size(t) >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
        .localCheckpoint(eager=False)
    )
    c1 = c2.groupBy("w1").agg(F.sum("n_bigram").alias("n_w1"))
    lm = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.round(F.log(F.col("n_bigram").cast("double") / F.col("n_w1")) * 1000000.0)
        .cast("bigint")
        .alias("logp_u"),
    )
    return (
        bg.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("logp_u").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
            )
            .cast("double")
            .alias("avg_logp"),
        )
    )


@query(
    "vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    total AS (SELECT SUM(n) AS total_tokens FROM counts),
    ranked AS (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
             SUM(n) OVER (ORDER BY n DESC, token ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_n
      FROM counts
    )
    SELECT rank, token, n,
           CAST(ROUND(CAST(cum_n AS DOUBLE) / total_tokens, 6) AS DOUBLE)
             AS cum_share
    FROM ranked, total
    WHERE rank <= 30
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the top-30 tokens by corpus
    frequency with each one's CUMULATIVE share of all token
    occurrences — the head of the Zipf curve that sizes a tokenizer
    vocabulary ("how many types cover 95% of tokens"). One shuffle to
    token counts (map-side partial agg collapses the stream to the
    vocabulary first), then the ranking window runs over VOCABULARY
    rows, not token occurrences; cumulative sums are exact integers,
    with the single share division rounded last."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n")).first()[0]  # scalar parameter fetch
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("n").desc(), F.col("token").asc())
    ranked = counts.select(
        "token",
        "n",
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_n"),
    )
    return (
        ranked.where(F.col("rank") <= 30)
        .select(
            "rank",
            "token",
            "n",
            F.round(F.col("cum_n").cast("double") / F.lit(float(total)), 6)
            .cast("double")
            .alias("cum_share"),
        )
    )
