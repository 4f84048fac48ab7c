"""Text-analysis queries (ts_*): quality gates, lang-ID, corpus statistics.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from us_dot_flights_lakehouse_spark.llm import curation, textstats
from us_dot_flights_lakehouse_spark.functions.text import (
    hash28,
    shingles,
    tokenize,
)
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table

from us_dot_flights_lakehouse_spark.queries.llm_shared import (
    FH_DIM,
    _SHINGLES,
    _TOKENS,
    _duck_doubles,
)


def ts_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    return textstats.text_stats(docs)


TS_STATS_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(len({_TOKENS}) AS INTEGER) AS n_tokens,
    CAST(len(list_distinct({_TOKENS})) AS INTEGER) AS n_unique_tokens,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER) AS n_nonspace_chars,
    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_punct,
    CAST(len(list_filter({_TOKENS}, t -> t IN ('the','and','of','to','in','is','it','you','that','for'))) AS INTEGER) AS n_stopwords,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
)
SELECT *,
  CAST(n_unique_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS token_diversity,
  CAST(n_nonspace_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
  CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
  (CASE WHEN n_tokens >= 20 AND n_tokens <= 80 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
   + CASE WHEN CAST(n_unique_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
   + CASE WHEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.1 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
  ) AS quality_score
FROM base
"""


def ts_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    return textstats.lang_id(docs)


def _lang_oracle() -> str:
    from us_dot_flights_lakehouse_spark.llm.textstats import LANG_LEXICONS

    counts = ",\n    ".join(
        "CAST(len(list_filter({t}, t -> t IN ({ws}))) AS INTEGER) AS c_{lang}".format(
            t=_TOKENS, ws=", ".join(f"'{w}'" for w in lex), lang=lang
        )
        for lang, lex in LANG_LEXICONS.items()
    )
    return f"""
WITH scored AS (
  SELECT doc_id,
    {counts}
  FROM documents
)
SELECT *,
  CASE
    WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de AND c_en > 0 THEN 'en'
    WHEN c_es >= c_fr AND c_es >= c_de AND c_es > 0 THEN 'es'
    WHEN c_fr >= c_de AND c_fr > 0 THEN 'fr'
    WHEN c_de > 0 THEN 'de'
    ELSE 'und'
  END AS lang_pred
FROM scored
"""


TTR_WINDOW = 20  #: tokens per type-token-ratio window


def ts_ttr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: windowed lexical diversity (MATTR-style moving-average
    type-token ratio) — plain TTR collapses with document length, so the
    standard fix averages TTR over fixed {TTR_WINDOW}-token windows:
    the vocabulary-richness quality signal that separates fluent prose
    from keyword-stuffed or template text (complements entropy/Gini/
    readability gates). Per doc: token count, full-doc TTR, number of
    full windows, and the windowed-mean TTR (NULL when the doc is
    shorter than one window).

    Determinism: every window's TTR is distinct-count/window-size from
    exact ints; the mean folds the window ratios SEQUENTIALLY in window
    order inside one array expression — no parallel double sum. Zero
    shuffle: all math is per-row array lambdas over the token array.

    Scale: scan-local (the textstats family contract); window count per
    row is len/{TTR_WINDOW} array slices, linear in document size."""
    docs = read_corpus(spark, sf_dir, "documents")
    toks = tokenize("text")
    n = F.size(toks)
    n_win = F.floor(n / F.lit(TTR_WINDOW)).cast("int")
    win_ttrs = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda w: F.size(
            F.array_distinct(F.slice(toks, w * TTR_WINDOW + 1, TTR_WINDOW))
        ).cast("double")
        / F.lit(float(TTR_WINDOW)),
    )
    mattr = F.when(
        n_win > 0,
        F.aggregate(win_ttrs, F.lit(0.0), lambda acc, x: acc + x)
        / n_win.cast("double"),
    )
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
        ).alias("ttr_full"),
        n_win.alias("n_windows"),
        mattr.alias("mattr"),
    )


TS_TTR_ORACLE = f"""
WITH base AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), d AS (
  SELECT doc_id, t, len(t) AS n, CAST(len(t) // {TTR_WINDOW} AS INTEGER) AS n_win
  FROM base
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS DOUBLE) / CAST(n AS DOUBLE) AS ttr_full,
       n_win AS n_windows,
       CASE WHEN n_win > 0 THEN
         list_sum(list_transform(range(0, n_win),
           w -> CAST(len(list_distinct(t[w * {TTR_WINDOW} + 1 : w * {TTR_WINDOW} + {TTR_WINDOW}])) AS DOUBLE)
                / {float(TTR_WINDOW)!r}))
         / CAST(n_win AS DOUBLE)
       END AS mattr
FROM d
"""


HEAPS_DECILES = 10


def ts_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: vocabulary growth curve (Heaps' law V ≈ K·Tᵝ) over ingest-order
    prefixes — the corpus fingerprint that tells a pipeline whether new
    data still brings new vocabulary (β falling toward 0 = the crawl is
    saturating; near-constant β ≈ 0.5 = healthy heavy-tail growth). For
    each doc-id decile cutoff: cumulative token count T, cumulative
    vocabulary V (distinct tokens whose FIRST occurrence is within the
    prefix), and the local growth exponent β = Δln V / Δln T between
    consecutive deciles (NULL for the first decile and wherever T stalls).

    Everything is exact integers until the per-row ln ratio: V comes
    from a min-doc-id-per-token aggregate (first occurrence), prefix
    sums are {HEAPS_DECILES} conditional sums in ONE pass each (no
    per-decile rescans), cutoffs are integer arithmetic on max(doc_id).

    Scale: two corpus-wide aggregates (token explode → first-occurrence
    groupBy; conditional-sum folds) + a {HEAPS_DECILES}-row self-join.
    Nothing is decile-rescanned; the explode is the cost and it is paid
    once."""
    docs = read_corpus(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    mx = docs.agg(F.max("doc_id").cast("bigint").alias("mx"))

    def cut(d: int):
        return F.expr(f"CAST(mx * {d} DIV {HEAPS_DECILES} AS BIGINT)")

    tok_sums = tok.crossJoin(F.broadcast(mx)).agg(
        *[
            F.sum((F.col("doc_id") <= cut(d)).cast("bigint"))
            .cast("bigint")
            .alias(f"t{d}")
            for d in range(1, HEAPS_DECILES + 1)
        ]
    )
    first_occ = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    voc_sums = first_occ.crossJoin(F.broadcast(mx)).agg(
        *[
            F.sum((F.col("first_doc") <= cut(d)).cast("bigint"))
            .cast("bigint")
            .alias(f"v{d}")
            for d in range(1, HEAPS_DECILES + 1)
        ]
    )
    stack = ", ".join(
        f"{d}, t{d}, v{d}" for d in range(1, HEAPS_DECILES + 1)
    )
    curve = (
        tok_sums.crossJoin(voc_sums)
        .selectExpr(
            f"stack({HEAPS_DECILES}, {stack}) AS "
            "(decile, cum_tokens, vocab)"
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            "cum_tokens",
            "vocab",
        )
    )
    prev = curve.select(
        (F.col("decile") + 1).alias("decile"),
        F.col("cum_tokens").alias("t_prev"),
        F.col("vocab").alias("v_prev"),
    )
    beta = F.when(
        (F.col("t_prev").isNotNull())
        & (F.col("cum_tokens") > F.col("t_prev"))
        & (F.col("v_prev") > 0),
        (
            F.log(F.col("vocab").cast("double"))
            - F.log(F.col("v_prev").cast("double"))
        )
        / (
            F.log(F.col("cum_tokens").cast("double"))
            - F.log(F.col("t_prev").cast("double"))
        ),
    )
    return (
        curve.join(F.broadcast(prev), "decile", "left")
        .select("decile", "cum_tokens", "vocab", beta.alias("heaps_beta"))
    )


TS_HEAPS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
), mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
deciles AS (SELECT unnest(range(1, {HEAPS_DECILES + 1})) AS decile),
cuts AS (
  SELECT CAST(decile AS INTEGER) AS decile,
         CAST(mx * decile // {HEAPS_DECILES} AS BIGINT) AS cut
  FROM deciles, mx
), first_occ AS (
  SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY 1
), curve AS (
  SELECT c.decile,
         (SELECT CAST(count(*) AS BIGINT) FROM tok WHERE doc_id <= c.cut)
           AS cum_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM first_occ
          WHERE first_doc <= c.cut) AS vocab
  FROM cuts c
)
SELECT a.decile, a.cum_tokens, a.vocab,
       CASE WHEN b.cum_tokens IS NOT NULL AND a.cum_tokens > b.cum_tokens
                 AND b.vocab > 0
            THEN (ln(CAST(a.vocab AS DOUBLE)) - ln(CAST(b.vocab AS DOUBLE)))
                 / (ln(CAST(a.cum_tokens AS DOUBLE))
                    - ln(CAST(b.cum_tokens AS DOUBLE)))
       END AS heaps_beta
FROM curve a LEFT JOIN curve b ON a.decile = b.decile + 1
"""


HH_TOPK = 10


def ts_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: corpus-wide frequent-token detection — the heavy-hitters
    sketch (Spark 4 ``approx_top_k``) next to its exact companion. At
    100 TB the sketch is the only affordable path (fixed-size state,
    single pass, mergeable across partitions: boilerplate tokens /
    template n-grams surface without a full token groupBy); here the
    exact top-k ranking is the oracle-checked output and a boolean
    asserts the sketch reproduced each top token's count (maxItemsTracked
    far exceeds this corpus's vocabulary, so the sketch is provably
    exact on it — the assertion pins that contract)."""
    docs = read_corpus(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count("*").alias("n"))
    ranked = (
        exact.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("tok"))
            ),
        )
        .filter(F.col("rank") <= HH_TOPK)
    )
    sketch = (
        toks.agg(F.expr("approx_top_k(tok, 100, 10000)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("tok"), F.col("e.count").alias("n_sketch"))
    )
    return ranked.join(F.broadcast(sketch), "tok", "left").select(
        "rank",
        "tok",
        "n",
        (F.col("n_sketch") == F.col("n")).alias("sketch_ok"),
    )


TS_HH_ORACLE = """
WITH tok AS (SELECT unnest({toks}) AS tok FROM documents),
c AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok),
r AS (SELECT tok, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS INTEGER) AS rank
      FROM c)
SELECT rank, tok, n, TRUE AS sketch_ok FROM r WHERE rank <= {HH_TOPK}
""".format(toks=_TOKENS, HH_TOPK=HH_TOPK)


TFIDF_K = 3


def ts_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus with synthesized deterministic PII
    spans (the testdata itself is clean): emails/IPs/phone-shaped runs are
    appended by doc_id residue, then scrubbed and counted."""
    docs = read_corpus(spark, sf_dir, "documents")
    residue = F.col("doc_id") % 4
    pii = (
        F.when(residue == 0, F.concat(F.lit(" mail user"), F.col("doc_id").cast("string"), F.lit("@example.com")))
        .when(residue == 1, F.concat(F.lit(" call +1 (555) 010-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
        .when(residue == 2, F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")))
        .otherwise(F.lit(""))
    )
    seeded = docs.select("doc_id", F.concat(F.col("text"), pii).alias("text"))
    return curation.pii_scrub(seeded)


def _pii_oracle() -> str:
    seeded = """
  SELECT doc_id,
         text || CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN 1 THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
           ELSE '' END AS text
  FROM documents
"""
    t0 = "text"
    counts, cur = [], t0
    # DuckDB single-quoted strings are NOT backslash-escaped: pass the
    # regex through verbatim (only SQL-quote escaping)
    for name, pat, repl in curation.PII_PATTERNS:
        pat_sql = pat.replace("'", "''")
        counts.append(f"CAST(len(regexp_extract_all({cur}, '{pat_sql}')) AS BIGINT) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat_sql}', '{repl}', 'g')"
    return f"""
WITH seeded AS ({seeded})
SELECT doc_id, {cur} AS clean_text, {", ".join(counts)}
FROM seeded
"""


def ts_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    out = curation.tfidf_topk(docs, k=TFIDF_K)
    return out.withColumnRenamed("id", "doc_id")


TS_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS token FROM documents
), t2 AS (SELECT * FROM toks WHERE token <> ''),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t2 GROUP BY 1, 2),
df_ AS (SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM t2 GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token, tf,
         CAST((n_docs * 1000) // doc_freq AS BIGINT) AS idf_milli,
         CAST(tf * ((n_docs * 1000) // doc_freq) AS BIGINT) AS score
  FROM tf JOIN df_ USING (token), n
)
SELECT doc_id, token, tf, idf_milli, score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_K}
"""


def ts_bigram_commonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative bigram commonality (boilerplate/template signal):
    per-doc average corpus frequency of its word bigrams, integer-exact.
    Docs with fewer than 2 words have no bigrams and emit no row."""
    docs = read_corpus(spark, sf_dir, "documents")
    return textstats.bigram_commonality(docs)


TS_BIGRAM_ORACLE = f"""
WITH g AS (
  SELECT doc_id AS id,
         unnest(CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                ELSE [] END) AS bg
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), c AS (SELECT bg, COUNT(*) AS corpus_freq FROM g GROUP BY 1)
SELECT id, COUNT(*) AS n_bigrams,
       CAST(SUM(corpus_freq) AS BIGINT) AS total_freq,
       CAST(SUM(corpus_freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bigram_freq
FROM g JOIN c USING (bg) GROUP BY id
"""


def ts_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality filtering: per-doc heuristic
    signals (word count, mean word length, alphabetic-word fraction,
    duplicate-bigram fraction, distinct stopwords, ellipsis fraction) and
    the conjunctive keep verdict. All scan-local expressions."""
    docs = read_corpus(spark, sf_dir, "documents")
    return textstats.quality_filters(docs)


def _quality_filters_oracle() -> str:
    en = ", ".join(f"'{w}'" for w in textstats.LANG_LEXICONS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text, {_TOKENS} AS toks FROM documents
), b AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_words,
    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER) AS n_nonspace_chars,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS INTEGER) AS n_alpha_words,
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS bigrams,
    CAST(len(list_distinct(list_filter(toks, x -> x IN ({en})))) AS INTEGER) AS n_distinct_stopwords,
    CAST(len(list_filter(toks, x -> x = '...' OR x = '…')) AS INTEGER) AS n_ellipsis_words
  FROM t
), c AS (
  SELECT doc_id, n_words, n_nonspace_chars, n_alpha_words,
    CAST(len(bigrams) AS INTEGER) AS n_bigrams,
    CAST(len(list_distinct(bigrams)) AS INTEGER) AS n_distinct_bigrams,
    n_distinct_stopwords, n_ellipsis_words
  FROM b
)
SELECT doc_id, n_words, n_nonspace_chars, n_alpha_words, n_bigrams,
       n_distinct_bigrams, n_distinct_stopwords, n_ellipsis_words,
       CAST(n_nonspace_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
       CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_word_frac,
       CASE WHEN n_bigrams > 0
            THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS dup_bigram_frac,
       CAST(n_ellipsis_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS ellipsis_word_frac,
       (n_words >= {textstats.QF_MIN_WORDS} AND n_words <= {textstats.QF_MAX_WORDS}
        AND CAST(n_nonspace_chars AS DOUBLE) / CAST(n_words AS DOUBLE) >= {textstats.QF_MIN_MEAN_WORD_LEN}
        AND CAST(n_nonspace_chars AS DOUBLE) / CAST(n_words AS DOUBLE) <= {textstats.QF_MAX_MEAN_WORD_LEN}
        AND CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) >= {textstats.QF_MIN_ALPHA_WORD_FRAC}
        AND (CASE WHEN n_bigrams > 0
             THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END) <= {textstats.QF_MAX_DUP_BIGRAM_FRAC}
        AND n_distinct_stopwords >= {textstats.QF_MIN_DISTINCT_STOPWORDS}) AS keep
FROM c
"""


def ts_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: HTML → text extraction — wraps each document's text in a
    realistic page shell (head with script+style, title heading, body
    paragraph, comment, and an entity-bearing footer paragraph), then
    recovers the text with ``textstats.html_to_text``. The oracle states
    the closed-form expected string, so tag-stripping, script/style
    removal, comment removal, entity decoding (incl. the &amp;lt;
    double-escape case), and whitespace collapse must all be right to
    hash-match."""
    docs = read_corpus(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            "<html><head><script>var x = '<p>trap</p>';</script>"
            "<style>p { color: red; }</style></head><body><h1>T"
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n  <p>"),
        F.col("text"),
        F.lit(
            "</p><!-- hidden <b>comment</b> -->"
            "<p>x &amp; y &lt;z&gt; &quot;q&quot; &#39;a&#39; &amp;lt;raw&amp;gt;</p>"
            "</body></html>"
        ),
    )
    return docs.select(
        "doc_id",
        textstats.html_to_text(page).alias("extracted"),
    ).select(
        "doc_id",
        F.md5("extracted").alias("extracted_md5"),
        F.length("extracted").cast("int").alias("n_extracted_chars"),
    )


TS_HTML_ORACLE = """
WITH expected AS (
  SELECT doc_id,
         'T' || CAST(doc_id AS VARCHAR) || ' ' || text ||
         ' x & y <z> "q" ''a'' &lt;raw&gt;' AS extracted
  FROM documents
)
SELECT doc_id,
       md5(extracted) AS extracted_md5,
       CAST(length(extracted) AS INTEGER) AS n_extracted_chars
FROM expected
"""


LM_TOPK = 40


def ts_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: bigram language-model table — conditional next-word
    probabilities P(w2 | w1) = c(w1 w2) / c(w1 as a bigram head), for the
    top-{LM_TOPK} bigrams by count (ties lexicographic). Probabilities
    are single divisions of exact integer counts — bit-stable
    cross-engine, unlike the log-prob form (libm log differs in final
    ulps across platforms; same policy as ts_bigram_commonality).

    Scale: one corpus bigram aggregate (vocabulary²-bounded,
    zipf-concentrated) + a head-count reaggregation of THAT table —
    corpus text touched once."""
    from us_dot_flights_lakehouse_spark.functions.text import word_bigrams

    docs = read_corpus(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(word_bigrams(tokenize("text"))).alias("bg")
    ).select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    counts = grams.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    heads = counts.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    order = [F.desc("c12"), F.asc("w1"), F.asc("w2")]
    top = counts.join(heads, "w1").orderBy(*order).limit(LM_TOPK)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "w1",
        "w2",
        "c12",
        "c1",
        (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("p_next"),
    )


TS_LM_ORACLE = f"""
WITH t AS (
  SELECT {_TOKENS} AS toks FROM documents
), grams AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM grams GROUP BY 1, 2
), heads AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM counts GROUP BY 1
)
SELECT rank, w1, w2, c12, c1,
       CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_next
FROM (
  SELECT c.w1, c.w2, c.c12, h.c1,
         CAST(row_number() OVER (ORDER BY c.c12 DESC, c.w1 ASC, c.w2 ASC)
              AS INTEGER) AS rank
  FROM counts c JOIN heads h ON c.w1 = h.w1
) WHERE rank <= {LM_TOPK}
"""


CM_DEPTH = 4


CM_WIDTH = 256


CM_PROBE_TOKENS = ("table", "query", "row", "spark", "the", "zebra")


def ts_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: count-min sketch (Cormode-Muthukrishnan) built as a plain
    aggregation — token counts fold into a {CM_DEPTH}x{CM_WIDTH} table
    (row d buckets by hash28('cm<d>:'||token) % width); a point estimate
    is the MIN over the d cells a token hashes to. The table is just a
    grouped count, so it is mergeable across partitions/days by
    construction — the property that makes CM the streaming/telemetry
    workhorse. The query probes a fixed token set and emits the estimate
    next to the exact count plus the two CM invariants (estimate >=
    exact always; bounded overestimate), so the driver hash-checks the
    sketch math, not just its shape.

    Scale: one corpus-token aggregate into at most depth*width cells —
    fixed-size state regardless of vocabulary, exactly like the
    ``approx_top_k`` heavy-hitters path but with a queryable table."""
    from us_dot_flights_lakehouse_spark.functions.text import hash28

    docs = read_corpus(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("tok"))
    # sketch rows d=0..depth-1: (d, bucket) -> count
    cells = None
    for d in range(CM_DEPTH):
        row = toks.groupBy(
            F.lit(d).alias("d"),
            F.pmod(hash28(F.concat(F.lit(f"cm{d}:"), F.col("tok"))), F.lit(CM_WIDTH))
            .cast("int")
            .alias("bucket"),
        ).agg(F.count("*").cast("bigint").alias("c"))
        cells = row if cells is None else cells.unionByName(row)
    probes = spark.createDataFrame(
        [(t,) for t in CM_PROBE_TOKENS], "tok string"
    ).select(
        "tok",
        *[
            F.pmod(
                hash28(F.concat(F.lit(f"cm{d}:"), F.col("tok"))), F.lit(CM_WIDTH)
            )
            .cast("int")
            .alias(f"b{d}")
            for d in range(CM_DEPTH)
        ],
    )
    est = probes
    for d in range(CM_DEPTH):
        side = cells.filter(F.col("d") == d).select(
            F.col("bucket").alias(f"b{d}"), F.col("c").alias(f"c{d}")
        )
        est = est.join(F.broadcast(side), f"b{d}", "left")
    exact = toks.groupBy(F.col("tok")).agg(F.count("*").cast("bigint").alias("exact"))
    estimate = F.least(*[F.coalesce(F.col(f"c{d}"), F.lit(0)) for d in range(CM_DEPTH)])
    return (
        est.join(exact, "tok", "left")
        .select(
            "tok",
            estimate.alias("cm_estimate"),
            F.coalesce("exact", F.lit(0)).alias("exact_count"),
        )
        .select(
            "tok",
            "cm_estimate",
            "exact_count",
            (F.col("cm_estimate") >= F.col("exact_count")).alias("never_undercounts"),
        )
    )


def _cm_oracle() -> str:
    h = lambda d: (  # noqa: E731
        f"CAST(('0x' || substr(md5('cm{d}:' || tok), 1, 7))::BIGINT "
        f"% {CM_WIDTH} AS INTEGER)"
    )
    probe_vals = ", ".join(f"('{t}')" for t in CM_PROBE_TOKENS)
    ests = ", ".join(
        f"COALESCE((SELECT CAST(count(*) AS BIGINT) FROM toks t "
        f"WHERE {h(d).replace('tok', 't.tok')} = {h(d).replace('tok', 'p.tok')}), 0)"
        for d in range(CM_DEPTH)
    )
    return f"""
WITH toks AS (
  SELECT unnest({_TOKENS}) AS tok FROM documents
), p AS (
  SELECT * FROM (VALUES {probe_vals}) AS v(tok)
), est AS (
  SELECT p.tok, least({ests}) AS cm_estimate
  FROM p
), exact AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS exact_count FROM toks GROUP BY tok
)
SELECT e.tok, e.cm_estimate,
       COALESCE(x.exact_count, 0) AS exact_count,
       e.cm_estimate >= COALESCE(x.exact_count, 0) AS never_undercounts
FROM est e LEFT JOIN exact x ON e.tok = x.tok
"""


def ts_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: cross-source vocabulary overlap — Jaccard similarity between
    every pair of sources' distinct token sets (the corpus-audit view
    that surfaces near-duplicate crawl feeds before any doc-level dedup
    runs). Inverted-index self-join on token (never source x source x
    vocab), so work is bounded by tokens shared between sources.

    Scale: vocab distinct + one token-keyed self-join + a pair-count
    aggregate — all vocabulary-sized, corpus touched once."""
    docs = read_corpus(spark, sf_dir, "documents")
    vocab = docs.select(
        "source", F.explode(tokenize("text")).alias("tok")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a = vocab.select(F.col("source").alias("source_a"), "tok")
    b = vocab.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"source": "source_a", "n": "n_a"}), "source_a")
        .join(sizes.withColumnsRenamed({"source": "source_b", "n": "n_b"}), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


TS_SRC_SIM_ORACLE = f"""
WITH vocab AS (
  SELECT DISTINCT source, unnest({_TOKENS}) AS tok FROM documents
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
       CAST(i.n_common AS DOUBLE) / CAST(sa.n + sb.n - i.n_common AS DOUBLE)
         AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


def _clf_milli_weights() -> list[int]:
    """Deterministic milli-weights in [-1000, 1000] for the linear
    quality classifier — one per hashed-feature bucket, derived from
    md5 so both engines receive identical literals."""
    import hashlib

    return [
        int(hashlib.md5(f"w:{j}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for j in range(FH_DIM)
    ]


def ts_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: in-plan LINEAR MODEL INFERENCE — a fasttext-style quality
    classifier scored at scan speed with zero Python and zero vocab
    table: each token contributes sign·w[bucket] through the SAME
    hashing-trick feature map as ``sim_feature_hash``, so the margin is
    w·x for the exact vector that query materializes. This is the shape
    model-based filtering takes at 100 TB: weights are trained offline
    (tiny), shipped as literals, and inference is a pure columnar
    expression — no UDF, no broadcast model object, no shuffle beyond
    the per-doc sum.

    Determinism: weights are integer MILLI-weights (literals derived
    from md5, identical on both engines), so the accumulation
    Σ sign·m[bucket] is exact BIGINT; the margin divides once by
    1000·n_tokens. A float dot product would be partition-order
    dependent — the integer path is not.

    Output per doc: n_tokens, margin_milli (exact), score, keep."""
    docs = read_table(spark, sf_dir, "documents")
    weights = _clf_milli_weights()
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 8), 16, 10
    ).cast("long")
    warr = F.array(*[F.lit(m) for m in weights])
    contrib = (
        F.lit(1) - F.lit(2) * F.pmod(F.floor(h / FH_DIM), F.lit(2)).cast("int")
    ) * F.element_at(warr, F.pmod(h, F.lit(FH_DIM)).cast("int") + 1)
    agg = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(contrib).cast("bigint").alias("margin_milli"),
    )
    score = F.col("margin_milli").cast("double") / (
        1000.0 * F.col("n_tokens").cast("double")
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "margin_milli",
        score.alias("score"),
        (score > 0.0).alias("keep"),
    )


def _quality_clf_oracle() -> str:
    weights = _clf_milli_weights()
    wlist = "[" + ", ".join(str(m) for m in weights) + "]"
    return f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5('fh:' || tok), 1, 8))::BIGINT AS hv FROM t
), c AS (
  SELECT doc_id,
         CAST((1 - 2 * ((hv // {FH_DIM}) % 2))
              * ({wlist}[CAST(hv % {FH_DIM} AS INTEGER) + 1]) AS BIGINT)
           AS contrib
  FROM h
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(contrib) AS BIGINT) AS margin_milli
  FROM c GROUP BY doc_id
)
SELECT doc_id, n_tokens, margin_milli,
       CAST(margin_milli AS DOUBLE) / (1000.0 * CAST(n_tokens AS DOUBLE))
         AS score,
       CAST(margin_milli AS DOUBLE) / (1000.0 * CAST(n_tokens AS DOUBLE)) > 0.0
         AS keep
FROM agg
"""


def ts_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: URL component extraction with the built-in ``parse_url``
    (host / path / query / single query-param) — the crawl-metadata step
    before per-domain caps (``tp_source_caps`` keys on the host). URLs
    are synthesized from the document row so the oracle can state each
    component in closed form — a quoting or delimiter bug in the
    extraction hash-fails."""
    docs = read_corpus(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&page="),
        (F.col("doc_id") % 7).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page_param"),
    )


TS_URL_ORACLE = """
SELECT doc_id,
       source || '.example.com' AS host,
       '/docs/' || CAST(doc_id AS VARCHAR) AS path,
       'lang=' || lang || '&page=' || CAST(doc_id % 7 AS VARCHAR) AS query,
       CAST(doc_id % 7 AS VARCHAR) AS page_param
FROM documents
"""


def ts_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: NFC unicode canonicalization (llm/textstats.py) — md5 of the
    normalized text so the oracle (DuckDB ``nfc_normalize``) checks full
    fidelity, not just lengths. The synthetic corpus is ASCII (changed =
    false everywhere); the composed/decomposed cases are unit-tested."""
    docs = read_corpus(spark, sf_dir, "documents")
    return textstats.unicode_normalize(docs).select(
        "doc_id",
        F.md5("norm_text").alias("norm_md5"),
        "changed",
        "len_delta",
    )


TS_UNICODE_ORACLE = """
SELECT doc_id,
       md5(nfc_normalize(text)) AS norm_md5,
       nfc_normalize(text) != text AS changed,
       CAST(length(nfc_normalize(text)) - length(text) AS INTEGER) AS len_delta
FROM documents
"""


def ts_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition family (Rae et al. 2021 table A1): fraction of
    characters covered by the most frequent word {2,3,4}-gram and inside
    duplicated {5,10}-grams, plus the conjunctive ``rep_keep`` verdict.
    Complements ``ts_quality_filters`` (word-shape signals).  Pure per-row
    array lambdas — zero shuffles."""
    docs = read_corpus(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs)


def _repetition_oracle() -> str:
    gram_defs, metric_defs, keeps, metric_names = [], [], [], []
    for n in sorted(set(textstats.REP_TOP_MAX) | set(textstats.REP_DUP_MAX)):
        gram_defs.append(
            f"CASE WHEN n_words >= {n} THEN "
            f"list_transform(range(1, n_words - {n} + 2), "
            f"p -> array_to_string(toks[p : p + {n - 1}], ' ')) "
            f"ELSE CAST([] AS VARCHAR[]) END AS grams_{n}"
        )
    for n, thr in textstats.REP_TOP_MAX.items():
        cover = (
            f"list_transform(list_distinct(grams_{n}), "
            f"g -> len(list_filter(grams_{n}, x -> x = g)) * (length(g) - {n - 1}))"
        )
        frac = (
            f"CASE WHEN token_chars > 0 AND len(grams_{n}) > 0 "
            f"THEN least(CAST(1.0 AS DOUBLE), "
            f"CAST(list_max({cover}) AS DOUBLE) / CAST(token_chars AS DOUBLE)) "
            f"ELSE CAST(0.0 AS DOUBLE) END"
        )
        metric_defs.append(f"{frac} AS top_{n}gram_frac")
        metric_names.append(f"top_{n}gram_frac")
        keeps.append(f"top_{n}gram_frac <= {thr}")
    for n, thr in textstats.REP_DUP_MAX.items():
        dup = (
            f"COALESCE(list_sum(list_transform(list_distinct(grams_{n}), "
            f"g -> CASE WHEN len(list_filter(grams_{n}, x -> x = g)) >= 2 "
            f"THEN len(list_filter(grams_{n}, x -> x = g)) * (length(g) - {n - 1}) "
            f"ELSE 0 END)), 0)"
        )
        frac = (
            f"CASE WHEN token_chars > 0 "
            f"THEN least(CAST(1.0 AS DOUBLE), "
            f"CAST({dup} AS DOUBLE) / CAST(token_chars AS DOUBLE)) "
            f"ELSE CAST(0.0 AS DOUBLE) END"
        )
        metric_defs.append(f"{frac} AS dup_{n}gram_frac")
        metric_names.append(f"dup_{n}gram_frac")
        keeps.append(f"dup_{n}gram_frac <= {thr}")
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks,
    CAST(len(toks) AS INTEGER) AS n_words,
    CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS INTEGER)
      AS token_chars
  FROM t
), grams AS (
  SELECT doc_id, n_words, token_chars, {", ".join(gram_defs)} FROM sized
), metrics AS (
  SELECT doc_id, n_words, token_chars, {", ".join(metric_defs)} FROM grams
)
SELECT doc_id, n_words, token_chars, {", ".join(metric_names)},
       ({" AND ".join(keeps)}) AS rep_keep
FROM metrics
"""


def ts_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: per-document fluency score under the corpus's own bigram LM —
    the CCNet/Gopher-style perplexity-proxy quality filter, model-free:
    train P(w2|w1) = c(w1 w2)/c(w1·) on the corpus (the ts_ngram_lm
    table, un-truncated), then score every document as the mean
    next-word probability over its bigrams. Low scores = atypical word
    sequences (boilerplate, garbled text) — the rows a quality gate
    drops. Probability mean, not log-prob mean: libm log differs in
    final ulps across engines (same policy as ts_ngram_lm), while count
    ratios and one division are bit-stable.

    Determinism: the per-doc sum folds the probabilities in POSITION
    order (sort_array over (pos, p) → sequential F.aggregate), exactly
    the order DuckDB's list_sum folds list(p ORDER BY pos) — parallel
    float reduction order never leaks into the result.

    Scale: corpus text is scanned once into positioned bigrams; the LM
    is a vocab²-bounded aggregate of that same relation; scoring is one
    hash join (bigram keys) + one per-doc aggregate."""
    from us_dot_flights_lakehouse_spark.functions.text import word_bigrams

    docs = read_corpus(spark, sf_dir, "documents")
    grams_pos = docs.select(
        "doc_id",
        F.posexplode(word_bigrams(tokenize("text"))).alias("pos", "bg"),
    ).select(
        "doc_id",
        "pos",
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    counts = grams_pos.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    heads = counts.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    lm = counts.join(heads, "w1").select(
        "w1",
        "w2",
        (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("p"),
    )
    scored = grams_pos.join(lm, ["w1", "w2"])
    sum_p = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "p"))),
            lambda s: s["p"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        (sum_p / F.count("*").cast("double")).alias("avg_p"),
    )


TS_LM_SCORE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents
), g AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
), counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM g GROUP BY 1, 2
), heads AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM counts GROUP BY 1
), lm AS (
  SELECT c.w1, c.w2, CAST(c.c12 AS DOUBLE) / CAST(h.c1 AS DOUBLE) AS p
  FROM counts c JOIN heads h ON c.w1 = h.w1
)
SELECT g.doc_id,
       CAST(count(*) AS INTEGER) AS n_bigrams,
       list_sum(list(lm.p ORDER BY g.pos)) / CAST(count(*) AS DOUBLE) AS avg_p
FROM g JOIN lm ON g.w1 = lm.w1 AND g.w2 = lm.w2
GROUP BY g.doc_id
"""


def ts_novel_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: n-gram novelty scoring — the share of each document's distinct
    3-token shingles that appear in NO other document (document frequency
    1 across the corpus). High-novelty docs carry information the corpus
    doesn't already have; low-novelty docs are template/boilerplate
    candidates even when no single near-dup partner exists (the signal
    Jaccard pair-mining misses).

    Scale: explode distinct shingles once, ONE shingle-key aggregate for
    document frequency, join back on the shingle (both sides row-scale —
    a genuine shuffle join, same shape as the dd_ngram_jaccard index),
    then one doc-key aggregate. novelty_frac is one exact-bigint double
    division — bit-stable."""
    docs = read_corpus(spark, sf_dir, "documents")
    doc_sh = docs.select(
        "doc_id", F.explode(shingles(tokenize("text"), 3)).alias("sh")
    )
    df_counts = doc_sh.groupBy("sh").agg(
        F.count("*").cast("bigint").alias("df")
    )
    joined = doc_sh.join(df_counts, "sh")
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum((F.col("df") == 1).cast("bigint")).cast("bigint").alias("n_novel"),
        (
            F.sum((F.col("df") == 1).cast("bigint")).cast("double")
            / F.count("*").cast("double")
        ).alias("novelty_frac"),
    )


TS_NOVEL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), doc_sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS sh FROM t
), dfc AS (
  SELECT sh, CAST(count(*) AS BIGINT) AS df FROM doc_sh GROUP BY sh
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty_frac
FROM doc_sh JOIN dfc USING (sh)
GROUP BY doc_id
"""


def ts_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: C4-style cleaning rule flags — the published C4 heuristics as
    per-doc verdict columns (no rows dropped, same auditability contract
    as the Gopher family): sentence count (terminal-punctuation runs),
    terminal-punctuation ending, curly-brace/code-markup ratio, and the
    boilerplate badword gate ('javascript' / 'lorem ipsum'). keep_c4 is
    the conjunction.

    Scale: per-row regexp counts, zero shuffle, parquet-scan speed."""
    docs = read_corpus(spark, sf_dir, "documents")
    txt = F.lower(F.col("text"))
    n_sent = F.regexp_count(txt, F.lit(r"[.!?]+"))
    ends_punct = F.trim(txt).rlike(r'[.!?"]$')
    n_code = F.regexp_count(txt, F.lit(r"[{}<>\[\]]"))
    code_ratio = n_code.cast("double") / F.length(txt).cast("double")
    bad = txt.contains("javascript") | txt.contains("lorem ipsum")
    return docs.select(
        "doc_id",
        n_sent.cast("int").alias("n_sentences"),
        ends_punct.alias("ends_punct"),
        code_ratio.alias("code_ratio"),
        bad.alias("has_badword"),
        (
            (n_sent >= 3)
            & ends_punct
            & (code_ratio <= F.lit(0.02))
            & ~bad
        ).alias("keep_c4"),
    )


TS_C4_ORACLE = """
WITH f AS (
  SELECT doc_id, lower(text) AS t FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '[.!?]+')) AS INTEGER) AS n_sentences,
         regexp_matches(trim(t), '[.!?"]$') AS ends_punct,
         CAST(len(regexp_extract_all(t, '[{}<>\\[\\]]')) AS DOUBLE)
           / CAST(length(t) AS DOUBLE) AS code_ratio,
         (t LIKE '%javascript%' OR t LIKE '%lorem ipsum%') AS has_badword
  FROM f
)
SELECT doc_id, n_sentences, ends_punct, code_ratio, has_badword,
       (n_sentences >= 3 AND ends_punct AND code_ratio <= 0.02
        AND NOT has_badword) AS keep_c4
FROM m
"""


def ts_char_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: character-distribution Gini impurity — 1 − Σ pᵢ² over the
    per-doc character frequency distribution (whitespace excluded): a
    gibberish/degenerate-text detector that needs NO logarithm (unlike
    Shannon entropy, whose ln is not correctly rounded and differs
    across engines) — the only float ops are one division and one
    subtraction of exact integers, bit-stable.

    Scale: zero shuffle — chars sort per row and Σ cᵢ² comes from ONE
    run-length fold over the sorted array (the same O(L log L) pattern
    as repetition_stats; the naive distinct × filter count is O(L²)
    interpreted-HOF work)."""
    docs = read_corpus(spark, sf_dir, "documents")
    s = F.regexp_replace(F.lower(F.col("text")), r"\s+", "")
    chars = F.array_sort(F.split(s, ""))
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("sumsq"),
    )

    def merge(acc, x):
        return F.when(
            x == acc["prev"],
            F.struct(
                acc["prev"].alias("prev"),
                (acc["run"] + 1).alias("run"),
                acc["sumsq"].alias("sumsq"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                (acc["sumsq"] + acc["run"] * acc["run"]).alias("sumsq"),
            )
        )

    sumsq = F.aggregate(
        chars,
        init,
        merge,
        lambda acc: acc["sumsq"] + acc["run"] * acc["run"],
    )
    n = F.length(s).cast("long")
    # whitespace-only docs have no character distribution (and Spark's
    # split('', '') artifact would count one empty-string char) — both
    # sides exclude them
    base = docs.select(
        "doc_id", n.alias("n_chars_nospace"), sumsq.alias("char_sumsq")
    ).filter(F.col("n_chars_nospace") > 0)
    return base.select(
        "doc_id",
        "n_chars_nospace",
        "char_sumsq",
        (
            F.lit(1.0)
            - F.col("char_sumsq").cast("double")
            / (F.col("n_chars_nospace") * F.col("n_chars_nospace")).cast("double")
        ).alias("char_gini"),
    )


TS_GINI_ORACLE = """
WITH s AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS t
  FROM documents
), cc AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(string_split(t, '')) AS ch FROM s)
  GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars_nospace,
         CAST(sum(cnt * cnt) AS BIGINT) AS char_sumsq
  FROM cc GROUP BY 1
)
SELECT doc_id, n_chars_nospace, char_sumsq,
       1.0 - CAST(char_sumsq AS DOUBLE)
           / CAST(n_chars_nospace * n_chars_nospace AS DOUBLE) AS char_gini
FROM agg
"""


def ts_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: language-ID confusion matrix — the n-gram-lexicon classifier's
    predictions cross-tabulated against the corpus's labeled lang column,
    with per-true-language recall shares: the evaluation table any
    classifier-based curation gate ships with (how much Spanish leaks
    into the 'und' bucket?). Composes ``textstats.lang_id`` with a
    truth join and one (true, pred) aggregate; the share is one exact
    bigint division.

    Scale: scan-local scoring + a lang²-sized aggregate."""
    docs = read_corpus(spark, sf_dir, "documents")
    pred = textstats.lang_id(docs).select("doc_id", "lang_pred")
    truth = docs.select("doc_id", F.col("lang").alias("lang_true"))
    pairs = truth.join(pred, "doc_id")
    counts = pairs.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("lang_true")
    return counts.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("true_lang_share"),
    )


def _lang_confusion_oracle() -> str:
    return f"""
WITH pred AS ({_lang_oracle()}),
pairs AS (
  SELECT d.lang AS lang_true, p.lang_pred
  FROM documents d JOIN pred p USING (doc_id)
), counts AS (
  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
  FROM pairs GROUP BY 1, 2
)
SELECT lang_true, lang_pred, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY lang_true) AS DOUBLE)
         AS true_lang_share
FROM counts
"""


def ts_source_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: source-pair vocabulary containment matrix — for every pair of
    sources, the distinct-token overlap, Jaccard, and containment
    (common/min): the corpus-mixing diagnostic that says which sources
    are near-subsets of others (containment ≈ 1 with low Jaccard =
    one source is swallowed by another — drop or down-weight it).
    Complements the per-document dedup family with a source-level view.

    Scale: inverted token→source index (distinct per source), self-join
    on token — each token contributes ≤ C(n_sources, 2) pairs, so the
    join is corpus-linear with a tiny constant; the pair aggregate is
    n_sources²-sized."""
    docs = read_corpus(spark, sf_dir, "documents")
    idx = docs.select(
        "source", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    ).distinct()
    sizes = idx.groupBy("source").agg(F.count("*").alias("n_tok"))
    a, b = idx.alias("a"), idx.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        common.join(F.broadcast(sa), F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            F.col("common").cast("long").alias("common_tokens"),
            F.col("sa.n_tok").cast("long").alias("n_tok_a"),
            F.col("sb.n_tok").cast("long").alias("n_tok_b"),
            (
                F.col("common").cast("double")
                / (F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (
                F.col("common").cast("double")
                / F.least("sa.n_tok", "sb.n_tok").cast("double")
            ).alias("containment"),
        )
    )


TS_SRC_CONTAIN_ORACLE = """
WITH idx AS (
  SELECT DISTINCT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tok FROM idx GROUP BY 1
), common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS common_tokens
  FROM idx a JOIN idx b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, common_tokens,
       sa.n_tok AS n_tok_a, sb.n_tok AS n_tok_b,
       CAST(common_tokens AS DOUBLE)
         / CAST(sa.n_tok + sb.n_tok - common_tokens AS DOUBLE) AS jaccard,
       CAST(common_tokens AS DOUBLE)
         / CAST(least(sa.n_tok, sb.n_tok) AS DOUBLE) AS containment
FROM common
JOIN sizes sa ON source_a = sa.source
JOIN sizes sb ON source_b = sb.source
"""


ZIPF_TOP = 50


def ts_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: Zipf-law vocabulary audit — the top {ZIPF_TOP} corpus tokens
    with their frequency and the Zipf deviation ratio freq·rank / freq₁
    (≈1.0 under ideal Zipf): natural corpora track Zipf closely, so a
    flat curve flags synthetic/templated text and a cliff flags
    boilerplate flooding — a cheap corpus-health fingerprint quality
    reports quote. Log-free by construction (ratios, not log-log
    slopes), so every value is a pointwise double over exact counts.

    Scale: one token-count shuffle (map-side combined), then a
    {ZIPF_TOP}-row top-k merge; the 1-row top-frequency broadcast rides
    the plan."""
    docs = read_corpus(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    wr = Window.orderBy(F.col("freq").desc(), F.col("tok"))
    top = counts.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= ZIPF_TOP
    )
    f1 = top.agg(F.max("freq").alias("f1"))
    return top.crossJoin(F.broadcast(f1)).select(
        F.col("rank").cast("long").alias("rank"),
        "tok",
        F.col("freq").cast("long").alias("freq"),
        (
            F.col("freq").cast("double")
            * F.col("rank").cast("double")
            / F.col("f1").cast("double")
        ).alias("zipf_ratio"),
    )


TS_ZIPF_ORACLE = f"""
WITH counts AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok
), top AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok) AS rank
  FROM counts QUALIFY rank <= {ZIPF_TOP}
), f1 AS (SELECT max(freq) AS f1 FROM top)
SELECT CAST(rank AS BIGINT) AS rank, tok, CAST(freq AS BIGINT) AS freq,
       CAST(freq AS DOUBLE) * CAST(rank AS DOUBLE) / CAST(f1 AS DOUBLE)
         AS zipf_ratio
FROM top, f1
"""


#: integer-log2 lookup domain for the entropy gates: counts and totals
#: must stay ≤ this (sf0.1 maxima: 61 per-symbol, 577 per-doc — 3.5×
#: headroom; the query null-guards via element_at semantics if exceeded)
ENTROPY_TAB_N = 2048


def _log2_vals() -> list[float]:
    import math

    return [math.log2(i) for i in range(1, ENTROPY_TAB_N + 1)]


def ts_entropy_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: Shannon character/word entropy quality gates — the classic
    gibberish + keyword-stuffing detector pair (low char entropy =
    repeated characters; low normalized word entropy = few distinct
    words dominating). Engine logarithms are NOT correctly rounded and
    differ across engines, so H is computed log-free from EXACT integer
    counts: H = log2(n) − (Σ c·log2 c)/n, with log2 of INTEGERS looked
    up from a shared shortest-repr literal table — both engines fold the
    identical doubles in identical (sorted-symbol) order, so the result
    is bit-stable. Complements ts_char_gini (1−Σp², the log-free proxy)
    with the true-entropy number quality reports quote.

    Scale: zero shuffle — both folds are per-row run-length passes over
    sorted arrays (O(L log L)); the 2048-double table is one parsed
    literal, evaluated scan-side."""
    from us_dot_flights_lakehouse_spark.functions.vectors import lit_doubles

    docs = read_corpus(spark, sf_dir, "documents")
    # r14 (guide §7.3 planning cost — VERDICT r13 item 5): the 2048-double
    # log2 table is referenced ~7× (twice per run-length fold + the three
    # H terms); inlining the parsed literal at each site made Catalyst
    # analyze a ~2048-node CreateArray per copy (~1 s of the query's cost
    # was plan analysis). Projecting it ONCE as a column puts a single
    # copy in the analyzed plan; after constant folding the optimizer
    # re-inlines the (now cheap, shared) ArrayData literal, so the
    # physical plan and results are unchanged.
    docs = docs.withColumn("_lg", lit_doubles(_log2_vals()))
    tab = F.col("_lg")

    def sum_c_log2c(sorted_arr):
        """Run-length fold over a sorted array: Σ run·log2(run), terms
        added in sorted-symbol order (bit-stable)."""
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("s"),
        )

        def flush(acc):
            return F.when(acc["run"] == 0, acc["s"]).otherwise(
                acc["s"]
                + acc["run"].cast("double") * F.element_at(tab, acc["run"].cast("int"))
            )

        return F.aggregate(
            sorted_arr,
            init,
            lambda acc, x: F.when(
                x.eqNullSafe(acc["prev"]),
                F.struct(
                    acc["prev"].alias("prev"),
                    (acc["run"] + 1).alias("run"),
                    acc["s"].alias("s"),
                ),
            ).otherwise(
                F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    flush(acc).alias("s"),
                )
            ),
            flush,
        )

    cs = F.regexp_replace(F.lower(F.col("text")), r"\s+", "")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    base = docs.select(
        "doc_id",
        "_lg",
        F.length(cs).cast("long").alias("n_chars_nospace"),
        sum_c_log2c(F.array_sort(F.split(cs, ""))).alias("cterm"),
        F.size(words).cast("long").alias("n_words"),
        sum_c_log2c(F.array_sort(words)).alias("wterm"),
    ).filter((F.col("n_chars_nospace") > 0) & (F.col("n_words") > 0))
    char_h = F.element_at(tab, F.col("n_chars_nospace").cast("int")) - F.col(
        "cterm"
    ) / F.col("n_chars_nospace").cast("double")
    word_h = F.element_at(tab, F.col("n_words").cast("int")) - F.col(
        "wterm"
    ) / F.col("n_words").cast("double")
    return base.select(
        "doc_id",
        "n_chars_nospace",
        "n_words",
        char_h.alias("char_entropy"),
        word_h.alias("word_entropy"),
        F.when(
            F.col("n_words") > 1,
            word_h / F.element_at(tab, F.col("n_words").cast("int")),
        ).alias("norm_word_entropy"),
        (char_h < 3.0).alias("low_char_entropy"),
        (word_h < 3.0).alias("low_word_entropy"),
    )


def _ts_entropy_oracle() -> str:
    vals = _duck_doubles(_log2_vals())
    return f"""
WITH lg AS (
  SELECT unnest(generate_series(1, {ENTROPY_TAB_N})) AS v,
         unnest({vals}) AS l
), s AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS cs,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents
), cc AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(string_split(cs, '')) AS ch
        FROM s WHERE len(cs) > 0)
  GROUP BY 1, 2
), cagg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         list_sum(list(CAST(cnt AS DOUBLE) * l ORDER BY ch)) AS cterm
  FROM cc JOIN lg ON cc.cnt = lg.v GROUP BY doc_id
), wc AS (
  SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(w) AS wd FROM s) GROUP BY 1, 2
), wagg AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
         list_sum(list(CAST(cnt AS DOUBLE) * l ORDER BY wd)) AS wterm
  FROM wc JOIN lg ON wc.cnt = lg.v GROUP BY doc_id
), joined AS (
  SELECT c.doc_id, c.n AS nc, c.cterm, wa.n AS nw, wa.wterm,
         lc.l AS log2nc, lw.l AS log2nw
  FROM cagg c JOIN wagg wa USING (doc_id)
  JOIN lg lc ON c.n = lc.v
  JOIN lg lw ON wa.n = lw.v
)
SELECT doc_id, nc AS n_chars_nospace, nw AS n_words,
       log2nc - cterm / CAST(nc AS DOUBLE) AS char_entropy,
       log2nw - wterm / CAST(nw AS DOUBLE) AS word_entropy,
       CASE WHEN nw > 1
            THEN (log2nw - wterm / CAST(nw AS DOUBLE)) / log2nw
       END AS norm_word_entropy,
       (log2nc - cterm / CAST(nc AS DOUBLE)) < 3.0 AS low_char_entropy,
       (log2nw - wterm / CAST(nw AS DOUBLE)) < 3.0 AS low_word_entropy
FROM joined
"""


def ts_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: code-vs-prose detection signals — the heuristics a pretraining
    pipeline uses to ROUTE documents (code to the code pipeline, prose
    to the text one) rather than drop them: brace/bracket density,
    semicolon-per-line rate, indented-line share, assignment-operator
    density, and an ``is_codelike`` composite verdict. All exact integer
    counts with single double divisions — bit-stable, zero shuffle,
    regexp work fused into the scan projection."""
    docs = read_corpus(spark, sf_dir, "documents")
    txt = F.col("text")
    n_chars = F.greatest(F.length(txt), F.lit(1)).cast("double")
    lines = F.split(txt, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_brace = F.regexp_count(txt, F.lit(r"[{}()\[\]]")).cast("bigint")
    n_semi = F.regexp_count(txt, F.lit(";")).cast("bigint")
    n_assign = F.regexp_count(txt, F.lit(r"[=:]=?")).cast("bigint")
    n_indent = F.size(
        F.filter(lines, lambda l: l.startswith("    ") | l.startswith("\t"))
    ).cast("bigint")
    brace_density = n_brace.cast("double") / n_chars
    semi_rate = n_semi.cast("double") / n_lines
    indent_share = n_indent.cast("double") / n_lines
    assign_density = n_assign.cast("double") / n_chars
    return docs.select(
        "doc_id",
        n_brace.alias("n_brackets"),
        n_semi.alias("n_semicolons"),
        n_indent.alias("n_indented_lines"),
        brace_density.alias("bracket_density"),
        semi_rate.alias("semicolons_per_line"),
        indent_share.alias("indented_share"),
        assign_density.alias("assign_density"),
        (
            (brace_density > 0.01)
            | (semi_rate > 0.3)
            | (indent_share > 0.3)
        ).alias("is_codelike"),
    )


TS_CODE_DETECT_ORACLE = r"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[{}()\[\]]')) AS BIGINT)
           AS n_brackets,
         CAST(len(regexp_extract_all(text, ';')) AS BIGINT) AS n_semicolons,
         CAST(len(list_filter(string_split(text, chr(10)),
                              l -> l LIKE '    %' OR l LIKE chr(9) || '%'))
              AS BIGINT) AS n_indented_lines,
         CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars,
         CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE)
           AS n_lines,
         CAST(len(regexp_extract_all(text, '[=:]=?')) AS BIGINT) AS n_assign
  FROM documents
)
SELECT doc_id, n_brackets, n_semicolons, n_indented_lines,
       CAST(n_brackets AS DOUBLE) / n_chars AS bracket_density,
       CAST(n_semicolons AS DOUBLE) / n_lines AS semicolons_per_line,
       CAST(n_indented_lines AS DOUBLE) / n_lines AS indented_share,
       CAST(n_assign AS DOUBLE) / n_chars AS assign_density,
       (CAST(n_brackets AS DOUBLE) / n_chars > 0.01
        OR CAST(n_semicolons AS DOUBLE) / n_lines > 0.3
        OR CAST(n_indented_lines AS DOUBLE) / n_lines > 0.3) AS is_codelike
FROM m
"""


BOILERPLATE_TOPK = 20


def ts_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS: top cross-document boilerplate lines — the normalized lines
    (trimmed, lowercased) that appear in the MOST distinct documents,
    with document-frequency and corpus share: the report a data engineer
    reads BEFORE tuning line-level dedup (``dd_line_dedup`` applies the
    removal; this shows what would be removed and how much). Counts are
    exact distinct-doc BIGINTs; top-{BOILERPLATE_TOPK} with
    deterministic tie-break.

    Scale: explode → distinct → one groupBy(line) with map-side
    combine; the global top-k is a TakeOrdered merge of k rows."""
    docs = read_corpus(spark, sf_dir, "documents")
    line = F.lower(F.trim(F.col("line")))
    exploded = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), "\n")).alias("line")
        )
        .select("doc_id", line.alias("line"))
        .filter(F.length("line") > 0)
        .distinct()
    )
    n_docs = docs.select(F.count("*").cast("bigint").alias("n_docs"))
    counts = exploded.groupBy("line").agg(
        F.count("*").cast("bigint").alias("df_docs")
    )
    return (
        counts.crossJoin(F.broadcast(n_docs))
        .select(
            "line",
            "df_docs",
            (
                F.col("df_docs").cast("double") / F.col("n_docs").cast("double")
            ).alias("doc_share"),
        )
        .orderBy(F.desc("df_docs"), F.asc("line"))
        .limit(BOILERPLATE_TOPK)
    )


TS_BOILERPLATE_ORACLE = f"""
WITH lines AS (
  SELECT DISTINCT doc_id, lower(trim(l.line)) AS line
  FROM documents, unnest(string_split(text, chr(10))) AS l(line)
  WHERE length(lower(trim(l.line))) > 0
), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT line, CAST(count(*) AS BIGINT) AS df_docs,
       CAST(count(*) AS DOUBLE) / CAST(any_value(n.n_docs) AS DOUBLE)
         AS doc_share
FROM lines CROSS JOIN n
GROUP BY line
ORDER BY df_docs DESC, line ASC
LIMIT {BOILERPLATE_TOPK}
"""


QUERIES = {
    "ts_text_stats": ts_text_stats,
    "ts_lang_id": ts_lang_id,
    "ts_ttr_diversity": ts_ttr_diversity,
    "ts_heaps_law": ts_heaps_law,
    "ts_heavy_hitters": ts_heavy_hitters,
    "ts_pii_scrub": ts_pii_scrub,
    "ts_tfidf_keywords": ts_tfidf_keywords,
    "ts_bigram_commonality": ts_bigram_commonality,
    "ts_quality_filters": ts_quality_filters,
    "ts_html_extract": ts_html_extract,
    "ts_ngram_lm": ts_ngram_lm,
    "ts_countmin_sketch": ts_countmin_sketch,
    "ts_source_similarity": ts_source_similarity,
    "ts_quality_classifier": ts_quality_classifier,
    "ts_url_parse": ts_url_parse,
    "ts_unicode_normalize": ts_unicode_normalize,
    "ts_repetition_filters": ts_repetition_filters,
    "ts_lm_doc_score": ts_lm_doc_score,
    "ts_novel_ngrams": ts_novel_ngrams,
    "ts_c4_filters": ts_c4_filters,
    "ts_char_gini": ts_char_gini,
    "ts_lang_confusion": ts_lang_confusion,
    "ts_source_containment": ts_source_containment,
    "ts_zipf_audit": ts_zipf_audit,
    "ts_entropy_gates": ts_entropy_gates,
    "ts_code_detect": ts_code_detect,
    "ts_boilerplate_lines": ts_boilerplate_lines,
}

ORACLES = {
    "ts_text_stats": TS_STATS_ORACLE,
    "ts_lang_id": _lang_oracle(),
    "ts_ttr_diversity": TS_TTR_ORACLE,
    "ts_heaps_law": TS_HEAPS_ORACLE,
    "ts_heavy_hitters": TS_HH_ORACLE,
    "ts_pii_scrub": _pii_oracle(),
    "ts_tfidf_keywords": TS_TFIDF_ORACLE,
    "ts_bigram_commonality": TS_BIGRAM_ORACLE,
    "ts_quality_filters": _quality_filters_oracle(),
    "ts_html_extract": TS_HTML_ORACLE,
    "ts_ngram_lm": TS_LM_ORACLE,
    "ts_countmin_sketch": _cm_oracle(),
    "ts_source_similarity": TS_SRC_SIM_ORACLE,
    "ts_quality_classifier": _quality_clf_oracle(),
    "ts_url_parse": TS_URL_ORACLE,
    "ts_unicode_normalize": TS_UNICODE_ORACLE,
    "ts_repetition_filters": _repetition_oracle(),
    "ts_lm_doc_score": TS_LM_SCORE_ORACLE,
    "ts_novel_ngrams": TS_NOVEL_ORACLE,
    "ts_c4_filters": TS_C4_ORACLE,
    "ts_char_gini": TS_GINI_ORACLE,
    "ts_lang_confusion": _lang_confusion_oracle,
    "ts_source_containment": TS_SRC_CONTAIN_ORACLE,
    "ts_zipf_audit": TS_ZIPF_ORACLE,
    "ts_entropy_gates": _ts_entropy_oracle,
    "ts_code_detect": TS_CODE_DETECT_ORACLE,
    "ts_boilerplate_lines": TS_BOILERPLATE_ORACLE,
}
