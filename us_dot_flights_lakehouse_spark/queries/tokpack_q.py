"""Tokenizer / packing / curation queries (tp_*): BPE, mixes, splits, packing.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from us_dot_flights_lakehouse_spark.llm import (
    curation,
    dedup,
    similarity,
    textstats,
    tokenizer,
)
from us_dot_flights_lakehouse_spark.functions.text import hash28, tokenize
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table

from us_dot_flights_lakehouse_spark.queries.llm_shared import (
    FH_DIM,
    INCR_HISTORY_CUTOFF,
    _HASH28,
    _SHINGLES,
    _TOKENS,
    _VEC_NORM,
    _lsh_planes_sql,
)


def tp_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: class-balance downsampling over the embeddings table — every
    label clamped to the smallest class's size, membership by the
    deterministic hash28 order (llm/curation.py::label_balance)."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return curation.label_balance(emb)


TP_BALANCE_ORACLE = """
WITH ranked AS (
  SELECT vec_id, label,
         CAST(row_number() OVER (
           PARTITION BY label
           ORDER BY ('0x' || substr(md5('bal:' || CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT ASC,
                    vec_id ASC
         ) AS INTEGER) AS rank_in_label
  FROM embeddings
), m AS (
  SELECT min(n) AS min_n FROM (
    SELECT count(*) AS n FROM embeddings GROUP BY label
  )
)
SELECT vec_id, label, rank_in_label FROM ranked, m
WHERE rank_in_label <= m.min_n
"""


QUALITY_CUTOFF = 0.7


def tp_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE lazy plan: language-ID →
    quality gate → exact-dedup keeper selection → curated corpus with
    per-language stats. Composition stays a single Catalyst plan — the
    lang/quality/fingerprint expressions all fuse into the scan projection,
    and the only shuffles are the dedup groupBy and the final rollup."""
    docs = read_corpus(spark, sf_dir, "documents")
    stats = textstats.text_stats(docs)  # has quality_score + fingerprint
    langs = textstats.lang_id(docs).select("doc_id", "lang_pred")
    scored = stats.join(langs, "doc_id").filter(
        F.col("quality_score") >= QUALITY_CUTOFF
    )
    keepers = (
        scored.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"))
        .select("keeper_doc_id")
    )
    curated = scored.join(
        keepers, scored["doc_id"] == keepers["keeper_doc_id"], "left_semi"
    )
    return curated.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
    )


def _curation_oracle() -> str:
    # rebuild the per-doc stats the Spark side computes, then apply the
    # same gate + dedup + rollup (fragments shared with ts_* oracles)
    return f"""
WITH base AS (
  SELECT doc_id,
    CAST(len({_TOKENS}) AS INTEGER) AS n_tokens,
    CAST(len(list_distinct({_TOKENS})) AS INTEGER) AS n_unique_tokens,
    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_punct,
    CAST(length(text) AS INTEGER) AS n_chars,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
    CAST(len(list_filter({_TOKENS}, t -> t IN ('the','and','of','to','in','is','it','you','that','for'))) AS INTEGER) AS c_en,
    CAST(len(list_filter({_TOKENS}, t -> t IN ('el','la','de','que','y','en','un','es','se','no'))) AS INTEGER) AS c_es,
    CAST(len(list_filter({_TOKENS}, t -> t IN ('le','la','de','et','les','des','un','une','du','est'))) AS INTEGER) AS c_fr,
    CAST(len(list_filter({_TOKENS}, t -> t IN ('der','die','und','das','den','von','zu','mit','sich','auf'))) AS INTEGER) AS c_de
  FROM documents
), scored AS (
  SELECT *,
    (CASE WHEN n_tokens >= 20 AND n_tokens <= 80 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN CAST(n_unique_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.1 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
    ) AS quality_score,
    CASE
      WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de AND c_en > 0 THEN 'en'
      WHEN c_es >= c_fr AND c_es >= c_de AND c_es > 0 THEN 'es'
      WHEN c_fr >= c_de AND c_fr > 0 THEN 'fr'
      WHEN c_de > 0 THEN 'de'
      ELSE 'und'
    END AS lang_pred
  FROM base
), gated AS (
  SELECT * FROM scored WHERE quality_score >= {QUALITY_CUTOFF}
), keepers AS (
  SELECT MIN(doc_id) AS keeper_doc_id FROM gated GROUP BY fingerprint
)
SELECT lang_pred,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens
FROM gated WHERE doc_id IN (SELECT keeper_doc_id FROM keepers)
GROUP BY lang_pred
"""


def tp_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: INCREMENTAL dedup — the shape a production pipeline actually
    runs: yesterday's corpus is already published (here: doc_id <
    cutoff), today's batch must drop (a) anything colliding with the
    published fingerprint set and (b) within-batch duplicates beyond the
    first. Returns every new-batch doc with its verdict + reason so the
    drop is auditable.

    Scale: the history side reduces to DISTINCT fingerprints and carries
    NO broadcast hint — AQE broadcasts a small history at runtime and
    shuffle-joins a billion-row one (a forced hint would OOM there); the
    production layout buckets history and batch on the fingerprint
    (dedup.publish_history_fingerprints), making the whole verdict
    exchange-free. The within-batch election is one groupBy. Nothing
    rescans the historical corpus text."""
    docs = read_table(spark, sf_dir, "documents")
    from us_dot_flights_lakehouse_spark.functions.text import normalized_fingerprint

    fp = normalized_fingerprint("text").alias("fp")
    history_fps = (
        docs.filter(F.col("doc_id") < INCR_HISTORY_CUTOFF).select(fp).distinct()
    )
    batch = docs.filter(F.col("doc_id") >= INCR_HISTORY_CUTOFF).select("doc_id", fp)
    return dedup.incremental_dedup_verdict(batch, history_fps)


TP_INCR_ORACLE = f"""
WITH fps AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), hist AS (
  SELECT DISTINCT fp FROM fps WHERE doc_id < {INCR_HISTORY_CUTOFF}
), batch AS (
  SELECT doc_id, fp FROM fps WHERE doc_id >= {INCR_HISTORY_CUTOFF}
), firsts AS (
  SELECT fp, MIN(doc_id) AS first_id FROM batch GROUP BY fp
)
SELECT b.doc_id,
       (h.fp IS NOT NULL) AS dup_of_history,
       b.doc_id != f.first_id AS dup_in_batch,
       (h.fp IS NULL AND b.doc_id = f.first_id) AS keep
FROM batch b
LEFT JOIN hist h ON b.fp = h.fp
JOIN firsts f ON b.fp = f.fp
"""


def tp_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with a Bloom-filter runtime prefilter
    (operators/bloom.py): definitely-new docs skip the history join
    entirely; only the maybe-set pays it. Shares
    ``tp_incremental_dedup``'s oracle verbatim — the driver's hash match
    IS the proof that the pruning is semantics-preserving."""
    docs = read_table(spark, sf_dir, "documents")
    from us_dot_flights_lakehouse_spark.functions.text import normalized_fingerprint

    fp = normalized_fingerprint("text").alias("fp")
    history_fps = (
        docs.filter(F.col("doc_id") < INCR_HISTORY_CUTOFF).select(fp).distinct()
    )
    batch = docs.filter(F.col("doc_id") >= INCR_HISTORY_CUTOFF).select("doc_id", fp)
    return dedup.incremental_dedup_verdict_bloom(batch, history_fps)


def tp_ranker_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: ROC-AUC of a quality ranker against binary labels via the
    Mann-Whitney rank-sum — the eval every data-selection pipeline runs
    before trusting a scorer to gate training data (here: does raw token
    count separate English docs from the rest?). Ties get AVERAGE ranks,
    the textbook treatment, and the whole statistic is computed in exact
    BIGINT arithmetic: per distinct score s, the tied group's summed
    average rank is pos_s·(2·cum_before_s + n_s + 1)/2, so
    2·Σranks⁺ = Σ pos_s·(2·cum_before + n_s + 1) stays integral;
    AUC = (2Σranks⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is ONE double division at
    the end — bit-deterministic on any engine or partitioning.

    Scale: one groupBy on the score (cardinality = distinct token
    counts, tiny), one ordered prefix-sum window over that aggregate
    (score-cardinality-sized, NOT corpus-sized — the single-partition
    window is bounded by construction), one 1-row reduce."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.size(tokenize("text")).cast("bigint").alias("score"),
        (F.col("lang") == "en").cast("bigint").alias("pos"),
    )
    by_score = scored.groupBy("score").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("pos").cast("bigint").alias("pos_s"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_score.withColumn(
        "cum_before", F.coalesce(F.sum("n_s").over(w), F.lit(0)).cast("bigint")
    )
    agg = ranked.agg(
        F.sum("pos_s").cast("bigint").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos_s") * (2 * F.col("cum_before") + F.col("n_s") + 1)
        )
        .cast("bigint")
        .alias("sum2_ranks_pos"),
    )
    auc = (
        F.col("sum2_ranks_pos").cast("double")
        - F.col("n_pos").cast("double") * (F.col("n_pos").cast("double") + 1.0)
    ) / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return agg.select("n_pos", "n_neg", "sum2_ranks_pos", auc.alias("auc"))


TP_AUC_ORACLE = f"""
WITH scored AS (
  SELECT CAST(len({_TOKENS}) AS BIGINT) AS score,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS pos
  FROM documents
), by_score AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n_s,
         CAST(sum(pos) AS BIGINT) AS pos_s
  FROM scored GROUP BY 1
), ranked AS (
  SELECT *, CAST(coalesce(sum(n_s) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_before
  FROM by_score
), agg AS (
  SELECT CAST(sum(pos_s) AS BIGINT) AS n_pos,
         CAST(sum(n_s - pos_s) AS BIGINT) AS n_neg,
         CAST(sum(pos_s * (2 * cum_before + n_s + 1)) AS BIGINT)
           AS sum2_ranks_pos
  FROM ranked
)
SELECT n_pos, n_neg, sum2_ranks_pos,
       (CAST(sum2_ranks_pos AS DOUBLE)
          - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0))
       / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
FROM agg
"""


SEQ_BUDGET = 512


#: training-mix sampling percentages by language (default for the rest)
MIX_RATES = {"en": 80, "es": 60, "fr": 60, "de": 40}


MIX_DEFAULT = 25


def tp_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, budget=SEQ_BUDGET)


_BPE = "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')"


TP_PACK_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source, CAST(len({_BPE}) AS BIGINT) AS n_tokens FROM documents
), c AS (
  SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens AS tok_start
  FROM base
)
SELECT doc_id, source, n_tokens,
       CAST(floor(tok_start / {SEQ_BUDGET}) AS BIGINT) AS seq_num,
       CAST(tok_start % {SEQ_BUDGET} AS BIGINT) AS offset_in_seq
FROM c
"""


def tp_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified sample -> per-language mix
    report (docs kept, tokens kept vs available)."""
    docs = read_corpus(spark, sf_dir, "documents")
    keep = curation.mix_keep("doc_id", "lang", MIX_RATES, MIX_DEFAULT)
    base = docs.select(
        "lang",
        keep.alias("keep"),
        F.size(textstats.bpe_ish_tokens("text")).cast("bigint").alias("n_bpe"),
    )
    return base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(F.col("keep"), F.col("n_bpe")).otherwise(0))
        .cast("bigint")
        .alias("sampled_tokens"),
    )


def _mix_rate_sql() -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {pct}" for lang, pct in MIX_RATES.items())
    return f"CASE lang {whens} ELSE {MIX_DEFAULT} END"


TP_MIX_ORACLE = f"""
WITH base AS (
  SELECT lang,
         (('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100)
           < {_mix_rate_sql()} AS keep,
         CAST(len({_BPE}) AS BIGINT) AS n_bpe
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN keep THEN n_bpe ELSE 0 END) AS BIGINT) AS sampled_tokens
FROM base GROUP BY lang
"""


def tp_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every doc whose doc_id % 25 == 0 plays
    the 'benchmark set'; the report counts per-doc 3-gram shingle overlap
    with that probe (probe members self-report full contamination)."""
    docs = read_corpus(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % 25 == 0)
    return curation.contamination_report(docs, probe).withColumnRenamed(
        "id", "doc_id"
    )


TP_CONTAM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), ds AS (SELECT doc_id, unnest(shs) AS sh FROM d),
ps AS (SELECT DISTINCT unnest(shs) AS sh FROM d WHERE doc_id % 25 = 0),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_probe_hits
  FROM ds JOIN ps USING (sh) GROUP BY 1
)
SELECT d.doc_id,
       CAST(len(shs) AS BIGINT) AS n_shingles,
       CAST(COALESCE(h.n_probe_hits, 0) AS BIGINT) AS n_probe_hits,
       COALESCE(h.n_probe_hits, 0) > 0 AS contaminated
FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


N_SHARDS = 16


def tp_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment (training layout):
    hash-placed shard, hash-ordered position within shard — one shuffle,
    parallelism = shard count, reproducible across engines."""
    docs = read_corpus(spark, sf_dir, "documents")
    return curation.shard_assign(docs, N_SHARDS)


TP_SHARD_ORACLE = f"""
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC)
            AS BIGINT) AS pos_in_shard
FROM (
  SELECT doc_id,
         CAST({_HASH28.format(x="'shard:' || CAST(doc_id AS VARCHAR)")} % {N_SHARDS}
              AS INTEGER) AS shard,
         {_HASH28.format(x="'shard:' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
"""


CURRICULUM_STAGES = 4


def tp_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: curriculum assignment — rank each source's documents by the
    heuristic quality score and deal them into {CURRICULUM_STAGES} ntile
    stages (stage 1 = highest quality; training schedules feed stages in
    order). Per-source windows keep parallelism at source cardinality —
    no global sort; (score desc, doc_id) is a total order so tiles are
    deterministic."""
    docs = read_corpus(spark, sf_dir, "documents")
    scored = textstats.text_stats(docs).select("doc_id", "quality_score")
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = scored.join(src, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "source",
        "quality_score",
        F.ntile(CURRICULUM_STAGES).over(w).cast("int").alias("stage"),
    )


TP_CURRICULUM_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source,
    (CASE WHEN len({_TOKENS}) >= 20 AND len({_TOKENS}) <= 80
          THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN CAST(len(list_distinct({_TOKENS})) AS DOUBLE)
                 / CAST(len({_TOKENS}) AS DOUBLE) >= 0.3
            THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE) < 0.1
            THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
    ) AS quality_score
  FROM documents
)
SELECT doc_id, source, quality_score,
       CAST(ntile({CURRICULUM_STAGES}) OVER (
         PARTITION BY source ORDER BY quality_score DESC, doc_id ASC
       ) AS INTEGER) AS stage
FROM scored
"""


def tp_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: the dataset-card summary block — one row of corpus-level facts
    a training-data release documents: doc/token/char totals, source and
    language cardinalities, exact-duplicate rate (via the normalized
    fingerprint), and mean tokens per doc. One global aggregate; the
    count(DISTINCT) trio plans as a single Expand + two-phase aggregate."""
    from us_dot_flights_lakehouse_spark.functions.text import (
        normalized_fingerprint,
    )

    docs = read_corpus(spark, sf_dir, "documents")
    n = F.count("*").cast("bigint")
    return docs.agg(
        n.alias("n_docs"),
        F.sum(F.size(tokenize("text"))).cast("bigint").alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct(normalized_fingerprint("text"))
        .cast("bigint")
        .alias("n_unique_docs"),
    ).select(
        "*",
        (
            F.lit(1.0)
            - F.col("n_unique_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
        (F.col("n_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_doc_tokens"
        ),
    )


TP_CARD_ORACLE = f"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens,
         CAST(sum(length(text)) AS BIGINT) AS n_chars,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
              AS BIGINT) AS n_unique_docs
  FROM documents
)
SELECT *,
       1.0 - CAST(n_unique_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
       CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_tokens
FROM base
"""


RAG_PLANES = 6  # 64 LSH buckets over the 64-dim hashed-feature space


RAG_K = 3


RAG_QUERY_DOCS = 4


def tp_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: the RAG indexing pipeline end-to-end as ONE lazy plan —
    chunk (overlapping char windows) → embed (hashing-trick vector,
    no model dependency, deterministic) → index (sign-LSH bucket)
    → retrieve (probe docs' chunks find their top-k nearest foreign
    chunks inside their bucket, cosine-ranked). Composes four
    already-oracle'd operators; the oracle replays the whole chain, so a
    drift anywhere (chunk boundaries, hash stream, plane signs, rank
    ties) hash-fails.

    Scale: chunking and embedding are scan-local; the index is one
    bucket hash-partition; retrieval joins only within buckets
    (candidate-bound, the LSH contract). Chunk ids pack as
    doc_id * 1000 + chunk_idx (chunks-per-doc < 1000 asserted by the
    chunker's geometry here)."""
    from us_dot_flights_lakehouse_spark.functions.text import hash28

    docs = read_corpus(spark, sf_dir, "documents")
    chunks = curation.chunk_documents(docs, CHUNK_CHARS, CHUNK_OVERLAP).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("cid"),
        "doc_id",
        "chunk_text",
    )
    # hashing-trick chunk vectors via the single-pass explode→groupBy path
    # (VERDICT r4 item 4's shape: the old per-row _fh_vec re-folded the
    # token array once per output dimension — O(dim × n_tokens)
    # interpreted-lambda work). Values are IDENTICAL (same two md5
    # streams), so the DuckDB oracle's _fh_vec_sql replica is untouched.
    # One exchange: pre-partitioning by cid satisfies both groupings.
    ctoks = chunks.select(
        "cid", "doc_id", F.explode(tokenize("chunk_text")).alias("tok")
    ).repartition(spark.sparkContext.defaultParallelism, "cid")
    pairs = ctoks.select(
        "cid",
        "doc_id",
        F.pmod(hash28(F.concat(F.lit("fh:"), F.col("tok"))), F.lit(FH_DIM))
        .cast("int")
        .alias("b"),
        (
            F.lit(1)
            - F.lit(2)
            * F.pmod(hash28(F.concat(F.lit("fs:"), F.col("tok"))), F.lit(2)).cast(
                "int"
            )
        ).alias("s"),
    )
    densem = (
        pairs.groupBy("cid", "doc_id", "b")
        .agg(F.sum("s").cast("int").alias("bv"))
        .groupBy("cid", "doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("b", "bv"))).alias("m"))
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(FH_DIM - 1)),
        lambda j: F.coalesce(F.element_at(F.col("m"), j), F.lit(0)).cast("double"),
    )
    emb = densem.select("cid", "doc_id", vec.alias("v")).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )
    indexed = emb.withColumn(
        "bucket", similarity.lsh_bucket("v", dim=FH_DIM, n_planes=RAG_PLANES)
    ).filter(F.col("nrm") > 0)
    probes = indexed.filter(F.col("doc_id") < RAG_QUERY_DOCS).select(
        F.col("cid").alias("qcid"),
        F.col("doc_id").alias("qdoc"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        probes.join(indexed, "bucket")
        .filter(F.col("qdoc") != F.col("doc_id"))
        .select(
            "qcid",
            "cid",
            "bucket",
            (dot / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("qcid").orderBy(F.desc("cos"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= RAG_K)
        .select(
            F.col("qcid").alias("query_chunk"),
            "rank",
            F.col("cid").alias("neighbor_chunk"),
            "bucket",
        )
    )


def _rag_oracle() -> str:
    stride = CHUNK_CHARS - CHUNK_OVERLAP
    return f"""
WITH chunks AS (
  SELECT doc_id * 1000 + CAST((s - 1) // {stride} AS BIGINT) AS cid,
         doc_id,
         substring(text, CAST(s AS INTEGER), {CHUNK_CHARS}) AS chunk_text
  FROM documents,
       unnest(range(1, greatest(1, length(text) - {CHUNK_OVERLAP}) + 1, {stride}))
         AS u(s)
), emb AS (
  SELECT cid, doc_id,
         list_transform({_fh_vec_sql("chunk_text")}, x -> CAST(x AS DOUBLE)) AS v
  FROM chunks
), n AS (
  SELECT cid, doc_id, v, {_VEC_NORM} AS nrm FROM emb
), planes AS (
  {{planes}}
), b AS (
  SELECT n.cid, n.doc_id, n.v, n.nrm,
         CAST(SUM(CASE WHEN
                 list_sum(list_transform(range(1, {FH_DIM} + 1),
                          i -> n.v[i] * p.plane[i])) > 0
               THEN p.w ELSE 0 END) AS INTEGER) AS bucket
  FROM n CROSS JOIN planes p
  WHERE n.nrm > 0
  GROUP BY n.cid, n.doc_id, n.v, n.nrm
), scored AS (
  SELECT q.cid AS qcid, c.cid AS cid, c.bucket,
         list_sum(list_transform(range(1, {FH_DIM} + 1),
                  i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.doc_id != c.doc_id
  WHERE q.doc_id < {RAG_QUERY_DOCS}
)
SELECT query_chunk, rank, neighbor_chunk, bucket FROM (
  SELECT qcid AS query_chunk, cid AS neighbor_chunk, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY qcid
                                 ORDER BY cos DESC, cid ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {RAG_K}
""".format(planes=_lsh_planes_sql(dim=FH_DIM, n_planes=RAG_PLANES))


def _fh_vec_sql(text_expr: str) -> str:
    """DuckDB replica of the two-md5-stream hashing-trick vector over an
    arbitrary text expression (the tp_rag_pipeline chunk embedding; the
    Spark side computes the same values via explode→groupBy)."""
    toks = f"regexp_split_to_array(trim(lower({text_expr})), '\\s+')"
    pairs = (
        f"list_transform({toks}, x -> struct_pack("
        f"b := CAST(('0x' || substr(md5('fh:' || x), 1, 7))::BIGINT % {FH_DIM} AS INTEGER), "
        f"s := CAST(1 - 2 * (('0x' || substr(md5('fs:' || x), 1, 7))::BIGINT % 2) AS INTEGER)))"
    )
    return (
        f"list_transform(range(0, {FH_DIM}), j -> CAST(COALESCE(list_sum("
        f"list_transform(list_filter({pairs}, e -> e.b = j), e -> e.s)), 0) AS INTEGER))"
    )


BPE_TOPK = 50


def tp_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training iteration 0 (Sennrich et al. 2016): corpus-weighted
    adjacent character-pair counts over the (word, freq) vocabulary table,
    ranked; the argmax row is the first merge. The corpus text is touched
    once (word-count aggregate); everything after is vocabulary-sized.
    The full greedy merge loop is ``llm/tokenizer.py::bpe_train``
    (driver-iterative, unit-tested against a reference implementation)."""
    docs = read_corpus(spark, sf_dir, "documents")
    order = [F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")]
    top = (
        tokenizer.merge_pair_counts(docs)
        .orderBy(*order)  # TakeOrdered reduce, no sort shuffle
        .limit(BPE_TOPK)
    )
    w = Window.orderBy(*order)  # ranks 50 rows on one task, post-limit
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "left_sym",
        "right_sym",
        "pair_count",
    )


TP_BPE_ORACLE = f"""
WITH words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_TOKENS}) AS w FROM documents)
  GROUP BY w
), pairlists AS (
  SELECT freq,
    CASE WHEN length(word) >= 2
         THEN list_transform(range(1, length(word)),
                             i -> [substr(word, CAST(i AS INTEGER), 1),
                                   substr(word, CAST(i AS INTEGER) + 1, 1)])
         ELSE CAST([] AS VARCHAR[][]) END AS ps
  FROM words
), exploded AS (
  SELECT freq, unnest(ps) AS p FROM pairlists
), counts AS (
  SELECT p[1] AS left_sym, p[2] AS right_sym,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM exploded GROUP BY p[1], p[2]
)
SELECT rank, left_sym, right_sym, pair_count FROM (
  SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, left_sym ASC,
                                 right_sym ASC) AS INTEGER) AS rank,
         left_sym, right_sym, pair_count
  FROM counts
) WHERE rank <= {BPE_TOPK}
"""


def tp_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: text → training-tensor encoding — build the frequency-ranked
    vocabulary (llm/tokenizer.py::vocab_ids) and encode every document's
    token stream as its id sequence (posexplode → vocab join → ordered
    reassembly via sort_array, no window). Composes with
    tp_sequence_packing for the full tokenize→ids→pack path. The id
    sequence serializes to a CSV string in the final select (the
    driver's canonicalizer requires scalar cells — VERDICT r4 item 1)
    with full fidelity: every id, in token order."""
    docs = read_corpus(spark, sf_dir, "documents")
    vocab = tokenizer.vocab_ids(docs)
    enc = tokenizer.encode_token_ids(docs, vocab)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(
            ",", F.transform("token_ids", lambda t: t.cast("string"))
        ).alias("token_ids_csv"),
    )


TP_TOKEN_IDS_ORACLE = f"""
WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest({_TOKENS}) AS w FROM documents) GROUP BY w
), vocab AS (
  SELECT word,
         CAST(row_number() OVER (ORDER BY freq DESC, word ASC) - 1 AS INTEGER)
           AS token_id
  FROM words
), ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1),
                               i -> struct_pack(pos := i - 1, word := t[i]))) AS u
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), toks AS (
  SELECT doc_id, u.pos AS pos, u.word AS word FROM ex
)
SELECT t.doc_id,
       CAST(count(*) AS INTEGER) AS n_tokens,
       string_agg(CAST(COALESCE(v.token_id, -1) AS VARCHAR), ','
                  ORDER BY t.pos) AS token_ids_csv
FROM toks t LEFT JOIN vocab v USING (word)
GROUP BY t.doc_id
"""


CHUNK_CHARS = 120


CHUNK_OVERLAP = 30


def tp_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping character chunking (sequence + posexplode +
    substring, zero UDF). Chunk starts advance by chunk-overlap."""
    docs = read_corpus(spark, sf_dir, "documents")
    return curation.chunk_documents(docs, CHUNK_CHARS, CHUNK_OVERLAP)


TP_CHUNK_ORACLE = f"""
SELECT doc_id,
       CAST((s - 1) // {CHUNK_CHARS - CHUNK_OVERLAP} AS INTEGER) AS chunk_idx,
       CAST(s AS INTEGER) AS chunk_start,
       substring(text, CAST(s AS INTEGER), {CHUNK_CHARS}) AS chunk_text,
       CAST(length(substring(text, CAST(s AS INTEGER), {CHUNK_CHARS})) AS INTEGER) AS chunk_len
FROM (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(1, length(text) - {CHUNK_OVERLAP}),
                                {CHUNK_CHARS - CHUNK_OVERLAP})) AS s
  FROM documents
)
"""


SOURCE_CAP = 10


def tp_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (corpus balancing): deterministic
    hash-ordered row_number per source, keep the first SOURCE_CAP."""
    docs = read_corpus(spark, sf_dir, "documents")
    return curation.source_caps(docs, SOURCE_CAP)


TP_SOURCE_CAPS_ORACLE = f"""
SELECT doc_id, source, slot, slot <= {SOURCE_CAP} AS kept
FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT ASC,
                    doc_id ASC
         ) AS INTEGER) AS slot
  FROM documents
)
"""


COV_TOPK = 200


def tp_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: cumulative vocabulary coverage — how much of the token stream
    the top-k vocabulary entries cover (the curve that sizes tokenizer
    vocabularies and UNK budgets: 'the top 200 words cover X% of all
    tokens'). Counts and the running sum are exact BIGINTs; the fraction
    is one double division — bit-stable.

    Scale: one corpus word aggregate; the global rank runs AFTER a
    TakeOrdered top-{COV_TOPK} (a k-row single task, never a global
    sort), and the stream total rides in on a broadcast 1-row
    aggregate."""
    docs = read_corpus(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize("text")).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").cast("bigint").alias("freq"))
    total = vocab.agg(F.sum("freq").cast("bigint").alias("total"))
    order = [F.desc("freq"), F.asc("word")]
    top = vocab.orderBy(*order).limit(COV_TOPK)
    w = Window.orderBy(*order)
    return (
        top.select(
            F.row_number().over(w).cast("int").alias("rank"),
            "word",
            "freq",
            F.sum("freq")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint")
            .alias("cum_freq"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "word",
            "freq",
            "cum_freq",
            (F.col("cum_freq").cast("double") / F.col("total").cast("double")).alias(
                "cum_frac"
            ),
        )
    )


TP_VOCAB_COV_ORACLE = f"""
WITH words AS (
  SELECT unnest({_TOKENS}) AS word FROM documents
), vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY word
), tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS total FROM vocab
), ranked AS (
  SELECT word, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, word ASC) AS INTEGER)
           AS rank,
         CAST(sum(freq) OVER (ORDER BY freq DESC, word ASC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq
  FROM vocab
)
SELECT rank, word, freq, cum_freq,
       CAST(cum_freq AS DOUBLE) / CAST(total AS DOUBLE) AS cum_frac
FROM ranked, tot
WHERE rank <= {COV_TOPK}
"""


def tp_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: temperature-scaled source sampling weights — the multilingual /
    multi-source training-mix rule (mBERT/XLM-R exponentiated sampling):
    w_i = n_i^α / Σ_j n_j^α with α = 0.5, which up-weights small sources
    relative to their raw share without letting any source dominate.
    α = 0.5 deliberately: sqrt is IEEE-correctly-rounded on both engines
    (general pow is not), and the normalizer folds the per-source sqrt
    terms in SOURCE order on both sides — bit-stable.

    Scale: one per-source count aggregate; the normalizer is a 1-row
    broadcast (source cardinality is tiny by construction)."""
    docs = read_corpus(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    norm = src.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("source", "n_docs"))),
                lambda s: F.sqrt(s["n_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z"),
        F.sum("n_docs").cast("bigint").alias("total"),
    )
    return src.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("total").cast("double")).alias(
            "raw_share"
        ),
        (F.sqrt(F.col("n_docs").cast("double")) / F.col("z")).alias("weight"),
    )


TP_TEMP_MIX_ORACLE = """
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), norm AS (
  SELECT list_sum(list_transform(
           list(struct_pack(s := source, n := n_docs) ORDER BY source),
           e -> sqrt(CAST(e.n AS DOUBLE)))) AS z,
         CAST(sum(n_docs) AS BIGINT) AS total
  FROM src
)
SELECT source, n_docs,
       CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS raw_share,
       sqrt(CAST(n_docs AS DOUBLE)) / z AS weight
FROM src, norm
"""


SC_BLOCK = 3  # span-corruption span length (token block size)


SC_GATE = 5  # 1-in-5 blocks mask -> ~20% corruption rate, T5's default


def tp_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: T5-style span corruption — partition each document's token
    stream into length-{SC_BLOCK} blocks and mask whole blocks behind a
    deterministic hash gate (hash28('sc:'||doc_id||':'||block) mod
    {SC_GATE} = 0 → ~1/{SC_GATE} of tokens masked as contiguous spans,
    the denoising-objective shape). Emits per-doc mask accounting plus
    the md5 of the corrupted stream, so the oracle checks every masked
    POSITION, not just the counts. Zero shuffle: gate, rewrite and
    digest are scan-local array expressions.

    Perf: the hash gate depends only on the BLOCK index, so it is
    evaluated once per block (one md5 per {SC_BLOCK} tokens) and the
    per-position expressions index into the precomputed gate array —
    not one md5 per position per output column (9x fewer digests;
    MEMORY's interpreted-HOF trap)."""
    docs = read_corpus(spark, sf_dir, "documents")
    toks = tokenize("text")
    did = F.col("doc_id").cast("string")

    n = F.size(toks)
    n_blocks = F.ceil(n / F.lit(SC_BLOCK)).cast("int")
    gates = F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda b: F.pmod(
            hash28(F.concat(F.lit("sc:"), did, F.lit(":"), b.cast("string"))),
            F.lit(SC_GATE),
        )
        == 0,
    )
    base = docs.select(
        "doc_id", toks.alias("toks"), n.alias("n"), gates.alias("gates")
    )
    g = F.col("gates")
    nn = F.col("n")
    corrupted = F.transform(
        F.sequence(F.lit(1), nn),
        lambda i: F.when(
            F.element_at(g, (F.floor((i - 1) / SC_BLOCK) + 1).cast("int")),
            F.lit("<mask>"),
        ).otherwise(F.element_at(F.col("toks"), i)),
    )
    # per gated block, the masked-token count is the block size (SC_BLOCK,
    # except a short final block)
    n_masked = F.aggregate(
        F.zip_with(
            g,
            F.sequence(F.lit(0), F.size(g) - 1),
            lambda gate, b: F.when(
                gate, F.least(F.lit(SC_BLOCK), nn - b * SC_BLOCK)
            ).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_spans = F.size(F.filter(g, lambda x: x))
    return base.select(
        "doc_id",
        nn.cast("int").alias("n_tokens"),
        n_masked.cast("int").alias("n_masked"),
        n_spans.cast("int").alias("n_spans"),
        F.md5(F.concat_ws(" ", corrupted)).alias("corrupted_md5"),
    )


TP_SPAN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS toks FROM documents
), m AS (
  SELECT doc_id, toks, len(toks) AS n,
    list_transform(range(1, len(toks) + 1), i ->
      ({_HASH28.format(x="'sc:' || CAST(doc_id AS VARCHAR) || ':' || CAST((i - 1) // " + str(SC_BLOCK) + " AS VARCHAR)")}) % {SC_GATE} = 0
    ) AS gates
  FROM t
)
SELECT doc_id,
  CAST(n AS INTEGER) AS n_tokens,
  CAST(len(list_filter(range(1, n + 1), i -> gates[i])) AS INTEGER) AS n_masked,
  CAST(len(list_distinct(list_transform(
         list_filter(range(1, n + 1), i -> gates[i]),
         i -> (i - 1) // {SC_BLOCK}))) AS INTEGER) AS n_spans,
  md5(array_to_string(list_transform(range(1, n + 1),
        i -> CASE WHEN gates[i] THEN '<mask>' ELSE toks[i] END), ' '))
    AS corrupted_md5
FROM m
"""


def tp_detokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: id→text decode fidelity — encode every document to vocabulary
    ids (tp_token_ids' path), decode back through the id→word table
    (posexplode → join → ordered reassembly), and certify the round trip
    against the whitespace-normalized original. The check a tokenizer
    deployment pipeline runs before training: lossless ids or the run is
    garbage. roundtrip_ok is TRUE for every row by construction (the
    vocab is corpus-trained, no OOV) — the oracle proves the decode
    chain, not the flag's tautology, via the decoded md5."""
    docs = read_corpus(spark, sf_dir, "documents")
    vocab = tokenizer.vocab_ids(docs)
    enc = tokenizer.encode_token_ids(docs, vocab)
    ids = enc.select(
        "doc_id", F.posexplode("token_ids").alias("pos", "token_id")
    )
    dec = ids.join(vocab.select("token_id", "word"), "token_id")
    rejoined = dec.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("word")))
                ),
                lambda s: s["word"],
            ),
        ).alias("decoded"),
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    orig = docs.select("doc_id", F.md5(norm).alias("orig_md5"))
    return rejoined.join(orig, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.md5("decoded").alias("decoded_md5"),
        (F.md5(F.col("decoded")) == F.col("orig_md5")).alias("roundtrip_ok"),
    )


TP_DETOK_ORACLE = f"""
WITH words AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest({_TOKENS}) AS w FROM documents) GROUP BY w
), vocab AS (
  SELECT word,
         CAST(row_number() OVER (ORDER BY freq DESC, word ASC) - 1 AS INTEGER)
           AS token_id
  FROM words
), ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) + 1),
                               i -> struct_pack(pos := i - 1, word := t[i]))) AS u
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), pos_words AS (
  SELECT doc_id, u.pos AS pos, u.word AS word FROM ex
), enc AS (
  SELECT e.doc_id, e.pos, v.token_id
  FROM pos_words e LEFT JOIN vocab v USING (word)
), dec AS (
  SELECT enc.doc_id, enc.pos, v2.word
  FROM enc JOIN vocab v2 USING (token_id)
), rejoined AS (
  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
         string_agg(word, ' ' ORDER BY pos) AS decoded
  FROM dec GROUP BY doc_id
)
SELECT r.doc_id, r.n_tokens,
       md5(r.decoded) AS decoded_md5,
       md5(r.decoded) = md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g'))
         AS roundtrip_ok
FROM rejoined r JOIN documents d ON r.doc_id = d.doc_id
"""


def tp_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: sequence-length bucketing — group documents into power-of-two
    token-length buckets (the batching strategy that keeps padding waste
    down when fixed-shape batches are built per bucket) and report each
    bucket's padding overhead: padded_tokens = bucket_len × n_docs vs the
    real token total. The bucket boundary is computed with INTEGER ops
    only (1 << bit_length(n-1), via the binary-string length both engines
    expose) — no float log2, whose boundary rounding differs per engine.

    Scale: one scan + one tiny (≤ ~20 buckets) aggregate; waste_frac is
    one exact-bigint double division — bit-stable."""
    docs = read_corpus(spark, sf_dir, "documents")
    n = F.size(tokenize("text"))
    bits = F.length(F.bin((n - 1).cast("long")))
    bucket = F.when(n <= 1, F.lit(1).cast("long")).otherwise(
        F.call_function("shiftleft", F.lit(1).cast("long"), bits.cast("int")).cast(
            "long"
        )
    )
    per_doc = docs.select(n.alias("n_tokens"), bucket.alias("bucket_len"))
    agg = per_doc.groupBy("bucket_len").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    padded = F.col("bucket_len") * F.col("n_docs")
    return agg.select(
        "bucket_len",
        "n_docs",
        "total_tokens",
        padded.cast("bigint").alias("padded_tokens"),
        (
            (padded - F.col("total_tokens")).cast("double")
            / padded.cast("double")
        ).alias("pad_waste_frac"),
    )


TP_LENBUCKET_ORACLE = f"""
WITH t AS (
  SELECT len({_TOKENS}) AS n FROM documents
), b AS (
  SELECT n,
         CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
              ELSE CAST((CAST(1 AS BIGINT) << length(bin(n - 1))) AS BIGINT)
         END AS bucket_len
  FROM t
), agg AS (
  SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens
  FROM b GROUP BY 1
)
SELECT bucket_len, n_docs, total_tokens,
       CAST(bucket_len * n_docs AS BIGINT) AS padded_tokens,
       CAST(bucket_len * n_docs - total_tokens AS DOUBLE)
         / CAST(bucket_len * n_docs AS DOUBLE) AS pad_waste_frac
FROM agg
"""


SPLIT_TRAIN_PCT = 80


SPLIT_VAL_PCT = 90


def tp_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: deterministic train/val/test split — every doc routes to a
    split by a salted-hash gate on its id (hash28('split:'||doc_id) mod
    100: <{SPLIT_TRAIN_PCT} train, <{SPLIT_VAL_PCT} val, else test), so
    the assignment is reproducible across runs, machines and engines —
    no rand(), no global sort. The output is the stratification audit:
    per (source, split) counts and the within-source fraction, the table
    a data-governance check reads to confirm no source leaked wholly
    into eval.

    Scale: one scan + one (source × 3)-row aggregate; the within-source
    normalizer rides a partitionBy(source) window over that tiny table."""
    docs = read_corpus(spark, sf_dir, "documents")
    gate = F.pmod(
        hash28(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    split = (
        F.when(gate < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(gate < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    counts = docs.select("source", split.alias("split")).groupBy(
        "source", "split"
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    w = Window.partitionBy("source")
    return counts.select(
        "source",
        "split",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double")
        ).alias("source_frac"),
    )


TP_SPLIT_ORACLE = f"""
WITH g AS (
  SELECT source,
         ({_HASH28.format(x="'split:' || CAST(doc_id AS VARCHAR)")}) % 100
           AS gate
  FROM documents
), s AS (
  SELECT source,
         CASE WHEN gate < {SPLIT_TRAIN_PCT} THEN 'train'
              WHEN gate < {SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM g
), counts AS (
  SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs
  FROM s GROUP BY 1, 2
)
SELECT source, split, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE)
         AS source_frac
FROM counts
"""


def tp_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: tokenizer fertility by language — sub-word tokens per
    whitespace word (the metric multilingual tokenizer evaluations
    report per language: high fertility = the vocab serves that language
    poorly and its documents cost more sequence length per word). Uses
    the BPE-ish regex tokenizer vs the whitespace tokenizer; also
    reports characters per sub-word token.

    Scale: per-row counts, one lang-cardinality aggregate; ratios are
    exact-bigint double divisions — bit-stable."""
    docs = read_corpus(spark, sf_dir, "documents")
    from us_dot_flights_lakehouse_spark.functions.text import bpe_ish_tokens

    bpe = bpe_ish_tokens("text")
    per_doc = docs.select(
        "lang",
        F.size(tokenize("text")).cast("long").alias("ws"),
        F.size(bpe).cast("long").alias("bp"),
        F.aggregate(
            F.transform(bpe, F.length), F.lit(0), lambda a, x: a + x
        )
        .cast("long")
        .alias("bp_chars"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("ws_tokens"),
        F.sum("bp").cast("bigint").alias("bpe_tokens"),
        F.sum("bp_chars").cast("bigint").alias("bpe_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        (F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double")).alias(
            "fertility"
        ),
        (F.col("bpe_chars").cast("double") / F.col("bpe_tokens").cast("double")).alias(
            "chars_per_token"
        ),
    )


TP_FERTILITY_ORACLE = f"""
WITH d AS (
  SELECT lang,
         CAST(len({_TOKENS}) AS BIGINT) AS ws,
         CAST(len({_BPE}) AS BIGINT) AS bp,
         CAST(list_sum(list_transform({_BPE}, x -> length(x))) AS BIGINT)
           AS bp_chars
  FROM documents
), agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(ws) AS BIGINT) AS ws_tokens,
         CAST(sum(bp) AS BIGINT) AS bpe_tokens,
         CAST(sum(bp_chars) AS BIGINT) AS bpe_chars
  FROM d GROUP BY 1
)
SELECT lang, n_docs, ws_tokens, bpe_tokens,
       CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE) AS fertility,
       CAST(bpe_chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE) AS chars_per_token
FROM agg
"""


DSIR_TARGET_LANG = "en"


def tp_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: DSIR-style importance-resampling weights — score every
    document by how target-like its unigram distribution is (Xie et al.,
    'Data Selection for Language Models via Importance Resampling'):
    weight(doc) = Π over its token stream of
    (c_target(w)+1)·(N_corpus+V) / ((c_corpus(w)+1)·(N_target+V)),
    the add-1-smoothed likelihood ratio between the target domain (lang
    '{DSIR_TARGET_LANG}') and the whole corpus. No logarithms (ln is
    not correctly rounded cross-engine): each token contributes ONE
    double division of exact bigint products, and the per-doc product
    folds in token-POSITION order on both engines — bit-stable.

    Scale: two word-count aggregates + one token join (row-scale, the
    tfidf shape) + one doc-key reassembly; global totals ride 1-row
    broadcast aggregates, never a driver collect."""
    docs = read_corpus(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.posexplode(tokenize("text")).alias("pos", "w")
    )
    corpus_counts = toks.groupBy("w").agg(
        F.count("*").cast("bigint").alias("c_c"),
        F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("bigint"))
        .cast("bigint")
        .alias("c_t"),
    )
    totals = corpus_counts.agg(
        F.sum("c_c").cast("bigint").alias("n_c"),
        F.sum("c_t").cast("bigint").alias("n_t"),
        F.count("*").cast("bigint").alias("v"),
    )
    ratio = (
        ((F.col("c_t") + 1) * (F.col("n_c") + F.col("v"))).cast("double")
        / ((F.col("c_c") + 1) * (F.col("n_t") + F.col("v"))).cast("double")
    )
    scored = (
        toks.join(corpus_counts, "w")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", "pos", ratio.alias("r"))
    )
    folded = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("r")))),
            F.lit(1.0),
            lambda acc, x: acc * x["r"],
        ).alias("dsir_weight"),
    )
    return folded.select(
        "doc_id",
        "n_tokens",
        "dsir_weight",
        (F.col("dsir_weight") > F.lit(1.0)).alias("target_like"),
    )


TP_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, u.pos AS pos, u.w AS w
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(t) + 1),
                                 i -> struct_pack(pos := i - 1, w := t[i])))
             AS u
    FROM (SELECT doc_id, lang, {_TOKENS} AS t FROM documents)
  )
), counts AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c_c,
         CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_t
  FROM toks GROUP BY w
), tot AS (
  SELECT CAST(sum(c_c) AS BIGINT) AS n_c, CAST(sum(c_t) AS BIGINT) AS n_t,
         CAST(count(*) AS BIGINT) AS v
  FROM counts
), scored AS (
  SELECT t.doc_id, t.pos,
         CAST((c.c_t + 1) * (n_c + v) AS DOUBLE)
           / CAST((c.c_c + 1) * (n_t + v) AS DOUBLE) AS r
  FROM toks t JOIN counts c USING (w), tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                list(r ORDER BY pos)),
                   (acc, x) -> acc * x) AS dsir_weight,
       list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                                list(r ORDER BY pos)),
                   (acc, x) -> acc * x) > 1.0 AS target_like
FROM scored
GROUP BY doc_id
"""


EPOCH_TOKEN_BUDGET = 1_000_000


def tp_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: per-source epoch schedule — given a total training token
    budget and the temperature-scaled mix weights (tp_temperature_mix's
    α=0.5 rule), how many PASSES over each source its share implies:
    epochs = budget·weight / source_tokens, reported with the ceiling
    epoch count a repeat-based loader would materialize. The LLaMA-style
    data-recipe table ('books ×2.4, code ×0.6').

    Scale: one per-source aggregate; the normalizer folds per-source
    sqrt terms in source order (bit-stable, as tp_temperature_mix); the
    division chain is double-deterministic."""
    docs = read_corpus(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(tokenize("text"))).cast("bigint").alias("src_tokens"),
    )
    norm = src.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("source", "n_docs"))),
                lambda s: F.sqrt(s["n_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z")
    )
    weight = F.sqrt(F.col("n_docs").cast("double")) / F.col("z")
    epochs = (
        F.lit(float(EPOCH_TOKEN_BUDGET)) * weight
        / F.col("src_tokens").cast("double")
    )
    return src.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_docs",
        "src_tokens",
        weight.alias("mix_weight"),
        epochs.alias("epochs"),
        F.ceil(epochs).cast("bigint").alias("epochs_ceil"),
    )


TP_EPOCHS_ORACLE = f"""
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_TOKENS})) AS BIGINT) AS src_tokens
  FROM documents GROUP BY 1
), norm AS (
  SELECT list_sum(list_transform(
           list(struct_pack(s := source, n := n_docs) ORDER BY source),
           e -> sqrt(CAST(e.n AS DOUBLE)))) AS z
  FROM src
)
SELECT source, n_docs, src_tokens,
       sqrt(CAST(n_docs AS DOUBLE)) / z AS mix_weight,
       CAST({EPOCH_TOKEN_BUDGET} AS DOUBLE) * (sqrt(CAST(n_docs AS DOUBLE)) / z)
         / CAST(src_tokens AS DOUBLE) AS epochs,
       CAST(ceil(CAST({EPOCH_TOKEN_BUDGET} AS DOUBLE)
                 * (sqrt(CAST(n_docs AS DOUBLE)) / z)
                 / CAST(src_tokens AS DOUBLE)) AS BIGINT) AS epochs_ceil
FROM src, norm
"""


NEYMAN_BUDGET = 10_000  #: total docs the downstream sampler may keep


def tp_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: Neyman (variance-optimal) sampling allocation across sources —
    given a sampling budget of {NEYMAN_BUDGET} docs, each source gets
    budget ∝ N_g·σ_g (its size × its doc-length standard deviation):
    the stratified-sampling rule that minimizes estimator variance, and
    in a data pipeline the principled answer to "how many docs do I keep
    from each crawl source for the audit sample?" — high-variance
    sources need proportionally more coverage than uniform sampling
    gives them.

    Determinism: per-source moments are exact BIGINT sums of n_chars
    and n_chars²; σ_g = √((n·SS − S²)/n²) is per-row float math from
    exact ints; the DENOMINATOR Σ N_g·σ_g folds the ~30 source weights
    sequentially in source order (F.aggregate over a sorted array — the
    kcenter/inertia bit-exact-fold technique), never a parallel double
    sum.

    Scale: one groupBy(source) over the scan; the fold runs over the
    source-count-sized aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    # Moments in decimal(38,0), not BIGINT: at 100 TB a source's summed
    # n_chars passes ~3e9 and s*s would silently wrap int64 under
    # ansi=false (ADVICE r6). decimal(19,0)*decimal(19,0) -> decimal(38,0)
    # stays exact to 1e38; the oracle mirrors with HUGEINT (int128).
    nc = F.col("n_chars").cast("decimal(19,0)")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(nc).cast("decimal(38,0)").alias("s"),
        F.sum(nc * nc).cast("decimal(38,0)").alias("ss"),
    )
    n = F.col("n_docs").cast("double")
    var_pop = (
        F.col("n_docs").cast("decimal(19,0)") * F.col("ss")
        - F.col("s") * F.col("s")
    ).cast("double") / (n * n)
    weighted = per_src.select(
        "source",
        "n_docs",
        F.sqrt(var_pop).alias("sigma"),
    ).withColumn("weight", n * F.col("sigma"))
    denom = weighted.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "weight"))),
            F.lit(0.0),
            lambda acc, x: acc + x["weight"],
        ).alias("denom")
    )
    return (
        weighted.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "sigma",
            (F.col("weight") / F.col("denom")).alias("share"),
            (
                F.col("weight") / F.col("denom") * F.lit(float(NEYMAN_BUDGET))
            ).alias("alloc_docs"),
        )
    )


TP_NEYMAN_ORACLE = f"""
WITH per_src AS (
  -- HUGEINT (int128) moments: exact where BIGINT would wrap at scale,
  -- mirroring the Spark side's decimal(38,0)
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
              AS HUGEINT) AS ss
  FROM documents GROUP BY 1
), weighted AS (
  SELECT source, n_docs,
         sqrt(CAST(n_docs * ss - s * s AS DOUBLE)
              / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) AS sigma,
         CAST(n_docs AS DOUBLE)
           * sqrt(CAST(n_docs * ss - s * s AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
           AS weight
  FROM per_src
), denom AS (
  SELECT list_sum(list(weight ORDER BY source)) AS denom FROM weighted
)
SELECT source, n_docs, sigma,
       weight / denom AS share,
       weight / denom * {float(NEYMAN_BUDGET)!r} AS alloc_docs
FROM weighted CROSS JOIN denom
"""


SFT_BUDGET_CHARS = 4096


def tp_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: SFT chat-template assembly — pair documents within each
    source (doc_id-ranked, i with i+1, the deterministic stand-in for
    prompt/response pairs) and render the chat template
    '<|user|>…<|assistant|>…<|end|>' with a context-budget flag: the
    formatting step every supervised-fine-tune data build runs before
    tokenization. The md5 over the rendered string makes the oracle
    sensitive to every byte of template assembly.

    Scale: one source-key window for the pairing; rendering is
    scan-local string concat."""
    docs = read_corpus(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = docs.select(
        "source",
        F.col("doc_id").alias("prompt_id"),
        F.col("text").alias("prompt"),
        F.lead("doc_id").over(w).alias("response_id"),
        F.lead("text").over(w).alias("response"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("response_id").isNotNull() & (F.col("rn") % 2 == 1))
    formatted = F.concat(
        F.lit("<|user|>\n"),
        F.col("prompt"),
        F.lit("\n<|assistant|>\n"),
        F.col("response"),
        F.lit("<|end|>"),
    )
    return paired.select(
        "source",
        "prompt_id",
        "response_id",
        F.length(formatted).cast("bigint").alias("n_chars"),
        (F.length(formatted) <= SFT_BUDGET_CHARS).alias("fits_budget"),
        F.md5(formatted).alias("formatted_md5"),
    )


TP_SFT_ORACLE = f"""
WITH paired AS (
  SELECT source, doc_id AS prompt_id, text AS prompt,
         lead(doc_id) OVER w AS response_id,
         lead(text) OVER w AS response,
         row_number() OVER w AS rn
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id)
), f AS (
  SELECT source, prompt_id, response_id,
         '<|user|>' || chr(10) || prompt || chr(10) || '<|assistant|>'
           || chr(10) || response || '<|end|>' AS formatted
  FROM paired WHERE response_id IS NOT NULL AND rn % 2 = 1
)
SELECT source, prompt_id, response_id,
       CAST(length(formatted) AS BIGINT) AS n_chars,
       length(formatted) <= {SFT_BUDGET_CHARS} AS fits_budget,
       md5(formatted) AS formatted_md5
FROM f
"""


CHAT_TURNS = 4


CHAT_BUDGET_CHARS = 2048


def tp_chat_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: SFT conversation lint — assemble {CHAT_TURNS}-turn
    conversations (doc_id-ranked within source, the multi-turn extension
    of tp_sft_format's pairing) and run the lint rules every SFT data
    build applies before training: empty turns, adjacent duplicate
    turns (copy-paste echo), context-budget overflow, incomplete
    conversations at the tail, and template-tag leakage ('<|' inside a
    turn would break the chat template). Emits one row per conversation
    with the violation bitmask — the triage table for fix-vs-drop.

    Scale: one source-keyed window for turn ranking, one
    conversation-keyed aggregate; rules are array folds over
    conversation-sized lists."""
    docs = read_corpus(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    turns = docs.select(
        "source",
        "doc_id",
        "text",
        # floor-div explicitly: Spark's long cast TRUNCATES a double while
        # DuckDB's CAST rounds — floor() agrees on both engines
        F.floor((F.row_number().over(w) - 1) / CHAT_TURNS)
        .cast("long")
        .alias("conv_id"),
    )
    conv = turns.groupBy("source", "conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.array_sort(
            F.collect_list(F.struct(F.col("doc_id").alias("k"), F.col("text").alias("t")))
        ).alias("ts"),
    )
    texts = F.transform("ts", lambda x: x["t"])
    total_chars = F.aggregate(
        texts, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    has_empty = F.exists(texts, lambda t: F.length(F.trim(t)) == 0)
    # zip_with pads the shorter (shifted) side with NULL — eqNullSafe +
    # isNotNull keeps the pair-equality list boolean-typed and null-free
    # so exists() can't go three-valued on the tail pair
    adj_dup = F.exists(
        F.zip_with(
            texts,
            F.slice(texts, 2, CHAT_TURNS),
            lambda x, y: x.eqNullSafe(y) & y.isNotNull(),
        ),
        lambda e: e,
    )
    over = total_chars > CHAT_BUDGET_CHARS
    incomplete = F.col("n_turns") < CHAT_TURNS
    leak = F.exists(texts, lambda t: t.contains("<|"))
    mask = (
        has_empty.cast("int")
        + adj_dup.cast("int") * 2
        + over.cast("int") * 4
        + incomplete.cast("int") * 8
        + leak.cast("int") * 16
    )
    return conv.select(
        "source",
        "conv_id",
        "n_turns",
        total_chars.alias("total_chars"),
        mask.cast("long").alias("lint_mask"),
        (mask == 0).alias("clean"),
    )


TP_CHAT_LINT_ORACLE = f"""
WITH turns AS (
  SELECT source, doc_id, text,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
              // {CHAT_TURNS} AS conv_id
  FROM documents
), conv AS (
  SELECT source, conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         list(text ORDER BY doc_id) AS texts,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         bool_or(length(trim(text)) = 0) AS has_empty,
         bool_or(contains(text, '<|')) AS leak
  FROM turns GROUP BY 1, 2
), scored AS (
  SELECT source, conv_id, n_turns, total_chars,
         CAST(has_empty AS INT)
         + CAST(len(list_filter(range(1, len(texts)),
                                i -> texts[i] = texts[i+1])) > 0 AS INT) * 2
         + CAST(total_chars > {CHAT_BUDGET_CHARS} AS INT) * 4
         + CAST(n_turns < {CHAT_TURNS} AS INT) * 8
         + CAST(leak AS INT) * 16 AS lint_mask
  FROM conv
)
SELECT source, conv_id, n_turns, total_chars,
       CAST(lint_mask AS BIGINT) AS lint_mask, lint_mask = 0 AS clean
FROM scored
"""


def tp_loss_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: SFT loss-mask offsets — for each assembled chat example
    (tp_sft_format's pairing and template), the exact character span
    where training loss applies (the assistant turn only; prompt and
    template tokens are masked out): the offset bookkeeping every SFT
    tokenizer pass must get byte-exact, emitted as closed-form
    arithmetic over the component lengths so the oracle certifies every
    boundary.

    Scale: one source-key window for the pairing; everything else is
    scan-local length arithmetic."""
    docs = read_corpus(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = docs.select(
        "source",
        F.col("doc_id").alias("prompt_id"),
        F.col("text").alias("prompt"),
        F.lead("doc_id").over(w).alias("response_id"),
        F.lead("text").over(w).alias("response"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("response_id").isNotNull() & (F.col("rn") % 2 == 1))
    pre = F.lit(9) + F.length("prompt") + F.lit(15)  # '<|user|>\n' + p + '\n<|assistant|>\n'
    total = pre + F.length("response") + F.lit(7)  # + r + '<|end|>'
    mask_start = pre + 1
    mask_end = pre + F.length("response")
    return paired.select(
        "source",
        "prompt_id",
        "response_id",
        total.cast("long").alias("total_chars"),
        mask_start.cast("long").alias("mask_start"),
        mask_end.cast("long").alias("mask_end"),
        F.length("response").cast("long").alias("mask_chars"),
        (F.length("response").cast("double") / total.cast("double")).alias(
            "loss_frac"
        ),
    )


TP_LOSS_MASK_ORACLE = """
WITH paired AS (
  SELECT source, doc_id AS prompt_id, text AS prompt,
         lead(doc_id) OVER w AS response_id,
         lead(text) OVER w AS response,
         row_number() OVER w AS rn
  FROM documents
  WINDOW w AS (PARTITION BY source ORDER BY doc_id)
)
SELECT source, prompt_id, response_id,
       CAST(9 + length(prompt) + 15 + length(response) + 7 AS BIGINT)
         AS total_chars,
       CAST(9 + length(prompt) + 15 + 1 AS BIGINT) AS mask_start,
       CAST(9 + length(prompt) + 15 + length(response) AS BIGINT) AS mask_end,
       CAST(length(response) AS BIGINT) AS mask_chars,
       CAST(length(response) AS DOUBLE)
         / CAST(9 + length(prompt) + 15 + length(response) + 7 AS DOUBLE)
         AS loss_frac
FROM paired WHERE response_id IS NOT NULL AND rn % 2 = 1
"""


KAPPA_MOD_A = 97


KAPPA_MOD_B = 89


KAPPA_CLASSES = 3


def tp_annotation_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: inter-annotator agreement (Cohen's κ) — two deterministic
    synthetic annotators label each document ({KAPPA_CLASSES} classes,
    md5-hash-derived with different salts so they agree partly by
    chance), and the query computes the full agreement audit: the
    confusion matrix diagonal, observed agreement p_o, chance agreement
    p_e from the marginals, and κ = (p_o − p_e)/(1 − p_e). The labeling
    QA gate every human/LLM annotation pipeline runs before trusting
    its labels. Counts exact; p_o/p_e/κ pointwise doubles from exact
    integer ratios.

    Scale: one corpus scan → one {KAPPA_CLASSES}²-cell aggregate; the
    κ computation is driver-sized arithmetic kept in the plan as 1-row
    literals-free expressions."""
    docs = read_corpus(spark, sf_dir, "documents")

    def annot(salt: str, mod: int):
        return F.pmod(
            F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 7), 16, 10).cast("long"),
            F.lit(mod),
        ) % KAPPA_CLASSES

    labeled = docs.select(
        "doc_id",
        annot(":annA", KAPPA_MOD_A).alias("label_a"),
        annot(":annB", KAPPA_MOD_B).alias("label_b"),
    )
    cells = labeled.groupBy("label_a", "label_b").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.when(F.col("label_a") == F.col("label_b"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    ma = cells.groupBy("label_a").agg(F.sum("n").cast("bigint").alias("n_a"))
    mb = cells.groupBy("label_b").agg(F.sum("n").cast("bigint").alias("n_b"))
    pe_terms = (
        ma.join(mb, ma.label_a == mb.label_b)
        .select(
            (F.col("n_a").cast("double") * F.col("n_b").cast("double")).alias("prod"),
            F.col("label_a").alias("cls"),
        )
    )
    # fold the K chance terms in class order (K is tiny and fixed)
    pe_sum = pe_terms.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("cls", "prod"))),
            F.lit(0.0),
            lambda a, x: a + x["prod"],
        ).alias("pe_num")
    )
    po = F.col("agree").cast("double") / F.col("total").cast("double")
    pe = F.col("pe_num") / (F.col("total").cast("double") * F.col("total").cast("double"))
    return (
        tot.crossJoin(F.broadcast(pe_sum))
        .select(
            "total",
            "agree",
            po.alias("p_observed"),
            pe.alias("p_chance"),
            ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
        )
    )


TP_KAPPA_ORACLE = f"""
WITH labeled AS (
  SELECT doc_id,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':annA'), 1, 7))::BIGINT
          % {KAPPA_MOD_A}) % {KAPPA_CLASSES} AS label_a,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':annB'), 1, 7))::BIGINT
          % {KAPPA_MOD_B}) % {KAPPA_CLASSES} AS label_b
  FROM documents
), cells AS (
  SELECT label_a, label_b, CAST(count(*) AS BIGINT) AS n
  FROM labeled GROUP BY 1, 2
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total,
         CAST(sum(CASE WHEN label_a = label_b THEN n ELSE 0 END) AS BIGINT)
           AS agree
  FROM cells
), ma AS (SELECT label_a, CAST(sum(n) AS BIGINT) AS n_a FROM cells GROUP BY 1),
mb AS (SELECT label_b, CAST(sum(n) AS BIGINT) AS n_b FROM cells GROUP BY 1),
pe AS (
  SELECT list_sum(list(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                       ORDER BY label_a)) AS pe_num
  FROM ma JOIN mb ON label_a = label_b
)
SELECT total, agree,
       CAST(agree AS DOUBLE) / CAST(total AS DOUBLE) AS p_observed,
       pe_num / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) AS p_chance,
       ((CAST(agree AS DOUBLE) / CAST(total AS DOUBLE))
        - pe_num / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))
       / (1.0 - pe_num / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)))
         AS kappa
FROM tot, pe
"""


def tp_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: one FULL BPE training step, distributed — take iteration 0's
    argmax pair (corpus-weighted, lexicographic tie-break), APPLY it
    across the vocabulary with the exact greedy left-to-right merge
    semantics ('aaaa' + (a,a) → 'aa','aa' — an output-driven fold, not
    a regex), and emit iteration 1's re-ranked pair counts alongside
    the merge that was applied. tp_bpe_pair_counts showed the counting;
    this certifies the REWRITE — the step the driver-iterative
    ``bpe_train`` repeats, here as one lazy distributed plan whose
    every post-merge count the oracle re-derives.

    Scale: vocabulary-sized after the one corpus word-count; the merge
    fold is per-word O(len); the argmax rides a 1-row broadcast."""
    docs = read_corpus(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    order = [F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym")]
    top1 = (
        tokenizer.merge_pair_counts(docs)
        .orderBy(*order)
        .limit(1)
        .select(
            F.col("left_sym").alias("ml"), F.col("right_sym").alias("mr")
        )
    )
    j = words.crossJoin(F.broadcast(top1))
    empty = F.expr("array()").cast("array<string>")
    syms = F.aggregate(
        F.split("w", ""),
        empty,
        lambda acc, c: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("ml"))
            & (c == F.col("mr")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.col("ml"), F.col("mr"))),
            ),
        ).otherwise(F.concat(acc, F.array(c))),
    )
    merged = j.select("freq", "ml", "mr", syms.alias("syms"))
    pairs = merged.select(
        "freq",
        "ml",
        "mr",
        F.explode(
            F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at("syms", i + 1).alias("r"),
                    ),
                ),
            ).otherwise(F.expr("array()").cast("array<struct<l:string,r:string>>"))
        ).alias("p"),
    )
    counts = pairs.groupBy("ml", "mr", "p.l", "p.r").agg(
        F.sum("freq").cast("bigint").alias("pair_count")
    )
    ranked = (
        counts.orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
        .limit(BPE_TOPK)
    )
    w = Window.orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
    return ranked.select(
        F.row_number().over(w).cast("int").alias("rank"),
        F.col("ml").alias("merge_l"),
        F.col("mr").alias("merge_r"),
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        "pair_count",
    )


TP_BPE_STEP_ORACLE = f"""
WITH words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({{tokens}}) AS w FROM documents)
  GROUP BY w
), pairlists AS (
  SELECT freq,
    CASE WHEN length(word) >= 2
         THEN list_transform(range(1, length(word)),
                             i -> [substr(word, CAST(i AS INTEGER), 1),
                                   substr(word, CAST(i AS INTEGER) + 1, 1)])
         ELSE CAST([] AS VARCHAR[][]) END AS ps
  FROM words
), counts0 AS (
  SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS c
  FROM (SELECT freq, unnest(ps) AS p FROM pairlists) GROUP BY 1, 2
), top1 AS (
  SELECT l AS ml, r AS mr FROM counts0 ORDER BY c DESC, l, r LIMIT 1
), merged AS (
  SELECT freq, t.ml, t.mr,
         list_reduce(
           list_prepend(CAST([] AS VARCHAR[]),
                        list_transform(string_split(word, ''), ch -> [ch])),
           (acc, x) -> CASE
             WHEN len(acc) > 0 AND acc[len(acc)] = t.ml AND x[1] = t.mr
             THEN list_append(acc[1:len(acc)-1], t.ml || t.mr)
             ELSE list_append(acc, x[1]) END
         ) AS syms
  FROM words, top1 t
), pairs1 AS (
  SELECT freq, ml, mr, unnest(
    CASE WHEN len(syms) >= 2
         THEN list_transform(range(1, len(syms)),
                             i -> [syms[i], syms[i+1]])
         ELSE CAST([] AS VARCHAR[][]) END) AS p
  FROM merged
), counts1 AS (
  SELECT ml AS merge_l, mr AS merge_r, p[1] AS left_sym, p[2] AS right_sym,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM pairs1 GROUP BY 1, 2, 3, 4
)
SELECT * FROM (
  SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, left_sym,
                                 right_sym) AS INTEGER) AS rank,
         merge_l, merge_r, left_sym, right_sym, pair_count
  FROM counts1
) WHERE rank <= {{topk}}
"""


def _bpe_step_oracle() -> str:
    return TP_BPE_STEP_ORACLE.format(tokens=_TOKENS, topk=BPE_TOPK)


def tp_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: packing-strategy comparison — per source, the padding waste
    of the two packing operators this engine ships: concat-then-chunk
    (pack_sequences: waste only in the final sequence) vs
    first-fit-decreasing bins (pack_bestfit: no document straddles a
    boundary, waste in every bin's tail): the table that answers 'what
    does document integrity cost in padded tokens'. FFD bin counts come
    from the REAL operator; the concat side is closed-form
    ceil(total/budget).

    Scale: one length scan + the FFD grouped-map; the rollup is
    source-cardinality."""
    from us_dot_flights_lakehouse_spark.llm.curation import pack_bestfit

    docs = read_corpus(spark, sf_dir, "documents")
    with_len = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    ffd = pack_bestfit(with_len, PACK_BUDGET)
    per_src = ffd.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("bin_id").cast("bigint").alias("ffd_bins"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    concat_seqs = F.ceil(
        F.col("total_tokens").cast("double") / PACK_BUDGET
    ).cast("long")
    ffd_waste = F.col("ffd_bins") * PACK_BUDGET - F.col("total_tokens")
    concat_waste = concat_seqs * PACK_BUDGET - F.col("total_tokens")
    return per_src.select(
        "source",
        "n_docs",
        "total_tokens",
        concat_seqs.alias("concat_seqs"),
        concat_waste.cast("bigint").alias("concat_waste"),
        "ffd_bins",
        ffd_waste.cast("bigint").alias("ffd_waste"),
        (
            ffd_waste.cast("double") / (F.col("ffd_bins") * PACK_BUDGET).cast("double")
        ).alias("ffd_waste_frac"),
    )


def _tp_packing_eff_oracle() -> str:
    ffd = _tp_pack_bestfit_oracle()
    return f"""
WITH ffd AS ({ffd}),
per_src AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(max(bin_id) AS BIGINT) AS ffd_bins,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM ffd GROUP BY source
)
SELECT source, n_docs, total_tokens,
       CAST(ceil(CAST(total_tokens AS DOUBLE) / {PACK_BUDGET}) AS BIGINT)
         AS concat_seqs,
       CAST(CAST(ceil(CAST(total_tokens AS DOUBLE) / {PACK_BUDGET}) AS BIGINT)
            * {PACK_BUDGET} - total_tokens AS BIGINT) AS concat_waste,
       ffd_bins,
       CAST(ffd_bins * {PACK_BUDGET} - total_tokens AS BIGINT) AS ffd_waste,
       CAST(ffd_bins * {PACK_BUDGET} - total_tokens AS DOUBLE)
         / CAST(ffd_bins * {PACK_BUDGET} AS DOUBLE) AS ffd_waste_frac
FROM per_src
"""


def tp_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: preference-pair assembly (DPO/RLHF data shape) — within each
    source, rank documents by a deterministic quality score (here the
    char-length proxy, tie-broken by id) and pair rank-i-from-top
    (chosen) with rank-i-from-bottom (rejected), dropping the crossover
    pair when counts are odd: the standard margin-maximizing pairing a
    preference-data build runs over scored candidates. Emits ids,
    scores and the score margin per pair — downstream DPO loss weights
    come straight off this table.

    Scale: two windows over the same source-keyed sort (one shuffle);
    the pair join is an equi-join on (source, i)."""
    docs = read_corpus(spark, sf_dir, "documents")
    scored = docs.select("source", "doc_id", F.col("n_chars").alias("score"))
    top = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("doc_id"))
    bot = Window.partitionBy("source").orderBy(F.col("score").asc(), F.col("doc_id").desc())
    ranked = scored.select(
        "source",
        "doc_id",
        "score",
        F.row_number().over(top).alias("i_top"),
        F.row_number().over(bot).alias("i_bot"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    chosen = ranked.filter(F.col("i_top") * 2 <= F.col("n")).select(
        "source",
        F.col("i_top").alias("i"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    rejected = ranked.filter(F.col("i_bot") * 2 <= F.col("n")).select(
        "source",
        F.col("i_bot").alias("i"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return chosen.join(rejected, ["source", "i"]).select(
        "source",
        F.col("i").cast("long").alias("pair_rank"),
        "chosen_id",
        "rejected_id",
        F.col("chosen_score").cast("long").alias("chosen_score"),
        F.col("rejected_score").cast("long").alias("rejected_score"),
        (F.col("chosen_score") - F.col("rejected_score"))
        .cast("long")
        .alias("margin"),
    )


TP_PREF_ORACLE = """
WITH ranked AS (
  SELECT source, doc_id, n_chars AS score,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS i_top,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id DESC) AS i_bot,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT c.source, CAST(c.i_top AS BIGINT) AS pair_rank,
       c.doc_id AS chosen_id, r.doc_id AS rejected_id,
       CAST(c.score AS BIGINT) AS chosen_score,
       CAST(r.score AS BIGINT) AS rejected_score,
       CAST(c.score - r.score AS BIGINT) AS margin
FROM ranked c JOIN ranked r
  ON c.source = r.source AND c.i_top = r.i_bot
WHERE c.i_top * 2 <= c.n AND r.i_bot * 2 <= r.n
"""


PACK_BUDGET = 256


def tp_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: first-fit-decreasing bin packing of documents into
    {PACK_BUDGET}-token context windows (llm/curation.pack_bestfit) —
    the no-split packing SFT builds use so no example straddles a
    sequence boundary. The DuckDB oracle re-derives the ENTIRE
    sequential FFD placement as a list_reduce fold over the
    (length DESC, id ASC) item stream — every bin assignment is
    certified, not just the bin count.

    Scale: sequential within a shard by nature; parallelism = shard
    cardinality (see operator docstring for the shard-key sizing
    rule)."""
    from us_dot_flights_lakehouse_spark.llm.curation import pack_bestfit

    docs = read_corpus(spark, sf_dir, "documents")
    with_len = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    return pack_bestfit(with_len, PACK_BUDGET)


def _tp_pack_bestfit_oracle() -> str:
    c = PACK_BUDGET
    # current fill of bin k, computed from the assignment history `acc`
    fills = (
        "list_transform(generate_series(1, "
        "coalesce(list_max(list_transform(acc, e -> e.b)), 0)), "
        "k -> list_sum(list_transform(acc, e -> CASE WHEN e.b = k "
        f"THEN e.ln ELSE 0 END)) + x[1].ln <= {c})"
    )
    return f"""
WITH items AS (
  SELECT source, doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
           AS n
  FROM documents
), folded AS (
  SELECT source,
         list_reduce(
           list_prepend([struct_pack(id := CAST(0 AS BIGINT),
                                     ln := CAST(0 AS BIGINT), b := 0)],
                        list(
                          [struct_pack(id := doc_id, ln := n, b := 0)]
                          ORDER BY n DESC, doc_id)),
           (acc, x) -> list_append(acc, struct_pack(
             id := x[1].id, ln := x[1].ln,
             -- DuckDB list_position returns 0 (not NULL) when absent
             b := CASE WHEN list_position({fills}, true) = 0
                       THEN coalesce(list_max(list_transform(acc, e -> e.b)), 0) + 1
                       ELSE list_position({fills}, true) END))
         ) AS st
  FROM items GROUP BY source
)
SELECT source, u.id AS doc_id, u.ln AS n_tokens,
       CAST(u.b AS BIGINT) AS bin_id, u.ln > {c} AS overflow
FROM (SELECT source, unnest(st) AS u FROM folded)
WHERE u.b > 0
"""


def tp_context_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: context-window truncation audit — per source, how much text a
    head-truncation policy at {SEQ_BUDGET} whitespace tokens would throw
    away: docs over budget, total vs kept tokens, and the waste share.
    The go/no-go report a pipeline runs BEFORE choosing truncate-vs-
    chunk (tp_doc_chunking is the chunk alternative; this prices the
    cheap option).

    Scale: one scan + one source-cardinality aggregate; exact BIGINT
    token sums, one double division."""
    docs = read_corpus(spark, sf_dir, "documents")
    n = F.size(tokenize("text")).cast("bigint")
    per_doc = docs.select(
        "source",
        n.alias("n_tokens"),
        F.least(n, F.lit(SEQ_BUDGET).cast("bigint")).alias("kept"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("n_tokens") > SEQ_BUDGET).cast("int"))
        .cast("bigint")
        .alias("docs_truncated"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("kept").cast("bigint").alias("kept_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "docs_truncated",
        "total_tokens",
        "kept_tokens",
        (
            (F.col("total_tokens") - F.col("kept_tokens")).cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("waste_share"),
    )


TP_TRUNCATION_ORACLE = f"""
WITH t AS (
  SELECT source, CAST(len({_TOKENS}) AS BIGINT) AS n FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n > {SEQ_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_truncated,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(least(n, {SEQ_BUDGET})) AS BIGINT) AS kept_tokens,
       CAST(sum(n) - sum(least(n, {SEQ_BUDGET})) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS waste_share
FROM t GROUP BY source
"""


def tp_dedup_aware_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: dedup-aware temperature mixture — the tp_temperature_mix
    recipe (w ∝ √n, α=0.5) recomputed over exact-dedup SURVIVORS
    instead of raw rows: duplicate-heavy sources otherwise buy sampling
    weight with copies. Reports raw vs surviving counts, the dedup-aware
    weight, and the weight shift vs the naive mix — the number that
    tells a data engineer which sources were gaming the mixture.

    Scale: the exact-dedup groupBy + a source-cardinality aggregate;
    both normalizers fold source-ordered (bit-stable, the temperature-
    mix technique)."""
    docs = read_corpus(spark, sf_dir, "documents")
    fp = dedup.normalized_fingerprint("text").alias("fingerprint")
    tagged = docs.select("doc_id", "source", fp)
    keepers = tagged.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_doc_id")
    )
    per_src = (
        tagged.join(keepers, "fingerprint")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            F.sum((F.col("doc_id") == F.col("keeper_doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_surviving"),
        )
    )

    def z_of(col_name: str):
        return F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("source", col_name))),
                lambda s: F.sqrt(s[col_name].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    norm = per_src.agg(
        z_of("n_raw").alias("z_raw"), z_of("n_surviving").alias("z_surv")
    )
    return per_src.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_raw",
        "n_surviving",
        (F.sqrt(F.col("n_surviving").cast("double")) / F.col("z_surv")).alias(
            "weight"
        ),
        (
            F.sqrt(F.col("n_surviving").cast("double")) / F.col("z_surv")
            - F.sqrt(F.col("n_raw").cast("double")) / F.col("z_raw")
        ).alias("weight_shift_vs_raw"),
    )


TP_DEDUP_MIX_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), keep AS (
  SELECT fingerprint, MIN(doc_id) AS keeper_doc_id FROM fp GROUP BY 1
), per_src AS (
  SELECT f.source,
         CAST(count(*) AS BIGINT) AS n_raw,
         CAST(sum(CASE WHEN f.doc_id = k.keeper_doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_surviving
  FROM fp f JOIN keep k USING (fingerprint)
  GROUP BY 1
), norm AS (
  SELECT list_sum(list_transform(
           list(struct_pack(s := source, n := n_raw) ORDER BY source),
           e -> sqrt(CAST(e.n AS DOUBLE)))) AS z_raw,
         list_sum(list_transform(
           list(struct_pack(s := source, n := n_surviving) ORDER BY source),
           e -> sqrt(CAST(e.n AS DOUBLE)))) AS z_surv
  FROM per_src
)
SELECT source, n_raw, n_surviving,
       sqrt(CAST(n_surviving AS DOUBLE)) / z_surv AS weight,
       sqrt(CAST(n_surviving AS DOUBLE)) / z_surv
         - sqrt(CAST(n_raw AS DOUBLE)) / z_raw AS weight_shift_vs_raw
FROM per_src CROSS JOIN norm
"""


def tp_final_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP: the capstone composition — ONE per-doc training sampling
    weight from the three curation signals the catalog computes
    separately: quality gate (keep iff quality_score ≥ {QUALITY_CUTOFF},
    ts_quality family), SoftDeDup down-weighting (1/exact-dup-cluster
    size, dd_soft_dedup_weights), and the √n temperature source weight
    (tp_temperature_mix). final_weight = gate · soft · source_weight —
    the number a data loader actually samples by, produced as one lazy
    Catalyst plan (scan-fused stats, one fingerprint groupBy, two tiny
    broadcast aggregates).

    Scale: the exact-dedup shuffle dominates; everything else is
    broadcast against it."""
    docs = read_corpus(spark, sf_dir, "documents")
    stats = textstats.text_stats(docs).select(
        "doc_id", "quality_score", "fingerprint"
    )
    sizes = stats.groupBy("fingerprint").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    z = src.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("source", "n_docs"))),
                lambda s: F.sqrt(s["n_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("z")
    )
    srcw = src.crossJoin(F.broadcast(z)).select(
        "source",
        (F.sqrt(F.col("n_docs").cast("double")) / F.col("z")).alias(
            "source_weight"
        ),
    )
    gate = (F.col("quality_score") >= QUALITY_CUTOFF).cast("double")
    soft = F.lit(1.0) / F.col("cluster_size").cast("double")
    return (
        docs.select("doc_id", "source")
        .join(stats, "doc_id")
        .join(sizes, "fingerprint")
        .join(F.broadcast(srcw), "source")
        .select(
            "doc_id",
            "source",
            "quality_score",
            "cluster_size",
            F.col("source_weight"),
            (gate * soft * F.col("source_weight")).alias("final_weight"),
        )
    )


TP_FINAL_WEIGHTS_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
    CAST(len({_TOKENS}) AS INTEGER) AS n_tokens,
    CAST(len(list_distinct({_TOKENS})) AS INTEGER) AS n_unique_tokens,
    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS INTEGER)
      AS n_punct,
    CAST(length(text) AS INTEGER) AS n_chars,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), scored AS (
  SELECT doc_id, source, fingerprint,
    (CASE WHEN n_tokens >= 20 AND n_tokens <= 80 THEN CAST(0.4 AS DOUBLE)
          ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN CAST(n_unique_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                 >= 0.3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.1
            THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
    ) AS quality_score
  FROM base
), sizes AS (
  SELECT fingerprint, CAST(count(*) AS BIGINT) AS cluster_size
  FROM scored GROUP BY 1
), src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), z AS (
  SELECT list_sum(list_transform(
           list(struct_pack(s := source, n := n_docs) ORDER BY source),
           e -> sqrt(CAST(e.n AS DOUBLE)))) AS z
  FROM src
), srcw AS (
  SELECT source, sqrt(CAST(n_docs AS DOUBLE)) / z.z AS source_weight
  FROM src CROSS JOIN z
)
SELECT s.doc_id, s.source, s.quality_score, c.cluster_size, w.source_weight,
       (CASE WHEN s.quality_score >= {QUALITY_CUTOFF} THEN 1.0 ELSE 0.0 END)
         * (1.0 / CAST(c.cluster_size AS DOUBLE)) * w.source_weight
         AS final_weight
FROM scored s
JOIN sizes c USING (fingerprint)
JOIN srcw w USING (source)
"""


QUERIES = {
    "tp_label_balance": tp_label_balance,
    "tp_corpus_curation": tp_corpus_curation,
    "tp_incremental_dedup": tp_incremental_dedup,
    "tp_bloom_incremental_dedup": tp_bloom_incremental_dedup,
    "tp_ranker_auc": tp_ranker_auc,
    "tp_sequence_packing": tp_sequence_packing,
    "tp_training_mix": tp_training_mix,
    "tp_contamination": tp_contamination,
    "tp_shard_shuffle": tp_shard_shuffle,
    "tp_curriculum_order": tp_curriculum_order,
    "tp_dataset_card": tp_dataset_card,
    "tp_rag_pipeline": tp_rag_pipeline,
    "tp_bpe_pair_counts": tp_bpe_pair_counts,
    "tp_token_ids": tp_token_ids,
    "tp_doc_chunking": tp_doc_chunking,
    "tp_source_caps": tp_source_caps,
    "tp_vocab_coverage": tp_vocab_coverage,
    "tp_temperature_mix": tp_temperature_mix,
    "tp_span_corruption": tp_span_corruption,
    "tp_detokenize_roundtrip": tp_detokenize_roundtrip,
    "tp_length_buckets": tp_length_buckets,
    "tp_train_val_split": tp_train_val_split,
    "tp_tokenizer_fertility": tp_tokenizer_fertility,
    "tp_dsir_weights": tp_dsir_weights,
    "tp_mixture_epochs": tp_mixture_epochs,
    "tp_neyman_allocation": tp_neyman_allocation,
    "tp_sft_format": tp_sft_format,
    "tp_chat_lint": tp_chat_lint,
    "tp_loss_masking": tp_loss_masking,
    "tp_annotation_agreement": tp_annotation_agreement,
    "tp_bpe_merge_step": tp_bpe_merge_step,
    "tp_packing_efficiency": tp_packing_efficiency,
    "tp_preference_pairs": tp_preference_pairs,
    "tp_pack_bestfit": tp_pack_bestfit,
    "tp_context_truncation": tp_context_truncation,
    "tp_dedup_aware_mixture": tp_dedup_aware_mixture,
    "tp_final_sample_weights": tp_final_sample_weights,
}

ORACLES = {
    "tp_label_balance": TP_BALANCE_ORACLE,
    "tp_corpus_curation": _curation_oracle(),
    "tp_incremental_dedup": TP_INCR_ORACLE,
    "tp_bloom_incremental_dedup": TP_INCR_ORACLE,
    "tp_ranker_auc": TP_AUC_ORACLE,
    "tp_sequence_packing": TP_PACK_ORACLE,
    "tp_training_mix": TP_MIX_ORACLE,
    "tp_contamination": TP_CONTAM_ORACLE,
    "tp_shard_shuffle": TP_SHARD_ORACLE,
    "tp_curriculum_order": TP_CURRICULUM_ORACLE,
    "tp_dataset_card": TP_CARD_ORACLE,
    "tp_rag_pipeline": _rag_oracle(),
    "tp_bpe_pair_counts": TP_BPE_ORACLE,
    "tp_token_ids": TP_TOKEN_IDS_ORACLE,
    "tp_doc_chunking": TP_CHUNK_ORACLE,
    "tp_source_caps": TP_SOURCE_CAPS_ORACLE,
    "tp_vocab_coverage": TP_VOCAB_COV_ORACLE,
    "tp_temperature_mix": TP_TEMP_MIX_ORACLE,
    "tp_span_corruption": TP_SPAN_ORACLE,
    "tp_detokenize_roundtrip": TP_DETOK_ORACLE,
    "tp_length_buckets": TP_LENBUCKET_ORACLE,
    "tp_train_val_split": TP_SPLIT_ORACLE,
    "tp_tokenizer_fertility": TP_FERTILITY_ORACLE,
    "tp_dsir_weights": TP_DSIR_ORACLE,
    "tp_mixture_epochs": TP_EPOCHS_ORACLE,
    "tp_neyman_allocation": TP_NEYMAN_ORACLE,
    "tp_sft_format": TP_SFT_ORACLE,
    "tp_chat_lint": TP_CHAT_LINT_ORACLE,
    "tp_loss_masking": TP_LOSS_MASK_ORACLE,
    "tp_annotation_agreement": TP_KAPPA_ORACLE,
    "tp_bpe_merge_step": _bpe_step_oracle,
    "tp_packing_efficiency": _tp_packing_eff_oracle,
    "tp_preference_pairs": TP_PREF_ORACLE,
    "tp_pack_bestfit": _tp_pack_bestfit_oracle,
    "tp_context_truncation": TP_TRUNCATION_ORACLE,
    "tp_dedup_aware_mixture": TP_DEDUP_MIX_ORACLE,
    "tp_final_sample_weights": TP_FINAL_WEIGHTS_ORACLE,
}
