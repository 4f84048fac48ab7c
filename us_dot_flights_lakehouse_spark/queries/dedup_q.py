"""Deduplication queries (dd_*): exact/minhash/simhash/containment/incremental tiers.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from us_dot_flights_lakehouse_spark.llm import curation, dedup
from us_dot_flights_lakehouse_spark.llm.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_PRIME,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)
from us_dot_flights_lakehouse_spark.functions.text import shingles, tokenize
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table

from us_dot_flights_lakehouse_spark.queries.llm_shared import (
    INCR_HISTORY_CUTOFF,
    _HASH28,
    _SHINGLES,
    _TOKENS,
    _VEC_NORM,
    _lsh_planes_sql,
)


# corpus-calibrated thresholds (see module docstring)
JACCARD_THRESHOLD = 0.02


COSINE_THRESHOLD = 0.45


SIMHASH_MAX_HAMMING = 4


def _sig_mins_sql() -> str:
    return ",\n    ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )


def _band_keys_sql() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    keys = []
    for band in range(MINHASH_BANDS):
        cols = ", ".join(f"mh{band * rows + r}" for r in range(rows))
        keys.append(f"({band}, concat_ws('|', {cols}))")
    return ", ".join(keys)


def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # read_table: one regex+md5 per row is map-side-cheap, and the
    # repartition's full-text shuffle cost 3x the whole query (0.3s vs
    # 1.0s at sf0.1) — read_corpus's fan-out is for the shingling family
    docs = read_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


DD_EXACT_ORACLE = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 20% deterministic sample bounds the inverted-index join at bench scale
    docs = read_corpus(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return dedup.ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)


DD_NGRAM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents WHERE doc_id % 5 = 0)
), s AS (SELECT doc_id, unnest(shs) AS sh FROM d),
cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY 1),
com AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT ia AS doc_id_a, ib AS doc_id_b,
       CAST(c AS DOUBLE) / CAST(x.n_sh + y.n_sh - c AS DOUBLE) AS jaccard
FROM com JOIN cnt x ON ia = x.doc_id JOIN cnt y ON ib = y.doc_id
WHERE CAST(c AS DOUBLE) / CAST(x.n_sh + y.n_sh - c AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


CONTAINMENT_THRESHOLD = 0.08


CONTAINMENT_MAX_DF = 50


def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: containment near-dup pairs — c / min(|A|, |B|) over shingle
    sets, the asymmetric detector for subset/prefix duplicates that
    symmetric Jaccard misses (llm/dedup.py::containment_pairs). Same 20%
    deterministic sample and inverted-index bound as dd_ngram_jaccard,
    PLUS the stop-shingle cap (document frequency > {CONTAINMENT_MAX_DF}
    drops the shingle): a shingle in f docs emits f² candidate rows, and
    the r5 stress measured the uncapped path at 88× work for 10× rows —
    the cap is the documented semantics, mirrored in the oracle, not a
    sampling shortcut."""
    docs = read_corpus(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return dedup.containment_pairs(
        docs,
        threshold=CONTAINMENT_THRESHOLD,
        max_shingle_freq=CONTAINMENT_MAX_DF,
    )


DD_CONTAIN_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents WHERE doc_id % 5 = 0)
), s0 AS (SELECT doc_id, unnest(shs) AS sh FROM d),
hot AS (
  SELECT sh FROM s0 GROUP BY sh HAVING COUNT(*) > {CONTAINMENT_MAX_DF}
),
s AS (SELECT doc_id, sh FROM s0 ANTI JOIN hot USING (sh)),
cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY 1),
com AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT ia AS doc_id_a, ib AS doc_id_b,
       CAST(c AS DOUBLE) / CAST(least(x.n_sh, y.n_sh) AS DOUBLE) AS containment
FROM com JOIN cnt x ON ia = x.doc_id JOIN cnt y ON ib = y.doc_id
WHERE CAST(c AS DOUBLE) / CAST(least(x.n_sh, y.n_sh) AS DOUBLE)
      >= {CONTAINMENT_THRESHOLD}
"""


def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)


DD_MINHASH_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), s AS (SELECT doc_id, unnest(shs) AS sh FROM d),
hashed AS (SELECT doc_id, {_HASH28.format(x='sh')} AS h FROM s),
sig AS (
  SELECT doc_id,
    {_sig_mins_sql()}
  FROM hashed GROUP BY doc_id
), bands AS (
  SELECT doc_id, b.band_id, b.band_key
  FROM sig, (VALUES {_band_keys_sql()}) AS b(band_id, band_key)
), cand AS (
  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT ia AS doc_id_a, ib AS doc_id_b,
       CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
         / CAST(len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs)) AS DOUBLE) AS jaccard
FROM cand JOIN d da ON cand.ia = da.doc_id JOIN d db ON cand.ib = db.doc_id
WHERE CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
        / CAST(len(da.shs) + len(db.shs) - len(list_intersect(da.shs, db.shs)) AS DOUBLE)
      >= {JACCARD_THRESHOLD}
"""


def dd_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    return dedup.simhash_values(docs).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def _simhash_oracle() -> str:
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
), hashed AS (SELECT doc_id, {_HASH28.format(x='tok')} AS h FROM toks),
sig AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {value} AS simhash FROM sig
"""


def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_corpus(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=SIMHASH_MAX_HAMMING)


def _simhash_pairs_oracle() -> str:
    bits_per_band = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits_per_band) - 1
    bands = ", ".join(
        f"({b}, (simhash >> {b * bits_per_band}) & {mask})" for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH sig AS ({_simhash_oracle().strip()}),
bands AS (
  SELECT doc_id, simhash, b.band_id, b.band_val
  FROM sig, LATERAL (SELECT * FROM (VALUES {bands}) v(band_id, band_val)) b
), cand AS (
  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.band_val = y.band_val AND x.doc_id < y.doc_id
)
SELECT ia AS doc_id_a, ib AS doc_id_b, hamming
FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_corpus(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(emb, threshold=COSINE_THRESHOLD)


DD_EMB_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, v, {_VEC_NORM} AS nrm FROM e)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm)
      >= {COSINE_THRESHOLD}
"""


def dd_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: fuzzy incremental dedup — today's batch probed for
    NEAR-duplicates of the published corpus via MinHash band-key
    collisions (llm/dedup.py::incremental_minhash_verdict).
    ``tp_incremental_dedup`` drops exact re-crawls; this is its LSH
    sibling for boilerplate rewrites and near-copies that survive the
    fingerprint check. One row per batch doc with the band-hit count and
    the keep verdict.

    Scale: in production the history side is ``publish_history_band_keys``
    — a bucketed, distinct band-key table that joins exchange-free; here
    both sides derive from the documents table inside one plan (history =
    doc_id < cutoff) so the oracle can replay the whole computation. The
    corpus TEXT is scanned once for signatures at publish time, never at
    probe time."""
    docs = read_corpus(spark, sf_dir, "documents")
    hist_bands = dedup.band_key_rows(
        docs.filter(F.col("doc_id") < INCR_HISTORY_CUTOFF)
    )
    batch_bands = dedup.band_key_rows(
        docs.filter(F.col("doc_id") >= INCR_HISTORY_CUTOFF)
    )
    return dedup.incremental_minhash_verdict(batch_bands, hist_bands).select(
        F.col("id").alias("doc_id"), "n_band_hits", "near_dup_of_history", "keep"
    )


DD_INCR_MINHASH_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {{_SHINGLES}} AS shs
  FROM (SELECT doc_id, {{_TOKENS}} AS t FROM documents)
), s AS (SELECT doc_id, unnest(shs) AS sh FROM d),
hashed AS (SELECT doc_id, {{_HASH28}} AS h FROM s),
sig AS (
  SELECT doc_id,
    {{sig_mins}}
  FROM hashed GROUP BY doc_id
), bands AS (
  SELECT doc_id, b.band_id, b.band_key
  FROM sig, (VALUES {{band_keys}}) AS b(band_id, band_key)
), hist AS (
  SELECT DISTINCT band_id, band_key FROM bands
  WHERE doc_id < {INCR_HISTORY_CUTOFF}
), batch AS (
  SELECT doc_id, band_id, band_key FROM bands
  WHERE doc_id >= {INCR_HISTORY_CUTOFF}
)
SELECT b.doc_id,
       CAST(COUNT(h.band_key) AS INTEGER) AS n_band_hits,
       COUNT(h.band_key) >= 1 AS near_dup_of_history,
       COUNT(h.band_key) = 0 AS keep
FROM batch b
LEFT JOIN hist h ON b.band_id = h.band_id AND b.band_key = h.band_key
GROUP BY b.doc_id
"""


def _dd_incr_minhash_oracle() -> str:
    return DD_INCR_MINHASH_ORACLE.format(
        _SHINGLES=_SHINGLES,
        _TOKENS=_TOKENS,
        _HASH28=_HASH28.format(x="sh"),
        sig_mins=_sig_mins_sql(),
        band_keys=_band_keys_sql(),
    )


#: Jaccard grid for the S-curve rows
LSH_TUNE_GRID = (0.1, 0.3, 0.5, 0.7, 0.9)


def _lsh_tune_configs() -> list[tuple[int, int]]:
    """(bands, rows_per_band) factorizations of the MINHASH_K=16 signature."""
    return [(b, MINHASH_K // b) for b in (1, 2, 4, 8, 16)]


def dd_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: LSH parameter planner — for every (bands b, rows r)
    factorization of the {MINHASH_K}-perm signature, the detection
    S-curve P(candidate | jaccard=j) = 1−(1−jʳ)ᵇ on a j grid, the
    approximate threshold (1/b)^(1/r), AND the MEASURED candidate-pair
    load that config would generate on THIS corpus (Σ c·(c−1)/2 over its
    band buckets, from the real MinHash signatures — the join cost a
    banding choice commits you to). The table answers "which (b, r) do I
    ship" with both the theory curve and the empirical price.

    Determinism: S-curve and threshold values are config-only —
    PRECOMPUTED in Python and emitted as literals on BOTH engines (no
    cross-engine pow()); the data-dependent columns are exact BIGINT
    bucket combinatorics plus one double division.

    Scale: signatures once (the corpus-heavy step, shared shape with
    dd_minhash_lsh), then ONE explode of all configs' band keys (31
    rows/doc) into a single two-level aggregate — bucket counting only,
    NO candidate self-join is materialized, no per-config job fan-out
    (the 5-separate-aggregates draft paid 5 job round-trips), and even
    the corpus size rides the same aggregate (n = Σ bucket counts of any
    one band slice — every doc lands in exactly one bucket per band), so
    the whole query is ONE linear plan over one signature pass."""
    docs = read_corpus(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs)

    all_keys = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.lit(band).cast("int").alias("band_id"),
                dedup._band_key("mh", band, r).alias("band_key"),
            )
            for b, r in _lsh_tune_configs()
            for band in range(b)
        ]
    )
    bands = sigs.select(F.explode(all_keys).alias("k")).select("k.*")
    per_config = (
        bands.groupBy("bands", "rows_per_band", "band_id", "band_key")
        .agg(F.count("*").alias("c"))
        .groupBy("bands", "rows_per_band")
        .agg(
            # c(c-1) is even, so DIV 2 is exact — stays BIGINT end to end
            F.coalesce(F.sum(F.expr("c * (c - 1) DIV 2")), F.lit(0))
            .cast("bigint")
            .alias("candidate_pairs"),
            F.sum(F.when(F.col("band_id") == 0, F.col("c")))
            .cast("bigint")
            .alias("n_sigs"),
        )
    )

    grid_rows = []
    for b, r in _lsh_tune_configs():
        thr = (1.0 / b) ** (1.0 / r)
        for j in LSH_TUNE_GRID:
            grid_rows.append((b, r, float(thr), float(j), 1.0 - (1.0 - j**r) ** b))
    grid = spark.createDataFrame(
        grid_rows,
        "bands int, rows_per_band int, threshold_approx double, "
        "jaccard double, p_detect double",
    )
    return (
        grid.join(F.broadcast(per_config), ["bands", "rows_per_band"])
        .select(
            "bands",
            "rows_per_band",
            "threshold_approx",
            "jaccard",
            "p_detect",
            "candidate_pairs",
            (
                F.col("candidate_pairs").cast("double")
                / F.expr("CAST(n_sigs * (n_sigs - 1) DIV 2 AS DOUBLE)")
            ).alias("selectivity"),
        )
    )


def _lsh_tuning_oracle() -> str:
    grid_vals = []
    for b, r in _lsh_tune_configs():
        thr = (1.0 / b) ** (1.0 / r)
        for j in LSH_TUNE_GRID:
            p = 1.0 - (1.0 - j**r) ** b
            grid_vals.append(
                f"({b}, {r}, CAST('{thr!r}' AS DOUBLE), "
                f"CAST('{float(j)!r}' AS DOUBLE), CAST('{p!r}' AS DOUBLE))"
            )
    cfg_ctes = []
    for b, r in _lsh_tune_configs():
        keys = ", ".join(
            "({}, concat_ws('|', {}))".format(
                band, ", ".join(f"mh{band * r + i}" for i in range(r))
            )
            for band in range(b)
        )
        cfg_ctes.append(
            f"""
SELECT {b} AS bands, {r} AS rows_per_band,
       CAST(coalesce(sum((c * (c - 1)) // 2), 0) AS BIGINT) AS candidate_pairs
FROM (
  SELECT band_id, band_key, count(*) AS c
  FROM (SELECT b.band_id, b.band_key
        FROM sig, (VALUES {keys}) AS b(band_id, band_key))
  GROUP BY 1, 2
)"""
        )
    measured = "\nUNION ALL\n".join(cfg_ctes)
    return f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), s AS (SELECT doc_id, unnest(shs) AS sh FROM d),
hashed AS (SELECT doc_id, {_HASH28.format(x='sh')} AS h FROM s),
sig AS (
  SELECT doc_id,
    {_sig_mins_sql()}
  FROM hashed GROUP BY doc_id
), np AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM sig
), measured AS ({measured}),
grid(bands, rows_per_band, threshold_approx, jaccard, p_detect) AS (
  VALUES {", ".join(grid_vals)}
)
SELECT g.bands, g.rows_per_band, g.threshold_approx, g.jaccard, g.p_detect,
       m.candidate_pairs,
       CAST(m.candidate_pairs AS DOUBLE)
         / CAST(n * (n - 1) // 2 AS DOUBLE) AS selectivity
FROM grid g
JOIN measured m
  ON g.bands = m.bands AND g.rows_per_band = m.rows_per_band
CROSS JOIN np
"""


DD_INCR_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({DD_MINHASH_ORACLE}),
hist_edges AS (
  SELECT doc_id_a AS x, doc_id_b AS y FROM pairs
  WHERE doc_id_a < {INCR_HISTORY_CUTOFF} AND doc_id_b < {INCR_HISTORY_CUTOFF}
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
  WHERE doc_id_a < {INCR_HISTORY_CUTOFF} AND doc_id_b < {INCR_HISTORY_CUTOFF}
),
hist_reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  WHERE doc_id < {INCR_HISTORY_CUTOFF}
  UNION
  SELECT r.src, e.y FROM hist_reach r JOIN hist_edges e ON r.dst = e.x
),
hist_labels AS (
  SELECT src AS hist_id, MIN(dst) AS hist_lbl FROM hist_reach GROUP BY src
),
batch_edges AS (
  SELECT doc_id_a AS x, doc_id_b AS y FROM pairs
  WHERE doc_id_a >= {INCR_HISTORY_CUTOFF} AND doc_id_b >= {INCR_HISTORY_CUTOFF}
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
  WHERE doc_id_a >= {INCR_HISTORY_CUTOFF} AND doc_id_b >= {INCR_HISTORY_CUTOFF}
),
batch_reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  WHERE doc_id >= {INCR_HISTORY_CUTOFF}
  UNION
  SELECT r.src, e.y FROM batch_reach r JOIN batch_edges e ON r.dst = e.x
),
batch_cc AS (
  SELECT src AS doc_id, MIN(dst) AS comp FROM batch_reach GROUP BY src
),
cross_links AS (
  SELECT doc_id_b AS batch_id, doc_id_a AS hist_id FROM pairs
  WHERE doc_id_a < {INCR_HISTORY_CUTOFF} AND doc_id_b >= {INCR_HISTORY_CUTOFF}
  UNION ALL
  SELECT doc_id_a, doc_id_b FROM pairs
  WHERE doc_id_a >= {INCR_HISTORY_CUTOFF} AND doc_id_b < {INCR_HISTORY_CUTOFF}
),
linked AS (
  SELECT bc.comp,
         CAST(MIN(hl.hist_lbl) AS BIGINT) AS min_hist_lbl,
         CAST(COUNT(DISTINCT hl.hist_lbl) AS BIGINT) AS n_hist
  FROM cross_links c
  JOIN hist_labels hl ON c.hist_id = hl.hist_id
  JOIN batch_cc bc ON c.batch_id = bc.doc_id
  GROUP BY bc.comp
)
SELECT b.doc_id,
       CAST(COALESCE(l.min_hist_lbl, b.comp) AS BIGINT) AS cluster_label,
       l.min_hist_lbl IS NOT NULL AS attached_to_history,
       CAST(COALESCE(l.n_hist, 0) AS BIGINT) AS n_history_clusters_touched
FROM batch_cc b LEFT JOIN linked l ON b.comp = l.comp
"""


def dd_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: INCREMENTAL near-dup cluster maintenance — the nightly step
    after ``dd_incremental_minhash``'s verdict: attach the new batch's
    docs to the PUBLISHED history clusters without relabeling history or
    re-running global connected components. History labels are frozen
    (computed here in-plan over history-only pairs so the oracle can
    replay them; in production they are the published cluster table);
    batch docs get components over batch-batch verified pairs only, and
    each component adopts the SMALLEST linked history cluster label
    (cluster continuity) or its own min batch id when it touches
    nothing. A component touching ≥2 history clusters is the classic
    incremental-CC merge candidate — surfaced per doc as
    ``n_history_clusters_touched`` so a periodic full re-cluster can fix
    exactly those, instead of everything.

    Scale: ONE LSH pass over the corpus split three ways (hist-hist /
    cross / batch-batch); the iteration in dup_clusters runs only on the
    BATCH subgraph — the whole point: nightly cost is batch-sized, not
    corpus-sized."""
    docs = read_corpus(spark, sf_dir, "documents")
    cut = INCR_HISTORY_CUTOFF
    # materialize the verified pair set ONCE: four filtered views (hist/
    # batch/two cross orientations) would each re-run the whole LSH
    # candidate+verify pipeline off the lazy plan (measured 33 s -> 9 s)
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=JACCARD_THRESHOLD
    ).localCheckpoint()
    a, b = F.col("doc_id_a"), F.col("doc_id_b")
    pairs_hh = pairs.filter((a < cut) & (b < cut))
    pairs_bb = pairs.filter((a >= cut) & (b >= cut))
    # cross links in both orientations -> (batch_id, hist_id)
    cross = pairs.filter((a < cut) & (b >= cut)).select(
        b.alias("batch_id"), a.alias("hist_id")
    ).unionAll(
        pairs.filter((a >= cut) & (b < cut)).select(
            a.alias("batch_id"), b.alias("hist_id")
        )
    )
    hist_ids = docs.filter(F.col("doc_id") < cut).select("doc_id")
    batch_ids = docs.filter(F.col("doc_id") >= cut).select("doc_id")
    hist_labels = curation.dup_clusters(hist_ids, pairs_hh).select(
        F.col("node").alias("hist_id"), F.col("cluster_id").alias("hist_lbl")
    )
    batch_cc = curation.dup_clusters(batch_ids, pairs_bb).select(
        F.col("node").alias("doc_id"), F.col("cluster_id").alias("comp")
    )
    linked = (
        cross.join(hist_labels, "hist_id")
        .join(batch_cc.withColumnRenamed("doc_id", "batch_id"), "batch_id")
        .groupBy("comp")
        .agg(
            F.min("hist_lbl").cast("bigint").alias("min_hist_lbl"),
            F.count_distinct("hist_lbl").cast("bigint").alias("n_hist"),
        )
    )
    return (
        batch_cc.join(F.broadcast(linked), "comp", "left")
        .select(
            "doc_id",
            F.coalesce("min_hist_lbl", F.col("comp")).cast("bigint").alias(
                "cluster_label"
            ),
            F.col("min_hist_lbl").isNotNull().alias("attached_to_history"),
            F.coalesce("n_hist", F.lit(0)).cast("bigint").alias(
                "n_history_clusters_touched"
            ),
        )
    )


def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs resolved to connected components; every doc gets
    a cluster_id (min doc_id in its component; singletons keep their own).
    Oracle: recursive-CTE transitive closure over the same pair SQL."""
    docs = read_corpus(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    labels = curation.dup_clusters(docs.select("doc_id"), pairs)
    return labels.withColumnRenamed("node", "doc_id")


DD_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({DD_MINHASH_ORACLE}),
edges AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
"""


LINE_CHUNK_WORDS = 8


def dd_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line-level dedup end-to-end. The synthetic corpus
    is single-line, so the query first re-chunks each document into
    deterministic 8-word lines (pure expressions), then runs
    ``dedup.line_dedup``: every repeated line survives only at its first
    (doc, line) occurrence corpus-wide and documents are reassembled
    without the dropped copies — the boilerplate-stripping pass that
    document-level dedup can't express. The corpus's planted near-dup
    documents share word runs, so the dedup genuinely fires."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(LINE_CHUNK_WORDS))
    chunked = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * LINE_CHUNK_WORDS + 1, LINE_CHUNK_WORDS), " "
                ),
            ),
            "\n",
        ).alias("text"),
    )
    return dedup.line_dedup(chunked).withColumnRenamed("id", "doc_id")


DD_LINE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), chunked AS (
  SELECT doc_id,
         list_transform(
           range(0, CAST(ceil(len(t) / {LINE_CHUNK_WORDS}.0) AS BIGINT)),
           i -> array_to_string(
                  list_slice(t, i * {LINE_CHUNK_WORDS} + 1, i * {LINE_CHUNK_WORDS} + {LINE_CHUNK_WORDS}),
                  ' ')
         ) AS lines
  FROM d
), l AS (
  SELECT doc_id,
         unnest(lines) AS line,
         unnest(range(0, len(lines))) AS line_idx
  FROM chunked
), occ AS (
  SELECT doc_id, line_idx, line,
         md5(trim(lower(line))) AS h,
         doc_id * 1000000 + line_idx AS pos,
         trim(line) = '' AS blank
  FROM l
), first AS (
  SELECT h, MIN(pos) AS first_pos FROM occ WHERE NOT blank GROUP BY h
), flagged AS (
  SELECT o.doc_id, o.line_idx, o.line,
         (o.blank OR o.pos = f.first_pos) AS kept
  FROM occ o LEFT JOIN first f ON o.h = f.h
)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_lines,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY line_idx), '') AS text_deduped
FROM flagged GROUP BY doc_id
"""


#: multi-table LSH layout for semantic dedup: 8 tables x 8 planes.
#: At cos>=0.95 recall is 1-(1-p^8)^8 ~ 0.99 (p = 1-arccos(0.95)/pi)
#: while random pairs survive a table w.p. ~2^-8 -> ~3% of n^2 FLOPs.
SEMANTIC_LSH_TABLES = 8


SEMANTIC_LSH_PLANES = 8


def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication end-to-end: LSH-pruned
    embedding-cosine near-dup pairs → connected components → keep the
    minimum vec_id per semantic cluster. Returns
    (vec_id, cluster_id, is_keeper) for every vector — downstream filters
    ``is_keeper`` to drop semantic duplicates while keeping the selection
    auditable.

    Scale: the pair stage prunes candidates through 8 independent LSH
    tables and verifies ONLY candidates with exact cosine
    (llm/dedup.py::embedding_neardup_pairs_lsh) — FLOPs and shuffle are
    candidate-bound (~3% of all-pairs at this layout), not O(n²) like the
    exact block cogroup that ``dd_embedding_neardup`` keeps for
    exhaustive-recall runs. The component stage iterates only the pair
    graph, and the keeper flag is a column comparison. The oracle
    replicates the SAME pruning (plane literals in SQL), so recall loss
    is part of the checked semantics, not silent error. Recall profile
    at this layout: ~100% on true duplicates (near-identical vectors
    agree on every sign bit — the SemDeDup target; unit-tested on
    planted dups), partial on borderline 63-degree pairs (for those,
    ``dd_embedding_neardup``'s exact kernel is the tool)."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_neardup_pairs_lsh(
        emb,
        threshold=COSINE_THRESHOLD,
        dim=64,
        n_tables=SEMANTIC_LSH_TABLES,
        n_planes=SEMANTIC_LSH_PLANES,
    )
    labels = curation.dup_clusters(
        emb.select("vec_id"),
        pairs,
        id_col="vec_id",
        a_col="vec_id_a",
        b_col="vec_id_b",
    )
    return labels.select(
        F.col("node").alias("vec_id"),
        "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("is_keeper"),
    )


DD_SEMANTIC_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, v, {_VEC_NORM} AS nrm FROM e),
planes AS (
  {{planes}}
), bkt AS (
  SELECT n.vec_id, p.t,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65), i -> n.v[i] * p.plane[i])) > 0
                       THEN p.w ELSE 0 END) AS INTEGER) AS bucket
  FROM n CROSS JOIN planes p
  GROUP BY n.vec_id, p.t
), cand AS (
  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
  FROM bkt x JOIN bkt y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
), pairs AS (
  SELECT c.a_id AS vec_id_a, c.b_id AS vec_id_b
  FROM cand c JOIN n na ON c.a_id = na.vec_id JOIN n nb ON c.b_id = nb.vec_id
  WHERE list_sum(list_transform(range(1, 65), i -> na.v[i] * nb.v[i])) / (na.nrm * nb.nrm)
        >= {COSINE_THRESHOLD}
),
edges AS (
  SELECT vec_id_a AS a, vec_id_b AS b FROM pairs
  UNION ALL
  SELECT vec_id_b, vec_id_a FROM pairs
),
reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM embeddings
  UNION
  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON r.dst = e2.a
)
SELECT src AS vec_id, MIN(dst) AS cluster_id, src = MIN(dst) AS is_keeper
FROM reach GROUP BY src
""".format(
    planes=_lsh_planes_sql(
        n_planes=SEMANTIC_LSH_PLANES, n_tables=SEMANTIC_LSH_TABLES
    )
)


def dd_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: URL canonicalization dedup — the crawl-frontier dedup step:
    scheme variants, host case, a www. prefix, default ports, trailing
    slashes and (allowlisted) query-parameter order all collapse to one
    canonical form, which then keys an exact-match cluster. The synth
    URL embeds doc-dependent junk around a doc_id%{URL_SITES}-determined
    canonical identity, so ~{URL_SITES} clusters emerge; the
    canonicalization itself runs on the URL STRING (parse_url + string
    ops — real work), while the oracle states the canonical form closed-
    form from doc_id and replays the clustering."""
    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("Site")).otherwise(F.lit("site")),
        (d % URL_SITES).cast("string"),
        F.lit(".example.com"),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/page"),
        (d % 3).cast("string"),
        F.when(d % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("?b=2&a=1")),
    )
    with_url = docs.withColumn("url", url)
    host = F.regexp_replace(
        F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.parse_url(F.col("url"), F.lit("PATH")), r"/$", ""
    )
    qa = F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("a"))
    qb = F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("b"))
    canon = F.concat(
        host, path, F.lit("?a="), qa, F.lit("&b="), qb
    )
    canoned = with_url.select("doc_id", canon.alias("canonical_url"))
    firsts = canoned.groupBy("canonical_url").agg(
        F.min("doc_id").alias("cluster_min")
    )
    return canoned.join(firsts, "canonical_url").select(
        "doc_id",
        "canonical_url",
        "cluster_min",
        (F.col("doc_id") != F.col("cluster_min")).alias("is_dup"),
    )


URL_SITES = 40


DD_URL_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         'site' || CAST(doc_id % {URL_SITES} AS VARCHAR) || '.example.com'
           || '/docs/page' || CAST(doc_id % 3 AS VARCHAR)
           || '?a=1&b=2' AS canonical_url
  FROM documents
), f AS (
  SELECT canonical_url, min(doc_id) AS cluster_min FROM c GROUP BY 1
)
SELECT c.doc_id, c.canonical_url, f.cluster_min,
       c.doc_id != f.cluster_min AS is_dup
FROM c JOIN f USING (canonical_url)
"""


PREFIX_LEN = 8


def dd_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: shared-prefix boilerplate clustering — fingerprint each
    document's first {PREFIX_LEN} tokens and cluster exact prefix
    matches: the cheap detector for template/boilerplate families
    (scraped pages sharing a header, license preambles) that full-text
    exact dedup misses because the tails differ. Docs shorter than the
    prefix are excluded (their 'prefix' is the whole doc — that is
    exact dedup's job).

    Scale: one md5 per doc + one groupBy on the 16-byte key — the
    cheapest clustering shuffle there is."""
    docs = read_corpus(spark, sf_dir, "documents")
    toks = tokenize("text")
    base = docs.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= PREFIX_LEN
    )
    fp = F.md5(F.concat_ws(" ", F.slice(F.col("t"), 1, PREFIX_LEN)))
    fps = base.select("doc_id", fp.alias("prefix_fp"))
    firsts = fps.groupBy("prefix_fp").agg(
        F.min("doc_id").alias("cluster_min"),
        F.count("*").cast("bigint").alias("cluster_size"),
    )
    return fps.join(firsts, "prefix_fp").select(
        "doc_id",
        "prefix_fp",
        "cluster_min",
        "cluster_size",
        (F.col("doc_id") != F.col("cluster_min")).alias("is_dup"),
    )


DD_PREFIX_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), fps AS (
  SELECT doc_id, md5(array_to_string(t[1:{PREFIX_LEN}], ' ')) AS prefix_fp
  FROM t WHERE len(t) >= {PREFIX_LEN}
), firsts AS (
  SELECT prefix_fp, min(doc_id) AS cluster_min,
         CAST(count(*) AS BIGINT) AS cluster_size
  FROM fps GROUP BY 1
)
SELECT f.doc_id, f.prefix_fp, g.cluster_min, g.cluster_size,
       f.doc_id != g.cluster_min AS is_dup
FROM fps f JOIN firsts g USING (prefix_fp)
"""


def dd_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: quality-aware keeper selection — resolve MinHash-LSH near-dup
    pairs to connected components (``curation.dup_clusters``), then keep
    the HIGHEST-QUALITY member of each cluster (longest text, doc_id
    tiebreak) instead of the arbitrary min-id: the curation policy real
    pipelines want ('keep the canonical page, drop the truncated
    scrapes'). Composes three families — LSH pair mining, iterative
    component resolution, and per-cluster argmax.

    Scale: pair mining is LSH-bucketed; components iterate only the pair
    graph; the argmax is one cluster-key window over cluster-sized
    partitions."""
    docs = read_corpus(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
    labels = curation.dup_clusters(docs.select("doc_id"), pairs)
    member = labels.withColumnRenamed("node", "doc_id").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    # r14 (guide §2.4 — the mm_phash lesson): the old row_number window +
    # rk=1 filter + self-join consumed the ranked stream twice, re-running
    # the labels⋈docs subtree per consumer. first(doc_id) over the SAME
    # (n_chars desc, doc_id asc) order with a full frame is the identical
    # keeper in one window pass, no join.
    w_full = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    keeper = F.first("doc_id").over(w_full)
    return member.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        keeper.alias("keeper_id"),
        (F.col("doc_id") == keeper).alias("keep"),
    )


DD_KEEPBEST_ORACLE = f"""
WITH RECURSIVE pairs AS ({DD_MINHASH_ORACLE}),
edges AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
  UNION ALL
  SELECT doc_id_b, doc_id_a FROM pairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
labels AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
),
member AS (
  SELECT l.doc_id, l.cluster_id, d.n_chars,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk
  FROM labels l JOIN documents d USING (doc_id)
),
keepers AS (
  SELECT cluster_id, doc_id AS keeper_id FROM member WHERE rk = 1
)
SELECT m.doc_id, m.cluster_id, m.n_chars, k.keeper_id,
       m.doc_id = k.keeper_id AS keep
FROM member m JOIN keepers k USING (cluster_id)
"""


def dd_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: MinHash estimator-quality audit (llm/dedup.minhash_calibration)
    — per LSH candidate pair, the K=16 signature-agreement Jaccard
    estimate vs the exact shingle-set Jaccard and |error|: is the sketch
    calibrated at this corpus's duplicate profile? Completes the audit
    family — the ANN recall audits check the index, this checks the
    dedup sketch.

    Scale: bucket-bounded candidates; exact verification touches
    candidates only."""
    docs = read_corpus(spark, sf_dir, "documents")
    return dedup.minhash_calibration(docs)


DD_MINHASH_CAL_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {{shingles}} AS shs
  FROM (SELECT doc_id, {{tokens}} AS t FROM documents)
), s AS (SELECT doc_id, unnest(shs) AS sh FROM d),
hashed AS (SELECT doc_id, {{hash28}} AS h FROM s),
sig AS (
  SELECT doc_id,
    {{sig_mins}}
  FROM hashed GROUP BY doc_id
), bands AS (
  SELECT doc_id, b.band_id, b.band_key
  FROM sig, (VALUES {{band_keys}}) AS b(band_id, band_key)
), cand AS (
  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
), est AS (
  SELECT ia, ib,
         CAST({{agree}} AS DOUBLE) / {MINHASH_K} AS est_jaccard
  FROM cand JOIN sig ga ON ia = ga.doc_id JOIN sig gb ON ib = gb.doc_id
)
SELECT ia AS doc_id_a, ib AS doc_id_b, est_jaccard,
       CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
         / CAST(len(da.shs) + len(db.shs)
                - len(list_intersect(da.shs, db.shs)) AS DOUBLE) AS true_jaccard,
       abs(est_jaccard
           - CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
             / CAST(len(da.shs) + len(db.shs)
                    - len(list_intersect(da.shs, db.shs)) AS DOUBLE)) AS abs_err
FROM est JOIN d da ON ia = da.doc_id JOIN d db ON ib = db.doc_id
"""


def _minhash_cal_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN ga.mh{i} = gb.mh{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    return DD_MINHASH_CAL_ORACLE.format(
        shingles=_SHINGLES,
        tokens=_TOKENS,
        hash28=_HASH28.format(x="sh"),
        sig_mins=_sig_mins_sql(),
        band_keys=_band_keys_sql(),
        agree=agree,
    )


SWEEP_THRESHOLDS = ("0.02", "0.05", "0.1", "0.2", "0.4")


def dd_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: dedup-threshold sensitivity sweep — for each candidate
    Jaccard threshold, how many near-dup pairs survive, how many
    documents would drop (greedy larger-id policy) and the corpus drop
    rate: the tuning curve you read BEFORE committing a threshold to a
    multi-day 100 TB dedup run (the difference between 0.1 and 0.2 can
    be a double-digit percentage of the corpus). One LSH candidate pass
    feeds every threshold; the sweep is a literal explode over the
    verified pairs.

    Scale: candidates computed once (bucket-bounded); per-threshold
    rollups are threshold-cardinality aggregates."""
    from us_dot_flights_lakehouse_spark.llm.dedup import minhash_lsh_pairs

    docs = read_corpus(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.0)
    total = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    ths = F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
    swept = pairs.select(
        "doc_id_b", "jaccard", F.explode(ths).alias("threshold")
    ).filter(F.col("jaccard") >= F.col("threshold"))
    per_t = swept.groupBy("threshold").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_id_b").cast("bigint").alias("n_docs_dropped"),
    )
    return per_t.crossJoin(F.broadcast(total)).select(
        "threshold",
        "n_pairs",
        "n_docs_dropped",
        (
            F.col("n_docs_dropped").cast("double") / F.col("n_docs").cast("double")
        ).alias("drop_frac"),
    )


def _dd_sweep_oracle() -> str:
    ths = ", ".join(f"(CAST({t} AS DOUBLE))" for t in SWEEP_THRESHOLDS)
    return f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), s AS (SELECT doc_id, unnest(shs) AS sh FROM d),
hashed AS (SELECT doc_id, {_HASH28.format(x='sh')} AS h FROM s),
sig AS (
  SELECT doc_id,
    {_sig_mins_sql()}
  FROM hashed GROUP BY doc_id
), bands AS (
  SELECT doc_id, b.band_id, b.band_key
  FROM sig, (VALUES {_band_keys_sql()}) AS b(band_id, band_key)
), cand AS (
  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
  FROM bands x JOIN bands y
    ON x.band_id = y.band_id AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
), verified AS (
  SELECT ib,
         CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
           / CAST(len(da.shs) + len(db.shs)
                  - len(list_intersect(da.shs, db.shs)) AS DOUBLE) AS jaccard
  FROM cand JOIN d da ON ia = da.doc_id JOIN d db ON ib = db.doc_id
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT t.threshold,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT ib) AS BIGINT) AS n_docs_dropped,
       CAST(count(DISTINCT ib) AS DOUBLE) / CAST(any_value(n_docs) AS DOUBLE)
         AS drop_frac
FROM verified, (VALUES {ths}) AS t(threshold), tot
WHERE jaccard >= t.threshold
GROUP BY t.threshold
"""


def dd_source_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: per-source dedup REPORT — the pipeline verdict
    (dd_pipeline_verdict) rolled up to the table a data-review meeting
    actually reads: per source, how many documents each action hit and
    the final keep rate. Certifies the composition end-to-end at the
    reporting grain.

    Scale: the verdict's own bounded stages plus one source-cardinality
    rollup."""
    docs = read_corpus(spark, sf_dir, "documents").select("doc_id", "source")
    verdict = dd_pipeline_verdict(spark, sf_dir).join(docs, "doc_id")
    return verdict.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("action") == "drop_exact").cast("long"))
        .cast("bigint")
        .alias("n_drop_exact"),
        F.sum((F.col("action") == "drop_near").cast("long"))
        .cast("bigint")
        .alias("n_drop_near"),
        F.sum((F.col("action") == "drop_mostly_dup").cast("long"))
        .cast("bigint")
        .alias("n_drop_span"),
        F.sum((F.col("action") == "strip_spans").cast("long"))
        .cast("bigint")
        .alias("n_strip"),
        (
            F.sum(F.col("action").isin("keep", "strip_spans").cast("long")).cast(
                "double"
            )
            / F.count("*").cast("double")
        ).alias("keep_rate"),
    )


def _dd_source_report_oracle() -> str:
    verdict = _dd_pipeline_oracle()
    return f"""
WITH verdict AS ({verdict})
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN action = 'drop_exact' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_drop_exact,
       CAST(sum(CASE WHEN action = 'drop_near' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_drop_near,
       CAST(sum(CASE WHEN action = 'drop_mostly_dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_drop_span,
       CAST(sum(CASE WHEN action = 'strip_spans' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_strip,
       CAST(sum(CASE WHEN action IN ('keep', 'strip_spans') THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS keep_rate
FROM verdict v JOIN documents d ON v.doc_id = d.doc_id
GROUP BY 1
"""


SPAN_DROP_FRAC = 0.5


def dd_pipeline_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: the END-TO-END dedup pipeline verdict — one query composing
    the whole stack the way a production corpus build runs it: exact
    dedup (normalized fingerprint, min-id keeper), MinHash-LSH near-dup
    (greedy one-pass policy: the larger id of every verified pair
    drops; dd_dup_clusters is the transitive alternative), and
    span-level dedup (cross-doc duplicated-token fraction), resolved
    into a single per-document action:
    drop_exact → drop_near → drop_mostly_dup (> {SPAN_DROP_FRAC}
    duplicated) → strip_spans → keep. THE table a curation run
    publishes; every contributing signal is itself an oracle-checked
    operator, and this query certifies their composition.

    Scale: each stage keeps its own bounded-join guarantees (hash
    groupBy / banded LSH / gram-window); the final assembly is three
    doc-keyed left joins. The corpus scan is localCheckpointed (r13):
    the four stages (fingerprints, LSH, spans, token totals) each
    re-ran the scan+repartition — isolated A/B 4.07 s → 2.79 s."""
    from us_dot_flights_lakehouse_spark.functions.text import (
        normalized_fingerprint,
    )
    from us_dot_flights_lakehouse_spark.llm.dedup import (
        EXACT_SUBSTR_K,
        exact_substr_spans,
        minhash_lsh_pairs,
    )

    docs = read_corpus(spark, sf_dir, "documents").localCheckpoint()
    fpd = docs.select(
        "doc_id", normalized_fingerprint("text").alias("fingerprint")
    )
    keepers = fpd.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    exact = fpd.join(keepers, "fingerprint").select(
        "doc_id", (F.col("doc_id") != F.col("keeper")).alias("exact_dup")
    )
    near_ids = (
        minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    spans = exact_substr_spans(docs, EXACT_SUBSTR_K)
    span_frac = (
        docs.select(
            "doc_id", F.size(F.split("text", " ")).alias("total_tokens")
        )
        .join(
            spans.groupBy("doc_id").agg(
                F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_toks")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            (
                F.coalesce("dup_toks", F.lit(0)).cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("span_frac"),
        )
    )
    merged = (
        exact.join(near_ids, "doc_id", "left")
        .join(span_frac, "doc_id")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            "span_frac",
        )
    )
    action = (
        F.when(F.col("exact_dup"), "drop_exact")
        .when(F.col("near_dup"), "drop_near")
        .when(F.col("span_frac") > SPAN_DROP_FRAC, "drop_mostly_dup")
        .when(F.col("span_frac") > 0.0, "strip_spans")
        .otherwise("keep")
    )
    return merged.select(
        "doc_id", "exact_dup", "near_dup", "span_frac", action.alias("action")
    )


def _dd_pipeline_oracle() -> str:
    from us_dot_flights_lakehouse_spark.llm.dedup import EXACT_SUBSTR_K

    return f"""
WITH mh_d AS (
  SELECT doc_id, {_SHINGLES} AS shs
  FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
), mh_s AS (SELECT doc_id, unnest(shs) AS sh FROM mh_d),
mh_h AS (SELECT doc_id, {_HASH28.format(x='sh')} AS h FROM mh_s),
mh_sig AS (
  SELECT doc_id,
    {_sig_mins_sql()}
  FROM mh_h GROUP BY doc_id
), mh_b AS (
  SELECT doc_id, b.band_id, b.band_key
  FROM mh_sig, (VALUES {_band_keys_sql()}) AS b(band_id, band_key)
), mh_cand AS (
  SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
  FROM mh_b x JOIN mh_b y
    ON x.band_id = y.band_id AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
), near AS (
  SELECT DISTINCT ib AS doc_id FROM mh_cand
  JOIN mh_d da ON ia = da.doc_id JOIN mh_d db ON ib = db.doc_id
  WHERE CAST(len(list_intersect(da.shs, db.shs)) AS DOUBLE)
          / CAST(len(da.shs) + len(db.shs)
                 - len(list_intersect(da.shs, db.shs)) AS DOUBLE)
        >= {JACCARD_THRESHOLD}
), {_substr_spans_cte(EXACT_SUBSTR_K).lstrip()}, sfrac AS (
  SELECT w.doc_id,
         CAST(coalesce(p.dup_toks, 0) AS DOUBLE) / CAST(w.n AS DOUBLE)
           AS span_frac
  FROM words w LEFT JOIN (
    SELECT doc_id, sum(e - s + 1) AS dup_toks FROM spans GROUP BY 1
  ) p USING (doc_id)
), fpg AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         MIN(doc_id) AS keeper
  FROM documents GROUP BY 1
), exact AS (
  SELECT doc_id,
         doc_id != keeper AS exact_dup
  FROM (SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents) d JOIN fpg USING (fp)
)
SELECT e.doc_id, e.exact_dup,
       (n.doc_id IS NOT NULL) AS near_dup,
       sf.span_frac,
       CASE WHEN e.exact_dup THEN 'drop_exact'
            WHEN n.doc_id IS NOT NULL THEN 'drop_near'
            WHEN sf.span_frac > {SPAN_DROP_FRAC} THEN 'drop_mostly_dup'
            WHEN sf.span_frac > 0.0 THEN 'strip_spans'
            ELSE 'keep' END AS action
FROM exact e
LEFT JOIN near n USING (doc_id)
JOIN sfrac sf USING (doc_id)
"""


def dd_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: cross-document repeated-SPAN detection (the ExactSubstr family
    — Lee et al. 2022) rolled up per document: spans in which every
    K-token window occurs verbatim in ≥ 2 distinct documents, merged
    into maximal islands (llm/dedup.exact_substr_spans). Emits per doc
    the span count, duplicated-token total, longest span and duplicated
    fraction — the triage table a curation run reads before deciding
    span removal vs doc drop. Documents with no duplicated spans report
    zeros, so the output is corpus-complete.

    Scale: two shuffles (gram-hash window for the cross-doc test — a
    min≠max window aggregate, NOT a gram self-join — then doc-keyed
    island merge); the gram stream carries md5+position per token."""
    from us_dot_flights_lakehouse_spark.llm.dedup import (
        EXACT_SUBSTR_K,
        exact_substr_spans,
    )

    docs = read_corpus(spark, sf_dir, "documents")
    spans = exact_substr_spans(docs, EXACT_SUBSTR_K)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
        F.max(F.col("span_end") - F.col("span_start") + 1).alias("longest_span"),
    )
    n_tokens = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("total_tokens")
    )
    return (
        n_tokens.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("longest_span", F.lit(0))
            .cast("long")
            .alias("longest_span"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("dup_frac"),
        )
    )


def _substr_spans_cte(k: int) -> str:
    """Shared oracle CTE chain re-deriving exact_substr_spans in DuckDB:
    identical md5 gram keys, min≠max cross-doc window test, gap≤k island
    merge."""
    return f"""
words AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents
), posn AS (
  SELECT doc_id, w, n, unnest(generate_series(1, n-{k}+1)) AS i
  FROM words WHERE n >= {k}
), grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+{k}-1], ' ')) AS g
  FROM posn
), flagged AS (
  SELECT doc_id, pos,
         min(doc_id) OVER (PARTITION BY g)
           != max(doc_id) OVER (PARTITION BY g) AS dup
  FROM grams
), seeds AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {k}
              THEN 0 ELSE 1 END AS brk
  FROM flagged WHERE dup
), islands AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM seeds
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {k} - 1 AS e
  FROM islands GROUP BY doc_id, island
)"""


def _dd_exact_substr_oracle() -> str:
    from us_dot_flights_lakehouse_spark.llm.dedup import EXACT_SUBSTR_K

    return f"""
WITH {_substr_spans_cte(EXACT_SUBSTR_K)}, per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS dup_tokens,
         max(e - s + 1) AS longest_span
  FROM spans GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n AS BIGINT) AS total_tokens,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(p.longest_span, 0) AS BIGINT) AS longest_span,
       CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / CAST(w.n AS DOUBLE)
         AS dup_frac
FROM words w LEFT JOIN per_doc p USING (doc_id)
"""


def dd_span_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: APPLY span-level dedup — strip every token covered by a
    cross-document duplicate span (dd_exact_substr's spans) and
    reassemble the cleaned text (llm/dedup.exact_substr_apply). Emits
    per doc the kept/removed token counts and an md5 over the rebuilt
    text, so the oracle certifies byte-exact reassembly, including the
    fully-duplicated documents that come back empty.

    Scale: covered indices explode from spans (short), anti-join and
    ordered reassembly are doc_id-keyed single shuffles."""
    from us_dot_flights_lakehouse_spark.llm.dedup import exact_substr_apply

    docs = read_corpus(spark, sf_dir, "documents")
    return exact_substr_apply(docs).select(
        "doc_id",
        "total_tokens",
        "kept_tokens",
        "removed_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


def _dd_span_apply_oracle() -> str:
    from us_dot_flights_lakehouse_spark.llm.dedup import EXACT_SUBSTR_K

    return f"""
WITH {_substr_spans_cte(EXACT_SUBSTR_K)}, tokens AS (
  SELECT doc_id, unnest(w) AS word, unnest(generate_series(1, n)) AS idx
  FROM words
), covered AS (
  SELECT DISTINCT doc_id, unnest(generate_series(s, e)) AS idx FROM spans
), kept AS (
  SELECT t.doc_id, t.word, t.idx
  FROM tokens t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
), clean AS (
  SELECT doc_id, count(*) AS kept_tokens,
         string_agg(word, ' ' ORDER BY idx) AS txt
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n AS BIGINT) AS total_tokens,
       CAST(coalesce(c.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(w.n - coalesce(c.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       md5(coalesce(c.txt, '')) AS clean_md5
FROM words w LEFT JOIN clean c USING (doc_id)
"""


def dd_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: SoftDeDup — instead of DROPPING duplicates, every doc gets a
    training-sampling weight 1/|its exact-dup cluster| so each distinct
    text contributes ONE unit of expected gradient mass regardless of
    copy count (the down-weighting alternative to hard dedup from the
    SoftDeDup line of work; hard dedup = this weight rounded to
    {{0, 1}}). Output per doc: cluster size, weight, and whether hard
    dedup would have kept it (min-id canonical).

    Scale: one fingerprint groupBy (the exact-dedup shuffle) + one join
    back on the fingerprint — both map-side combinable; the weight is
    one exact-integer double division."""
    docs = read_corpus(spark, sf_dir, "documents")
    groups = dedup.exact_dedup_groups(docs)  # fingerprint, keeper, n_copies
    fp = dedup.normalized_fingerprint("text").alias("fingerprint")
    return (
        docs.select("doc_id", "source", fp)
        .join(groups, "fingerprint")
        .select(
            "doc_id",
            "source",
            F.col("n_copies").cast("bigint").alias("cluster_size"),
            (F.lit(1.0) / F.col("n_copies").cast("double")).alias(
                "soft_weight"
            ),
            (F.col("doc_id") == F.col("keeper_doc_id")).alias(
                "hard_dedup_keeps"
            ),
        )
    )


DD_SOFT_DEDUP_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), groups AS (
  SELECT fingerprint, MIN(doc_id) AS keeper_doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM fp GROUP BY 1
)
SELECT f.doc_id, f.source,
       g.n_copies AS cluster_size,
       1.0 / CAST(g.n_copies AS DOUBLE) AS soft_weight,
       f.doc_id = g.keeper_doc_id AS hard_dedup_keeps
FROM fp f JOIN groups g USING (fingerprint)
"""


def dd_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: shingle document-frequency profile — how Zipf-heavy is the
    3-gram tail: distinct shingles and total postings per df bucket
    (df=1, 2-10, 11-100, >100). This is the EVIDENCE behind every
    stop-shingle cap in the dedup family (a shingle in f docs emits f²
    candidate pairs, so the >100 bucket is the quadratic threat); run it
    before tuning `max_shingle_freq`. Exact BIGINT counts; shares are
    single double divisions.

    Scale: one explode + two tiny aggregates — the same inverted-index
    shuffle the dedup operators pay anyway."""
    docs = read_corpus(spark, sf_dir, "documents")
    idx = docs.select(
        "doc_id", F.explode(shingles(tokenize("text"), 3)).alias("sh")
    )
    df_per_sh = idx.groupBy("sh").agg(F.count("*").cast("bigint").alias("df"))
    bucket = (
        F.when(F.col("df") == 1, "1_unique")
        .when(F.col("df") <= 10, "2_low")
        .when(F.col("df") <= 100, "3_mid")
        .otherwise("4_hot")
    )
    per_bucket = df_per_sh.groupBy(bucket.alias("df_bucket")).agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum("df").cast("bigint").alias("n_postings"),
    )
    tot = df_per_sh.agg(
        F.count("*").cast("bigint").alias("t_sh"),
        F.sum("df").cast("bigint").alias("t_po"),
    )
    return per_bucket.crossJoin(F.broadcast(tot)).select(
        "df_bucket",
        "n_shingles",
        "n_postings",
        (F.col("n_shingles").cast("double") / F.col("t_sh").cast("double")).alias(
            "shingle_share"
        ),
        (F.col("n_postings").cast("double") / F.col("t_po").cast("double")).alias(
            "posting_share"
        ),
    )


DD_SHINGLE_DF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), idx AS (
  SELECT doc_id, unnest({_SHINGLES}) AS sh FROM toks
), dfs AS (
  SELECT sh, CAST(count(*) AS BIGINT) AS df FROM idx GROUP BY 1
), bucketed AS (
  SELECT CASE WHEN df = 1 THEN '1_unique'
              WHEN df <= 10 THEN '2_low'
              WHEN df <= 100 THEN '3_mid'
              ELSE '4_hot' END AS df_bucket,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(df) AS BIGINT) AS n_postings
  FROM dfs GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t_sh, CAST(sum(df) AS BIGINT) AS t_po
  FROM dfs
)
SELECT df_bucket, n_shingles, n_postings,
       CAST(n_shingles AS DOUBLE) / CAST(t_sh AS DOUBLE) AS shingle_share,
       CAST(n_postings AS DOUBLE) / CAST(t_po AS DOUBLE) AS posting_share
FROM bucketed CROSS JOIN tot
"""


def dd_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: corpus-version diff — given two dataset snapshots (derived
    here in closed modular form: v0 drops doc_id ≡0 mod 7, v1 drops
    ≡0 mod 11 and rewrites the text of ≡0 mod 13), classify every
    differing doc as added / removed / changed by comparing text md5
    across a FULL OUTER join on doc_id. This is the dataset-card diff a
    training team reviews between corpus releases (x8_snapshot_diff is
    the relational twin through the real versioned-table protocol; this
    one needs NO fixture write — both sides derive in-plan, so the
    oracle states every verdict in closed form).

    Scale: one full-outer join on doc_id with only (id, md5) moving —
    the minimum a corpus diff fundamentally shuffles."""
    docs = read_corpus(spark, sf_dir, "documents")
    k = F.col("doc_id")
    v0 = docs.filter(k % 7 != 0).select(
        "doc_id", F.md5("text").alias("fp0")
    )
    v1 = docs.filter(k % 11 != 0).select(
        "doc_id",
        F.md5(
            F.when(k % 13 == 0, F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text"))
        ).alias("fp1"),
    )
    joined = v0.join(v1, "doc_id", "full_outer")
    verdict = (
        F.when(F.col("fp0").isNull(), F.lit("added"))
        .when(F.col("fp1").isNull(), F.lit("removed"))
        .when(F.col("fp0") != F.col("fp1"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", verdict)
        .filter(F.col("change_type").isNotNull())
        .select("doc_id", "change_type")
    )


DD_CORPUS_DIFF_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'added'
            WHEN doc_id % 11 = 0 THEN 'removed'
            ELSE 'changed' END AS change_type
FROM documents
WHERE (doc_id % 7 = 0 AND doc_id % 11 != 0)
   OR (doc_id % 11 = 0 AND doc_id % 7 != 0)
   OR (doc_id % 13 = 0 AND doc_id % 7 != 0 AND doc_id % 11 != 0)
"""


INCR_GRAM_SHARE = 0.5


def dd_incremental_span_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: incremental SPAN-level dedup probe — completes the incremental
    tier (exact ✓ Bloom-prefiltered, fuzzy ✓ band-key probe, clusters ✓
    frozen-label attach, spans: THIS): each new-batch doc's distinct
    3-token shingles probe the PUBLISHED history gram set, and the doc
    is flagged boilerplate_from_history when ≥ {INCR_GRAM_SHARE} of its
    grams already exist in history — the nightly "how much of today's
    crawl is re-crawled text" report, at gram granularity where exact
    dedup sees nothing (partial overlaps, stitched pages).

    Scale: ONE equi-join of the batch gram index against the distinct
    history gram set (batch-sized left side; at 100 TB publish the
    history grams bucketed by gram — the dd_incremental_minhash layout —
    and the probe is exchange-free on the history side; a Bloom prefilter
    composes for mostly-novel batches). Docs with < 3 tokens have no
    grams and are absent by construction on both engines."""
    docs = read_corpus(spark, sf_dir, "documents")
    grams = shingles(tokenize("text"), 3)
    hist = (
        docs.filter(F.col("doc_id") < INCR_HISTORY_CUTOFF)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= INCR_HISTORY_CUTOFF).select(
        "doc_id", F.explode(grams).alias("g")
    )
    per_doc = (
        batch.join(hist.withColumn("_h", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("_h"), F.lit(0)))
            .cast("bigint")
            .alias("n_hist_grams"),
        )
    )
    share = F.col("n_hist_grams").cast("double") / F.col("n_grams").cast(
        "double"
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_hist_grams",
        share.alias("hist_share"),
        (share >= INCR_GRAM_SHARE).alias("boilerplate_from_history"),
    )


DD_INCR_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), grams AS (
  SELECT doc_id, unnest({_SHINGLES}) AS g FROM toks
), hist AS (
  SELECT DISTINCT g FROM grams WHERE doc_id < {INCR_HISTORY_CUTOFF}
), batch AS (
  SELECT doc_id, g FROM grams WHERE doc_id >= {INCR_HISTORY_CUTOFF}
), per_doc AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN h.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hist_grams
  FROM batch b LEFT JOIN hist h ON b.g = h.g
  GROUP BY 1
)
SELECT doc_id, n_grams, n_hist_grams,
       CAST(n_hist_grams AS DOUBLE) / CAST(n_grams AS DOUBLE) AS hist_share,
       CAST(n_hist_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
         >= {INCR_GRAM_SHARE} AS boilerplate_from_history
FROM per_doc
"""


KMV_OVERLAP_K = 128


#: (K - 1) * 2**60 as an EXACT double (127 fits in 7 mantissa bits)
KMV_OVERLAP_NUM = float((KMV_OVERLAP_K - 1) << 60)


def dd_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DD: corpus-overlap estimation from MERGEABLE KMV sketches — the
    set-operation payoff of the bottom-k kernel (operators/sketches.py)
    and the estimator Spark's built-in HLL family cannot give: HLL blobs
    union but never INTERSECT, while the k smallest hashes of A ∪ B are
    a uniform sample of the union, so the fraction of them present in
    both sides estimates Jaccard directly. Per source: one ≤k-hash blob
    over its distinct 3-token shingles (task partials → merge, md5 stays
    JVM-side). Per source pair (all 190): combine the two blobs
    JVM-side (explode + flag-union + row_number ≤ k) into the union's
    bottom-k → est_jaccard = |in both| / k, est_union = (k-1)·2^60/kth.
    This is the planning query a dedup pipeline runs BEFORE the
    expensive pairwise pass: which source pairs overlap enough to gate.

    Oracle contract (a40 pattern — stronger than bound-pinning): every
    estimate is a pure deterministic function of the input set via the
    fixed md5 60-bit prefix, so DuckDB reproduces est_jaccard/est_union
    bit-for-bit from the same hashes, next to the exact
    intersection/union/Jaccard companions computed by a shingle
    self-join.

    Scale: sketch path ships one KB blob per source and compares pairs
    over k-sized hash lists — 100 TB sources reduce to a dim-table-sized
    problem (the exact shingle self-join companion is the CHECK and is
    droppable; its per-shingle expansion is already df-bounded by the
    source count)."""
    from us_dot_flights_lakehouse_spark.operators.sketches import (
        make_kmv_merger,
        make_kmv_partial_builder,
    )

    K = KMV_OVERLAP_K
    docs = read_corpus(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(shingles(tokenize("text"), 3)).alias("sh")
    )
    # distinct (source, shingle) — the ONE expensive subtree (tokenize +
    # shingle explode + dedup exchange), MATERIALIZED ONCE (r13, guide
    # §2.4/§3.3): previously the sketch path re-ran the tokenize/explode
    # scan and the exact companions ran it twice more through a shingle
    # self-join (exchange reuse does not fire across the differently-
    # pruned branches — the join-advisor lesson). KMV over a set ≡ over
    # its multiset, so hashing the distinct rows feeds the kernel a
    # bit-identical sketch.
    ss = sh.distinct().localCheckpoint()
    hashed = ss.select(
        "source",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("sh"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    partials = hashed.mapInPandas(
        make_kmv_partial_builder("source", "h", K),
        schema="source string, payload string",
    )
    # ~|sources| rows; checkpointed so the blob explode and the two pair
    # projections below don't re-run the Python kernel chain
    merged = partials.groupBy("source").applyInPandas(
        make_kmv_merger("source", K),
        schema="source string, payload string, n_hashes long, kth long",
    ).localCheckpoint()
    blobs = merged.select(
        "source", F.explode(F.from_json("payload", "array<bigint>")).alias("h")
    )
    pairs = merged.select(F.col("source").alias("src_a")).join(
        F.broadcast(merged.select(F.col("source").alias("src_b"))),
        F.col("src_a") < F.col("src_b"),
    )
    a_side = pairs.join(
        F.broadcast(blobs.withColumnRenamed("source", "src_a")), "src_a"
    ).select(
        "src_a", "src_b", "h",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    b_side = pairs.join(
        F.broadcast(blobs.withColumnRenamed("source", "src_b")), "src_b"
    ).select(
        "src_a", "src_b", "h",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    u = (
        a_side.unionByName(b_side)
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("h")
    sketch = (
        u.withColumn("r", F.row_number().over(wp))
        .where(F.col("r") <= K)
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("n_union_k"),
            F.max("h").alias("kth_u"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both_k"),
        )
    )
    # exact companions over the SAME materialized distinct set. The
    # former shingle self-join (x.sh = y.sh AND x.source < y.source)
    # shuffled ss twice and sort-merge-joined; group-to-source-set +
    # in-row pair expansion counts the identical per-pair intersections
    # with ONE exchange — per shingle, every unordered source pair it
    # appears in contributes 1, exactly the self-join's multiset
    # (source-set size is df-bounded by |sources|, so the expansion is
    # ≤ |sources|² per shingle and usually 1).
    sizes = ss.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        ss.groupBy("sh")
        .agg(F.collect_set("source").alias("srcs"))
        .where(F.size("srcs") > 1)
        .select(F.explode("srcs").alias("src_a"), "srcs")
        .select(
            "src_a",
            F.explode(
                F.filter("srcs", lambda s: s > F.col("src_a"))
            ).alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    base = (
        pairs.join(
            F.broadcast(
                sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
            ),
            "src_b",
        )
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn(
            "n_inter", F.coalesce("n_inter", F.lit(0).cast("bigint"))
        )
        .withColumn(
            "n_union",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("bigint"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
        )
    )
    est_u = F.when(
        F.col("n_union_k") < K, F.col("n_union_k").cast("double")
    ).otherwise(F.lit(KMV_OVERLAP_NUM) / F.col("kth_u").cast("double"))
    return (
        base.join(F.broadcast(sketch), ["src_a", "src_b"])
        .withColumn(
            "est_jaccard",
            F.col("n_both_k").cast("double") / F.col("n_union_k").cast("double"),
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_union",
            "jaccard",
            "est_jaccard",
            est_u.alias("est_union"),
            (F.col("est_jaccard") - F.col("jaccard")).alias("jac_err"),
        )
    )


DD_KMV_OVERLAP_ORACLE = f"""
WITH t AS (
  SELECT source, {_TOKENS} AS t FROM documents
), sh AS (
  SELECT DISTINCT source, unnest({_SHINGLES}) AS sh FROM t
), hashed AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5('kmv:' || sh), 1, 15))::BIGINT AS h
  FROM sh
), rk AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS r
  FROM hashed
), bk AS (
  SELECT source, h FROM rk WHERE r <= {KMV_OVERLAP_K}
), srcs AS (
  SELECT DISTINCT source FROM sh
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM srcs a JOIN srcs b ON a.source < b.source
), u AS (
  SELECT p.src_a, p.src_b, x.h,
         max(CASE WHEN x.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN x.source = p.src_b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN bk x ON x.source IN (p.src_a, p.src_b)
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS r
  FROM u
), sk AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS n_union_k,
         max(h) AS kth_u,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both_k
  FROM ranked WHERE r <= {KMV_OVERLAP_K} GROUP BY 1, 2
), inter AS (
  SELECT x.source AS src_a, y.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM sh x JOIN sh y ON x.sh = y.sh AND x.source < y.source
  GROUP BY 1, 2
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1
), base AS (
  SELECT p.src_a, p.src_b,
         COALESCE(i.n_inter, CAST(0 AS BIGINT)) AS n_inter,
         CAST(sa.n + sb.n - COALESCE(i.n_inter, CAST(0 AS BIGINT)) AS BIGINT)
           AS n_union
  FROM pairs p
  JOIN sizes sa ON sa.source = p.src_a
  JOIN sizes sb ON sb.source = p.src_b
  LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
)
SELECT b.src_a, b.src_b, b.n_inter, b.n_union,
       CAST(b.n_inter AS DOUBLE) / CAST(b.n_union AS DOUBLE) AS jaccard,
       CAST(s.n_both_k AS DOUBLE) / CAST(s.n_union_k AS DOUBLE)
         AS est_jaccard,
       CASE WHEN s.n_union_k < {KMV_OVERLAP_K}
            THEN CAST(s.n_union_k AS DOUBLE)
            ELSE CAST({KMV_OVERLAP_NUM!r} AS DOUBLE) / CAST(s.kth_u AS DOUBLE)
       END AS est_union,
       CAST(s.n_both_k AS DOUBLE) / CAST(s.n_union_k AS DOUBLE)
         - CAST(b.n_inter AS DOUBLE) / CAST(b.n_union AS DOUBLE) AS jac_err
FROM base b JOIN sk s ON s.src_a = b.src_a AND s.src_b = b.src_b
"""


QUERIES = {
    "dd_exact_dedup": dd_exact_dedup,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_containment": dd_containment,
    "dd_minhash_lsh": dd_minhash_lsh,
    "dd_simhash_values": dd_simhash_values,
    "dd_simhash_pairs": dd_simhash_pairs,
    "dd_embedding_neardup": dd_embedding_neardup,
    "dd_incremental_minhash": dd_incremental_minhash,
    "dd_lsh_tuning_curve": dd_lsh_tuning_curve,
    "dd_incremental_clusters": dd_incremental_clusters,
    "dd_dup_clusters": dd_dup_clusters,
    "dd_line_dedup": dd_line_dedup,
    "dd_semantic_dedup": dd_semantic_dedup,
    "dd_url_canonical": dd_url_canonical,
    "dd_prefix_clusters": dd_prefix_clusters,
    "dd_cluster_keep_best": dd_cluster_keep_best,
    "dd_minhash_calibration": dd_minhash_calibration,
    "dd_threshold_sweep": dd_threshold_sweep,
    "dd_source_dedup_report": dd_source_dedup_report,
    "dd_pipeline_verdict": dd_pipeline_verdict,
    "dd_exact_substr": dd_exact_substr,
    "dd_span_dedup_apply": dd_span_dedup_apply,
    "dd_soft_dedup_weights": dd_soft_dedup_weights,
    "dd_shingle_df_profile": dd_shingle_df_profile,
    "dd_corpus_snapshot_diff": dd_corpus_snapshot_diff,
    "dd_incremental_span_probe": dd_incremental_span_probe,
    "dd_kmv_source_overlap": dd_kmv_source_overlap,
}

ORACLES = {
    "dd_exact_dedup": DD_EXACT_ORACLE,
    "dd_ngram_jaccard": DD_NGRAM_ORACLE,
    "dd_containment": DD_CONTAIN_ORACLE,
    "dd_minhash_lsh": DD_MINHASH_ORACLE,
    "dd_simhash_values": _simhash_oracle(),
    "dd_simhash_pairs": _simhash_pairs_oracle(),
    "dd_embedding_neardup": DD_EMB_ORACLE,
    "dd_incremental_minhash": _dd_incr_minhash_oracle(),
    "dd_lsh_tuning_curve": _lsh_tuning_oracle(),
    "dd_incremental_clusters": DD_INCR_CLUSTERS_ORACLE,
    "dd_dup_clusters": DD_CLUSTERS_ORACLE,
    "dd_line_dedup": DD_LINE_ORACLE,
    "dd_semantic_dedup": DD_SEMANTIC_ORACLE,
    "dd_url_canonical": DD_URL_ORACLE,
    "dd_prefix_clusters": DD_PREFIX_ORACLE,
    "dd_cluster_keep_best": DD_KEEPBEST_ORACLE,
    "dd_minhash_calibration": _minhash_cal_oracle,
    "dd_threshold_sweep": _dd_sweep_oracle,
    "dd_source_dedup_report": _dd_source_report_oracle,
    "dd_pipeline_verdict": _dd_pipeline_oracle,
    "dd_exact_substr": _dd_exact_substr_oracle,
    "dd_span_dedup_apply": _dd_span_apply_oracle,
    "dd_soft_dedup_weights": DD_SOFT_DEDUP_ORACLE,
    "dd_shingle_df_profile": DD_SHINGLE_DF_ORACLE,
    "dd_corpus_snapshot_diff": DD_CORPUS_DIFF_ORACLE,
    "dd_incremental_span_probe": DD_INCR_SPAN_ORACLE,
    "dd_kmv_source_overlap": DD_KMV_OVERLAP_ORACLE,
}
