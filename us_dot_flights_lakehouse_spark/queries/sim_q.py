"""Similarity-search queries (sim_*): ANN indexes, recall audits, embedding analytics.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from us_dot_flights_lakehouse_spark.llm import similarity
from us_dot_flights_lakehouse_spark.functions.text import tokenize
from us_dot_flights_lakehouse_spark.operators.physical import bounded_arrow, cached
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table

from us_dot_flights_lakehouse_spark.queries.llm_shared import (
    FH_DIM,
    _TOKENS,
    _VEC_NORM,
    _duck_doubles,
    _lsh_planes_sql,
)


TOPK_K = 5


N_QUERY_VECS = 8


def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.cosine_topk(emb, qs, k=TOPK_K)


SIM_TOPK_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, v, {_VEC_NORM} AS nrm FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: maximum inner-product search (MIPS) — top-k by RAW dot
    product, not cosine: the retrieval objective for models trained with
    un-normalized scores (recommendation towers, some dual encoders),
    where vector magnitude IS signal. Same broadcast-queries x one-scan
    shape as cosine_topk; only the score changes."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    probes = corpus.filter(F.col("id") < N_QUERY_VECS).select(
        F.col("id").alias("qid"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(corpus)
        .filter(F.col("qid") != F.col("id"))
        .select("qid", "id", dot.alias("ip"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("ip"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK_K)
        .select(
            F.col("qid").alias("query_id"), "rank", F.col("id").alias("neighbor_id")
        )
    )


SIM_MIPS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) AS ip
  FROM e q JOIN e c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY ip DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (llm/similarity.py): per anchor,
    the top-k most-similar vectors with a different label — one broadcast
    × corpus-scan pass, label filter fused into the scan stage."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.hard_negatives(emb, qs, k=TOPK_K)


SIM_HARDNEG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, label, v, {_VEC_NORM} AS nrm FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id != c.vec_id AND q.label != c.label
  WHERE q.vec_id < {N_QUERY_VECS}
)
SELECT query_id, rank, neighbor_id, neighbor_label FROM (
  SELECT query_id, neighbor_id, neighbor_label,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


IVF_NLIST = 16


IVF_NPROBE = 4


IVF_SEED = 42


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer) approximate top-k. Oracle-able:
    the quantizer trains driver-side with seeded numpy Lloyd's on a
    deterministic sample, so ``_ivf_oracle`` re-derives the SAME
    centroids from the parquet (shared similarity.train_centroids code)
    and embeds them as DuckDB double-list literals — assignment, probe
    ranking, and cosine scoring are all sequential folds on both sides."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.ivf_cosine_topk(
        emb, qs, k=TOPK_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE, seed=IVF_SEED
    )


def _ivf_oracle() -> str:
    """Literal-centroid DuckDB oracle for sim_ivf_topk (the plane-literal
    technique from SIM_LSH_ORACLE, but data-dependent: centroids are
    re-trained from the parquet at oracle-build time via the shared numpy
    code path, then emitted as shortest-round-trip double literals).
    Resolved lazily by queries.oracle_sql(); the sf dir comes from
    $SPARK_GRAFT_ORACLE_SF_DIR (driver checks run at sf0.01)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    cents = similarity.ivf_centroids_from_parquet(
        f"{sf_dir}/embeddings.parquet", nlist=IVF_NLIST, seed=IVF_SEED
    )
    rows = []
    for j, c in enumerate(cents.tolist()):
        rows.append(f"SELECT {j} AS cell_id, {_duck_doubles(c)} AS c")
    cents_sql = "\n  UNION ALL ".join(rows)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, v, {_VEC_NORM} AS nrm FROM e),
cents AS (
  {cents_sql}
), assigned AS (
  SELECT vec_id, v, nrm, cell_id FROM (
    SELECT n.vec_id, n.v, n.nrm, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             list_sum(list_transform(range(1, 65), i -> (n.v[i] - c.c[i]) * (n.v[i] - c.c[i]))) ASC,
             c.cell_id ASC) AS rn
    FROM n CROSS JOIN cents c
  ) WHERE rn = 1
), probe AS (
  SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell_id FROM (
    SELECT n.vec_id, n.v, n.nrm, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             list_sum(list_transform(range(1, 65), i -> n.v[i] * c.c[i]))
               / (n.nrm * sqrt(list_sum(list_transform(c.c, x -> x * x)))) DESC,
             c.cell_id ASC) AS cr
    FROM n CROSS JOIN cents c
    WHERE n.vec_id < {N_QUERY_VECS}
  ) WHERE cr <= {IVF_NPROBE}
), scored AS (
  SELECT p.qid AS query_id, a.vec_id AS neighbor_id,
         CAST(a.cell_id AS INTEGER) AS cell_id,
         list_sum(list_transform(range(1, 65), i -> p.qv[i] * a.v[i])) / (p.qnrm * a.nrm) AS cos
  FROM probe p JOIN assigned a ON p.cell_id = a.cell_id AND p.qid != a.vec_id
)
SELECT query_id, rank, neighbor_id, cell_id FROM (
  SELECT query_id, neighbor_id, cell_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


PQ_SEED = 42


PQ_DIM = 64


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k. Oracle-able the same way as IVF:
    per-subspace codebooks train driver-side with seeded numpy Lloyd's
    on the deterministic sample, so ``_pq_oracle`` re-derives the SAME
    codebooks from the parquet (shared similarity.train_pq_codebooks)
    and embeds them as DuckDB double-list literals — encoding argmin,
    reconstruction, and the left-associated subspace distance sum are
    sequential folds on both sides."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.pq_cosine_topk(emb, qs, k=TOPK_K, dim=PQ_DIM, seed=PQ_SEED)


def _pq_oracle() -> str:
    """Literal-codebook DuckDB oracle for sim_pq_topk (the literal-
    centroid technique from _ivf_oracle, per subspace): codebooks are
    re-trained from the parquet at oracle-build time via the shared
    numpy path, then emitted as DOUBLE[] literals keyed (sub, code).
    Encoding = per-(vector, subspace) argmin; scoring joins the m chosen
    codewords wide and sums the per-subspace folds textually left-to-
    right, matching the Spark Column ``+`` chain bit-for-bit."""
    import os

    from us_dot_flights_lakehouse_spark.llm.similarity import PQ_KSUB, PQ_M

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    books = similarity.pq_codebooks_from_parquet(
        f"{sf_dir}/embeddings.parquet", dim=PQ_DIM, seed=PQ_SEED
    )
    dsub = PQ_DIM // PQ_M
    rows = []
    for j, book in enumerate(books):
        for c, cent in enumerate(book.tolist()):
            lit = _duck_doubles(cent)
            rows.append(
                f"SELECT {j} AS sub, {c} AS code, {lit} AS c"
            )
    cents_sql = "\n  UNION ALL ".join(rows)
    code_cols = ", ".join(
        f"MAX(CASE WHEN sub = {j} THEN code END) AS code{j}" for j in range(PQ_M)
    )
    cw_joins = "\n  ".join(
        f"JOIN cents c{j} ON c{j}.sub = {j} AND c{j}.code = w.code{j}"
        for j in range(PQ_M)
    )
    sub_dists = [
        f"list_sum(list_transform(range(1, {dsub + 1}), "
        f"i -> (q.v[{j * dsub} + i] - c{j}.c[i]) * (q.v[{j * dsub} + i] - c{j}.c[i])))"
        for j in range(PQ_M)
    ]
    adc = " + ".join(sub_dists)
    return f"""
WITH e0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS v
  FROM e0
),
cents AS (
  {cents_sql}
), assigned AS (
  SELECT vec_id, sub, code FROM (
    SELECT e.vec_id, c.sub, c.code,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.sub ORDER BY
             list_sum(list_transform(range(1, {dsub + 1}),
               i -> (e.v[c.sub * {dsub} + i] - c.c[i]) * (e.v[c.sub * {dsub} + i] - c.c[i]))) ASC,
             c.code ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), wide AS (
  SELECT vec_id, {code_cols} FROM assigned GROUP BY vec_id
), scored AS (
  SELECT q.vec_id AS query_id, w.vec_id AS neighbor_id,
         {adc} AS adc
  FROM e q
  CROSS JOIN wide w
  {cw_joins}
  WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id != w.vec_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
"""


RP_OUT_DIM = 16


RP_FIRST_PLANE = 1000


def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64 -> 16 dims, exploded to one row per
    output component so the hash compares scalar doubles (not list
    formatting). Planes come from the deterministic md5 family, emitted
    as SQL literals by the oracle — the plane-literal technique from
    sim_lsh_topk applied to dimensionality reduction."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    proj = similarity.random_project(
        emb, out_dim=RP_OUT_DIM, dim=64, first_plane=RP_FIRST_PLANE
    )
    return proj.select(
        F.col("id").alias("vec_id"),
        F.posexplode("proj").alias("k", "proj"),
    )


def _rp_oracle() -> str:
    from us_dot_flights_lakehouse_spark.llm.similarity import _plane

    rows = []
    for k in range(RP_OUT_DIM):
        rows.append(f"SELECT {k} AS k, {_duck_doubles(_plane(RP_FIRST_PLANE + k, 64))} AS p")
    planes_sql = "\n  UNION ALL ".join(rows)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), planes AS (
  {planes_sql}
)
SELECT e.vec_id, CAST(pl.k AS INTEGER) AS k,
       list_sum(list_transform(range(1, 65), i -> pl.p[i] * e.v[i])) AS proj
FROM e CROSS JOIN planes pl
"""


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (LSH-bucketed) top-k. Oracle-able after all: the
    hyperplane family is deterministic md5 (similarity._plane), so the
    oracle embeds the 8 plane vectors as DuckDB double-list literals and
    replicates sign-bit bucketing + exact in-bucket cosine rank. Both
    engines fold the projection left-to-right over doubles (list_sum vs
    F.aggregate — bit-identical, proven by SIM_TOPK_ORACLE), so the sign
    decisions agree exactly."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.lsh_cosine_topk(emb, qs, k=TOPK_K, dim=64)


SIM_LSH_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, v, {_VEC_NORM} AS nrm FROM e),
planes AS (
  {{planes}}
), b AS (
  SELECT n.vec_id, n.v, n.nrm,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65), i -> n.v[i] * p.plane[i])) > 0
                       THEN p.w ELSE 0 END) AS INTEGER) AS bucket
  FROM n CROSS JOIN planes p
  GROUP BY n.vec_id, n.v, n.nrm
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
)
SELECT query_id, rank, neighbor_id, bucket FROM (
  SELECT query_id, neighbor_id, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
""".format(planes=_lsh_planes_sql())


LSH_MP_PROBES = 4


def sim_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k: base bucket + the 3 lowest-margin bit-flip
    buckets per query (Lv et al. single-bit perturbations). Same bucketed
    corpus layout as sim_lsh_topk; recall rises with no index rebuild.
    Oracle replicates the probe-set construction with the same literal
    planes: projections, margin ranking (abs(proj), bit-weight ties),
    XOR flips — all sequential-fold doubles on both engines."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return similarity.lsh_cosine_topk_multiprobe(
        emb, qs, k=TOPK_K, dim=64, n_probes=LSH_MP_PROBES
    )


SIM_LSH_MP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, v, {_VEC_NORM} AS nrm FROM e),
planes AS (
  {{planes}}
), b AS (
  SELECT n.vec_id, n.v, n.nrm,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65), i -> n.v[i] * p.plane[i])) > 0
                       THEN p.w ELSE 0 END) AS INTEGER) AS bucket
  FROM n CROSS JOIN planes p
  GROUP BY n.vec_id, n.v, n.nrm
), projq AS (
  SELECT n.vec_id, p.w,
         list_sum(list_transform(range(1, 65), i -> n.v[i] * p.plane[i])) AS proj
  FROM n CROSS JOIN planes p
  WHERE n.vec_id < {N_QUERY_VECS}
), flips AS (
  SELECT vec_id, w,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY abs(proj) ASC, w ASC) AS mr
  FROM projq
), probes AS (
  SELECT vec_id, bucket AS pb FROM b WHERE vec_id < {N_QUERY_VECS}
  UNION ALL
  SELECT f.vec_id, CAST(xor(q.bucket, f.w) AS INTEGER) AS pb
  FROM flips f JOIN b q ON f.vec_id = q.vec_id
  WHERE f.mr <= {LSH_MP_PROBES - 1}
), scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id, c.bucket,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
  FROM probes p
  JOIN b q ON p.vec_id = q.vec_id
  JOIN b c ON c.bucket = p.pb AND p.vec_id != c.vec_id
)
SELECT query_id, rank, neighbor_id, bucket FROM (
  SELECT query_id, neighbor_id, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOPK_K}
""".format(planes=_lsh_planes_sql())


def sim_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: LSH recall audit — completes the recall-audit family (IVF and
    PQ already have one): per query, how many exact brute-force
    top-{TOPK_K} neighbors the single-bucket LSH and the
    {LSH_MP_PROBES}-probe multi-probe variant each recovered. The table
    quantifies exactly what multi-probing buys (recall lift at zero
    index-rebuild cost) — the measurement that justifies probe-count
    tuning in production.

    Scale: three broadcast-probe retrievals over one corpus scan; the
    audit joins touch k rows per query. The scan is localCheckpointed
    (r13): each retrieval consumes the corpus twice (corpus side +
    broadcast query side), so the plain plan re-ran the scan+repartition
    6x — materializing it once per invocation keeps every retrieval on
    the same blocks."""
    emb = read_corpus(spark, sf_dir, "embeddings").localCheckpoint()
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = similarity.cosine_topk(emb, qs, k=TOPK_K).select(
        "query_id", "neighbor_id"
    )
    base = similarity.lsh_cosine_topk(emb, qs, k=TOPK_K, dim=64).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_b")
    )
    mp = similarity.lsh_cosine_topk_multiprobe(
        emb, qs, k=TOPK_K, dim=64, n_probes=LSH_MP_PROBES
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit_m"))
    joined = exact.join(base, ["query_id", "neighbor_id"], "left").join(
        mp, ["query_id", "neighbor_id"], "left"
    )
    nb = F.sum(F.coalesce(F.col("hit_b"), F.lit(0)).cast("bigint")).cast(
        "bigint"
    )
    nm = F.sum(F.coalesce(F.col("hit_m"), F.lit(0)).cast("bigint")).cast(
        "bigint"
    )
    return joined.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        nb.alias("n_base"),
        nm.alias("n_multiprobe"),
        (nb.cast("double") / F.count("*").cast("double")).alias("recall_base"),
        (nm.cast("double") / F.count("*").cast("double")).alias(
            "recall_multiprobe"
        ),
    )


def _lsh_recall_oracle() -> str:
    return f"""
WITH exact_k AS ({SIM_TOPK_ORACLE}),
base_k AS ({SIM_LSH_ORACLE}),
mp_k AS ({SIM_LSH_MP_ORACLE}),
joined AS (
  SELECT e.query_id, e.neighbor_id,
         CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit_b,
         CASE WHEN m.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit_m
  FROM exact_k e
  LEFT JOIN base_k b
    ON e.query_id = b.query_id AND e.neighbor_id = b.neighbor_id
  LEFT JOIN mp_k m
    ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(hit_b) AS BIGINT) AS n_base,
       CAST(sum(hit_m) AS BIGINT) AS n_multiprobe,
       CAST(sum(hit_b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_base,
       CAST(sum(hit_m) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS recall_multiprobe
FROM joined GROUP BY query_id
"""


def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression: symmetric int8 scalar quantization with
    per-vector scale + exact reconstruction-error accounting. All
    expression-level (transform/floor/fold) — deterministic across
    engines because floor replaces round and the error sum is a
    sequential left fold."""
    from us_dot_flights_lakehouse_spark.functions.vectors import (
        dequantize_l2_error,
        quantize_int8,
        to_double_array,
    )

    emb = read_corpus(spark, sf_dir, "embeddings")
    v = to_double_array("embedding")
    scale, codes = quantize_int8(v)
    return emb.select(
        "vec_id",
        scale.alias("q_scale"),
        F.aggregate(
            codes, F.lit(0).cast("long"), lambda acc, c: acc + c.cast("long")
        ).alias("sum_codes"),
        dequantize_l2_error(v, codes, scale).alias("l2_err"),
    )


SIM_QUANT_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         127.0 / list_max(list_transform(v, x -> abs(x))) AS q_scale
  FROM e
), q AS (
  SELECT vec_id, v, q_scale,
         list_transform(v, x -> greatest(-127, least(127, CAST(floor(x * q_scale) AS INTEGER)))) AS codes
  FROM s
)
SELECT vec_id, q_scale,
       CAST(list_sum(codes) AS BIGINT) AS sum_codes,
       list_reduce(
         list_transform(list_zip(v, codes),
                        p -> (p[1] - CAST(p[2] AS DOUBLE) / q_scale)
                             * (p[1] - CAST(p[2] AS DOUBLE) / q_scale)),
         (acc, x) -> acc + x) AS l2_err
FROM q
"""


def sim_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: the hashing trick (Weinberger et al. 2009 / Vowpal Wabbit) —
    each document's tokens hash into a fixed {FH_DIM}-dim signed-count
    vector: ONE 32-bit md5 prefix per token supplies both streams —
    bucket = h % dim, sign from the next bit up (independent of the
    bucket bits; the sign stream keeps the estimator unbiased under
    collisions). Single pass over the tokens: explode → (bucket, sign)
    → groupBy(doc, bucket) partial-aggregated sums → one map-assembly
    per doc (VERDICT r4 item 4 replaced the O(dim × n_tokens)
    per-dimension re-fold), and ONE exchange total: the pairs hash-
    partition by doc_id, which satisfies BOTH downstream groupings
    ((doc, bucket) ⊇ doc), so neither aggregate re-shuffles. The vector
    serializes to a CSV string in the final select — the driver's
    canonicalizer requires scalar cells — with full fidelity: every component, in order,
    exact integers. The fixed dimensionality regardless of vocabulary
    is the point at 100 TB: no vocab table, bounded state (≤{FH_DIM}
    rows/doc after the map-side combine), stream-friendly."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    # 32-bit value from the md5 prefix: low log2(dim) bits -> bucket, the
    # bit above them -> sign (one hash per token, not two)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 8), 16, 10
    ).cast("long")
    pairs = toks.select(
        "doc_id",
        F.pmod(h, F.lit(FH_DIM)).cast("int").alias("b"),
        (
            F.lit(1)
            - F.lit(2) * F.pmod(F.floor(h / FH_DIM), F.lit(2)).cast("int")
        ).alias("s"),
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    per_bucket = pairs.groupBy("doc_id", "b").agg(
        F.sum("s").cast("int").alias("v"), F.count("*").alias("c")
    )
    dense = per_bucket.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "v"))).alias("m"),
        F.sum("c").cast("int").alias("n_tokens"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(FH_DIM - 1)),
        lambda j: F.coalesce(F.element_at(F.col("m"), j), F.lit(0)).cast("string"),
    )
    return dense.select(
        "doc_id",
        F.concat_ws(",", vec).alias("fvec_csv"),
        "n_tokens",
    )


SIM_FH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5('fh:' || tok), 1, 8))::BIGINT AS hv FROM t
), bs AS (
  SELECT doc_id,
    CAST(hv % {FH_DIM} AS INTEGER) AS b,
    CAST(1 - 2 * ((hv // {FH_DIM}) % 2) AS INTEGER) AS s
  FROM h
), pb AS (
  SELECT doc_id, b, CAST(sum(s) AS INTEGER) AS v, count(*) AS c
  FROM bs GROUP BY doc_id, b
), dense AS (
  SELECT d.doc_id, r.j, COALESCE(pb.v, 0) AS v
  FROM (SELECT DISTINCT doc_id FROM bs) d
  CROSS JOIN range(0, {FH_DIM}) r(j)
  LEFT JOIN pb ON pb.doc_id = d.doc_id AND pb.b = r.j
), nt AS (
  SELECT doc_id, CAST(sum(c) AS INTEGER) AS n_tokens FROM pb GROUP BY doc_id
)
SELECT dense.doc_id,
       string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS fvec_csv,
       any_value(nt.n_tokens) AS n_tokens
FROM dense JOIN nt ON dense.doc_id = nt.doc_id
GROUP BY dense.doc_id
"""


KNN_K = 5


def sim_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: k-NN label recovery — for each query vector, the majority
    label among its {KNN_K} exact cosine neighbors (self excluded)
    versus its own label: the standard embedding-quality probe (kNN
    accuracy) run before committing a representation to retrieval or
    curriculum use. Composes ``similarity.cosine_topk`` (broadcast
    queries × one corpus scan) with a label join and a count-majority
    vote (ties break toward the smaller label id — deterministic).

    Scale: the vote aggregates k rows per query; labels join via
    broadcast-sized id lookups."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    topk = similarity.cosine_topk(emb, qs, k=KNN_K)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )
    truth = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "true_label"
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        "true_label",
        "pred_label",
        F.col("n_votes").cast("bigint").alias("n_votes"),
        (F.col("pred_label") == F.col("true_label")).alias("knn_correct"),
    )


SIM_KNN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, label, v, {_VEC_NORM} AS nrm FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
           / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
), topk AS (
  SELECT query_id, neighbor_id, nl FROM (
    SELECT query_id, neighbor_id, nl,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {KNN_K}
), votes AS (
  SELECT query_id, nl AS label, count(*) AS n_votes
  FROM topk GROUP BY 1, 2
), pred AS (
  SELECT query_id, label AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
  FROM (
    SELECT query_id, label, n_votes,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, label ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT p.query_id, t.label AS true_label, p.pred_label, p.n_votes,
       p.pred_label = t.label AS knn_correct
FROM pred p JOIN e t ON p.query_id = t.vec_id
"""


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: per-label centroid (class prototype) computation — the mean
    embedding per label and dimension, the prototype step behind
    nearest-class-mean classifiers, prototype networks and centroid
    seeding. Float addition is order-dependent, so each (label, dim)
    cell folds its components in vec_id order (collect → sort → one
    fold), mirrored by the oracle's ordered list_sum — bit-stable under
    any partitioning; mean is one further double division.

    Scale: posexplode fans out to rows × dim, then ONE (label, dim)
    aggregate; per-cell lists grow with class size — for 100 TB swap
    the sorted fold for a two-level fixed-boundary tree reduction
    (partial folds per vec_id range, then fold the partials in range
    order)."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "val"
        ),
    )
    agg = comp.groupBy("label", "dim").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("vec_id"), F.col("val")))),
            F.lit(0.0),
            lambda acc, x: acc + x["val"],
        ).alias("s"),
    )
    return agg.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        "n_vecs",
        (F.col("s") / F.col("n_vecs").cast("double")).alias("centroid"),
    )


SIM_CENTROID_ORACLE = """
WITH comp AS (
  SELECT label, vec_id, u.dim, u.val
  FROM (
    SELECT label, vec_id,
           unnest(list_transform(range(1, len(embedding) + 1),
                                 i -> struct_pack(dim := i - 1,
                                                  val := CAST(embedding[i] AS DOUBLE))))
             AS u
    FROM embeddings
  )
), agg AS (
  SELECT label, CAST(dim AS INTEGER) AS dim,
         CAST(count(*) AS BIGINT) AS n_vecs,
         list_sum(list(val ORDER BY vec_id)) AS s
  FROM comp GROUP BY 1, 2
)
SELECT label, dim, n_vecs, s / CAST(n_vecs AS DOUBLE) AS centroid
FROM agg
"""


def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: ANN recall audit — per query, how many of the exact
    brute-force top-{TOPK_K} cosine neighbors the IVF index (nprobe
    {IVF_NPROBE}) actually returned: the recall@k measurement every ANN
    deployment tracks before trusting an index. Composes the two
    oracle-proven retrieval paths and counts the overlap — recall is
    one exact bigint division.

    Scale: both retrievals are broadcast-probes × one scan; the audit
    join touches k rows per query. The scan is localCheckpointed (r13,
    the sim_lsh_recall_audit rationale): brute + IVF paths otherwise
    re-run the scan+repartition once per corpus/query-side consumer."""
    emb = read_corpus(spark, sf_dir, "embeddings").localCheckpoint()
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = similarity.cosine_topk(emb, qs, k=TOPK_K).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.ivf_cosine_topk(
        emb, qs, k=TOPK_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE, seed=IVF_SEED
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint"))
        .cast("bigint")
        .alias("n_recovered"),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint")).cast("double")
            / F.count("*").cast("double")
        ).alias("recall_at_k"),
    )


def _ivf_recall_oracle() -> str:
    return f"""
WITH exact_k AS ({SIM_TOPK_ORACLE}),
ivf_k AS ({_ivf_oracle()}),
joined AS (
  SELECT e.query_id, e.neighbor_id,
         CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact_k e
  LEFT JOIN ivf_k i
    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(hit) AS BIGINT) AS n_recovered,
       CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_k
FROM joined GROUP BY query_id
"""


def sim_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: k-means objective audit — per-cell size and inertia
    (Σ‖x − c‖²) against the IVF-trained quantizer centroids: the
    convergence/quality number every clustering deployment tracks. This
    gives the k-means family an ORACLE-verified surface (kmeans_fit
    itself is unit-tested; float ULPs preclude a bit-exact oracle for
    the iterated centroids — so the audit uses the literal-centroid
    technique the IVF oracle established, with distances folded in
    vec_id order per cell for bit-stable float sums).

    Scale: one narrow scan for assignment (expression-only, literal
    centroids), one cell-key aggregate (nlist rows); per-cell fold lists
    grow with cell size — swap for fixed-boundary partial folds at
    100 TB (sim_label_centroids note)."""
    from us_dot_flights_lakehouse_spark.functions.vectors import lit_doubles

    emb = read_corpus(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cents = similarity.ivf_centroids_from_parquet(
        f"{sf_dir}/embeddings.parquet", nlist=IVF_NLIST, seed=IVF_SEED
    )

    def sqdist(c):
        return F.aggregate(
            F.zip_with(F.col("v"), lit_doubles([float(x) for x in c]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    best = F.array_min(
        F.array(
            *[
                F.struct(
                    sqdist(c).alias("d"), F.lit(j).cast("int").alias("c")
                )
                for j, c in enumerate(cents.tolist())
            ]
        )
    )
    assigned = corpus.select(
        "vec_id", best["c"].alias("cell_id"), best["d"].alias("d")
    )
    return assigned.groupBy("cell_id").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("vec_id", "d"))),
            F.lit(0.0),
            lambda acc, x: acc + x["d"],
        ).alias("inertia"),
    )


DRIFT_NEW_MOD = 5  #: vec_id % 5 == 0 is the "newly arrived" batch


def sim_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: incremental ANN-index maintenance audit — when a new vector
    batch (vec_id ≡ 0 mod {DRIFT_NEW_MOD}, ~20%) is appended to an
    IVF index WITHOUT retraining the quantizer, which cells absorb the
    growth and which blow past the rebalance threshold? Per cell:
    base count, new-batch count, post-append total, growth share, and
    `needs_split` = cell now holds > 2× the mean cell size — the drift
    report that schedules centroid re-training in a production vector
    store (indexes are never retrained per batch at 100 TB; they are
    monitored and re-split when THIS table says so). Includes empty
    cells via a literal cell spine.

    Determinism: assignment is the literal-centroid argmin (ties to the
    lower cell id) proven by sim_ivf_topk; everything else is exact
    integer counts — `needs_split` compares n_full·nlist > 2·N in
    BIGINT, no float thresholds.

    Scale: one narrow scan, expression-only assignment, one ≤nlist-row
    aggregate; the spine join is a broadcast of {IVF_NLIST} rows."""
    from us_dot_flights_lakehouse_spark.functions.vectors import lit_doubles

    emb = read_corpus(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cents = similarity.ivf_centroids_from_parquet(
        f"{sf_dir}/embeddings.parquet", nlist=IVF_NLIST, seed=IVF_SEED
    )

    def sqdist(c):
        return F.aggregate(
            F.zip_with(F.col("v"), lit_doubles(c), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    best = F.array_min(
        F.array(
            *[
                F.struct(sqdist(c).alias("d"), F.lit(j).cast("int").alias("c"))
                for j, c in enumerate(cents.tolist())
            ]
        )
    )
    assigned = corpus.select(
        "vec_id",
        best["c"].alias("cell_id"),
        (F.pmod(F.col("vec_id"), F.lit(DRIFT_NEW_MOD)) == 0).alias("is_new"),
    )
    per_cell = assigned.groupBy("cell_id").agg(
        F.sum((~F.col("is_new")).cast("bigint")).cast("bigint").alias("n_base"),
        F.sum(F.col("is_new").cast("bigint")).cast("bigint").alias("n_new"),
    )
    spine = spark.range(IVF_NLIST).select(F.col("id").cast("int").alias("cell_id"))
    total = assigned.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        spine.join(per_cell, "cell_id", "left")
        .select(
            "cell_id",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("n_full", (F.col("n_base") + F.col("n_new")).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .select(
            "cell_id",
            "n_base",
            "n_new",
            "n_full",
            (F.col("n_full") * F.lit(IVF_NLIST) > 2 * F.col("n_total")).alias(
                "needs_split"
            ),
        )
    )


def _index_drift_oracle() -> str:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    cents = similarity.ivf_centroids_from_parquet(
        f"{sf_dir}/embeddings.parquet", nlist=IVF_NLIST, seed=IVF_SEED
    )
    rows = []
    for j, c in enumerate(cents.tolist()):
        rows.append(f"SELECT {j} AS cell_id, {_duck_doubles(c)} AS c")
    cents_sql = "\n  UNION ALL ".join(rows)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  {cents_sql}
), assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
                                     i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))
               ASC, c.cell_id ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
), per_cell AS (
  SELECT cell_id,
         CAST(sum(CASE WHEN vec_id % {DRIFT_NEW_MOD} != 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN vec_id % {DRIFT_NEW_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new
  FROM assigned GROUP BY 1
), total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM assigned),
spine AS (SELECT CAST(unnest(range(0, {IVF_NLIST})) AS INTEGER) AS cell_id)
SELECT s.cell_id,
       CAST(coalesce(p.n_base, 0) AS BIGINT) AS n_base,
       CAST(coalesce(p.n_new, 0) AS BIGINT) AS n_new,
       CAST(coalesce(p.n_base, 0) + coalesce(p.n_new, 0) AS BIGINT) AS n_full,
       (coalesce(p.n_base, 0) + coalesce(p.n_new, 0)) * {IVF_NLIST}
         > 2 * n_total AS needs_split
FROM spine s LEFT JOIN per_cell p ON s.cell_id = p.cell_id
CROSS JOIN total
"""


def _kmeans_inertia_oracle() -> str:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    cents = similarity.ivf_centroids_from_parquet(
        f"{sf_dir}/embeddings.parquet", nlist=IVF_NLIST, seed=IVF_SEED
    )
    rows = []
    for j, c in enumerate(cents.tolist()):
        rows.append(f"SELECT {j} AS cell_id, {_duck_doubles(c)} AS c")
    cents_sql = "\n  UNION ALL ".join(rows)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  {cents_sql}
), assigned AS (
  SELECT vec_id, cell_id, d FROM (
    SELECT e.vec_id, c.cell_id,
           list_sum(list_transform(range(1, 65),
                                   i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))
             AS d,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, 65),
                                     i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))
               ASC, c.cell_id ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT CAST(cell_id AS INTEGER) AS cell_id,
       CAST(count(*) AS BIGINT) AS n_vecs,
       list_sum(list(d ORDER BY vec_id)) AS inertia
FROM assigned GROUP BY cell_id
"""


KCENTER_K = 8


def _kcenter_select(path: str, k: int):
    """Greedy k-center selection replicated with SEQUENTIAL IEEE double
    arithmetic (python loops — the same op order as the Spark fold and
    the oracle's list_sum), reading the parquet directly. Returns
    [(round, vec_id, min_dist_at_selection)]: seed = min vec_id, then
    argmax of min-squared-distance-to-selected, ties to the smaller id."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}
    seed = min(vecs)
    selected = [(0, seed, 0.0)]
    # min squared distance to the selected set, maintained sequentially
    mind = {}
    for r in range(1, k):
        last = vecs[selected[-1][1]]
        for i, v in vecs.items():
            d = 0.0
            for x, y in zip(v, last):
                d += (x - y) * (x - y)
            if i not in mind or d < mind[i]:
                mind[i] = d
        best_i, best_d = None, -1.0
        for i in sorted(vecs):
            if i in {s[1] for s in selected}:
                continue
            if mind[i] > best_d:
                best_i, best_d = i, mind[i]
        selected.append((r, best_i, best_d))
        # distances to the new center fold into mind at the START of the
        # next iteration (via `last`)
    return selected, vecs


#: row cap for the driver-side k-center greedy: 64-dim float64 vectors
#: cost ~520 B/row, so the cap bounds the Arrow transfer to ~130 MB.
#: ``bounded_arrow`` over the plain scan reads a partition prefix at
#: 100 TB, detects overflow and leaves the k-scan path to do the real
#: work (no wasted full pass).
KCENTER_DRIVER_MAX_ROWS = 250_000


def _kcenter_driver(tbl, k: int):
    """Driver-side replica of the distributed greedy farthest-point
    traversal, numpy-vectorized with the EXACT float op order of the
    plan-side expressions (property-tested bit-equal in
    tests/test_round14_opts.py):

    - sqdist folds (x−y)² sequentially over dimensions — ``acc = acc +
      sq[:, j]`` reproduces ``aggregate(zip_with(...), 0.0, acc+d)``'s
      left fold including the 0.0 init;
    - the running min-distance is ``np.minimum`` — ``F.least``'s pairwise
      nesting, applied incrementally exactly like the query's loop;
    - the argmax breaks ties toward the smallest vec_id, replicating
      ``orderBy(desc(d), asc(vec_id)).limit(1)``.

    Returns the selected [(round, vec_id, min_dist)] list, or None when
    the corpus shape breaks the replica's preconditions (NULL/ragged
    vectors, NaN values, duplicate ids) — callers then keep the k-scan
    plan shape."""
    import numpy as np

    ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
    if len(np.unique(ids)) != len(ids):
        return None
    varr = tbl.column("v")
    if varr.null_count:
        return None
    varr = varr.combine_chunks()
    offsets = np.asarray(varr.offsets)
    widths = np.diff(offsets)
    if len(widths) == 0 or (widths != widths[0]).any() or widths[0] == 0:
        return None
    flat = varr.values
    if flat.null_count:
        return None
    V = np.asarray(flat.to_numpy(zero_copy_only=False)).reshape(
        len(ids), int(widths[0])
    )
    if np.isnan(V).any():
        return None

    def sqdist_seq(c):
        diff = V - c
        sq = diff * diff
        acc = np.zeros(len(V), dtype="float64")
        for j in range(V.shape[1]):
            acc = acc + sq[:, j]
        return acc

    i0 = int(np.argmin(ids))
    selected = [(0, int(ids[i0]), 0.0)]
    centers = [V[i0]]
    taken = np.zeros(len(ids), dtype=bool)
    taken[i0] = True
    mind = np.full(len(ids), np.inf)
    for r in range(1, k):
        if taken.all():  # fewer rows than k: keep the plan-side shape
            return None
        mind = np.minimum(mind, sqdist_seq(centers[-1]))
        d = np.where(taken, -np.inf, mind)
        mx = d.max()
        cand = np.flatnonzero(d == mx)
        pick = cand[np.argmin(ids[cand])]
        selected.append((r, int(ids[pick]), float(mind[pick])))
        centers.append(V[pick])
        taken[pick] = True
    return selected


def sim_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: k-center greedy diversity sampling — pick {KCENTER_K} maximally
    spread vectors (farthest-point traversal: seed = min id, then
    repeatedly the vector farthest from the selected set): the coreset /
    diversity-aware data-selection step that picks representative
    examples instead of redundant ones. Each round is ONE distributed
    argmax (distance expressions over literal already-selected centers,
    TakeOrdered(1)) — the k-means-style bounded-driver iteration; all
    distance math is sequential folds, so the oracle (which re-derives
    every round's argmax over the full corpus from the same literal
    centers) is bit-exact.

    Scale: k scans with expression-only distance math; driver holds k
    ids. For huge k switch to the parallel-oversampling path
    (``llm/similarity.py::kcenter_oversample``: k-means||-style — a few
    farthest-batch passes grow an O(k·log) candidate pool, driver-local
    Gonzalez refine; unit-verified against this greedy on planted
    clusters)."""
    # r14 (guide §5 bounded driver actions): below the row cap the whole
    # greedy runs driver-side off ONE bounded Arrow transfer instead of
    # KCENTER_K scans + per-round collects (8 Spark jobs of pure
    # scheduling at any local SF). The probe reads the PLAIN scan (no
    # read_corpus repartition — a limit above an exchange would run the
    # full shuffle map stage before collecting). Bit-equality of the
    # float update order is property-tested; any precondition miss
    # (overflow, NULL/NaN/ragged vectors) falls back to the k-scan path.
    v = F.transform("embedding", lambda x: x.cast("double")).alias("v")
    tbl = bounded_arrow(
        read_table(spark, sf_dir, "embeddings").select("vec_id", v),
        KCENTER_DRIVER_MAX_ROWS,
    )
    selected = _kcenter_driver(tbl, KCENTER_K) if tbl is not None else None
    if selected is None:
        selected = _kcenter_scan(
            read_corpus(spark, sf_dir, "embeddings").select("vec_id", v),
            KCENTER_K,
        )
    return spark.createDataFrame(
        selected, "round int, vec_id long, min_dist double"
    )


def _kcenter_scan(corpus: DataFrame, k: int) -> list:
    """The plan-side greedy over ``corpus`` (vec_id, v array<double>):
    one distributed argmax per round (distance expressions over literal
    already-selected centers, TakeOrdered(1)). Returns the same
    ``[(round, vec_id, min_dist)]`` list as ``_kcenter_driver``. The k
    rounds each rescan the corpus, so it is cached for the selection."""
    from us_dot_flights_lakehouse_spark.functions.vectors import lit_doubles

    def sqdist_to(center):
        return F.aggregate(
            F.zip_with(F.col("v"), lit_doubles(center), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    with cached(corpus):
        seed_row = corpus.orderBy("vec_id").limit(1).collect()[0]
        selected = [(0, int(seed_row["vec_id"]), 0.0)]
        centers = [list(seed_row["v"])]
        mind = F.lit(float("inf"))
        for r in range(1, k):
            mind = F.least(mind, sqdist_to(centers[-1]))
            cand = corpus.filter(
                ~F.col("vec_id").isin([s[1] for s in selected])
            ).select("vec_id", "v", mind.alias("d"))
            top = cand.orderBy(F.desc("d"), F.asc("vec_id")).limit(1).collect()[0]
            selected.append((r, int(top["vec_id"]), float(top["d"])))
            centers.append(list(top["v"]))
    return selected


def _kcenter_oracle() -> str:
    """Verifies every greedy round: given the literal centers selected in
    rounds 0..r−1 (re-derived at oracle-build time with sequential
    python arithmetic — the identical op order), round r's pick must be
    the argmax of min-distance over the FULL corpus, recomputed by the
    oracle's own folds."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    selected, vecs = _kcenter_select(
        f"{sf_dir}/embeddings.parquet", KCENTER_K
    )
    parts = [
        f"SELECT 0 AS round, CAST({selected[0][1]} AS BIGINT) AS vec_id,"
        " CAST(0.0 AS DOUBLE) AS min_dist"
    ]
    for r in range(1, KCENTER_K):
        prior = [s[1] for s in selected[:r]]
        dists = []
        for pid in prior:
            c = _duck_doubles(vecs[pid])
            dists.append(
                "list_sum(list_transform(range(1, 65),"
                f" i -> (v[i] - c{pid}_[i]) * (v[i] - c{pid}_[i])))"
            )
        center_cols = ", ".join(
            f"{_duck_doubles(vecs[pid])} AS c{pid}_" for pid in prior
        )
        excl = ", ".join(str(p) for p in prior)
        mind = "least(" + ", ".join(dists) + ")" if len(dists) > 1 else dists[0]
        parts.append(f"""
SELECT {r} AS round, vec_id, min_dist FROM (
  SELECT e.vec_id, {mind} AS min_dist,
         ROW_NUMBER() OVER (ORDER BY {mind} DESC, e.vec_id ASC) AS rn
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               {center_cols}
        FROM embeddings WHERE vec_id NOT IN ({excl})) e
) WHERE rn = 1""")
    return "\nUNION ALL\n".join(parts)


def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: PQ recall@k audit — per query, how many exact brute-force
    top-{TOPK_K} cosine neighbors survive the product-quantization ADC
    ranking: the compression-loss measurement that decides a PQ
    deployment's code budget (IVF gets the same audit in
    sim_ivf_recall_audit; together they close the ANN-quality
    measurement family).

    Scale: both retrievals are broadcast-probes × one scan — which is
    localCheckpointed (r13, the sim_lsh_recall_audit rationale)."""
    emb = read_corpus(spark, sf_dir, "embeddings").localCheckpoint()
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = similarity.cosine_topk(emb, qs, k=TOPK_K).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.pq_cosine_topk(
        emb, qs, k=TOPK_K, dim=PQ_DIM, seed=PQ_SEED
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint"))
        .cast("bigint")
        .alias("n_recovered"),
        (
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("bigint")).cast("double")
            / F.count("*").cast("double")
        ).alias("recall_at_k"),
    )


def _pq_recall_oracle() -> str:
    return f"""
WITH exact_k AS ({SIM_TOPK_ORACLE}),
pq_k AS ({_pq_oracle()}),
joined AS (
  SELECT e.query_id, e.neighbor_id,
         CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact_k e
  LEFT JOIN pq_k i
    ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(hit) AS BIGINT) AS n_recovered,
       CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_at_k
FROM joined GROUP BY query_id
"""


NDCG_K = 10


def _ndcg_discounts() -> list[float]:
    import math

    return [1.0 / math.log2(i + 1) for i in range(1, NDCG_K + 1)]


def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: NDCG@{NDCG_K} retrieval-quality evaluation — for each probe
    query, exact cosine top-k, graded by label agreement (rel∈{{0,1}}),
    discounted by the shared literal 1/log2(rank+1) table (no engine
    logarithms) and normalized by the ideal ordering: the ranking metric
    retrieval evals report, computed bit-stably (DCG folds terms in rank
    order; IDCG folds the discount-table prefix of the relevant count).
    Completes the eval family: recall audits (set overlap), kNN accuracy
    (classification), NDCG (ranking).

    Scale: broadcast queries × one corpus scan; per-query folds are
    k-sized."""
    from us_dot_flights_lakehouse_spark.functions.vectors import lit_doubles

    emb = read_corpus(spark, sf_dir, "embeddings")
    disc = lit_doubles(_ndcg_discounts())
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    topk = similarity.cosine_topk(emb, qs, k=NDCG_K)
    labels = emb.select("vec_id", "label")
    graded = (
        topk.join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(
            labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
                "label", "qlabel"
            ),
            "query_id",
        )
        .select(
            "query_id",
            "qlabel",
            "rank",
            (F.col("label") == F.col("qlabel")).alias("rel"),
        )
    )
    per_q = graded.groupBy("query_id", "qlabel").agg(
        F.sum(F.col("rel").cast("long")).alias("n_relevant"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "rank",
                        F.when(F.col("rel"), F.element_at(disc, F.col("rank")))
                        .otherwise(0.0)
                        .alias("term"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["term"],
        ).alias("dcg"),
    )
    idcg = F.when(
        F.col("n_relevant") > 0,
        F.aggregate(
            F.slice(disc, 1, F.col("n_relevant").cast("int")),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )
    return per_q.select(
        "query_id",
        F.col("qlabel").alias("true_label"),
        F.col("n_relevant").cast("long").alias("n_relevant"),
        "dcg",
        idcg.alias("idcg"),
        (F.col("dcg") / idcg).alias("ndcg"),
    )


def _ndcg_oracle() -> str:
    disc = _duck_doubles(_ndcg_discounts())
    return f"""
WITH disc AS (SELECT {disc} AS d),
e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT vec_id, label, v, {_VEC_NORM} AS nrm FROM e),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS qlabel, c.vec_id AS neighbor_id,
         c.label AS nl,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
           / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
), topk AS (
  SELECT query_id, qlabel, nl,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored QUALIFY rank <= {NDCG_K}
), per_q AS (
  SELECT query_id, qlabel,
         CAST(sum(CASE WHEN nl = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_relevant,
         list_sum(list(CASE WHEN nl = qlabel THEN (SELECT d FROM disc)[rank]
                            ELSE CAST(0.0 AS DOUBLE) END ORDER BY rank)) AS dcg
  FROM topk GROUP BY 1, 2
)
SELECT query_id, qlabel AS true_label, n_relevant, dcg,
       CASE WHEN n_relevant > 0
            THEN list_sum(((SELECT d FROM disc))[1:n_relevant]) END AS idcg,
       dcg / (CASE WHEN n_relevant > 0
                   THEN list_sum(((SELECT d FROM disc))[1:n_relevant]) END)
         AS ndcg
FROM per_q
"""


MATRYOSHKA_DIMS = (8, 16, 32)


def sim_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: Matryoshka truncation audit — for each vector, the cosine
    similarity between the full embedding and its d-dim prefix
    (zero-padded), for d ∈ {MATRYOSHKA_DIMS}: equals
    prefix_norm/full_norm, i.e. the fraction of the vector's energy the
    first d dimensions carry. The go/no-go table for serving truncated
    (MRL-style) embeddings at lower index cost: if p50 cosine at d=16
    is ≥0.95 you can cut the index 4×. All folds are sequential
    prefix-sums in dimension order — identical on both engines.

    Scale: zero shuffle — one scan, per-row array folds."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    full_sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    cols = [F.col("vec_id"), F.sqrt(full_sq).alias("full_norm")]
    for d in MATRYOSHKA_DIMS:
        pre_sq = F.aggregate(
            F.transform(F.slice(v, 1, d), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append((F.sqrt(pre_sq) / F.sqrt(full_sq)).alias(f"cos_at_{d}"))
    return emb.select(*cols)


def _matryoshka_oracle() -> str:
    parts = ",\n       ".join(
        f"sqrt(list_sum(list_transform(v[1:{d}], x -> x * x)))"
        f" / sqrt(list_sum(list_transform(v, x -> x * x))) AS cos_at_{d}"
        for d in MATRYOSHKA_DIMS
    )
    return f"""
SELECT vec_id,
       sqrt(list_sum(list_transform(v, x -> x * x))) AS full_norm,
       {parts}
FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
"""


def sim_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: intrinsic-dimension estimate via the participation ratio —
    PR = (Σ_d λ_d)² / Σ_d λ_d² over the per-dimension variances (the
    diagonal-covariance approximation): how many dimensions the
    embedding REALLY uses (PR ≈ 64 isotropic, PR ≈ 1 collapsed). The
    one-number representation-health check next to the power-iteration
    spectrum and the CUR energy curve. Variances come from exact
    value-ordered folds; the two PR sums fold in dimension order.

    Scale: one shuffle to 64 dimension cells; the rest is 64-row
    arithmetic reduced to one row."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    cells = emb.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "d", "x"
        )
    )
    dims = cells.groupBy("d").agg(
        F.count("*").cast("bigint").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0), lambda a, v: a + v
        ).alias("s1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.col("x") * F.col("x"))),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("s2"),
    )
    var = F.col("s2") / F.col("n").cast("double") - (
        F.col("s1") / F.col("n").cast("double")
    ) * (F.col("s1") / F.col("n").cast("double"))
    packed = dims.select("d", var.alias("lam")).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("d", "lam"))),
            F.lit(0.0),
            lambda a, x: a + x["lam"],
        ).alias("tr"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("d", "lam"))),
            F.lit(0.0),
            lambda a, x: a + x["lam"] * x["lam"],
        ).alias("tr2"),
        F.count("*").cast("bigint").alias("n_dims"),
    )
    return packed.select(
        "n_dims",
        F.col("tr").alias("total_variance"),
        (F.col("tr") * F.col("tr") / F.col("tr2")).alias("participation_ratio"),
        (F.col("tr") * F.col("tr") / F.col("tr2") / F.col("n_dims").cast("double")).alias(
            "isotropy_frac"
        ),
    )


SIM_INTRINSIC_ORACLE = """
WITH cells AS (
  SELECT unnest(generate_series(0, len(embedding) - 1)) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), dims AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n,
         list_sum(list(x ORDER BY x)) AS s1,
         list_sum(list(x * x ORDER BY x * x)) AS s2
  FROM cells GROUP BY d
), lam AS (
  SELECT d, s2 / CAST(n AS DOUBLE)
              - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS lam
  FROM dims
), packed AS (
  SELECT list_sum(list(lam ORDER BY d)) AS tr,
         list_sum(list(lam * lam ORDER BY d)) AS tr2,
         CAST(count(*) AS BIGINT) AS n_dims
  FROM lam
)
SELECT n_dims, tr AS total_variance,
       tr * tr / tr2 AS participation_ratio,
       tr * tr / tr2 / CAST(n_dims AS DOUBLE) AS isotropy_frac
FROM packed
"""


def sim_fisher_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: per-dimension Fisher separability — between-class scatter
    over within-class scatter for every embedding dimension, from the
    labeled corpus: which dimensions actually separate the classes
    (feature-selection / probe-before-train audit; complements the
    energy-based CUR selection with a SUPERVISED criterion). Per-class
    sums fold value-ordered; cross-class combinations fold in label
    order — bit-stable.

    Scale: one shuffle to (label, dim) cells (map-side combined), one
    to dim cells; everything downstream is 64-row arithmetic."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    cells = emb.select(
        "label", F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("d", "x")
    )
    cls = cells.groupBy("label", "d").agg(
        F.count("*").cast("bigint").alias("n_c"),
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0), lambda a, v: a + v
        ).alias("s1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.col("x") * F.col("x"))),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("s2"),
    )
    mu_c = F.col("s1") / F.col("n_c").cast("double")
    dims = cls.select(
        "d", "label", "n_c", "s1", "s2", mu_c.alias("mu_c")
    ).groupBy("d").agg(
        F.sum("n_c").cast("bigint").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("label", "s1"))),
            F.lit(0.0),
            lambda a, x: a + x["s1"],
        ).alias("tot_s1"),
        F.array_sort(
            F.collect_list(F.struct("label", "n_c", "mu_c", "s2"))
        ).alias("per_class"),
    )
    mu = F.col("tot_s1") / F.col("n").cast("double")
    between = F.aggregate(
        F.col("per_class"),
        F.lit(0.0),
        lambda a, c: a
        + c["n_c"].cast("double") * (c["mu_c"] - mu) * (c["mu_c"] - mu),
    )
    within = F.aggregate(
        F.col("per_class"),
        F.lit(0.0),
        lambda a, c: a + (c["s2"] - c["n_c"].cast("double") * c["mu_c"] * c["mu_c"]),
    )
    return dims.select(
        F.col("d").cast("int").alias("dim"),
        "n",
        between.alias("between_scatter"),
        within.alias("within_scatter"),
        (between / within).alias("fisher_ratio"),
    )


SIM_FISHER_ORACLE = """
WITH cells AS (
  SELECT label,
         unnest(generate_series(0, len(embedding) - 1)) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cls AS (
  SELECT label, d, CAST(count(*) AS BIGINT) AS n_c,
         list_sum(list(x ORDER BY x)) AS s1,
         list_sum(list(x * x ORDER BY x * x)) AS s2
  FROM cells GROUP BY 1, 2
), dims AS (
  SELECT d, CAST(sum(n_c) AS BIGINT) AS n,
         list_sum(list(s1 ORDER BY label)) AS tot_s1,
         list(struct_pack(label := label, n_c := n_c,
                          mu_c := s1 / CAST(n_c AS DOUBLE), s2 := s2)
              ORDER BY label) AS per_class
  FROM cls GROUP BY d
)
SELECT CAST(d AS INTEGER) AS dim, n,
       list_sum(list_transform(per_class, c ->
         CAST(c.n_c AS DOUBLE)
           * (c.mu_c - tot_s1 / CAST(n AS DOUBLE))
           * (c.mu_c - tot_s1 / CAST(n AS DOUBLE)))) AS between_scatter,
       list_sum(list_transform(per_class, c ->
         c.s2 - CAST(c.n_c AS DOUBLE) * c.mu_c * c.mu_c)) AS within_scatter,
       list_sum(list_transform(per_class, c ->
         CAST(c.n_c AS DOUBLE)
           * (c.mu_c - tot_s1 / CAST(n AS DOUBLE))
           * (c.mu_c - tot_s1 / CAST(n AS DOUBLE))))
       / list_sum(list_transform(per_class, c ->
         c.s2 - CAST(c.n_c AS DOUBLE) * c.mu_c * c.mu_c)) AS fisher_ratio
FROM dims
"""


POWER_ITERS = 3


EMB_DIM = 64


def sim_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: matrix-free power iteration — the top right-singular vector
    of the embedding matrix (principal PCA direction) via
    {POWER_ITERS} fixed iterations of v ← normalize(Aᵀ(Av)), composed
    entirely IN THE PLAN: each iteration is one broadcast of the 1-row
    current vector, one scan computing y=Av row-wise, and one 64-cell
    aggregate folding Aᵀy — no driver-side loop state, no collect. Init
    v⁰ = 1/8 (exact binary) on every dimension; folds are value-ordered
    (g1 lesson) so the result is bit-stable under any partitioning.
    Emits the eigenvector components with the Rayleigh-quotient
    eigenvalue estimate ‖Aᵀ(Av)‖/‖v‖=‖w‖ — the spectral summary
    (intrinsic-dimension / dominant-direction check) an embedding-
    quality report leads with.

    Scale: per iteration ONE wide scan + ONE dim-cardinality shuffle
    (map-side combined); the vector rides a 1-row broadcast. 100
    iterations would compose the same way — Catalyst folds the chain."""
    from us_dot_flights_lakehouse_spark.functions.vectors import lit_doubles

    emb = read_corpus(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, t: acc + t
        )

    vdf = spark.range(1).select(lit_doubles([0.125] * EMB_DIM).alias("vec"))
    for _ in range(POWER_ITERS):
        j = emb.crossJoin(F.broadcast(vdf))
        cells = j.select(
            "vec_id", dot(F.col("v"), F.col("vec")).alias("y"), F.posexplode("v").alias("d", "x")
        )
        w = cells.groupBy("d").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.col("y") * F.col("x"))),
                F.lit(0.0),
                lambda a, t: a + t,
            ).alias("wd")
        )
        packed = w.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "wd"))), lambda s: s["wd"]
            ).alias("w")
        )
        vdf = packed.select(
            F.transform(
                "w",
                lambda x: x
                / F.sqrt(
                    F.aggregate(
                        F.transform("w", lambda t: t * t),
                        F.lit(0.0),
                        lambda a, t: a + t,
                    )
                ),
            ).alias("vec"),
            F.sqrt(
                F.aggregate(
                    F.transform("w", lambda t: t * t), F.lit(0.0), lambda a, t: a + t
                )
            ).alias("eigenvalue"),
        )
    final = vdf
    return final.select(
        F.posexplode("vec").alias("dim", "component"), "eigenvalue"
    ).select(F.col("dim").cast("int").alias("dim"), "component", "eigenvalue")


def _power_iteration_oracle() -> str:
    v0 = _duck_doubles([0.125] * EMB_DIM)
    core = """
cells{n} AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, {dimp}), i -> e.v[i] * vv.v[i])) AS y,
         unnest(generate_series(0, {dimm})) AS d,
         unnest(e.v) AS x
  FROM e, v{p} vv
), w{n} AS (
  SELECT d, list_sum(list(y * x ORDER BY y * x)) AS wd
  FROM cells{n} GROUP BY d
), l{n} AS (SELECT list(wd ORDER BY d) AS w FROM w{n}),
v{n} AS (
  SELECT list_transform(w, x -> x
           / sqrt(list_sum(list_transform(w, t -> t * t)))) AS v,
         sqrt(list_sum(list_transform(w, t -> t * t))) AS eigenvalue
  FROM l{n}
)"""
    its = ",".join(
        core.format(n=i + 1, p=i if i else 0, dimp=EMB_DIM + 1, dimm=EMB_DIM - 1)
        for i in range(POWER_ITERS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), v0 AS (SELECT {v0} AS v),
{its}
SELECT CAST(u.i - 1 AS INTEGER) AS dim, v[u.i] AS component, eigenvalue
FROM v{POWER_ITERS},
     (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) u
"""


CUR_TOP_DIMS = 16


def sim_cur_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: CUR-style column (dimension) selection by leverage-score
    proxy — rank embedding dimensions by their energy share
    Σᵢ vᵢ𝒹² / Σ‖v‖² and keep the top {CUR_TOP_DIMS} with their
    cumulative retained energy: the interpretable low-rank
    column-subset step (CUR decomposition's column phase with column
    norms standing in for true leverage scores, the standard cheap
    surrogate) used to shrink embedding width before an index build.
    All float folds are value-ordered (ties are equal doubles —
    order-free), the cumulative curve folds explicit prefixes of the
    descending energy array, so every number is bit-stable.

    Scale: one shuffle to 64 dimension cells (map-side combined);
    ranking and the cumulative fold run on the 64-row result with a
    1-row broadcast total."""
    emb = read_corpus(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    cells = emb.select("vec_id", F.posexplode("embedding").alias("d", "x"))
    dim_e = cells.groupBy("d").agg(
        F.aggregate(
            F.array_sort(F.collect_list(x * x)),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("energy")
    )
    one = dim_e.agg(
        F.aggregate(
            F.array_sort(F.collect_list("energy")), F.lit(0.0), lambda a, v: a + v
        ).alias("total"),
        F.reverse(F.array_sort(F.collect_list("energy"))).alias("arr_desc"),
    )
    wr = Window.orderBy(F.col("energy").desc(), F.col("d"))
    ranked = dim_e.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= CUR_TOP_DIMS
    )
    j = ranked.crossJoin(F.broadcast(one))
    cum = F.aggregate(
        F.slice("arr_desc", 1, F.col("rank")), F.lit(0.0), lambda a, v: a + v
    )
    return j.select(
        F.col("rank").cast("long").alias("rank"),
        F.col("d").cast("int").alias("dim"),
        "energy",
        (F.col("energy") / F.col("total")).alias("energy_share"),
        (cum / F.col("total")).alias("cum_share"),
    )


SIM_CUR_ORACLE = f"""
WITH cells AS (
  SELECT vec_id,
         unnest(generate_series(0, len(embedding) - 1)) AS d,
         unnest(embedding) AS x
  FROM embeddings
), dim_e AS (
  SELECT d,
         list_sum(list(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                       ORDER BY CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
           AS energy
  FROM cells GROUP BY d
), one AS (
  SELECT list_sum(list(energy ORDER BY energy)) AS total,
         list(energy ORDER BY energy DESC) AS arr_desc
  FROM dim_e
), ranked AS (
  SELECT d, energy,
         row_number() OVER (ORDER BY energy DESC, d) AS rank
  FROM dim_e
)
SELECT CAST(rank AS BIGINT) AS rank, CAST(d AS INTEGER) AS dim, energy,
       energy / total AS energy_share,
       list_sum(arr_desc[1:rank]) / total AS cum_share
FROM ranked, one
WHERE rank <= {CUR_TOP_DIMS}
"""


def sim_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIM: pairwise cosine-similarity histogram over a DETERMINISTIC
    pair sample (vector i paired with (31·i+7) mod N) — the
    concentration-of-distances audit run before trusting ANN on a new
    embedding space: if most random-pair similarities crowd one bucket,
    neighbors are not meaningfully closer than strangers and recall
    targets need revisiting. One cosine per sampled pair (N pairs, not
    N²); exact BIGINT bucket counts over floor(10·cos).

    Scale: one self-join on the derived partner id (equi-join, AQE
    broadcasts the smaller projection) + a ≤21-bucket aggregate."""
    from us_dot_flights_lakehouse_spark.functions import vectors as V

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", V.to_double_array("embedding").alias("v")
    )
    n = emb.agg(F.count("*").cast("bigint").alias("n"))
    left = emb.crossJoin(F.broadcast(n)).select(
        "vec_id",
        F.col("v").alias("va"),
        F.pmod(F.col("vec_id") * 31 + 7, F.col("n")).alias("partner"),
    )
    right = emb.select(F.col("vec_id").alias("partner"), F.col("v").alias("vb"))
    pairs = left.join(right, "partner").filter(
        F.col("vec_id") != F.col("partner")
    )
    cos = V.cosine(F.col("va"), F.col("vb"))
    hist = pairs.select(
        F.floor(cos * 10).cast("int").alias("cos_bucket")
    ).groupBy("cos_bucket").agg(F.count("*").cast("bigint").alias("n_pairs"))
    tot = hist.agg(F.sum("n_pairs").cast("bigint").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "cos_bucket",
        "n_pairs",
        (F.col("n_pairs").cast("double") / F.col("t").cast("double")).alias(
            "pair_share"
        ),
    )


SIM_DIST_HIST_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
pairs AS (
  SELECT a.vec_id,
         list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(range(1, 65),
                                           i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65),
                                             i -> b.v[i] * b.v[i])))) AS cos
  FROM e a CROSS JOIN n
  JOIN e b ON b.vec_id = (a.vec_id * 31 + 7) % n.n
  WHERE a.vec_id != b.vec_id
), hist AS (
  SELECT CAST(floor(cos * 10) AS INTEGER) AS cos_bucket,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY 1
), tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM hist)
SELECT cos_bucket, n_pairs,
       CAST(n_pairs AS DOUBLE) / CAST(t AS DOUBLE) AS pair_share
FROM hist CROSS JOIN tot
"""


QUERIES = {
    "sim_topk_cosine": sim_topk_cosine,
    "sim_mips_topk": sim_mips_topk,
    "sim_hard_negatives": sim_hard_negatives,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_random_projection": sim_random_projection,
    "sim_lsh_topk": sim_lsh_topk,
    "sim_lsh_multiprobe": sim_lsh_multiprobe,
    "sim_lsh_recall_audit": sim_lsh_recall_audit,
    "sim_quantize_int8": sim_quantize_int8,
    "sim_feature_hash": sim_feature_hash,
    "sim_knn_accuracy": sim_knn_accuracy,
    "sim_label_centroids": sim_label_centroids,
    "sim_ivf_recall_audit": sim_ivf_recall_audit,
    "sim_kmeans_inertia": sim_kmeans_inertia,
    "sim_index_drift": sim_index_drift,
    "sim_kcenter_diversity": sim_kcenter_diversity,
    "sim_pq_recall_audit": sim_pq_recall_audit,
    "sim_ndcg_eval": sim_ndcg_eval,
    "sim_matryoshka_truncation": sim_matryoshka_truncation,
    "sim_intrinsic_dimension": sim_intrinsic_dimension,
    "sim_fisher_separability": sim_fisher_separability,
    "sim_power_iteration": sim_power_iteration,
    "sim_cur_decomposition": sim_cur_decomposition,
    "sim_distance_histogram": sim_distance_histogram,
}

ORACLES = {
    "sim_topk_cosine": SIM_TOPK_ORACLE,
    "sim_mips_topk": SIM_MIPS_ORACLE,
    "sim_hard_negatives": SIM_HARDNEG_ORACLE,
    "sim_ivf_topk": _ivf_oracle,
    "sim_pq_topk": _pq_oracle,
    "sim_random_projection": _rp_oracle,
    "sim_lsh_topk": SIM_LSH_ORACLE,
    "sim_lsh_multiprobe": SIM_LSH_MP_ORACLE,
    "sim_lsh_recall_audit": _lsh_recall_oracle(),
    "sim_quantize_int8": SIM_QUANT_ORACLE,
    "sim_feature_hash": SIM_FH_ORACLE,
    "sim_knn_accuracy": SIM_KNN_ORACLE,
    "sim_label_centroids": SIM_CENTROID_ORACLE,
    "sim_ivf_recall_audit": _ivf_recall_oracle,
    "sim_kmeans_inertia": _kmeans_inertia_oracle,
    "sim_index_drift": _index_drift_oracle,
    "sim_kcenter_diversity": _kcenter_oracle,
    "sim_pq_recall_audit": _pq_recall_oracle,
    "sim_ndcg_eval": _ndcg_oracle,
    "sim_matryoshka_truncation": _matryoshka_oracle,
    "sim_intrinsic_dimension": SIM_INTRINSIC_ORACLE,
    "sim_fisher_separability": SIM_FISHER_ORACLE,
    "sim_power_iteration": _power_iteration_oracle,
    "sim_cur_decomposition": SIM_CUR_ORACLE,
    "sim_distance_histogram": SIM_DIST_HIST_ORACLE,
}
