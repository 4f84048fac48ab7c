"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

The text variants are pure DataFrame compositions (no Python UDFs; the
embedding-cosine finders verify in Arrow-batched numpy): hashing is
md5-based Column arithmetic (functions/text.hash28), signatures are wide
grouped aggregations, and candidate generation is equi-join on bucket keys
— each a single shuffle keyed on something with controlled cardinality.

Scale notes (100 TB):
- The naive all-pairs O(n²) comparison never appears. Exact dedup is one
  hash-groupBy; Jaccard uses an inverted shingle index (join cardinality
  bounded by shingle frequency — cap hot shingles via ``max_shingle_freq``
  to neutralize stop-shingle skew); MinHash-LSH and SimHash band buckets
  bound candidate pairs by bucket occupancy.
- Signatures (16 min-aggs / 28 bit-sums) compute in ONE partial+final
  hash aggregate over the exploded token/shingle stream — shuffle carries
  doc_id-cardinality rows, not token-cardinality.
- Verification joins (true Jaccard on candidates) touch only candidate
  pairs, which LSH keeps near-linear for realistic dup rates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.functions.text import (
    hash28,
    normalized_fingerprint,
    shingles,
    tokenize,
)
from us_dot_flights_lakehouse_spark.functions.vectors import to_double_array

# --- shared MinHash parameters (mirrored into the DuckDB oracle SQL) -------
MINHASH_PRIME = 1_000_000_007
MINHASH_K = 16  # signature length
# 8 bands x 2 rows: candidate probability 1-(1-j^2)^8 — near-certain recall
# for j >= 0.8 true dups, while still surfacing low-j pairs on corpora
# (like the synthetic testdata) with no real duplicates
MINHASH_BANDS = 8
#: universal-hash permutation coefficients h_i(x) = (a_i*x + b_i) mod p,
#: deterministic so Spark and the SQL oracle agree
MINHASH_A = [(i * 2654435761 + 1) % MINHASH_PRIME for i in range(1, MINHASH_K + 1)]
MINHASH_B = [(i * 40503 + 7) % MINHASH_PRIME for i in range(1, MINHASH_K + 1)]

# --- shared SimHash parameters ---------------------------------------------
SIMHASH_BITS = 28  # matches the 28-bit hash28 domain
SIMHASH_BANDS = 4  # 4 bands x 7 bits for candidate generation


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one hash-groupBy on the normalized fingerprint.
    Returns (fingerprint, keeper_doc_id, n_copies); downstream keeps rows
    where ``id == keeper_doc_id`` (min-id wins, deterministic)."""
    return (
        docs.select(
            normalized_fingerprint(text_col).alias("fingerprint"), F.col(id_col)
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingle_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Inverted index (id, shingle), distinct per doc. ``max_shingle_freq``
    drops ubiquitous shingles (stop-shingles) that would otherwise create
    quadratic join blowup on skewed corpora: a shingle in f docs emits f²
    candidate-join rows, so the hot tail dominates at scale (measured
    88× growth at 10× rows on the uncapped containment path,
    BASELINE.md r5 stress).

    The exclusion broadcasts the HOT set via left_anti — by Zipf that set
    is tiny at any corpus size, whereas the keep-side complement is
    vocabulary-sized and must never be broadcast."""
    idx = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(tokenize(text_col), n)).alias("sh"),
    )
    if max_shingle_freq is not None:
        freq = idx.groupBy("sh").agg(F.count("*").alias("df_"))
        hot = freq.filter(F.col("df_") > max_shingle_freq).select("sh")
        idx = idx.join(F.broadcast(hot), "sh", "left_anti")
    return idx


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs via inverted shingle index:
    common-count join + per-doc shingle counts → jac = c / (n1+n2-c).
    Returns (doc_id_a, doc_id_b, jaccard) for jac >= threshold."""
    idx = _shingle_index(docs, text_col, id_col, n, max_shingle_freq)
    cnt = idx.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = idx.alias("a"), idx.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .agg(F.count("*").alias("c"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    jac = (
        common.join(ca, F.col("ia") == F.col("ca.id"))
        .join(cb, F.col("ib") == F.col("cb.id"))
        .select(
            F.col("ia").alias("doc_id_a"),
            F.col("ib").alias("doc_id_b"),
            (
                F.col("c").cast("double")
                / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("c")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Containment near-dup pairs: c / min(|A|, |B|) over distinct
    n-gram shingle sets — the asymmetric-duplicate detector. A doc whose
    shingles are a subset of a much longer doc (quote farms, page
    wrappers around syndicated articles) scores containment ~1.0 while
    its symmetric Jaccard stays low, so ``ngram_jaccard_pairs`` never
    sees it. Same inverted-index join and candidate bound as the Jaccard
    path; only the denominator changes. Returns
    (doc_id_a, doc_id_b, containment) for containment >= threshold."""
    idx = _shingle_index(docs, text_col, id_col, n, max_shingle_freq)
    cnt = idx.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = idx.alias("a"), idx.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .agg(F.count("*").alias("c"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    out = (
        common.join(ca, F.col("ia") == F.col("ca.id"))
        .join(cb, F.col("ib") == F.col("cb.id"))
        .select(
            F.col("ia").alias("doc_id_a"),
            F.col("ib").alias("doc_id_b"),
            (
                F.col("c").cast("double")
                / F.least(F.col("ca.n_sh"), F.col("cb.n_sh")).cast("double")
            ).alias("containment"),
        )
    )
    return out.filter(F.col("containment") >= threshold)


def minhash_signatures(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signatures: explode shingles once, hash28 each, then ONE
    groupBy computing all K permutation-minimums as parallel min-aggs."""
    hashed = _shingle_index(docs, text_col, id_col, n).select(
        "id", hash28("sh").alias("h")
    )
    # parsed-SQL builds (r13): the Column-API loop paid ~7 Py4J round
    # trips per permutation of pure driver time per invocation (guide
    # §7.3 planning cost); int literals ≤2^31-1 parse as IntegerType
    # exactly like F.lit, so the analyzed tree is identical.
    mins = [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_PRIME})").alias(f"mh{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return hashed.groupBy("id").agg(*mins)


def _band_key(sig_prefix: str, band: int, rows_per_band: int) -> Column:
    cols = ", ".join(
        f"{sig_prefix}{band * rows_per_band + r}" for r in range(rows_per_band)
    )
    return F.expr(f"concat_ws('|', {cols})")


def _cap_buckets(bands: DataFrame, key_cols: list[str], cap: int | None) -> DataFrame:
    """Drop band buckets with more than ``cap`` members before the
    candidate self-join. A duplicate cluster of size m otherwise emits
    m²/2 candidate pairs per band — on web-scale corpora (stress-measured:
    10 near-replicas of each doc → 39M pairs at 50K docs) the pair OUTPUT,
    not the hashing, dominates cost. Oversized buckets are near-certainly
    exact-dup clusters; run exact_dedup_groups first and near-dedup the
    keepers, with the cap as the backstop against adversarial clusters."""
    if cap is None:
        return bands
    occ = bands.groupBy(*key_cols).agg(F.count("*").alias("bucket_sz"))
    keep = occ.filter(F.col("bucket_sz") <= cap).select(*key_cols)
    return bands.join(keep, key_cols)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH dedup: signature → band buckets → equi-join candidates
    → verify true Jaccard on candidates only.
    Returns (doc_id_a, doc_id_b, jaccard) with jaccard >= threshold."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    sigs = minhash_signatures(docs, n, text_col, id_col)
    bands = sigs.select(
        "id",
        F.posexplode(
            F.array(*[_band_key("mh", b, rows_per_band) for b in range(MINHASH_BANDS)])
        ).alias("band_id", "band_key"),
    )
    bands = _cap_buckets(bands, ["band_id", "band_key"], max_bucket_size)
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("ia"), F.col("y.id").alias("ib"))
        .distinct()
    )
    # verify on candidates only: true Jaccard from per-doc distinct shingle sets
    sets_ = docs.select(
        F.col(id_col).alias("id"), shingles(tokenize(text_col), n).alias("shs")
    )
    sa, sb = sets_.alias("sa"), sets_.alias("sb")
    verified = (
        cand.join(sa, F.col("ia") == F.col("sa.id"))
        .join(sb, F.col("ib") == F.col("sb.id"))
        .select(
            F.col("ia").alias("doc_id_a"),
            F.col("ib").alias("doc_id_b"),
            (
                F.size(F.array_intersect("sa.shs", "sb.shs")).cast("double")
                / (
                    F.size("sa.shs") + F.size("sb.shs")
                    - F.size(F.array_intersect("sa.shs", "sb.shs"))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash_values(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash: token-frequency-weighted bit votes. One explode + ONE
    groupBy with SIMHASH_BITS conditional sums; the signature assembles
    from the vote signs. Returns (id, simhash:long)."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("tok")
    ).select("id", hash28("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    sig = toks.groupBy("id").agg(*votes)
    value = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        value = bit if value is None else (value + bit)
    return sig.select("id", value.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature (pigeonhole — any pair
    within ``max_hamming < SIMHASH_BANDS`` shares at least one exact band),
    equi-join band buckets, verify hamming distance via bit_count(xor).
    Returns (doc_id_a, doc_id_b, hamming)."""
    bits_per_band = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits_per_band) - 1
    sig = simhash_values(docs, text_col, id_col)
    bands = sig.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * bits_per_band).bitwiseAND(F.lit(mask))
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    bands = _cap_buckets(bands, ["band_id", "band_val"], max_bucket_size)
    x, y = bands.alias("x"), bands.alias("y")

    # A near-dup pair shares MANY bands (hamming<=k leaves >=BANDS-k bands
    # equal), so a naive band join emits each pair up to BANDS times and a
    # distinct() then shuffles that whole multiplied candidate set. Both
    # signatures are present in the join row, so instead emit each pair
    # exactly once — from the FIRST band the two signatures share — which
    # removes the distinct (and its shuffle) from the plan entirely. At
    # 10x duplicate density this turned a 17x runtime blow-up into
    # output-proportional growth.
    def band_of(sig, b):
        return F.shiftright(sig, b * bits_per_band).bitwiseAND(F.lit(mask))

    first_shared = F.array_position(
        F.array(
            *[
                band_of(F.col("x.simhash"), b) == band_of(F.col("y.simhash"), b)
                for b in range(SIMHASH_BANDS)
            ]
        ),
        True,
    )
    joined = x.join(
        y,
        (F.col("x.band_id") == F.col("y.band_id"))
        & (F.col("x.band_val") == F.col("y.band_val"))
        & (F.col("x.id") < F.col("y.id")),
    )
    if max_bucket_size is None:
        joined = joined.where(F.col("x.band_id") == first_shared - 1)
    proj = joined.select(
        F.col("x.id").alias("doc_id_a"),
        F.col("y.id").alias("doc_id_b"),
        F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
    )
    if max_bucket_size is not None:
        # under capping, a pair's first shared band may sit in a dropped
        # bucket — emit from every surviving band and dedup instead
        proj = proj.distinct()
    return proj.filter(F.col("hamming") <= max_hamming)


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: exact block-matrix self-join,
    built entirely executor-side (NO driver materialization).

    The corpus hashes into ``n_blocks`` blocks; every unordered block pair
    (i <= j) becomes one cogrouped Arrow task holding exactly those two
    blocks' vectors. The numpy kernel computes block_i @ block_j.T with
    BLAS and emits (a, b) id pairs with cosine >= threshold (a < b —
    cross-block pairs are oriented by min/max id, the diagonal block
    filters a < b, so every pair surfaces exactly once).

    100 TB design: per-task memory is 2·(n/B) vectors and shuffle volume
    is n·B rows — size B ≈ n·dim·8 / executor_mem so blocks stay
    RAM-sized. Exactness costs O(n²) FLOPs no matter the engine; this
    spreads them across B·(B+1)/2 independent tasks instead of
    broadcasting a driver-built matrix (the previous design's ~20 GB
    driver ceiling). When even that FLOP budget is prohibitive, prune
    candidates with llm/similarity.py's LSH buckets and verify on
    candidates only.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    src = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("blk", F.pmod(F.hash("id"), F.lit(n_blocks)).cast("int"))
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    def _side(anchor: str) -> DataFrame:
        return (
            src.alias("s")
            .join(F.broadcast(block_pairs.alias("p")), F.col("s.blk") == F.col(f"p.{anchor}"))
            .select(
                F.col("p.bi").alias("bi"),
                F.col("p.bj").alias("bj"),
                F.col("s.id").alias("id"),
                F.col("s.v").alias("v"),
            )
        )

    left, right = _side("bi"), _side("bj")

    def _mat(col):
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        return m / np.linalg.norm(m, axis=1, keepdims=True)

    def compare(key, lt, rt):
        empty = pd.DataFrame(
            {
                "vec_id_a": np.array([], dtype=np.int64),
                "vec_id_b": np.array([], dtype=np.int64),
            }
        )
        if len(lt) == 0 or len(rt) == 0:
            return empty
        bi, bj = key
        l_ids, r_ids = lt["id"].to_numpy(), rt["id"].to_numpy()
        cos = _mat(lt["v"]) @ _mat(rt["v"]).T
        hit = cos >= threshold
        if bi == bj:
            hit &= l_ids[:, None] < r_ids[None, :]
        li, ri = np.nonzero(hit)
        a, b = l_ids[li], r_ids[ri]
        return pd.DataFrame(
            {"vec_id_a": np.minimum(a, b), "vec_id_b": np.maximum(a, b)}
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(compare, schema="vec_id_a long, vec_id_b long")
    )


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_tables: int = 8,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup with LSH candidate pruning — the 100×
    scale path for semantic dedup. The exact block cogroup above spends
    O(n²) FLOPs no matter how it's partitioned; this variant spends FLOPs
    only on CANDIDATE pairs:

    1. Each vector gets ``n_tables`` independent sign-bit signatures
       (table t = planes [t*n_planes, (t+1)*n_planes) of the
       deterministic md5 family — similarity.lsh_bucket).
    2. Candidates = pairs sharing a bucket in ANY table. A pair sharing
       several tables is emitted from its FIRST shared table only (the
       same trick simhash_pairs uses), so no distinct shuffle.
    3. Exact cosine verification on candidates — Arrow-batched numpy
       row-wise dot (NOT the sequential-fold expression: numpy sums
       pairwise, so the last few ULPs can differ from the oracle's
       list_sum fold; see the tolerance argument below).

    Recall for cos >= t is 1-(1-p^r)^L with p = 1 - arccos(t)/pi — at
    t=0.95, r=8, L=8 that is ~0.99, while a random pair survives a table
    with probability ~2^-8, so candidate volume (and FLOPs) is
    ~L/2^r · n² ≈ 3% of all-pairs. Tune L up for recall, r up for
    pruning. The candidate join shuffles ids+signatures only (the
    vectors re-join afterwards by id), so shuffle volume is
    candidate-bound, not all-pairs-bound.

    Both hot loops run as Arrow-batched numpy (signatures: one
    V @ planes.T per batch; verification: one row-wise dot per candidate
    batch). Tolerance argument, stated honestly: numpy's pairwise
    summation and norm-product division are NOT bit-identical to the
    oracle's sequential list_sum fold — a pair whose cosine lands within
    a few ULPs of ``threshold`` (or a projection within ULPs of 0) could
    in principle flip. The catalog stays hash-green because measured
    sign/threshold margins on real embedding data sit ~1e13 ULPs from
    the boundary (same argument, and same BLAS kernels, as the exact
    block cogroup behind ``dd_embedding_neardup``'s green row). For a
    corpus where adversarially boundary-exact cosines matter, swap the
    verify step for the expression-fold kernel in
    ``functions/vectors.cosine``."""
    import numpy as np

    from us_dot_flights_lakehouse_spark.llm.similarity import _plane

    planes = np.array(
        [_plane(j, dim) for j in range(n_tables * n_planes)], dtype=np.float64
    )
    pow2 = (2 ** np.arange(n_planes)).astype(np.int64)

    v = emb.select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))

    def signatures(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            bits = (V @ planes.T) > 0  # (n, L*r)
            sigs = [
                (bits[:, t * n_planes : (t + 1) * n_planes] @ pow2).astype(np.int32)
                for t in range(n_tables)
            ]
            pdf = pdf[["id"]].copy()
            pdf["sigs"] = list(np.stack(sigs, axis=1))
            yield pdf

    sig = v.mapInPandas(signatures, schema="id long, sigs array<int>")
    expl = sig.select("id", "sigs", F.posexplode("sigs").alias("t", "bucket"))
    a, b = expl.alias("a"), expl.alias("b")
    # first-shared-table: no earlier table already produced this pair
    no_earlier = ~F.array_contains(
        F.zip_with(
            F.slice(F.col("a.sigs"), F.lit(1), F.col("a.t")),
            F.slice(F.col("b.sigs"), F.lit(1), F.col("b.t")),
            lambda x, y: x == y,
        ),
        F.lit(True),
    )
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(no_earlier)
        .select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
    )
    va = v.select(F.col("id").alias("ida"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("idb"), F.col("v").alias("vb"))
    joined = cand.join(va, "ida").join(vb, "idb")

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.asarray(pdf["va"].tolist(), dtype=np.float64)
            B = np.asarray(pdf["vb"].tolist(), dtype=np.float64)
            cos = (A * B).sum(axis=1) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            out = pdf.loc[cos >= threshold, ["ida", "idb"]]
            yield out.rename(columns={"ida": "vec_id_a", "idb": "vec_id_b"})

    return joined.mapInPandas(verify, schema="vec_id_a long, vec_id_b long")


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """C4-style GLOBAL line-level deduplication: every line that occurs
    more than once anywhere in the corpus survives only at its first
    occurrence (lexicographically smallest (doc, line index)); all other
    copies are dropped and each document is reassembled without them.
    This is the pass that strips boilerplate headers/footers/nav text
    that exact-document dedup can't touch (C4 does exactly this with
    "three-sentence spans"; the separator is a parameter).

    Whitespace-only lines are always kept — deduping them would delete
    every blank line in the corpus but one.

    Returns (id, n_lines, n_kept, text_deduped). First-occurrence choice
    is encoded as one BIGINT ``doc_id * 1e6 + line_idx``; the encoding's
    preconditions (doc_id >= 0, under 1M lines per doc) are ENFORCED
    row-level — a violating row raises instead of silently electing the
    wrong keeper. The global keeper election is then a single MIN groupBy
    on the line hash: two shuffles total (hash groupBy + reassembly
    groupBy) regardless of corpus size, both key-bounded."""
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("line_idx", "line"),
    )
    pos = F.when(
        (F.col("id") >= 0) & (F.col("line_idx") < 1_000_000),
        F.col("id") * F.lit(1_000_000) + F.col("line_idx"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "line_dedup: pos encoding needs doc_id >= 0 and < 1e6 "
                "lines per doc; got doc_id=%s line_idx=%s",
                F.col("id"),
                F.col("line_idx"),
            )
        )
    )
    occ = lines.select(
        "id",
        "line_idx",
        "line",
        F.md5(F.trim(F.lower(F.col("line")))).alias("h"),
        pos.alias("pos"),
        (F.trim(F.col("line")) == "").alias("blank"),
    )
    first = (
        occ.filter(~F.col("blank"))
        .groupBy("h")
        .agg(F.min("pos").alias("first_pos"))
    )
    flagged = occ.join(first, "h", "left").select(
        "id",
        "line_idx",
        "line",
        (F.col("blank") | (F.col("pos") == F.col("first_pos"))).alias("kept"),
    )
    return flagged.groupBy("id").agg(
        F.count("*").cast("int").alias("n_lines"),
        F.sum(F.col("kept").cast("int")).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"), F.struct("line_idx", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            join_sep,
        ).alias("text_deduped"),
    )


def fuzzy_pairs(
    docs: DataFrame,
    col: str,
    max_distance: int,
    block_prefix: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocked fuzzy matching: candidate pairs share a ``block_prefix``-char
    prefix (the classic record-linkage blocking key), then exact
    Levenshtein verifies within ``max_distance``. Blocking turns the
    O(n²) all-pairs edit-distance scan into per-block quadratics — the
    only way fuzzy dedup survives 100 TB; pick the prefix so blocks stay
    task-sized (swap in soundex/phonetic keys for typo-heavy data where
    the typo may hit the prefix). Returns (id_a, id_b, dist)."""
    c = docs.select(
        F.col(id_col).alias("id"),
        F.col(col).alias("s"),
        F.substring(F.col(col), 1, block_prefix).alias("blk"),
    )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a.s"), F.col("b.s")).alias("dist"),
        )
        .filter(F.col("dist") <= max_distance)
    )


def incremental_dedup_verdict(
    batch: DataFrame,
    history_fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Incremental-dedup core: given today's batch as (id, fingerprint)
    rows and the published history fingerprint set, return every batch
    doc with (dup_of_history, dup_in_batch, keep) — min-id wins the
    within-batch election, so the verdict is deterministic.

    Scale (100 TB): NO broadcast hint on the history side — in
    production that set is billions of fingerprints, far past any
    broadcast threshold, and a forced hint turns into an executor OOM.
    Left declarative, AQE broadcasts small histories at runtime on its
    own and falls back to a shuffle join for big ones. The shuffle-free
    path is ``publish_history_fingerprints``: with history AND batch
    bucketed on the fingerprint, this whole verdict (both joins and the
    first-id election) plans with zero Exchange nodes
    (tests/test_curation.py::test_bucketed_incremental_dedup_is_exchange_free).
    """
    first = batch.groupBy(fp_col).agg(F.min(id_col).alias("_first_id"))
    hist = (
        history_fps.select(fp_col)
        .distinct()
        .withColumn("_in_history", F.lit(True))
    )
    return (
        batch.join(hist, fp_col, "left")
        .join(first, fp_col)
        .select(
            id_col,
            F.coalesce(F.col("_in_history"), F.lit(False)).alias("dup_of_history"),
            (F.col(id_col) != F.col("_first_id")).alias("dup_in_batch"),
        )
        .select(
            id_col,
            "dup_of_history",
            "dup_in_batch",
            (~F.col("dup_of_history") & ~F.col("dup_in_batch")).alias("keep"),
        )
    )


def incremental_dedup_verdict_bloom(
    batch: DataFrame,
    history_fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    m_bits: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """``incremental_dedup_verdict`` with a Bloom-filter runtime prefilter
    on the history join — identical output (the filter is
    semantics-preserving: "definitely new" rows get their verdict without
    joining; only the maybe-set — true dups plus the ~1% false-positive
    sliver — pays the exact history join).

    Scale (100 TB): in a nightly batch, the overwhelming majority of docs
    are NEW — under the plain verdict every one of them shuffles to meet
    the history table; here they are answered by a compact bitmap at scan
    speed, so the history join's probe input shrinks to roughly the true
    dup rate. The bitmap build is one hash aggregate over history
    fingerprints and collects m/8 bytes. When ``m_bits`` is not given it
    is SIZED FROM the history cardinality (``bloom.auto_m_bits``: next
    power of two ≥ 10·n, fpr ≈ 0.9% at k=5, UNCAPPED) — a fixed default
    saturates toward fpr ≈ 1 past ~13k distinct fingerprints, silently
    un-pruning the prefilter (ADVICE r4); the count it costs is one
    aggregate over the already-distinct history. Past ~419k distinct
    fingerprints the auto size exceeds the 2^22 literal-expression limit;
    rather than silently capping (same fpr → 1 failure mode — ADVICE r5)
    the probe AUTOMATICALLY switches to
    ``operators.bloom.might_contain_broadcast`` (broadcast numpy bitmap
    + Arrow-batched bit tests), which carries 2^30+-bit filters fine.
    Composes with the bucketed-history layout, which removes the
    remaining exchange on the maybe-side join."""
    from us_dot_flights_lakehouse_spark.operators import bloom as _bloom

    hist_distinct = history_fps.select(fp_col).distinct()
    if m_bits is None:
        m_bits = _bloom.auto_m_bits(hist_distinct.count())
    k_eff = k if k is not None else _bloom.BLOOM_K
    bitmap = _bloom.build_bloom(hist_distinct, fp_col, m_bits, k_eff)
    # within-batch first-id election needs every row regardless of history
    first = batch.groupBy(fp_col).agg(F.min(id_col).alias("_first_id"))
    hist = hist_distinct.withColumn("_in_history", F.lit(True))
    if m_bits <= _bloom.BLOOM_MAX_LITERAL_BITS:
        tagged = batch.withColumn(
            "_maybe", _bloom.might_contain(F.col(fp_col), bitmap, k_eff)
        )
    else:
        tagged = _bloom.might_contain_broadcast(
            batch, F.col(fp_col), bitmap, k_eff, out_col="_maybe"
        )
    joined = (
        tagged.filter(F.col("_maybe"))
        .join(hist, fp_col, "left")
        .select(fp_col, id_col, F.coalesce("_in_history", F.lit(False)).alias("_hist"))
    )
    definite = tagged.filter(~F.col("_maybe")).select(
        fp_col, id_col, F.lit(False).alias("_hist")
    )
    return (
        joined.unionByName(definite)
        .join(first, fp_col)
        .select(
            id_col,
            F.col("_hist").alias("dup_of_history"),
            (F.col(id_col) != F.col("_first_id")).alias("dup_in_batch"),
        )
        .select(
            id_col,
            "dup_of_history",
            "dup_in_batch",
            (~F.col("dup_of_history") & ~F.col("dup_in_batch")).alias("keep"),
        )
    )


def publish_history_fingerprints(
    fps: DataFrame,
    table_name: str,
    n_buckets: int,
    path: str | None = None,
    fp_col: str = "fp",
) -> None:
    """Publish the deduped corpus' fingerprint set as a table BUCKETED on
    the fingerprint — the production layout for incremental dedup: pay
    one shuffle at publish time, then every nightly batch verdict
    (anti/left join on fp) reads the multi-billion-row history with no
    Exchange. Re-publishing appends only the kept batch fingerprints."""
    from us_dot_flights_lakehouse_spark.sources.writers import write_bucketed

    write_bucketed(
        fps.select(fp_col).distinct(),
        table_name,
        [fp_col],
        n_buckets,
        sort_cols=[fp_col],
        path=path,
    )


def band_key_rows(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_key) rows for LSH history probing — MINHASH_BANDS rows
    per doc, the band index folded INTO the key string
    (``"<band>|mh…|mh…"``) so the probe join carries ONE equi-key that a
    band-key-bucketed layout can co-locate. Keys from different bands can
    never collide (distinct integer prefix); within one doc all
    MINHASH_BANDS keys are distinct for the same reason."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    sigs = minhash_signatures(docs, n, text_col, id_col)
    keys = [
        F.concat_ws("|", F.lit(str(b)), _band_key("mh", b, rows_per_band))
        for b in range(MINHASH_BANDS)
    ]
    return sigs.select("id", F.explode(F.array(*keys)).alias("band_key"))


def publish_history_band_keys(
    docs: DataFrame,
    table_name: str,
    n_buckets: int,
    path: str | None = None,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Near-dup companion of ``publish_history_fingerprints``: publish the
    corpus' DISTINCT MinHash band keys as a table bucketed+sorted on
    band_key. One shuffle at publish time; every nightly batch's
    near-dup probe (``incremental_minhash_verdict``) then joins the
    multi-billion-key history with no Exchange on the history side."""
    from us_dot_flights_lakehouse_spark.sources.writers import write_bucketed

    write_bucketed(
        band_key_rows(docs, n, text_col, id_col).select("band_key").distinct(),
        table_name,
        ["band_key"],
        n_buckets,
        sort_cols=["band_key"],
        path=path,
    )


def incremental_minhash_verdict(
    batch_bands: DataFrame,
    history_bands: DataFrame,
    id_col: str = "id",
    key_col: str = "band_key",
) -> DataFrame:
    """Fuzzy incremental dedup (VERDICT r5 item 5): probe a new crawl
    batch's MinHash band keys against the PUBLISHED band-key history —
    ``tp_incremental_dedup`` catches exact re-crawls, this catches
    NEAR-duplicates of the existing corpus without rescanning its text.
    A batch doc whose signature collides with history in ANY band is
    flagged (LSH semantics: P[flag] = 1-(1-j^r)^b, the same S-curve the
    in-batch LSH family uses). Returns one row per batch doc:
    (id, n_band_hits, near_dup_of_history, keep).

    Scale (100 TB): the history side reduces to DISTINCT band keys and
    carries NO broadcast hint (billions of keys — AQE picks). With the
    history published bucketed on band_key
    (``publish_history_band_keys``) and the batch's band rows bucket-
    written the same way, the probe join AND the history distinct plan
    with zero Exchange; only the final per-doc rollup — MINHASH_BANDS
    boolean-tagged rows per doc, map-side combined before the shuffle —
    re-keys (tests/test_curation.py::
    test_bucketed_minhash_history_probe_join_is_exchange_free)."""
    hist = (
        history_bands.select(key_col).distinct().withColumn("_hit", F.lit(True))
    )
    return (
        batch_bands.join(hist, key_col, "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("_hit"), 1).otherwise(0))
            .cast("int")
            .alias("n_band_hits")
        )
        .select(
            id_col,
            "n_band_hits",
            (F.col("n_band_hits") >= 1).alias("near_dup_of_history"),
            (F.col("n_band_hits") == 0).alias("keep"),
        )
    )


# --- span-level (ExactSubstr-style) cross-document dedup -------------------

EXACT_SUBSTR_K = 6  #: window length in tokens; spans shorter than this
#: cannot be detected (ExactSubstr's min-match-length knob)


def exact_substr_spans(
    docs: DataFrame,
    k: int = EXACT_SUBSTR_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-SPAN detection — the span-level dedup
    family of ExactSubstr (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): instead of judging whole documents,
    find the maximal token spans inside each document in which every
    k-token window also occurs verbatim in at least one OTHER document.
    Doc-level dedup (exact/MinHash/SimHash) misses boilerplate spans
    (license headers, navigation chrome, quoted passages) embedded in
    otherwise-unique documents; this operator marks exactly those spans.

    Semantics (exactly computable, no suffix array needed): a position p
    is a duplicate seed iff the k-gram starting at p appears in ≥ 2
    distinct documents; overlapping/adjacent seeds (gap ≤ k) chain into
    maximal islands; a span covers tokens [min(seed), max(seed)+k-1].
    This is the k-gram–chained relaxation of "substring of length ≥ k
    shared with another doc": every truly shared span of length ≥ k is
    found with exact boundaries; distinct seeds chained through
    different partner documents may merge into one span (the standard
    trade ExactSubstr-at-scale pipelines make).

    Returns one row per span: (id_col, span_start, span_end) — 1-based
    inclusive token indices.

    Scale (100 TB): two shuffles total. The k-gram stream (one 16-byte
    md5 + position per token) shuffles once on the gram hash for the
    min≠max dup test — a window aggregate, NOT a self-join, so the hot
    boilerplate gram that appears 10⁹ times costs one partition-local
    min/max, not a 10¹⁸-row join; then seeds shuffle once on doc_id for
    the island merge. Reference parity: the reference has no span-level
    dedup (doc-level only); md5 is used (not xxhash64) so the DuckDB
    oracle states identical gram keys."""
    from pyspark.sql.window import Window

    words = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("w")
    ).withColumn("n", F.size("w"))
    grams = words.filter(F.col("n") >= k).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - k + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("w", i, k))).alias("g"),
                ),
            )
        ).alias("pg"),
    ).select(id_col, F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    wg = Window.partitionBy("g")
    seeds = grams.withColumn(
        "dup", F.min(id_col).over(wg) != F.max(id_col).over(wg)
    ).filter("dup")
    wd = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        seeds.withColumn(
            "brk",
            F.when(F.col("pos") - F.lag("pos").over(wd) <= k, 0).otherwise(1),
        )
        .withColumn("island", F.sum("brk").over(wd))
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
    ).drop("island")


def exact_substr_apply(
    docs: DataFrame,
    spans: DataFrame | None = None,
    k: int = EXACT_SUBSTR_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply span-level dedup: remove every token covered by a duplicate
    span (``exact_substr_spans``) and reassemble the cleaned text.
    Returns (id_col, total_tokens, kept_tokens, removed_tokens,
    clean_text) — fully-duplicated documents come back with
    kept_tokens=0 and empty clean_text, ready for a length filter.

    Scale: covered indices explode from the (few, short) spans, not the
    corpus; the anti-join and the ordered reassembly are both keyed on
    doc_id — one shuffle each, and the reassembly collect_list is
    bounded by document length (the same bound as holding the document
    at all)."""
    if spans is None:
        spans = exact_substr_spans(docs, k, id_col, text_col)
    words = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("w")
    ).withColumn("n", F.size("w"))
    tokens = words.select(
        id_col,
        "n",
        F.posexplode("w").alias("idx0", "word"),
    ).select(id_col, "n", (F.col("idx0") + 1).alias("idx"), "word")
    covered = spans.select(
        id_col, F.explode(F.sequence("span_start", "span_end")).alias("idx")
    ).distinct()
    kept = tokens.join(covered, [id_col, "idx"], "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.count("*").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "word"))),
                lambda x: x["word"],
            ),
        ).alias("clean_text"),
    )
    return (
        words.join(clean, id_col, "left")
        .select(
            id_col,
            F.col("n").cast("long").alias("total_tokens"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
            (F.col("n") - F.coalesce("kept_tokens", F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def minhash_calibration(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash ESTIMATOR-QUALITY audit — for every LSH candidate pair,
    the signature-agreement Jaccard estimate (matching components / K)
    side-by-side with the exact shingle-set Jaccard and the absolute
    error: the calibration table that tells you whether K=16 is enough
    signature length for your dedup threshold (E[est] = true Jaccard;
    σ = sqrt(j(1-j)/K) ≈ 0.12 at j=0.5, K=16 — pairs outside ~3σ
    indicate a broken hash family). Completes the audit family
    (sim_ivf/pq_recall_audit) for the dedup side: ANN recall audits
    check the index, this checks the sketch.

    Scale: same banded candidate generation as minhash_lsh_pairs
    (bucket-bounded); the signature join adds two broadcast-size-or-
    bucketed joins on doc ids; exact verification touches candidates
    only."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    sigs = minhash_signatures(docs, n, text_col, id_col)
    bands = sigs.select(
        "id",
        F.posexplode(
            F.array(*[_band_key("mh", b, rows_per_band) for b in range(MINHASH_BANDS)])
        ).alias("band_id", "band_key"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("ia"), F.col("y.id").alias("ib"))
        .distinct()
    )
    ga, gb = sigs.alias("ga"), sigs.alias("gb")
    agree = sum(
        (F.col(f"ga.mh{i}") == F.col(f"gb.mh{i}")).cast("int")
        for i in range(MINHASH_K)
    )
    est = cand.join(ga, F.col("ia") == F.col("ga.id")).join(
        gb, F.col("ib") == F.col("gb.id")
    ).select("ia", "ib", (agree.cast("double") / MINHASH_K).alias("est_jaccard"))
    sets_ = docs.select(
        F.col(id_col).alias("id"), shingles(tokenize(text_col), n).alias("shs")
    )
    sa, sb = sets_.alias("sa"), sets_.alias("sb")
    common = F.size(F.array_intersect("sa.shs", "sb.shs"))
    true_j = common.cast("double") / (
        F.size("sa.shs") + F.size("sb.shs") - common
    ).cast("double")
    return (
        est.join(sa, F.col("ia") == F.col("sa.id"))
        .join(sb, F.col("ib") == F.col("sb.id"))
        .select(
            F.col("ia").alias("doc_id_a"),
            F.col("ib").alias("doc_id_b"),
            "est_jaccard",
            true_j.alias("true_jaccard"),
            F.abs(F.col("est_jaccard") - true_j).alias("abs_err"),
        )
    )
