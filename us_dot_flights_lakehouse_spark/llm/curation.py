"""Corpus-curation operators beyond stats/dedup: sequence packing,
deterministic stratified sampling (training-mix construction), PII
scrubbing, TF-IDF keyword extraction, and duplicate-cluster resolution.

All batch operators are built-in Column expressions / window functions —
zero Python UDFs; the only iterative piece (``dup_clusters``) is a
bounded min-label-propagation loop of DataFrame joins.

Scale notes (100 TB):
- ``pack_sequences`` windows PER SHARD (``shard_col``), never globally —
  a global ORDER BY window would serialize the corpus through one task.
  Shard-relative sequence ids are exactly what a distributed trainer
  consumes (shard = input file group / source).
- ``training_mix_sample`` is hash-gated per row (scan-local, no shuffle,
  no sampleBy() two-pass) and deterministic across runs and engines.
- ``tfidf_topk`` is two hash aggregates + one broadcast-able DF join +
  one per-doc window; integer (milli-IDF) scoring keeps ranking
  bit-stable across engines (float log() would not be).
- ``dup_clusters`` converges in O(cluster diameter) joins; near-dup
  clusters have tiny diameters in practice. Lineage is truncated with
  localCheckpoint each round so 100-iteration worst cases do not build
  kilometer plans.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from us_dot_flights_lakehouse_spark.functions.text import (
    bpe_ish_tokens,
    hash28,
    shingles,
    tokenize,
)
from us_dot_flights_lakehouse_spark.operators.physical import bounded_arrow, cached


def pack_sequences(
    docs: DataFrame,
    budget: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contiguous token-budget packing (GPT-style concat-then-chunk):
    within each shard, documents are laid out in ``id_col`` order and cut
    into sequences of ``budget`` tokens; each doc is assigned the sequence
    containing its first token plus its offset in that sequence.

    Parallelism equals shard cardinality: at cluster scale pick a
    ``shard_col`` with >= 10x cluster-core distinct values (input file
    group, date bucket, or ``pmod(hash(id), N)``), never a handful of
    source labels. Returns (id, shard, n_tokens, seq_num, offset_in_seq)."""
    n_tok = F.size(bpe_ish_tokens(text_col)).cast("bigint")
    base = docs.select(
        F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens")
    )
    w = Window.partitionBy(shard_col).orderBy(id_col)
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_start")
    return base.select("*", start).select(
        id_col,
        shard_col,
        "n_tokens",
        F.floor(F.col("tok_start") / F.lit(budget)).cast("bigint").alias("seq_num"),
        F.pmod(F.col("tok_start"), F.lit(budget)).cast("bigint").alias("offset_in_seq"),
    )


def mix_keep(
    id_col: str | Column, lang_col: str | Column, rates_pct: dict[str, int], default_pct: int = 0
) -> Column:
    """Deterministic stratified-sampling gate: keep a row when
    ``hash28('mix:' || id) % 100`` falls under the language's percentage.
    Pure expression — no shuffle, no RNG state, reproducible across runs,
    engines, and cluster sizes (the property sampleBy() lacks)."""
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    lc = F.col(lang_col) if isinstance(lang_col, str) else lang_col
    rate = F.lit(default_pct)
    for lang, pct in rates_pct.items():
        rate = F.when(lc == lang, pct).otherwise(rate)
    bucket = F.pmod(hash28(F.concat(F.lit("mix:"), idc.cast("string"))), F.lit(100))
    return bucket < rate


#: simple, RE2-and-Java-compatible PII patterns, applied in order (emails
#: first so their digit runs can't half-match as phones; IPs before
#: phones for the same reason)
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9 ()-]{6,}[0-9]", "[PHONE]"),
)


def pii_scrub(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / IPv4s / phone-shaped digit runs, counting each kind
    as it is removed (counts are taken on the progressively-scrubbed text
    so one span is never double-counted). Pure regexp expressions —
    scan-local at any scale. Returns (id, clean_text, n_email, n_ip,
    n_phone)."""
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("bigint").alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return docs.select(F.col(id_col), cur.alias("clean_text"), *counts)


def tfidf_topk(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k keywords per document by TF × integer milli-IDF.

    IDF is the INTEGER ``(n_docs * 1000) div doc_freq`` — deliberately not
    ``log(n/df)``: libm log() values differ in the last ulp across
    engines/platforms, which flips equal-score rank orders; integer
    arithmetic keeps the ranking bit-stable everywhere. Ties break by
    token text. Returns (id, token, tf, idf_milli, score, rank)."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("id", "token").agg(F.count("*").cast("bigint").alias("tf"))
    df_ = toks.distinct().groupBy("token").agg(
        F.count("*").cast("bigint").alias("doc_freq")
    )
    # corpus size rides the same plan as a broadcast 1-row aggregate — no
    # eager driver-side count job
    n_docs = docs.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "token",
            "tf",
            F.expr("(n_docs * 1000) div doc_freq").cast("bigint").alias("idf_milli"),
        )
    )
    scored = scored.withColumn("score", (F.col("tf") * F.col("idf_milli")).cast("bigint"))
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def contamination_report(
    docs: DataFrame,
    probe: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination check: per training document, how many
    of its distinct n-gram shingles also appear in the ``probe`` corpus
    (eval/benchmark set). Returns (id, n_shingles, n_probe_hits,
    contaminated) — filter ``contaminated`` before training.

    Scale: the probe side is a benchmark (thousands of docs, not
    billions) — its distinct-shingle set broadcasts, so the check is a
    scan-local broadcast-semi pattern over the full training corpus with
    ONE corpus-side shuffle (the per-doc count). Never join shingle
    streams of two 100 TB corpora directly; for corpus-vs-corpus overlap
    use the MinHash signatures instead."""
    d_sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(tokenize(text_col), n)).alias("sh"),
    )
    p_sh = probe.select(
        F.explode(shingles(tokenize(text_col), n)).alias("sh")
    ).distinct()
    hits = (
        d_sh.join(F.broadcast(p_sh), "sh")
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_probe_hits"))
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(shingles(tokenize(text_col), n)).cast("bigint").alias("n_shingles"),
    )
    return base.join(hits, "id", "left").select(
        "id",
        "n_shingles",
        F.coalesce(F.col("n_probe_hits"), F.lit(0)).cast("bigint").alias("n_probe_hits"),
        (F.coalesce(F.col("n_probe_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style overlapping character chunking: cut each document into
    windows of ``chunk_chars`` characters whose starts advance by
    ``chunk_chars - overlap`` (so consecutive chunks share ``overlap``
    characters). Every document yields at least one chunk; the last chunk
    may be short.

    Chunk starts are 1-based positions ``1, 1+stride, ...`` up to and
    including the largest start <= max(1, n_chars - overlap) — the upper
    bound stops a trailing chunk that would sit entirely inside the
    previous one.

    Scale: sequence + posexplode + substring, all codegen'd JVM
    expressions — row-local fan-out with no shuffle. Output size is
    input_chars * (1 + overlap/stride); partition count follows the scan,
    so a repartition after heavy fan-out is the caller's lever. Returns
    (id, chunk_idx, chunk_start, chunk_text, chunk_len)."""
    if chunk_chars <= 0:
        raise ValueError("chunk_chars must be positive")
    if not 0 <= overlap < chunk_chars:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_chars")
    stride = chunk_chars - overlap
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.length(F.col(text_col)) - overlap),
        F.lit(stride),
    )
    exploded = docs.select(
        F.col(id_col), F.col(text_col), F.posexplode(starts).alias("chunk_idx", "chunk_start")
    )
    chunk = F.substring(F.col(text_col), F.col("chunk_start"), chunk_chars)
    return exploded.select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("int").alias("chunk_len"),
    )


def source_caps(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source document cap: keep at most ``cap`` documents from each
    source, chosen by a deterministic pseudo-random order (``hash28`` of
    the id — so the kept subset is stable across runs, engines, and
    cluster sizes, unlike rand()-ordered row_number).

    The classic corpus-balancing guard: one crawl domain contributing
    10^9 near-identical pages gets clamped to ``cap`` while small sources
    pass through whole. One shuffle (the per-source window); skewed
    sources are exactly the rows the window drops, and AQE handles the
    partition skew. Returns (id, source, slot, kept) without dropping
    rows, so reject-rate audits stay possible."""
    order_key = hash28(F.concat(F.lit("cap:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(source_col).orderBy(order_key.asc(), F.col(id_col).asc())
    return docs.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(w).cast("int").alias("slot"),
    ).select("*", (F.col("slot") <= cap).alias("kept"))


def label_balance(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Class-balance downsampling: clamp every label to the size of the
    SMALLEST class, membership chosen by the deterministic ``hash28``
    order (same reproducibility contract as ``source_caps``, which caps
    at a FIXED size instead). Returns only the kept rows
    (id, label, rank_in_label).

    Scale: one per-label window shuffle; the min-class size is a
    label-cardinality-sized aggregate reduced to one row and broadcast —
    no driver round-trip, the whole thing stays one lazy plan."""
    order_key = hash28(F.concat(F.lit("bal:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(label_col).orderBy(order_key.asc(), F.col(id_col).asc())
    ranked = df.select(
        F.col(id_col),
        F.col(label_col),
        F.row_number().over(w).cast("int").alias("rank_in_label"),
    )
    min_n = (
        df.groupBy(label_col)
        .agg(F.count("*").alias("_n"))
        .agg(F.min("_n").alias("_min_n"))
    )
    return (
        ranked.crossJoin(F.broadcast(min_n))
        .filter(F.col("rank_in_label") <= F.col("_min_n"))
        .drop("_min_n")
    )


def shard_assign(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    layout: shard = ``hash28('shard:' || id) % n_shards`` (the shuffle),
    position-in-shard = hash-ordered row_number within the shard.

    Deliberately NOT a global ``row_number() OVER (ORDER BY hash)`` — a
    global order window funnels the corpus through ONE task; per-shard
    windows keep parallelism equal to shard count while delivering the
    same statistical shuffle (hash placement is uniform and id-keyed, so
    the interleaving is as random as the global sort's and reproducible
    across runs, engines, and cluster sizes). One shuffle total. Returns
    (id, shard, pos_in_shard)."""
    h = hash28(F.concat(F.lit("shard:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        docs.select(
            F.col(id_col),
            F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
            h.alias("_h"),
        )
        .select(
            id_col,
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
        )
    )


#: edge-count cap for driver-side component resolution in dup_clusters:
#: below it the symmetric pair list collects as two columns via Arrow
#: (≤~32 MB at the cap) and components resolve in vectorized numpy on the
#: driver; above it the distributed min-label loop runs. The cap bounds
#: driver memory the way the centroid/advisor collects are bounded —
#: a 100 TB corpus whose VERIFIED near-dup graph exceeds 2M edges keeps
#: the iterative path.
DRIVER_CC_MAX_EDGES = 2_000_000


def _driver_cc_labels(spark, a_ids, b_ids, id_datatype) -> DataFrame:
    """Bounded driver-side connected components over a collected one-way
    edge list: numpy min-label pointer jumping — each pass takes the min
    label across every edge in one vectorized `minimum.at`, then halves
    label-chain depth with `lab = lab[lab]`; converges in O(log n)
    passes. Node ids are compacted through `np.unique` (sorted), so index
    order == id order and the fixpoint label is exactly the component's
    MIN id — the distributed loop's contract. Returns (node, cluster_id)
    for every node in the edge set as a local relation."""
    import numpy as np
    import pandas as pd

    u = np.unique(np.concatenate([a_ids, b_ids]))
    ia = np.searchsorted(u, a_ids)
    ib = np.searchsorted(u, b_ids)
    lab = np.arange(len(u))
    while True:
        old = lab.copy()
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, old):
            break
    schema = StructType(
        [
            StructField("node", id_datatype, False),
            StructField("cluster_id", id_datatype, False),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame({"node": u, "cluster_id": u[lab]}), schema
    )


def _min_label_loop(edges: DataFrame, n_edges: int, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over the (materialized)
    symmetric edge list; returns checkpointed (node, cluster_id) for
    every node in the edge set. Iterates ONLY over nodes that appear in
    some pair: the near-dup graph is a tiny fraction of the corpus, and
    singletons cannot change label — at scale this shrinks every round
    from corpus-sized to pair-graph-sized."""
    # size the ITERATION's parallelism to the pair graph, not the session
    # default — the rounds shuffle only edges+labels, and spreading a few
    # thousand edges over the corpus-sized partition count makes every
    # round pay full task-scheduling overhead for empty partitions.
    # Large graphs keep full parallelism (≈200K edges per partition).
    sc = edges.sparkSession.sparkContext
    parts = max(1, min(sc.defaultParallelism, n_edges // 200_000 + 1))
    edges = edges.coalesce(parts)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("cluster_id").alias("neigh_min"))
        )
        labels = (
            labels.join(neigh, labels["node"] == neigh["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("neigh_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:  # monotone non-increasing -> fixpoint
            break
        prev_sum = cur_sum
    return labels


def dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iter: int = 20,
    variant: str = "min_label",
    driver_cc_max: int | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    min-label propagation (each node repeatedly takes the minimum label
    among itself and its neighbors until fixpoint). Returns
    (node, cluster_id) for every node; singletons keep their own id —
    downstream keeps one doc per cluster_id.

    Scale: one join + one groupBy per round; rounds ≈ component diameter
    (tiny for dup clusters). The label-sum convergence probe is monotone,
    so the loop always terminates; localCheckpoint truncates lineage each
    round. ``variant="two_star"`` switches to the alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): rounds ~ O(log² n) independent
    of diameter, for adversarial chain-shaped graphs where min-label's
    diameter-many rounds would dominate. Default stays min-label —
    dup-cluster graphs are dense blobs with tiny diameters, where fewer,
    cheaper rounds win (equivalence of the two is unit-tested on a chain
    graph)."""
    if variant == "two_star":
        return _dup_clusters_two_star(nodes, pairs, id_col, a_col, b_col, max_iter)
    if variant != "min_label":
        raise ValueError(f"unknown variant: {variant!r}")
    if driver_cc_max is None:
        driver_cc_max = DRIVER_CC_MAX_EDGES
    one_way = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    # r13 (guide §1.2 "the distributed algorithm"): below the cap, resolve
    # components ON THE DRIVER in one bounded action instead of iterating
    # 2 Spark jobs per propagation round (join+checkpoint, convergence
    # probe) — for the few-hundred-pair graphs dedup actually produces,
    # the loop was pure scheduling overhead (~2 s per call at sf0.1; four
    # query paths call this). Above the cap — the 100 TB pair-graph
    # regime — the distributed min-label loop runs. Same result by
    # construction: both compute the min node id per connected component
    # (property-tested for equality).
    #
    # The probe collects the ONE-WAY pair list (the numpy CC updates both
    # endpoint directions per edge, so it never needs the symmetric union
    # — which would evaluate the expensive upstream pair subtree twice in
    # the probe job) and reads it from a CACHE, so an over-cap overflow
    # wastes nothing: the partitions the limit touched are already
    # materialized for the symmetric union, whose two branches both read
    # the cache — the upstream pair pipeline runs exactly once. The
    # one-way cache is released as soon as the symmetric edges are
    # materialized; the edge cache lives until the loop ends.
    with ExitStack() as edges_scope:
        with cached(one_way):
            tbl = bounded_arrow(one_way, driver_cc_max // 2)  # cap counts symmetric edges
            if tbl is None:
                edges = edges_scope.enter_context(
                    cached(
                        one_way.union(
                            one_way.select(F.col("b").alias("a"), F.col("a").alias("b"))
                        )
                    )
                )
                n_edges = edges.count()
        if tbl is not None:
            labels = _driver_cc_labels(
                nodes.sparkSession,
                tbl.column("a").to_numpy(zero_copy_only=False),
                tbl.column("b").to_numpy(zero_copy_only=False),
                one_way.schema["a"].dataType,
            )
        else:
            labels = _min_label_loop(edges, n_edges, max_iter)
    # labels cover every node of the pair graph; every other node of
    # `nodes` is its own cluster
    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    return labels.unionByName(singletons)


def _dup_clusters_two_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star/small-star contraction. Each round rewires
    edges toward per-neighborhood minima:

    - large-star: every neighbor v > u re-points to m = min(Γ(u) ∪ {u})
    - small-star: every neighbor v < u re-points to m

    Both are one groupBy + one join over the CURRENT edge set; the edge
    set only shrinks toward the star form (v, component_min), so the
    (count, sum) probe reaches a fixpoint in O(log² n) rounds regardless
    of diameter — the property min-label lacks on chain graphs. At
    convergence every non-center node carries exactly one edge to its
    component minimum."""

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def _rewire(e: DataFrame, large: bool) -> DataFrame:
        sym = _sym(e)
        m = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least(F.col("a"), F.col("mb")).alias("m"))
        )
        cond = F.col("b") > F.col("a") if large else F.col("b") < F.col("a")
        out = (
            sym.join(m, "a")
            .filter(cond)
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        if not large:
            # small-star also re-points u ITSELF at m (v <= u includes
            # v = u) — without this, star centers' members lose their
            # only edge and components shatter
            out = out.union(m.select(F.col("a"), F.col("m").alias("b")))
        return out.filter(F.col("a") != F.col("b")).distinct()

    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("a"),
            F.least(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    edge_nodes = (
        _sym(edges).select(F.col("a").alias("node")).distinct().localCheckpoint()
    )
    prev = None
    for _ in range(max_iter):
        edges = _rewire(_rewire(edges, large=True), large=False).localCheckpoint()
        probe = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.col("a") + F.col("b")).alias("s"),
            F.sum(F.hash("a", "b").cast("long")).alias("h"),
        ).collect()[0]
        cur = (probe["n"], probe["s"], probe["h"])
        if cur == prev:
            break
        prev = cur
    # star form: (member, center); centers and pair-graph nodes without a
    # surviving edge label themselves
    labels = edges.select(F.col("a").alias("node"), F.col("b").alias("cluster_id"))
    self_labeled = (
        edge_nodes.join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    singletons = (
        nodes.select(F.col(id_col).alias("node"))
        .join(edge_nodes, "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    return labels.unionByName(self_labeled).unionByName(singletons)


def pack_bestfit(
    docs: DataFrame,
    budget: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    len_col: str = "n_tokens",
) -> DataFrame:
    """First-fit-decreasing BIN packing — the no-split alternative to
    ``pack_sequences``: documents keep their integrity (no mid-document
    cut), each is placed whole into the first context-window bin with
    room, processing longest-first (the classic FFD 11/9·OPT+1 bound on
    wasted bins). The packing every SFT / preference-data build uses
    when examples must not straddle sequence boundaries.

    Input must already carry ``len_col``; items longer than ``budget``
    open their own (overflowing) bin and are flagged — filter or
    truncate them upstream. Deterministic: (length DESC, id ASC)
    processing order, first-fitting-bin tie-break.

    Returns (shard_col, id_col, len_col, bin_id, overflow).

    Scale: packing is inherently sequential WITHIN a shard (each
    placement depends on all fills so far), so parallelism equals shard
    cardinality — at cluster scale pick a shard key with ≥10× cluster
    cores distinct values (date bucket, input file group); within a
    shard the kernel is a numpy-backed pandas pass, Arrow-batched, ~5 ms
    per-group IPC overhead (BASELINE.md grouped-map lesson)."""
    import pandas as pd

    out_schema = (
        f"{shard_col} string, {id_col} long, {len_col} long, "
        "bin_id long, overflow boolean"
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([len_col, id_col], ascending=[False, True])
        fills: list[int] = []
        assign: list[int] = []
        for ln in pdf[len_col].to_numpy():
            for i in range(len(fills)):
                if fills[i] + ln <= budget:
                    fills[i] += int(ln)
                    assign.append(i + 1)
                    break
            else:
                fills.append(int(ln))
                assign.append(len(fills))
        return pd.DataFrame(
            {
                shard_col: pdf[shard_col].to_numpy(),
                id_col: pdf[id_col].to_numpy(),
                len_col: pdf[len_col].to_numpy(),
                "bin_id": assign,
                "overflow": (pdf[len_col] > budget).to_numpy(),
            }
        )

    return docs.select(shard_col, id_col, len_col).groupBy(shard_col).applyInPandas(
        lambda _, pdf: ffd(pdf), out_schema
    )
