"""Scale-stress harness: run selected operators at Nx the bench scale by
unioning id-shifted copies of the sf0.1 tables, and check that runtime
growth stays near-linear (the 100 TB proxy we can measure on one box).

Usage: python tools/stress_scale.py [factor]

Documents get distinct ids AND perturbed text per copy (so dedup
operators face a realistic duplicate density rather than a degenerate
everything-matches-everything corpus); embeddings get distinct ids with
identical vectors (ANN recall unchanged, candidate sets 10x).
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from us_dot_flights_lakehouse_spark.session import get_spark
from us_dot_flights_lakehouse_spark.sources.readers import read_table

SF_DIR = "/root/testdata/sf0.1"


def _query_modules():
    import sys as _s

    return [
        m
        for n, m in list(_s.modules.items())
        if n.startswith("us_dot_flights_lakehouse_spark.queries") and m is not None
    ]


def _seam(attr: str, fn) -> None:
    """Set read_table/read_corpus across ALL loaded query modules.

    A query function's globals live in its family module (agg_q,
    sketch_q, dedup_q, ...); patching any other module is a silent no-op:
    the probe would read the REAL tables on both the 1x and Nx side and
    report a meaningless 1.0x growth. This seam patches every loaded
    queries.* module that binds the attribute."""
    for m in _query_modules():
        if hasattr(m, attr):
            setattr(m, attr, fn)


def _builders(*names: str):
    """(name, builder) pairs looked up in the query catalog."""
    from us_dot_flights_lakehouse_spark.queries import queries

    catalog = queries()
    return [(n, catalog[n]) for n in names]


def _seam_restore() -> None:
    """Re-bind the true readers everywhere (the originals every family
    module imported at definition time)."""
    from us_dot_flights_lakehouse_spark.sources.readers import (
        read_corpus,
        read_table,
    )

    _seam("read_table", read_table)
    _seam("read_corpus", read_corpus)




def scaled(spark, table: str, factor: int, id_col: str, shift: int = 10_000_000):
    base = read_table(spark, SF_DIR, table)
    copies = []
    for i in range(factor):
        c = base.withColumn(id_col, F.col(id_col) + F.lit(i * shift))
        if table == "documents" and i > 0:
            # perturb text so copies are near-dups of each other, not exact
            c = c.withColumn(
                "text", F.concat(F.col("text"), F.lit(f" v{i}"))
            )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.repartition(32)


def timed(label, df):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{label}: {dt:.2f}s", flush=True)
    return dt


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("stress")
    if only == "round10":
        round10_families(spark, factor, sys.argv[3] if len(sys.argv) > 3 else None)
        spark.stop()
        return
    if only == "round12":
        round12_families(spark, factor, sys.argv[3] if len(sys.argv) > 3 else None)
        spark.stop()
        return
    if only == "round13":
        round13_families(spark, factor, sys.argv[3] if len(sys.argv) > 3 else None)
        spark.stop()
        return
    if only == "round14":
        round14_families(spark, factor, sys.argv[3] if len(sys.argv) > 3 else None)
        spark.stop()
        return
    if only == "round7":
        round7_families(spark, factor)
        spark.stop()
        return
    if only == "round7b":
        round7b_families(spark, factor)
        spark.stop()
        return
    if only == "round6":
        round6_families(spark, factor)
        spark.stop()
        return
    if only == "round6b":
        round6b_families(spark, factor)
        spark.stop()
        return
    if only == "round6c":
        round6c_families(spark, factor)
        spark.stop()
        return
    if only == "round6d":
        round6d_families(spark, factor)
        spark.stop()
        return
    if only == "round5b":
        round5b_families(spark, factor)
        spark.stop()
        return
    if only == "round5":
        docs1 = scaled(spark, "documents", 1, "doc_id").cache()
        docsN = scaled(spark, "documents", factor, "doc_id").cache()
        docs1.count(); docsN.count()
        emb1 = scaled(spark, "embeddings", 1, "vec_id").cache()
        embN = scaled(spark, "embeddings", factor, "vec_id").cache()
        emb1.count(); embN.count()
        round5_families(spark, docs1, docsN, emb1, embN, factor)
        spark.stop()
        return

    from us_dot_flights_lakehouse_spark.llm.dedup import (
        exact_dedup_groups,
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from us_dot_flights_lakehouse_spark.llm.similarity import lsh_cosine_topk
    from us_dot_flights_lakehouse_spark.llm.textstats import text_stats

    docs1 = scaled(spark, "documents", 1, "doc_id").cache()
    docsN = scaled(spark, "documents", factor, "doc_id").cache()
    docs1.count(); docsN.count()

    from us_dot_flights_lakehouse_spark.queries.dedup_q import (
        JACCARD_THRESHOLD,
        SIMHASH_MAX_HAMMING,
    )

    for label, fn in [
        ("exact_dedup", exact_dedup_groups),
        ("minhash_lsh", lambda d: minhash_lsh_pairs(d, threshold=JACCARD_THRESHOLD)),
        ("simhash_pairs", lambda d: simhash_pairs(d, max_hamming=SIMHASH_MAX_HAMMING)),
        ("text_stats", text_stats),
    ]:
        t1 = timed(f"{label}@1x", fn(docs1))
        tN = timed(f"{label}@{factor}x", fn(docsN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    emb1 = scaled(spark, "embeddings", 1, "vec_id").cache()
    embN = scaled(spark, "embeddings", factor, "vec_id").cache()
    emb1.count(); embN.count()
    q1 = emb1.limit(20)
    t1 = timed("lsh_topk@1x", lsh_cosine_topk(emb1, q1, k=5, dim=64))
    tN = timed(f"lsh_topk@{factor}x", lsh_cosine_topk(embN, q1, k=5, dim=64))
    print(f"lsh_topk: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # curation family: packing is a per-shard window (linear), TF-IDF is
    # two hash aggs + join + per-doc window (linear in tokens), cluster
    # resolution iterates ONLY the pair graph (grows with true dup pairs)
    from us_dot_flights_lakehouse_spark.llm.curation import (
        dup_clusters,
        pack_sequences,
        tfidf_topk,
    )
    from us_dot_flights_lakehouse_spark.llm.dedup import minhash_lsh_pairs as _mlp

    for label, fn in [
        ("pack_sequences", lambda d: pack_sequences(d, budget=512)),
        ("tfidf_topk", lambda d: tfidf_topk(d, k=3)),
    ]:
        t1 = timed(f"{label}@1x", fn(docs1))
        tN = timed(f"{label}@{factor}x", fn(docsN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    def clusters(d):
        return dup_clusters(d.select("doc_id"), _mlp(d, threshold=JACCARD_THRESHOLD))

    t1 = timed("dup_clusters@1x", clusters(docs1))
    tN = timed(f"dup_clusters@{factor}x", clusters(docsN))
    print(
        f"dup_clusters: growth {tN / t1:.1f}x at {factor}x rows "
        "(iterates the pair graph only; pair count grows quadratically in "
        "cluster size by construction of this corpus)",
        flush=True,
    )

    # exact all-pairs cosine: FLOPs are inherently quadratic in rows, so the
    # check here is NOT linear growth — it's that per-task memory stays at
    # 2 blocks (no driver materialization) and wall-clock tracks FLOPs/cores
    from us_dot_flights_lakehouse_spark.llm.dedup import embedding_neardup_pairs

    t1 = timed("emb_neardup@1x", embedding_neardup_pairs(emb1, threshold=0.45))
    tN = timed(
        f"emb_neardup@{factor}x",
        embedding_neardup_pairs(embN, threshold=0.45, n_blocks=32),
    )
    print(
        f"emb_neardup: growth {tN / t1:.1f}x at {factor}x rows "
        f"({factor * factor}x FLOPs; executor-side blocks only)",
        flush=True,
    )

    # LSH-pruned variant: FLOPs are candidate-bound, not n² — report the
    # pruning ratio alongside the timing so the growth has a denominator
    from us_dot_flights_lakehouse_spark.llm.dedup import embedding_neardup_pairs_lsh

    for label, e, n in (("1x", emb1, None), (f"{factor}x", embN, None)):
        rows = e.count()
        t = timed(
            f"emb_neardup_lsh@{label}",
            embedding_neardup_pairs_lsh(e, threshold=0.45, dim=64),
        )
        all_pairs = rows * (rows - 1) // 2
        print(
            f"emb_neardup_lsh@{label}: {rows} vecs, all-pairs {all_pairs}",
            flush=True,
        )

    # round-4 families: PQ ANN (encode linear, ADC scan linear on the
    # compressed code table), JL projection (narrow scan), and the
    # media-decode kernels (per-row Python, embarrassingly parallel)
    from us_dot_flights_lakehouse_spark.llm.similarity import (
        pq_cosine_topk,
        random_project,
    )

    t1 = timed("pq_topk@1x", pq_cosine_topk(emb1, q1, k=5, dim=64))
    tN = timed(f"pq_topk@{factor}x", pq_cosine_topk(embN, q1, k=5, dim=64))
    print(f"pq_topk: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    t1 = timed("random_project@1x", random_project(emb1, out_dim=16, dim=64))
    tN = timed(
        f"random_project@{factor}x", random_project(embN, out_dim=16, dim=64)
    )
    print(f"random_project: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    import numpy as np
    import pandas as pd

    from us_dot_flights_lakehouse_spark.llm import multimodal

    def wav_synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = [
                wav_encode(
                    ((int(d) * 31 + np.arange(256) * 7919) % 4001 - 2000).astype(
                        np.int16
                    ),
                    8000,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    def gif_synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import gif_encode

        pal = [(i, i, i) for i in range(256)]
        for pdf in batches:
            payloads = [
                gif_encode(
                    ((11 * int(d) + 3 * np.arange(64)) % 256)
                    .astype(np.uint8)
                    .reshape(8, 8),
                    pal,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    for label, synth, op in (
        ("audio_decode", wav_synth, multimodal.decode_audio),
        ("gif_decode", gif_synth, multimodal.decode_image),
    ):
        d1 = docs1.select("doc_id").mapInPandas(synth, "id long, payload binary")
        dN = docsN.select("doc_id").mapInPandas(synth, "id long, payload binary")
        t1 = timed(f"{label}@1x", op(d1))
        tN = timed(f"{label}@{factor}x", op(dN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # round-4 (continuation) families: repetition stats (per-row array
    # lambdas — linear), BPE pair counts (corpus agg then
    # vocabulary-bounded work — sublinear once vocab saturates),
    # Bloom-prefiltered incremental dedup (bitmap probe at scan speed,
    # history join fed only the maybe-set), SCD2 changelog collapse (one
    # key-partitioned window, no global sort)
    from us_dot_flights_lakehouse_spark.functions.text import (
        normalized_fingerprint,
    )
    from us_dot_flights_lakehouse_spark.llm import dedup as _dedup
    from us_dot_flights_lakehouse_spark.llm.textstats import repetition_stats
    from us_dot_flights_lakehouse_spark.llm.tokenizer import merge_pair_counts
    from us_dot_flights_lakehouse_spark.operators.scd import scd2_from_changelog

    for label, fn in (
        ("repetition_stats", repetition_stats),
        ("bpe_pair_counts", merge_pair_counts),
    ):
        t1 = timed(f"{label}@1x", fn(docs1))
        tN = timed(f"{label}@{factor}x", fn(docsN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    def bloom_incr(d):
        fp = normalized_fingerprint("text").alias("fp")
        hist = d.filter(F.col("doc_id") % 2 == 0).select(fp).distinct()
        batch = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", fp)
        return _dedup.incremental_dedup_verdict_bloom(
            batch, hist, m_bits=1 << 20
        )

    t1 = timed("bloom_incr_dedup@1x", bloom_incr(docs1))
    tN = timed(f"bloom_incr_dedup@{factor}x", bloom_incr(docsN))
    print(f"bloom_incr_dedup: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    ev1 = scaled(spark, "events", 1, "event_id").cache()
    evN = scaled(spark, "events", factor, "event_id").cache()
    ev1.count(); evN.count()
    t1 = timed(
        "scd2_changelog@1x",
        scd2_from_changelog(ev1, ["user_id"], "event_type", "ts", "event_id"),
    )
    tN = timed(
        f"scd2_changelog@{factor}x",
        scd2_from_changelog(evN, ["user_id"], "event_type", "ts", "event_id"),
    )
    print(f"scd2_changelog: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    round4_families(spark, docs1, docsN, emb1, embN, factor)
    round5_families(spark, docs1, docsN, emb1, embN, factor)
    skew_bench(spark)
    spark.stop()


def round5_families(spark, docs1, docsN, emb1, embN, factor):
    """Round-5 families at Nx: inverted-index novelty, DSIR token join +
    ordered product fold, char-Gini run-length fold, span-corruption
    block gates, patch/channel image kernels, kNN vote, label centroids,
    cohort retention and Markov transitions (events)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from us_dot_flights_lakehouse_spark.functions.text import (
        hash28,
        shingles,
        tokenize,
    )
    from us_dot_flights_lakehouse_spark.llm import multimodal, similarity

    # ts_novel_ngrams shape: shingle df index + join back
    def novelty(d):
        doc_sh = d.select(
            "doc_id", F.explode(shingles(tokenize("text"), 3)).alias("sh")
        )
        dfc = doc_sh.groupBy("sh").agg(F.count("*").alias("df"))
        return doc_sh.join(dfc, "sh").groupBy("doc_id").agg(
            F.count("*").alias("n"),
            F.sum((F.col("df") == 1).cast("long")).alias("novel"),
        )

    # tp_dsir_weights shape: token counts + totals + position-ordered fold
    def dsir(d):
        toks = d.select(
            "doc_id", "lang", F.posexplode(tokenize("text")).alias("pos", "w")
        )
        counts = toks.groupBy("w").agg(
            F.count("*").alias("c_c"),
            F.sum((F.col("lang") == "en").cast("long")).alias("c_t"),
        )
        totals = counts.agg(
            F.sum("c_c").alias("n_c"), F.sum("c_t").alias("n_t"),
            F.count("*").alias("v"),
        )
        ratio = (
            ((F.col("c_t") + 1) * (F.col("n_c") + F.col("v"))).cast("double")
            / ((F.col("c_c") + 1) * (F.col("n_t") + F.col("v"))).cast("double")
        )
        scored = toks.join(counts, "w").crossJoin(F.broadcast(totals)).select(
            "doc_id", "pos", ratio.alias("r")
        )
        return scored.groupBy("doc_id").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pos", "r"))),
                F.lit(1.0),
                lambda acc, x: acc * x["r"],
            ).alias("w")
        )

    # ts_char_gini shape: run-length fold over sorted chars
    def gini(d):
        s = F.regexp_replace(F.lower(F.col("text")), r"\s+", "")
        chars = F.array_sort(F.split(s, ""))
        init = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("sumsq"),
        )
        sumsq = F.aggregate(
            chars,
            init,
            lambda acc, x: F.when(
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
            ),
            lambda acc: acc["sumsq"] + acc["run"] * acc["run"],
        )
        return d.select("doc_id", sumsq.alias("sq"))

    # tp_span_corruption shape: block-indexed hash gates
    def spanc(d):
        toks = tokenize("text")
        did = F.col("doc_id").cast("string")
        n = F.size(toks)
        nb = F.ceil(n / F.lit(3)).cast("int")
        gates = F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda b: F.pmod(
                hash28(F.concat(F.lit("sc:"), did, F.lit(":"), b.cast("string"))),
                F.lit(5),
            )
            == 0,
        )
        return d.select("doc_id", F.size(F.filter(gates, lambda x: x)).alias("ns"))

    for label, fn in (
        ("novel_ngrams", novelty),
        ("dsir_weights", dsir),
        ("char_gini", gini),
        ("span_gates", spanc),
    ):
        t1 = timed(f"{label}@1x", fn(docs1))
        tN = timed(f"{label}@{factor}x", fn(docsN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # mm_patchify / mm_image_norm shape: synth -> Arrow kernels
    def synth_imgs(d):
        def synth(batches):
            rr = np.arange(32)[:, None] // 4
            cc = np.arange(32)[None, :] // 4
            for pdf in batches:
                rows = [
                    (int(x), 32, 32, "L",
                     ((37 * (int(x) % 16) + 3 * rr + 5 * cc) % 256)
                     .astype(np.uint8).tobytes())
                    for x in pdf["doc_id"]
                ]
                yield pd.DataFrame(
                    rows, columns=["id", "width", "height", "mode", "pixels"]
                )

        return d.select("doc_id").mapInPandas(
            synth, schema=multimodal.DECODED_IMAGE_SCHEMA
        )

    for label, op in (
        ("patchify", lambda d: multimodal.patchify_stats(synth_imgs(d), patch=8)),
        ("channel_sums", lambda d: multimodal.channel_sums(synth_imgs(d))),
    ):
        t1 = timed(f"{label}@1x", op(docs1))
        tN = timed(f"{label}@{factor}x", op(docsN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # sim_knn_accuracy shape: brute-force vote (query count fixed)
    def knn(e):
        qs = e.orderBy("vec_id").limit(8)
        topk = similarity.cosine_topk(e, qs, k=5)
        labels = e.select("vec_id", "label")
        votes = topk.join(
            labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        ).groupBy("query_id", "label").agg(F.count("*").alias("n"))
        w = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("label"))
        return votes.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") == 1
        )

    # sim_label_centroids shape: ordered per-cell folds
    def centroids(e):
        comp = e.select(
            "label", "vec_id",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("dim", "val"),
        )
        return comp.groupBy("label", "dim").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("vec_id", "val"))),
                F.lit(0.0),
                lambda acc, x: acc + x["val"],
            ).alias("s")
        )

    for label, fn in (("knn_vote", knn), ("label_centroids", centroids)):
        t1 = timed(f"{label}@1x", fn(emb1))
        tN = timed(f"{label}@{factor}x", fn(embN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # w9/w10 shapes over events
    ev1 = scaled(spark, "events", 1, "event_id").cache()
    evN = scaled(spark, "events", factor, "event_id").cache()
    ev1.count(); evN.count()

    def cohort(ev):
        wk = F.date_trunc("week", F.col("ts")).cast("date")
        firsts = ev.groupBy("user_id").agg(
            F.date_trunc("week", F.min("ts")).cast("date").alias("cw")
        )
        active = ev.select("user_id", wk.alias("aw")).distinct()
        return active.join(firsts, "user_id").groupBy(
            "cw", (F.datediff("aw", "cw") / 7).cast("int").alias("off")
        ).agg(F.count("*").alias("n"))

    def markov(ev):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        pairs = ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        ).filter(F.col("nxt").isNotNull())
        return pairs.groupBy("cur", "nxt").agg(F.count("*").alias("n"))

    for label, fn in (("cohort_retention", cohort), ("markov_transitions", markov)):
        t1 = timed(f"{label}@1x", fn(ev1))
        tN = timed(f"{label}@{factor}x", fn(evN))
        print(f"{label}: growth {tN / t1:.1f}x at {factor}x rows", flush=True)


def round4_families(spark, docs1, docsN, emb1, embN, factor):
    """Round-4-continuation families at Nx (VERDICT r4 item 7): MIPS,
    containment dedup, crop/augment kernels, curriculum staging,
    schema-evolution union, audio resample."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window
    from us_dot_flights_lakehouse_spark.llm import multimodal
    from us_dot_flights_lakehouse_spark.llm.dedup import containment_pairs
    from us_dot_flights_lakehouse_spark.llm.textstats import text_stats
    from us_dot_flights_lakehouse_spark.queries.dedup_q import CONTAINMENT_THRESHOLD

    # MIPS: broadcast 20 probes x one corpus scan (query shape)
    def mips(e):
        corpus = e.select(
            F.col("vec_id").alias("id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        probes = corpus.limit(20).select(
            F.col("id").alias("qid"), F.col("v").alias("qv")
        )
        dot = F.aggregate(
            F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("id"))
        return (
            F.broadcast(probes)
            .join(corpus, F.col("qid") != F.col("id"))
            .select("qid", "id", dot.alias("dot"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
        )

    t1 = timed("mips_topk@1x", mips(emb1))
    tN = timed(f"mips_topk@{factor}x", mips(embN))
    print(f"mips_topk: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # containment: inverted-index join, candidate-bound like the Jaccard path
    t1 = timed(
        "containment@1x", containment_pairs(docs1, threshold=CONTAINMENT_THRESHOLD)
    )
    tN = timed(
        f"containment@{factor}x",
        containment_pairs(docsN, threshold=CONTAINMENT_THRESHOLD),
    )
    print(
        f"containment: growth {tN / t1:.1f}x at {factor}x rows "
        "(pair output grows with true dup density by corpus construction)",
        flush=True,
    )

    # crop + augment: scan-local numpy kernels over synthesized decoded frames
    def img_synth(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                px = ((11 * int(d) + np.arange(32 * 32 * 3)) % 256).astype(np.uint8)
                rows.append((int(d), 32, 32, "RGB", px.tobytes()))
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "mode", "pixels"]
            )

    def crop_aug(d):
        imgs = d.select("doc_id").mapInPandas(
            img_synth, schema=multimodal.DECODED_IMAGE_SCHEMA
        )
        return multimodal.transform_image(
            multimodal.crop_image(imgs, 4, 4, 16, 16), "rot90"
        )

    t1 = timed("crop_augment@1x", crop_aug(docs1))
    tN = timed(f"crop_augment@{factor}x", crop_aug(docsN))
    print(f"crop_augment: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # curriculum: per-source quality ntile (window parallelism = source count)
    def curriculum(d):
        scored = text_stats(d).select("doc_id", "quality_score")
        joined = scored.join(d.select("doc_id", "source"), "doc_id")
        w = Window.partitionBy("source").orderBy(
            F.desc("quality_score"), F.asc("doc_id")
        )
        return joined.select("doc_id", F.ntile(4).over(w).alias("stage"))

    t1 = timed("curriculum@1x", curriculum(docs1))
    tN = timed(f"curriculum@{factor}x", curriculum(docsN))
    print(f"curriculum: growth {tN / t1:.1f}x at {factor}x rows", flush=True)

    # schema-evolution union: two drifted projections of scaled orders
    def evo_union(o):
        old_gen = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        new_gen = o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        return old_gen.unionByName(new_gen, allowMissingColumns=True)

    ord1 = scaled(spark, "orders", 1, "o_orderkey").cache()
    ordN = scaled(spark, "orders", factor, "o_orderkey").cache()
    ord1.count(); ordN.count()
    t1 = timed("evo_union@1x", evo_union(ord1))
    tN = timed(f"evo_union@{factor}x", evo_union(ordN))
    print(f"evo_union: growth {tN / t1:.1f}x at {factor}x rows", flush=True)
    ord1.unpersist(); ordN.unpersist()

    # audio resample: wav decode + pair-mean decimation, zero shuffle
    def wav_synth(batches):
        from us_dot_flights_lakehouse_spark.llm.multimodal import wav_encode

        for pdf in batches:
            payloads = [
                wav_encode(
                    ((int(d) * 31 + np.arange(256) * 7919) % 4001 - 2000).astype(
                        np.int16
                    ),
                    8000,
                )
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"id": pdf["doc_id"], "payload": payloads})

    def resample(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["id"], pdf["samples"]):
                v = np.frombuffer(buf, "<i2").astype(np.int64)
                dec = (v[0::2] + v[1::2]) // 2
                rows.append((int(i), len(dec), int(np.abs(dec).sum())))
            yield pd.DataFrame(rows, columns=["id", "n", "sum_abs"])

    def audio_resample(d):
        wavs = d.select("doc_id").mapInPandas(
            wav_synth, schema="id long, payload binary"
        )
        return multimodal.decode_audio(wavs).mapInPandas(
            resample, schema="id long, n int, sum_abs bigint"
        )

    t1 = timed("audio_resample@1x", audio_resample(docs1))
    tN = timed(f"audio_resample@{factor}x", audio_resample(docsN))
    print(f"audio_resample: growth {tN / t1:.1f}x at {factor}x rows", flush=True)


def skew_bench(spark, n_rows=3_000_000, n_keys=50_000, hot_frac=0.3):
    """Measure a skewed equi-join three ways: AQE skew-split plain join,
    salted join, and (as the degenerate control) AQE off. One key owns
    ``hot_frac`` of the fact side."""
    from pyspark.sql import functions as F
    from us_dot_flights_lakehouse_spark.operators.joins import salted_join

    fact = spark.range(n_rows).select(
        F.when(F.rand(7) < hot_frac, F.lit(0))
        .otherwise((F.rand(11) * n_keys).cast("long"))
        .alias("k"),
        F.col("id").alias("v"),
    ).cache()
    dim = spark.range(n_keys).select(
        F.col("id").alias("dk"), (F.col("id") * 2).alias("dv")
    ).cache()
    fact.count(); dim.count()

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t_plain = timed(
            "skew plain+AQE", fact.join(dim, fact["k"] == dim["dk"])
        )
        t_salted = timed(
            "skew salted(16)", salted_join(fact, dim, "k", "dk", n_salts=16)
        )
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        t_noaqe = timed(
            "skew plain noAQE", fact.join(dim, fact["k"] == dim["dk"])
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    print(
        f"skew summary: plain+AQE {t_plain:.2f}s, salted {t_salted:.2f}s, "
        f"no-AQE {t_noaqe:.2f}s",
        flush=True,
    )




def round5b_families(spark, factor):
    """Round-5 session-2 shapes at Nx, exercised through the REAL catalog
    query code: scaled tables are injected by monkeypatching the reader
    seam, so the measured plan is exactly the production one."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                cache[key] = scaled(spark_, name, f, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "w8_rolling_anomaly",
        "w12_ewma_smoothing",
        "a20_equidepth_histogram",
        "a21_pearson_corr",
        "a22_copurchase_lift",
        "a23_mad_robust_stats",
        "p8_winsorize",
        "p9_standardize",
        "o5_benford_audit",
        "o7_id_continuity",
        "w11_rank_suite",
        "g1_bipartite_rank",
        "j16_point_in_time_join",
        "tp_sft_format",
        "dd_cluster_keep_best",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()




def round6_families(spark, factor):
    """Round-6 shapes at Nx through the REAL catalog code (reader-seam
    monkeypatch, same protocol as round5b). Families: span-level dedup,
    entropy gates, sampled triangle census, MinHash calibration,
    Holt-Winters kernel, FFD packing, interval-align join, Theil-Sen,
    CUSUM/seasonal, HHI, chi-square, conversation lint, drift audit."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                # dims stay 1x (scaling a dim's keys would orphan facts)
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "dd_exact_substr",
        "dd_span_dedup_apply",
        "ts_entropy_gates",
        "dd_minhash_calibration",
        "tp_pack_bestfit",
        "tp_chat_lint",
        "q_schema_drift",
        "ts_zipf_audit",
        "tp_loss_masking",
        "mm_exif_strip",
        "o8_reservoir_sample",
        "ts_source_containment",
        "g2_triangle_count",
        "w17_holt_winters",
        "j17_interval_align",
        "a24_theil_sen",
        "a25_hhi_concentration",
        "a26_chi2_independence",
        "w15_changepoint_cusum",
        "w16_seasonal_decompose",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()


def round6b_families(spark, factor):
    """Round-6 session-2 shapes at Nx through the REAL catalog code —
    the families added after the first round-6 stress batch: sketch
    profile, incremental MinHash probe, CUR/NDCG/Matryoshka/power-
    iteration/Fisher/intrinsic-dim similarity audits, kappa/preference/
    packing-efficiency/BPE-merge training ops, bootstrap CI, order
    reconciliation, dedup pipeline verdict + source report + threshold
    sweep, anomaly ensemble, windowed top-k, audio normalize audit,
    CSV quarantine."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "q_table_stats_approx",
        "dd_incremental_minhash",
        "sim_cur_decomposition",
        "sim_ndcg_eval",
        "sim_matryoshka_truncation",
        "tp_annotation_agreement",
        "sim_power_iteration",
        "tp_preference_pairs",
        "a27_bootstrap_ci",
        "q_order_reconciliation",
        "dd_pipeline_verdict",
        "tp_packing_efficiency",
        "sim_fisher_separability",
        "w18_anomaly_ensemble",
        "st_windowed_topk",
        "sim_intrinsic_dimension",
        "dd_source_dedup_report",
        "mm_audio_normalize_audit",
        "tp_bpe_merge_step",
        "dd_threshold_sweep",
        "src_csv_badrecords",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()


def round6c_families(spark, factor):
    """Round-6 session-3 shapes at Nx through the REAL catalog code: the
    sketch profile's session-3 siblings — ACF, mutual information,
    k-core peel, Mann-Whitney AUC, Heaps' law, LSH recall lift,
    attribution, freshness SLA, Gini, IVF drift, Neyman allocation,
    incremental MinHash probe."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "w19_autocorrelation",
        "a28_mutual_information",
        "g3_kcore_decompose",
        "tp_ranker_auc",
        "ts_heaps_law",
        "sim_lsh_recall_audit",
        "w20_attribution",
        "q_freshness_audit",
        "a29_nation_gini",
        "sim_index_drift",
        "tp_neyman_allocation",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()


def round6d_families(spark, factor):
    """Round-6 session-4 shapes at Nx: LSH planner, scene cuts, MATTR,
    weighted median, in-plan classifier, windowed cardinality, dense-id
    assignment. (x8/x9 are excluded: their write-once fixtures would be
    reused across factors, making the ratio meaningless — their scaling
    shapes are the already-stressed full-outer diff and bucketed join.)"""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "dd_lsh_tuning_curve",
        "mm_scene_cuts",
        "ts_ttr_diversity",
        "ts_quality_classifier",
        "a30_weighted_median",
        "st_windowed_cardinality",
        "o9_dense_rank_ids",
        "q_skew_report",
        "g4_label_propagation",
        "a31_ks_drift",
        "mm_frame_dedup",
        "dd_incremental_clusters",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()




def round14_families(spark, factor, only_target=None):
    """Round-14 probes at Nx through the REAL catalog code (VERDICT r13
    item 6: the late-r13 rewrites and the driver-histogram over-cap path
    had pattern coverage but no direct probe rows).

        python tools/stress_scale.py 100 round14 [target]

    - a18_stat_moments / p9_standardize / p8_winsorize /
      a27_bootstrap_ci: lineitem/orders scaled Nx. These gained the
      gated ``spread_scan`` repartition in r14 — at Nx the scaled input
      arrives in >= parallelism partitions, so the probe exercises the
      SKIP branch (the 100 TB shape: map-side partials, no exchange).
      The scan-parts memo is cleared per factor so the 1x side keeps
      its real (narrow) reading.
    - a22_copurchase_lift / q_order_reconciliation: lineitem Nx through
      the same seam (basket collects + ordered folds at scale).
    - hist_fallback_{a20,a23,a30,advisor}: the driver-histogram callers
      FORCED over the cap (cap=0) at Nx — the 100 TB fallback shape
      (percentile()/window plans) run end-to-end at scale, answering the
      verdict's "force cap=0 to exercise the 100 TB shape" item.
    """
    from us_dot_flights_lakehouse_spark.operators import quantiles as _q
    from us_dot_flights_lakehouse_spark.queries import agg_q, audit_q, funcs_q
    from us_dot_flights_lakehouse_spark.queries import sketch_q
    from us_dot_flights_lakehouse_spark.sources import readers as _readers

    cache = {}

    def scaled_tbl(table, key, f):
        if (table, f) not in cache:
            cache[(table, f)] = scaled(spark, table, f, key).cache()
            cache[(table, f)].count()
        return cache[(table, f)]

    targets = {
        "a18_stat_moments": (agg_q.a18_stat_moments, "lineitem", "l_orderkey", None),
        "p9_standardize": (funcs_q.p9_standardize, "lineitem", "l_orderkey", None),
        "p8_winsorize": (funcs_q.p8_winsorize, "lineitem", "l_orderkey", None),
        "a27_bootstrap_ci": (agg_q.a27_bootstrap_ci, "orders", "o_orderkey", None),
        "a22_copurchase_lift": (
            agg_q.a22_copurchase_lift, "lineitem", "l_orderkey", None),
        "q_order_reconciliation": (
            audit_q.q_order_reconciliation, "lineitem", "l_orderkey", None),
        "hist_fallback_a20": (
            agg_q.a20_equidepth_histogram, "lineitem", "l_orderkey", 0),
        "hist_fallback_a23": (
            agg_q.a23_mad_robust_stats, "lineitem", "l_orderkey", 0),
        "hist_fallback_a30": (
            agg_q.a30_weighted_median, "lineitem", "l_orderkey", 0),
        "hist_fallback_advisor": (
            sketch_q.q_range_partition_advisor, "lineitem", "l_orderkey", 0),
    }
    run = [t for t in targets if only_target in (None, t)]
    if not run:
        sys.exit(f"unknown round14 target {only_target!r}")
    saved_cap = _q.DRIVER_HIST_MAX_ROWS
    saved_gate = _q.DRIVER_HIST_MAX_INPUT_BYTES
    try:
        for name in run:
            fn, table, key, cap = targets[name]
            if cap is not None:
                _q.DRIVER_HIST_MAX_ROWS = cap
                _q.DRIVER_HIST_MAX_INPUT_BYTES = 0
            else:
                _q.DRIVER_HIST_MAX_ROWS = saved_cap
                _q.DRIVER_HIST_MAX_INPUT_BYTES = saved_gate
            # untimed warmup at 1x (JVM/codegen/footer), then 1x vs Nx
            _seam_restore()
            _readers._SCAN_PARTS_MEMO.clear()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times = []
            for f in (1, factor):
                if f == 1:
                    _seam_restore()
                else:
                    _seam(
                        "read_table",
                        lambda s_, d_, n_, f=f: (
                            scaled_tbl(table, key, f)
                            if n_ == table
                            else read_table(s_, d_, n_)
                        ),
                    )
                # the scan-parts memo is keyed on the REAL table path;
                # the seamed df has a different (cached, wide) layout, so
                # clear between factors or the 1x reading inherits the
                # Nx probe's partition count (and vice versa)
                _readers._SCAN_PARTS_MEMO.clear()
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                print(f"{name}@{f}x: {dt:.2f}s", flush=True)
                times.append(dt)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _q.DRIVER_HIST_MAX_ROWS = saved_cap
        _q.DRIVER_HIST_MAX_INPUT_BYTES = saved_gate
        _readers._SCAN_PARTS_MEMO.clear()
        _seam_restore()


def round12_families(spark, factor, only_target=None):
    """Round-12 probe: the new KMV compositions at Nx.

        python tools/stress_scale.py 100 round12 [target]

    - a41_sampled_kmv_crosscheck through the standard reader-seam
      monkeypatch (orders scaled, o_custkey unscaled — rows grow Nx,
      key cardinality fixed, so the two sketch passes and the sampled
      scan must stay ~linear in the row scan; blobs are cap-bounded).
    - x12_build: the mart BUILD (base blobs + delta partials + S5
      MERGE upsert) on an explicit throwaway path per factor — the
      production path is a write-once fixture keyed on the REAL source
      fingerprint, so the monkeypatch route would silently reuse the
      1x mart. This is the maintenance cost itself: expected ~linear
      (two row-scale hashing scans; everything past the partials is
      mart-sized).
    - w26's sketch path reads the (factor-independent, ~80-row) mart
      and is not row-scale by construction; its exact companion is
      w25's already-probed shape — not re-probed."""
    import shutil
    import tempfile

    from us_dot_flights_lakehouse_spark.queries import sketch_q

    cache = {}

    def scaled_orders(f):
        if f not in cache:
            cache[f] = scaled(spark, "orders", f, "o_orderkey").cache()
            cache[f].count()
        return cache[f]

    run_a41 = only_target in (None, "a41_sampled_kmv_crosscheck")
    run_build = only_target in (None, "x12_build")
    run_jadv = only_target in (None, "q_join_cardinality_advisor")
    if not (run_a41 or run_build or run_jadv):
        sys.exit(f"unknown round12 target {only_target!r}")
    try:
        if run_a41:
            times = []
            for f in (1, factor):
                _seam("read_table", lambda s_, d_, n_, f=f: (
                    scaled_orders(f) if n_ == "orders" else read_table(s_, d_, n_)
                ))
                times.append(
                    timed(
                        f"a41_sampled_kmv_crosscheck@{f}x",
                        sketch_q.a41_sampled_kmv_crosscheck(spark, SF_DIR),
                    )
                )
            print(
                f"a41_sampled_kmv_crosscheck: growth {times[1] / times[0]:.1f}x "
                f"at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()
    if run_jadv:
        # join advisor: facts (lineitem+orders) scaled, dims at 1x.
        # lineitem copies shift l_orderkey and orders copies shift
        # o_orderkey by the same per-copy offset, so the
        # lineitem_orders key overlap is preserved while both key sets
        # grow Nx; l_partkey/l_suppkey/o_custkey cardinality stays
        # fixed (cap-bounded sketch streams). Expected ~linear: the
        # sketch path is a row scan into <=k-long partials; the exact
        # companions are key-grain groupBys.
        li_cache = {}

        def scaled_li(f):
            if f not in li_cache:
                li_cache[f] = scaled(spark, "lineitem", f, "l_orderkey").cache()
                li_cache[f].count()
            return li_cache[f]

        try:
            times = []
            for f in (1, factor):
                _seam("read_table", lambda s_, d_, n_, f=f: (
                    scaled_li(f)
                    if n_ == "lineitem"
                    else scaled_orders(f)
                    if n_ == "orders"
                    else read_table(s_, d_, n_)
                ))
                times.append(
                    timed(
                        f"q_join_cardinality_advisor@{f}x",
                        sketch_q.q_join_cardinality_advisor(spark, SF_DIR),
                    )
                )
            print(
                f"q_join_cardinality_advisor: growth "
                f"{times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
        finally:
            _seam_restore()
    if run_build:
        times = []
        for f in (1, factor):
            path = f"{tempfile.gettempdir()}/us_dot_x12stress_{f}x"
            shutil.rmtree(path, ignore_errors=True)
            t0 = time.perf_counter()
            sketch_q._x12_build_mart(spark, scaled_orders(f), path)
            t = time.perf_counter() - t0
            print(f"x12_build@{f}x: {t:.2f}s", flush=True)
            times.append(t)
            shutil.rmtree(path, ignore_errors=True)
        print(
            f"x12_build: growth {times[1] / times[0]:.1f}x at {factor}x rows",
            flush=True,
        )


def round10_families(spark, factor, only_target=None):
    """The 100x probe (VERDICT r7 item 2, carried to r10): the heaviest
    bench families — pair-output-bound dedup, graph expansions, the
    rolling-anomaly Arrow kernel — plus the round-9/10 sketch queries,
    at Nx through the REAL catalog code (reader-seam monkeypatch, dims
    held at 1x). Run with factor=100 for the scale-evidence gap the
    r7-r9 verdicts flagged; an optional 4th argv selects ONE target so
    long runs can be driven incrementally under a per-command timeout:

        python tools/stress_scale.py 100 round10 [target]

    Interpretation notes (mirrored in BASELINE.md when recorded):
    - pair-mining families (dd_minhash_lsh, dd_cluster_keep_best) have
      pair OUTPUT that grows with true duplicate density; this corpus
      construction (perturbed copies) makes every copy-set a near-dup
      clique, so super-linear pair counts are a property of the DATA,
      not the plan — the check is that runtime tracks candidate/pair
      count, not that it stays linear;
    - g1/g5 graph expansions grow with edge count x neighborhood size;
    - the sketch queries must stay ~linear (partials are cap-bounded;
      only the exact-companion CHECK is row-scale)."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "a38_kll_quantile_sketch",
        "a39_mg_topk_sketch",
        "w23_sketch_rolling_quantile",
        "w24_mg_rolling_topk",
        "st_windowed_quantile_sketch",
        "a40_kmv_distinct_sketch",
        "w25_kmv_rolling_distinct",
        "dd_kmv_source_overlap",
        "w8_rolling_anomaly",
        "g1_bipartite_rank",
        "g5_neighbor_overlap",
        "dd_minhash_lsh",
        "dd_cluster_keep_best",
        "dd_incremental_clusters",
    )
    if only_target:
        targets = [(n, f) for n, f in targets if n == only_target]
        if not targets:
            sys.exit(f"unknown round10 target {only_target!r}")
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
            # free the Nx caches between targets — at 100x two cached
            # tables can already be tens of GiB
            for key, df in list(cache.items()):
                if key[1] != 1:
                    df.unpersist()
                    del cache[key]
    finally:
        _seam_restore()


def round7_families(spark, factor):
    """Round-7 shapes at Nx through the REAL catalog code (reader-seam
    monkeypatch, same protocol as round5b/6*): drift suite (KS's W1 and
    Welch-t siblings), salted skew join, systematic sampling, Cramér's V,
    neighbor-overlap graph pairs, SoftDeDup weights, truncation audit,
    dedup-aware mixture, rate alerts, histogram equalization, and the
    incremental gram probe. Fixture-write-bound queries (x10 partitioned
    publish, src_xml) are excluded — their fixtures are keyed to the 1x
    source by content fingerprint, so a scaled reader would silently
    reuse 1x data; their scan-side scale behavior is the plain
    partitioned/xml reader path covered by S-family stress."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "a32_wasserstein_drift",
        "a33_welch_t_drift",
        "j18_salted_skew_join",
        "o10_systematic_sample",
        "a34_cramers_v",
        "g5_neighbor_overlap",
        "dd_soft_dedup_weights",
        "tp_context_truncation",
        "tp_dedup_aware_mixture",
        "dd_incremental_span_probe",
        "mm_hist_equalize",
        "st_event_rate_alerts",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()

def round7b_families(spark, factor):
    """Round-7 waves 4-6 at Nx through the REAL catalog code (same
    reader-seam protocol): quantile drift table, code detection, rolling
    p90 band, PK audit, period-over-period, boilerplate report, new-user
    rate, composed sample weights, SQL UDF, parameterized SQL,
    partitioned UDTF, boxplot profile, silence gaps."""

    id_cols = {
        "events": "event_id",
        "documents": "doc_id",
        "embeddings": "vec_id",
        "lineitem": "l_orderkey",
        "orders": "o_orderkey",
        "customer": "c_custkey",
        "nation": "n_nationkey",
        "supplier": "s_suppkey",
        "region": "r_regionkey",
        "part": "p_partkey",
    }
    cache = {}

    def scaled_table(f):
        def read(spark_, sf_dir_, name, *a, **k):
            key = (name, f)
            if key not in cache:
                eff = 1 if name in ("nation", "region", "supplier", "part", "customer") else f
                cache[key] = scaled(spark_, name, eff, id_cols[name]).cache()
                cache[key].count()
            return cache[key]

        return read

    targets = _builders(
        "a35_quantile_drift",
        "ts_code_detect",
        "w21_rolling_quantile",
        "q_pk_uniqueness_audit",
        "w22_period_over_period",
        "ts_boilerplate_lines",
        "st_new_user_rate",
        "tp_final_sample_weights",
        "f_sql_udf",
        "f_param_sql",
        "f_udtf_partitioned",
        "a36_boxplot_profile",
        "st_silence_gaps",
    )
    try:
        for name, fn in targets:
            times = []
            for f in (1, factor):
                _seam("read_table", scaled_table(f))
                _seam("read_corpus", scaled_table(f))
                t = timed(f"{name}@{f}x", fn(spark, SF_DIR))
                times.append(t)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()




def round13_families(spark, factor, only_target=None):
    """Round-13 probes at Nx through the REAL catalog code.

        python tools/stress_scale.py 100 round13 [target]

    - q_groupby_cardinality_advisor: orders scaled Nx (o_orderkey
      shifted per copy, so the high-card key-sets grow Nx while the
      low-card dims stay fixed — exactly the mixed-NDV shape a real
      ANALYZE faces). This is the one r12 query the verdict flagged as
      pattern-covered but not directly probed: the 6x codegen struct
      fan-out ahead of the KMV partials is what the a40 analogy did not
      measure. Expected ~linear: the fan-out is a per-row map, the
      partials are <=k longs per (task, key-set).
    - j19_advised_join: orders scaled Nx, customer at 1x. Cost = the
      advisor table (4 edges, sketch path linear) + the advised join
      itself (broadcast at 1x right side). Expected ~linear.
    """
    from us_dot_flights_lakehouse_spark.queries import queries

    cache = {}

    def scaled_orders(f):
        if f not in cache:
            cache[f] = scaled(spark, "orders", f, "o_orderkey").cache()
            cache[f].count()
        return cache[f]

    li_cache = {}

    def scaled_li(f):
        if f not in li_cache:
            li_cache[f] = scaled(spark, "lineitem", f, "l_orderkey").cache()
            li_cache[f].count()
        return li_cache[f]

    targets = {
        "q_groupby_cardinality_advisor": ("orders",),
        # j19 requests only its orders_customer edge since the
        # single-edge advisor refactor — lineitem is no longer scanned
        "j19_advised_join": ("orders",),
        # two scan passes (percentile cuts + bucket histogram), both
        # full-codegen aggregates — expected ~linear
        "q_range_partition_advisor": ("lineitem",),
    }
    run = [t for t in targets if only_target in (None, t)]
    if not run:
        sys.exit(f"unknown round13 target {only_target!r}")
    try:
        for name in run:
            scaled_names = targets[name]
            fn = queries()[name]
            # untimed warmup at 1x: JVM/codegen/parquet-footer costs
            # otherwise inflate the 1x reading and UNDERSTATE growth
            _seam_restore()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times = []
            for f in (1, factor):
                _seam("read_table", lambda s_, d_, n_, f=f, sn=scaled_names: (
                    scaled_orders(f)
                    if n_ == "orders" and "orders" in sn
                    else scaled_li(f)
                    if n_ == "lineitem" and "lineitem" in sn
                    else read_table(s_, d_, n_)
                ))
                # time CONSTRUCTION + execution: j19 collects its advisor
                # table while BUILDING the DataFrame (the plan-time scalar
                # the seam exists for), so timing only the returned plan
                # would silently exclude the advisor's scan
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                print(f"{name}@{f}x: {dt:.2f}s", flush=True)
                times.append(dt)
            print(
                f"{name}: growth {times[1] / times[0]:.1f}x at {factor}x rows",
                flush=True,
            )
    finally:
        _seam_restore()


if __name__ == "__main__":
    main()
