"""Corpus I/O formats (src_*) plus misc ops hosted with the documents table.

The module owns its catalog entries (``QUERIES``/``ORACLES`` at the end).
See the package ``__init__`` for the cross-engine determinism contract.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from us_dot_flights_lakehouse_spark.sources.readers import read_corpus, read_table


def src_wds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC: WebDataset tar-shard format end-to-end on the Python
    DataSource API (sources/wds.py) — export the documents table to tar
    shards (one per partition, WebDataset ``key.member`` naming,
    deterministic bytes), read the shards back (one input partition per
    shard), and project per-member byte lengths. The oracle recomputes
    key/byte-length from the table, so a fault anywhere in the tar
    write → tar scan chain (truncation, naming, payload corruption)
    hash-fails."""
    import tempfile

    from us_dot_flights_lakehouse_spark.sources import wds

    wds.register(spark)
    docs = read_table(spark, sf_dir, "documents")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{tempfile.gettempdir()}/us_dot_wds_{sf_tag}_v1"
    (
        docs.select(
            F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("key"),
            F.lit("txt").alias("member"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        .repartition(4)
        .write.format("webdataset")
        .mode("overwrite")
        .save(out)
    )
    back = spark.read.format("webdataset").load(out)
    return back.select(
        F.col("key").cast("long").alias("doc_id"),
        "member",
        F.length("payload").cast("int").alias("n_bytes"),
    )


SRC_WDS_ORACLE = """
SELECT doc_id, 'txt' AS member,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
FROM documents
"""


def src_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC: JSON-lines round-trip — export the documents table as JSONL
    (sources/writers.py::write_jsonl), scan it back with the mandatory
    contract schema (readers.py::read_jsonl; no inference pass), and
    project doc metadata + an md5 over the text. The md5 makes the oracle
    sensitive to ANY fidelity loss in JSON escaping/encoding, not just
    lengths."""
    import tempfile

    from us_dot_flights_lakehouse_spark.sources.readers import read_jsonl
    from us_dot_flights_lakehouse_spark.sources.writers import write_jsonl

    docs = read_table(spark, sf_dir, "documents")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{tempfile.gettempdir()}/us_dot_jsonl_{sf_tag}_v1"
    write_jsonl(docs, out)
    back = read_jsonl(spark, out, docs.schema)
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("text_md5"),
    )


SRC_JSONL_ORACLE = """
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 FROM documents
"""


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC: ORC round-trip through the built-in native columnar
    reader/writer — same fidelity contract as the JSONL round-trip, plus
    the read-back projection exercises ORC column pruning (only doc_id +
    text + metadata columns are decoded)."""
    import tempfile

    from us_dot_flights_lakehouse_spark.sources.readers import read_orc
    from us_dot_flights_lakehouse_spark.sources.writers import write_orc

    docs = read_table(spark, sf_dir, "documents")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{tempfile.gettempdir()}/us_dot_orc_{sf_tag}_v1"
    write_orc(docs, out)
    back = read_orc(spark, out)
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("text_md5"),
    )


SRC_ORC_ORACLE = SRC_JSONL_ORACLE


BIN_N_FILES = 200


def src_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC: binary-file source — ingest a directory of raw binary blobs
    through Spark's ``binaryFile`` format (the standard entry point for
    image/audio corpora: one row per file with path, length, content),
    recover the record id from the file path, and emit length + content
    md5. The fixture files are synthesized deterministically from doc_id
    (payload byte j = (doc_id·7 + j) mod 256, length doc_id mod 50 + 10)
    so the oracle states every file's digest in closed form — any
    truncation or corruption in the scan hash-fails.

    Scale: binaryFile scans parallelize per file and prune with
    pathGlobFilter; for small-file corpora at 100 TB, compact into
    WebDataset shards (src_wds_roundtrip) instead."""
    import os
    import tempfile

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = f"{tempfile.gettempdir()}/us_dot_bin_{sf_tag}_v1"
    if not os.path.isdir(out):  # deterministic fixture, write-once
        # per-process tmp dir so concurrent runs never share a staging
        # area; a lost rename race (ENOTEMPTY: another writer won) is
        # success, since the content is deterministic (ADVICE r5)
        tmp = f"{out}.tmp.{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for d in range(BIN_N_FILES):
            payload = bytes((d * 7 + j) % 256 for j in range(d % 50 + 10))
            with open(f"{tmp}/doc_{d:05d}.bin", "wb") as fh:
                fh.write(payload)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):
                raise
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    doc_id = F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("long")
    # only ids present in the documents table (sf0.001 has < BIN_N_FILES)
    docs = read_corpus(spark, sf_dir, "documents").select("doc_id")
    return (
        back.select(
            doc_id.alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .join(docs, "doc_id")
    )


def _binary_oracle() -> str:
    import hashlib

    rows = []
    for d in range(BIN_N_FILES):
        payload = bytes((d * 7 + j) % 256 for j in range(d % 50 + 10))
        rows.append(f"({d}, {len(payload)}, '{hashlib.md5(payload).hexdigest()}')")
    values = ",\n".join(rows)
    return f"""
WITH fixture(doc_id, n_bytes, content_md5) AS (VALUES {values})
SELECT d.doc_id, CAST(f.n_bytes AS BIGINT) AS n_bytes, f.content_md5
FROM fixture f JOIN documents d ON f.doc_id = d.doc_id
"""


def j16_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J16: point-in-time (feature-store) join — attach to every event
    the SCD2 dimension version that was EFFECTIVE at the event's own
    timestamp: the lookup that keeps training data leak-free (a feature
    computed tomorrow must not describe yesterday's example). The dim is
    the user's SCD2 state history (operators/scd.py over the event_type
    changelog); the lookup composes the as-of join operator (greatest
    effective_from ≤ ts) and certifies containment against
    effective_to.

    Scale: the as-of join is the union-window single-shuffle design
    (operators/joins.py:136) keyed by user — no range explosion."""
    from us_dot_flights_lakehouse_spark.operators.joins import asof_join
    from us_dot_flights_lakehouse_spark.operators.scd import scd2_from_changelog

    events = read_table(spark, sf_dir, "events")
    dim = scd2_from_changelog(
        events, ["user_id"], "event_type", "ts", "event_id"
    ).select("user_id", "state", "effective_from", "effective_to", "version")
    facts = events.select("event_id", "user_id", "ts")
    joined = asof_join(
        facts,
        dim,
        keys=["user_id"],
        left_ts="ts",
        right_ts="effective_from",
        right_cols=["state", "version", "effective_to"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "state",
        F.col("version").cast("int").alias("version"),
        (
            F.col("effective_to").isNull() | (F.col("ts") < F.col("effective_to"))
        ).alias("within_version"),
    )


J16_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type AS state, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
), changes AS (
  -- null-safe change detection mirroring scd2_from_changelog (ADVICE r5)
  SELECT user_id, state, ts, event_id FROM ordered
  WHERE prev_ts IS NULL OR state IS DISTINCT FROM prev_state
), hist AS (
  SELECT user_id, state,
         ts AS effective_from,
         lead(ts) OVER w AS effective_to,
         row_number() OVER w AS version
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), pit AS (
  SELECT e.event_id, e.user_id, e.ts, h.state, h.version, h.effective_to,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY h.effective_from DESC, h.version DESC)
           AS rn
  FROM events e JOIN hist h
    ON e.user_id = h.user_id AND h.effective_from <= e.ts
)
SELECT event_id, user_id, ts, state, CAST(version AS INTEGER) AS version,
       (effective_to IS NULL OR ts < effective_to) AS within_version
FROM pit WHERE rn = 1
"""


RESERVOIR_K = 20


RESERVOIR_SALT = "r6res"


def o8_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8: deterministic fixed-size uniform sample per stratum — the
    distributed equivalent of reservoir sampling: priority = md5 of the
    salted id (a uniform hash draw), keep the k smallest priorities per
    source. Unlike Spark's ``sample()`` (Bernoulli, approximate size,
    seed-and-partitioning dependent) this yields EXACTLY min(k, n) rows
    per stratum and the same rows on any cluster layout or retry —
    reproducibility a training-data audit needs. Changing the salt
    redraws the sample.

    Scale: one shuffle (per-source top-k — Spark turns the
    rank-filter into partial top-k per partition); no global sort."""
    docs = read_corpus(spark, sf_dir, "documents")
    pri = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":" + RESERVOIR_SALT)))
    w = Window.partitionBy("source").orderBy("priority")
    return (
        docs.select("source", "doc_id", pri.alias("priority"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= RESERVOIR_K)
        .select("source", "doc_id", "priority", F.col("sample_rank").cast("long").alias("sample_rank"))
    )


O8_RESERVOIR_ORACLE = f"""
WITH pri AS (
  SELECT source, doc_id,
         md5(CAST(doc_id AS VARCHAR) || ':{RESERVOIR_SALT}') AS priority
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY priority)
            AS sample_rank
  FROM pri
)
SELECT source, doc_id, priority, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= {RESERVOIR_K}
"""


SCHEMA_DRIFT_TOL = 0.2


def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q: cross-partition profile-drift audit — treat each ingest source
    as a partition and compare its observed column profile against the
    corpus baseline: row count share, empty/degenerate text rate,
    language-domain coverage (langs present here vs corpus-wide), and
    mean-length drift ratio. The "schema didn't change but the DATA
    did" detector every multi-source ingest runs before a refresh is
    published; a drifting partition gets quarantined upstream of
    training. All counts exact; ratios pointwise doubles.

    Scale: two source-cardinality aggregates plus one broadcast of the
    1-row corpus baseline — the scan dominates."""
    docs = read_corpus(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.length(F.trim("text")) == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("empty_text"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    corpus = docs.agg(
        F.count("*").cast("bigint").alias("c_docs"),
        F.countDistinct("lang").cast("bigint").alias("c_langs"),
        F.sum("n_chars").cast("bigint").alias("c_chars"),
    )
    avg_chars = F.col("sum_chars").cast("double") / F.col("n_docs").cast("double")
    corpus_avg = F.col("c_chars").cast("double") / F.col("c_docs").cast("double")
    drift = avg_chars / corpus_avg
    return per_src.crossJoin(F.broadcast(corpus)).select(
        "source",
        "n_docs",
        "empty_text",
        "n_langs",
        F.col("c_langs").alias("corpus_langs"),
        avg_chars.alias("avg_chars"),
        drift.alias("len_drift_ratio"),
        (
            (F.col("n_langs") < F.col("c_langs"))
            | (F.abs(drift - 1.0) > SCHEMA_DRIFT_TOL)
        ).alias("drifted"),
    )


Q_SCHEMA_DRIFT_ORACLE = f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS empty_text,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY 1
), corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS c_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS c_langs,
         CAST(sum(n_chars) AS BIGINT) AS c_chars
  FROM documents
)
SELECT source, n_docs, empty_text, n_langs, c_langs AS corpus_langs,
       CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_chars,
       (CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE))
         / (CAST(c_chars AS DOUBLE) / CAST(c_docs AS DOUBLE))
         AS len_drift_ratio,
       (n_langs < c_langs
        OR abs((CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE))
               / (CAST(c_chars AS DOUBLE) / CAST(c_docs AS DOUBLE)) - 1.0)
           > {SCHEMA_DRIFT_TOL}) AS drifted
FROM per_src, corpus
"""


def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC: XML round-trip through Spark 4's BUILT-IN xml data source
    (the spark-xml package merged upstream) — export the documents table
    as row-tagged XML, scan it back with an explicit schema, and certify
    fidelity with an md5 over the text (XML entity escaping of &/</> and
    newline preservation are exactly what this catches).

    Scale: the XML reader splits per file like json; for 100 TB prefer
    columnar, but feeds ARRIVE as XML — this is the ingest edge."""
    import os
    import tempfile

    from us_dot_flights_lakehouse_spark.fixtures import source_fingerprint

    docs = read_table(spark, sf_dir, "documents")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    fp = source_fingerprint(sf_dir, "documents")
    out = f"{tempfile.gettempdir()}/us_dot_xml_{sf_tag}_{fp}"
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.isfile(marker):  # write-once fixture, fingerprint-keyed
        # x10 pattern (ADVICE r7): export to a pid-suffixed temp dir and
        # atomically rename into place, so repeat runs skip the export
        # and a killed run can never leave a torn directory that later
        # reads would treat as a valid fixture. Validity is keyed on
        # Spark's _SUCCESS commit marker, not bare existence (ADVICE r8):
        # a torn directory at `out` — left by pre-fix code or external
        # interference — is evicted and rebuilt, never trusted.
        tmp = f"{out}.tmp.{os.getpid()}"
        docs.write.format("xml").option("rootTag", "docs").option(
            "rowTag", "doc"
        ).mode("overwrite").save(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            import shutil

            if os.path.isfile(marker):
                # a concurrent run committed first — keep theirs
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                # torn/markerless directory squatting at out: evict it.
                # The post-eviction rename can still race a concurrent
                # run recreating `out` (ADVICE r9) — re-check the marker
                # and fall back to that run's fixture instead of failing.
                # The concurrent run may have recreated `out` without
                # having written its marker YET (mid-build), so the
                # re-check waits for theirs: fingerprint-keyed fixtures
                # are byte-equivalent, so adopting it is always safe
                # (ADVICE r10). The wait is LIVENESS-bounded, not a
                # fixed budget (ADVICE r11: a 10 s constant tuned to
                # sf_small's ~1 s export spuriously expires at larger
                # scale factors): keep waiting while the concurrent
                # builder shows progress — its pid-suffixed tmp export
                # dir or the recreated `out` advancing its mtime — and
                # expire only after a progress-free grace period.
                import glob
                import time

                shutil.rmtree(out, ignore_errors=True)
                try:
                    os.rename(tmp, out)
                except OSError:

                    def progress_stamp() -> float:
                        # newest mtime across the OTHER builders' tmp
                        # dirs and the (possibly markerless) out dir;
                        # our own tmp must not count as liveness. Walk
                        # the whole SUBTREE's directories, not just the
                        # top level: Spark stages task files under
                        # _temporary/.../attempt_*/, and POSIX only
                        # bumps a dir's mtime on DIRECT-entry changes —
                        # a top-level-only probe is blind for the whole
                        # export stage (review r12). Directory mtimes
                        # alone suffice (every staged file creation
                        # bumps its parent dir) and keep the walk cheap.
                        stamps = [0.0]
                        for d in glob.glob(f"{out}.tmp.*") + [out]:
                            if d == tmp:
                                continue
                            for root, _dirs, _files in os.walk(d):
                                try:
                                    stamps.append(os.path.getmtime(root))
                                except OSError:
                                    pass
                        return max(stamps)

                    grace = 10.0  # seconds WITHOUT progress, not total
                    last, deadline = progress_stamp(), time.monotonic() + grace
                    while not os.path.isfile(marker):
                        if time.monotonic() > deadline:
                            raise
                        time.sleep(0.25)
                        cur = progress_stamp()
                        if cur > last:  # builder alive: extend the wait
                            last, deadline = cur, time.monotonic() + grace
                    shutil.rmtree(tmp, ignore_errors=True)
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(docs.schema)
        .load(out)
    )
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5("text").alias("text_md5"),
    )


SRC_XML_ORACLE = """
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 FROM documents
"""


QUERIES = {
    "src_wds_roundtrip": src_wds_roundtrip,
    "src_jsonl_roundtrip": src_jsonl_roundtrip,
    "src_orc_roundtrip": src_orc_roundtrip,
    "src_binary_ingest": src_binary_ingest,
    "j16_point_in_time_join": j16_point_in_time_join,
    "o8_reservoir_sample": o8_reservoir_sample,
    "q_schema_drift": q_schema_drift,
    "src_xml_roundtrip": src_xml_roundtrip,
}

ORACLES = {
    "src_wds_roundtrip": SRC_WDS_ORACLE,
    "src_jsonl_roundtrip": SRC_JSONL_ORACLE,
    "src_orc_roundtrip": SRC_ORC_ORACLE,
    "src_binary_ingest": _binary_oracle,
    "j16_point_in_time_join": J16_ORACLE,
    "o8_reservoir_sample": O8_RESERVOIR_ORACLE,
    "q_schema_drift": Q_SCHEMA_DRIFT_ORACLE,
    "src_xml_roundtrip": SRC_XML_ORACLE,
}
