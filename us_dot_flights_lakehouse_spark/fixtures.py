"""Write-once test-fixture keying by SOURCE CONTENT fingerprint.

ADVICE r6: fixtures keyed only by an sf tag outlive both /tmp clears
(a metastore-registered bucketed table whose data directory vanished —
the read then fails) and testdata regeneration (stale derived data that
silently no longer matches its source). Keying the fixture path AND
catalog table name by a stat fingerprint of the source parquet files
fixes both failure modes at zero scan cost:

- regenerated source  -> new fingerprint -> new path/table -> rebuild;
- cleared /tmp        -> path missing    -> rebuild (callers must check
  the DATA PATH, not just ``spark.catalog.tableExists`` — the persistent
  spark-warehouse metastore outlives the tempdir).
"""

from __future__ import annotations

import hashlib
import os


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Cheap content key for one or more source parquet tables: md5
    over each table's name and stat stamp (the reader memos' stamp, so a
    part file rewritten in place inside a directory table changes it
    too). Stat-only — never reads data — so safe to call on every query
    invocation."""
    from us_dot_flights_lakehouse_spark.sources.readers import _stat_stamp

    h = hashlib.md5()
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        stamp = _stat_stamp(p)
        if stamp is None:
            raise FileNotFoundError(p)
        h.update(f"{t}:{stamp};".encode())
    return h.hexdigest()[:10]


def bucketed_table_ready(spark, table_name: str, path: str) -> bool:
    """True iff ``table_name`` is registered AND its external data
    directory still holds files. A registered table whose /tmp data was
    cleared is dropped so the caller rewrites it."""
    if not spark.catalog.tableExists(table_name):
        return False
    try:
        ok = os.path.isdir(path) and any(
            not f.startswith((".", "_")) for f in os.listdir(path)
        )
    except OSError:
        ok = False
    if not ok:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    return ok
