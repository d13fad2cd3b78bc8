"""Curation layer: registry entries of the dedup cascade, built and
executed (noop-materialized) on fixed registry-shaped ``documents`` and
``embeddings`` tables that do not depend on the seed. The ``small_objects``
traced run calls ``curation_layers`` so the operator layer stays measured;
the entries touch no sink code. Each entry's rows are checked against its
``oracle_sql()`` result in DuckDB.

``dedup_clusters`` carries the connected-components fixpoint in its eager
build; ``dedup_candidate_pairs`` the n-gram and MinHash candidate
generation. ``text_corpus_stats`` and ``dedup_embedding_cosine`` (the other
two heavy entries) pass the same checks on these tables, but with them the
traced run would not end within its time limit on a 4-core host.
"""

from __future__ import annotations

import hashlib
import math
import time

from pyspark.sql import functions as F

from bench import BRANCH_TAGS
from perfbench import inputs
from perfbench.trace import stage_metrics

ENTRIES = ("dedup_clusters", "dedup_candidate_pairs")
N_DOCS = 400
N_VECTORS = 400


def branches(entry: str) -> tuple[str, list[str]]:
    """(branch tag column, branch values) of ``entry``; the tags are bench.py's."""
    return BRANCH_TAGS[entry]


def curation_layers(run) -> dict[str, float]:
    """Per entry: the timed build (eager construction), execution, each
    branch alone and the shuffle bytes of the timed jobs, then a collect
    whose rows feed the oracle check. The entries run once, so the build and
    execution times include the session's first compile of their plans."""
    import __spark_entry__ as registry

    spark = run.spark
    sf = run.path("registry")
    inputs.write_registry_tables(sf, N_DOCS, N_VECTORS)
    run.payload["curation_input"] = (
        f"fixed {N_DOCS} documents and {N_VECTORS} embeddings; the seed does not apply"
    )
    queries = registry.queries()
    oracles = registry.oracle_sql()
    layers: dict[str, float] = {"curation.pass_s": 0.0}
    for name in ENTRIES:
        tag, values = branches(name)
        run.job_group(f"curation.{name}")
        t = time.perf_counter()
        df = queries[name](spark, sf)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t
        layers[f"curation.{name}.build_s"] = build_s
        layers[f"curation.{name}.exec_s"] = exec_s
        layers["curation.pass_s"] += build_s + exec_s
        layers[f"spark.shuffle_write_bytes.{name}"] = stage_metrics(
            spark, f"curation.{name}")["shuffle_write_bytes"]
        for b in values:
            t = time.perf_counter()
            df.filter(F.col(tag) == b).write.format("noop").mode("overwrite").save()
            layers[f"curation.{name}.{b}_s"] = time.perf_counter() - t
        rows = [tuple(r) for r in df.collect()]
        registry.release_caches()
        run.checks.op(_matches_oracle(oracles[name], sf, df.columns, rows),
                      f"{name}: Spark rows != oracle_sql rows")
    spark.sparkContext.setJobGroup(None, None)
    return layers


def _matches_oracle(sql: str, sf: str, cols, rows) -> bool:
    """Compared as tools/check_correctness.py compares them: same row count,
    same column set, same order-insensitive hash of the normalized rows."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    return (len(rows) == len(orows) and sorted(cols) == sorted(ocols)
            and _table_hash(rows, cols) == _table_hash(orows, ocols))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _table_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()
