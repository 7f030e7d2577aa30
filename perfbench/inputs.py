"""Seeded input generation for the benchmark workloads, cached per (seed, shape).

Nothing here touches Spark. The fanout_write input directory holds the
``sequences/`` parquet files, ``lookup.parquet`` and ``expected.json``:
the per-route ``rows``, ``sum_n_tok`` and ``matched_rows``, the
quarantine count and an order-insensitive hash of every row's
``(doc_id, tokens)``, all computed by DuckDB straight from the files.
The ``operator_queries`` input is not generated: it is the committed
sf0.1 star-schema fixtures in ``fixtures/sf0.1``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb
import pyarrow.parquet as pq

from logstash_filter_elasticsearch_spark.data import gen
from logstash_filter_elasticsearch_spark.operators.parse import DOC_ID_PATTERN

QUARANTINE = "_quarantine"

# fanout_write: the north-star job's input shape (64 files, mean_tok 48,
# gen.py's lookup over 8 x 16 shard keys, ~90% present), scaled so one
# run fits the run budget.
FANOUT = {"rows": 150_000, "files": 64, "mean_tok": 48}


def _cache_dir(root: str, workload: str, seed: int, shape: dict) -> str:
    tag = hashlib.sha1(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:10]
    return os.path.join(root, "inputs", f"{workload}-seed{seed}-{tag}")


def _cached(path: str, build) -> str:
    """Build ``path`` once; a ``_DONE`` marker makes a half-written dir a miss."""
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(os.path.join(path, "_DONE"), "w") as f:
            f.write("ok\n")
    return path


# ------------------------------------------------------------ pipelines


def expected_pipeline(seq_dir: str, lookup_path: str) -> dict:
    """Per-route expected metrics and row hashes, computed by DuckDB."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH s AS (
          SELECT doc_id, tokens, n_tok,
                 regexp_full_match(doc_id, $pat) AS ok,
                 split_part(doc_id, '/', 1) AS src,
                 split_part(doc_id, '/', 1) || '/' || split_part(doc_id, '/', 2) AS k
          FROM read_parquet('{seq_dir}/*.parquet')
        ), keys AS (SELECT DISTINCT join_key FROM read_parquet('{lookup_path}'))
        SELECT CASE WHEN ok THEN src ELSE '{QUARANTINE}' END AS route,
               count(*) AS rows,
               sum(n_tok)::BIGINT AS sum_n_tok,
               count(*) FILTER (WHERE ok AND keys.join_key IS NOT NULL) AS matched_rows,
               sum(hash(doc_id, tokens)::HUGEINT)::VARCHAR AS row_hash
        FROM s LEFT JOIN keys ON keys.join_key = s.k
        GROUP BY 1 ORDER BY 1
        """,
        {"pat": DOC_ID_PATTERN},
    ).fetchall()
    lookup = con.execute(
        f"""SELECT sum(c), count(*), max(c) FROM (
              SELECT count(*) AS c FROM read_parquet('{lookup_path}') GROUP BY join_key)"""
    ).fetchone()
    con.close()
    routes = {
        r[0]: {"rows": r[1], "sum_n_tok": r[2], "matched_rows": r[3], "row_hash": r[4]}
        for r in rows
    }
    return {
        "routes": routes,
        "total_rows": sum(r["rows"] for r in routes.values()),
        "quarantined_rows": routes.get(QUARANTINE, {}).get("rows", 0),
        "lookup": {"rows": lookup[0], "keys": lookup[1], "max_hits_per_key": lookup[2]},
    }


def pipeline_input(root: str, seed: int, rows: int | None = None) -> dict:
    """Generate (or reuse) the fanout_write input with ``data/gen.py``;
    returns its paths and expected values."""
    shape = dict(FANOUT)
    if rows is not None:
        shape["rows"] = rows

    def build(path: str) -> None:
        n = shape["rows"]
        seq_dir, lookup_path = gen.write_dataset(
            path, n_rows=n, seed=seed, mean_tok=shape["mean_tok"],
            rows_per_file=-(-n // shape["files"]),
        )
        expected = expected_pipeline(seq_dir, lookup_path)
        with open(os.path.join(path, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)

    path = _cached(_cache_dir(root, "fanout_write", seed, shape), build)
    with open(os.path.join(path, "expected.json")) as f:
        expected = json.load(f)
    return {
        "sequences": os.path.join(path, "sequences"),
        "lookup": os.path.join(path, "lookup.parquet"),
        "expected": expected,
    }


# ------------------------------------------------------------ fixtures

# operator_queries reads the five sf0.1 star-schema fixture tables the 16
# headline queries use, committed byte for byte (checksums in SHA256SUMS).
# They are the same for every seed; the seed only orders the queries.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")


def parquet_rows(files: list[str]) -> int:
    """Rows in the given parquet files, read from their footers."""
    return sum(pq.read_metadata(f.removeprefix("file://")).num_rows for f in files)
