"""Output checks, run outside every timed region.

A pipeline run is correct when the metrics it returns and every
committed sink (found through ``_MANIFEST.json``) agree with the
expected values ``inputs.expected_pipeline`` computed from the input
files: per-route rows, ``sum_n_tok``, ``matched_rows`` and the
order-insensitive ``(doc_id, tokens)`` hash. A query is correct when
its result equals its ``oracle_sql()`` twin on DuckDB under the
comparator of ``tools/check_oracle.py``. The oracle side is normalised
once and cached, since the committed fixtures it reads do not change,
and a Spark result identical to one that already passed is not
compared again.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
from collections import Counter

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402
from check_oracle import TABLES, rows_to_multiset  # noqa: E402

METRIC_KEYS = ("rows", "sum_n_tok", "matched_rows")


def committed_sinks(out_dir: str) -> dict[str, list[str]]:
    """route -> committed parquet data files, resolved through the manifest."""
    with open(os.path.join(out_dir, "_MANIFEST.json")) as f:
        routes = json.load(f)["routes"]
    return {
        route: sorted(glob.glob(os.path.join(out_dir, e["path"], "*.parquet")))
        for route, e in routes.items()
    }


def check_pipeline(result: dict, out_dir: str, expected: dict) -> list[str]:
    """Compare one ``run_pipeline`` result and its committed sinks with
    ``expected``; returns the mismatches found (empty when correct)."""
    problems = []
    want = expected["routes"]
    got = result["routes"]
    if set(got) != set(want):
        problems.append(f"routes {sorted(got)} != expected {sorted(want)}")
    for route in sorted(set(got) & set(want)):
        for k in METRIC_KEYS:
            if got[route][k] != want[route][k]:
                problems.append(f"metrics[{route}].{k}={got[route][k]} expected {want[route][k]}")
    if result["total_rows"] != expected["total_rows"]:
        problems.append(f"total_rows={result['total_rows']} expected {expected['total_rows']}")

    sinks = committed_sinks(out_dir)
    con = duckdb.connect()
    for route in sorted(want):
        files = sinks.get(route)
        if not files:
            problems.append(f"sink[{route}] missing")
            continue
        rows, sum_n_tok, matched, row_hash = con.execute(
            """SELECT count(*), coalesce(sum(n_tok), 0)::BIGINT,
                      coalesce(sum(matched::INT), 0)::BIGINT,
                      coalesce(sum(hash(doc_id, tokens)::HUGEINT), 0)::VARCHAR
               FROM read_parquet($files)""",
            {"files": files},
        ).fetchone()
        committed = {"rows": rows, "sum_n_tok": sum_n_tok, "matched_rows": matched, "row_hash": row_hash}
        for k, v in committed.items():
            if v != want[route][k]:
                problems.append(f"sink[{route}].{k}={v} expected {want[route][k]}")
    con.close()
    return problems


def oracle_connection(star_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(star_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def normalise(pdf) -> dict:
    """A result as check_oracle.py compares it: column names, row count
    and the multiset of normalised rows (as ``[row, count]`` pairs)."""
    cols = list(pdf.columns)
    rows = list(pdf.itertuples(index=False, name=None))
    return {
        "cols": cols,
        "rows": len(rows),
        "multiset": [[list(r), n] for r, n in rows_to_multiset(cols, rows).items()],
    }


def _oracle_key(sql: str, fixtures: str) -> str:
    """Cache key of one oracle: its SQL, the fixture checksums, the
    comparator's source and the DuckDB version, so a change to any of
    them is a miss."""
    key = hashlib.sha1()
    for part in (sql, duckdb.__version__):
        key.update(part.encode())
    for path in (os.path.join(fixtures, "SHA256SUMS"), check_oracle.__file__):
        with open(path, "rb") as f:
            key.update(f.read())
    return key.hexdigest()


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str, fixtures: str, cache: str) -> dict:
    """``normalise`` of the oracle's result, cached in ``cache``."""
    path = os.path.join(cache, _oracle_key(sql, fixtures) + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    result = normalise(con.execute(sql).df())
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def fingerprint(table: pa.Table) -> str:
    """Order-insensitive digest of a result: its Arrow schema, its row
    count and DuckDB's sum of its row hashes."""
    con = duckdb.connect()
    con.register("result", table)
    rows, row_hash = con.execute(
        "SELECT count(*), coalesce(sum(hash(r)::HUGEINT), 0)::VARCHAR FROM result AS r"
    ).fetchone()
    con.close()
    schema = ",".join(f"{f.name}:{f.type}" for f in table.schema)
    return f"{schema}|{rows}|{row_hash}"


def check_query(
    spark_pdf, table: pa.Table, con: duckdb.DuckDBPyConnection, sql: str, fixtures: str, cache: str
) -> list[str]:
    """``compare_with_oracle`` of one query result (``table`` is its Arrow
    form), memoised: a result whose ``fingerprint`` equals one that
    already passed the comparison with the same oracle passes without
    repeating it. Results that passed are recorded in ``cache``."""
    passed = os.path.join(cache, _oracle_key(sql, fixtures) + ".passed")
    fp = fingerprint(table)
    if os.path.exists(passed):
        with open(passed) as f:
            if fp in f.read().splitlines():
                return []
    problems = compare_with_oracle(spark_pdf, oracle_result(con, sql, fixtures, cache))
    if not problems:
        with open(passed, "a") as f:
            f.write(fp + "\n")
    return problems


def compare_with_oracle(spark_pdf, oracle: dict) -> list[str]:
    """check_oracle.py's comparison of a Spark result with ``oracle_result``:
    row count, column names, row multiset."""
    cols = list(spark_pdf.columns)
    rows = list(spark_pdf.itertuples(index=False, name=None))
    problems = []
    if len(rows) != oracle["rows"]:
        problems.append(f"rowcount spark={len(rows)} duckdb={oracle['rows']}")
    if sorted(cols) != sorted(oracle["cols"]):
        problems.append(f"schema spark={sorted(cols)} duckdb={sorted(oracle['cols'])}")
    else:
        ms = rows_to_multiset(cols, rows)
        md = Counter({tuple(r): n for r, n in oracle["multiset"]})
        if ms != md:
            problems.append(
                f"values spark-only={list((ms - md).items())[:2]} "
                f"duckdb-only={list((md - ms).items())[:2]}"
            )
    return problems
