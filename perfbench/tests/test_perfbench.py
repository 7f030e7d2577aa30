"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The checker tests need no Spark: they build a pipeline-shaped output with
DuckDB and show that a dropped row or a wrong per-route count is caught.
The end-to-end runs start Spark and take about one to two minutes each:
fanout_write on a 3,000-row input, operator_queries on the committed
fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO]

import checks  # noqa: E402
import inputs  # noqa: E402
from run import END_TO_END, PER_LAYER, QUERY_MODULES  # noqa: E402


@pytest.fixture(scope="module")
def tiny_output(tmp_path_factory):
    """A correct committed output for a 600-row input, written by DuckDB
    the way run_pipeline lays it out: a manifest plus route=<r> sinks."""
    root = tmp_path_factory.mktemp("bench")
    inp = inputs.pipeline_input(str(root), seed=3, rows=600)
    out = root / "out"
    (out / "sinks").mkdir(parents=True)
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT doc_id, tokens, n_tok,
                 CASE WHEN ok THEN split_part(doc_id, '/', 1) ELSE '_quarantine' END AS route,
                 ok AND k IN (SELECT join_key FROM read_parquet('{inp["lookup"]}')) AS matched
          FROM (SELECT *, regexp_full_match(doc_id, $pat) AS ok,
                       split_part(doc_id, '/', 1) || '/' || split_part(doc_id, '/', 2) AS k
                FROM read_parquet('{inp["sequences"]}/*.parquet'))
        ) TO '{out / "sinks"}' (FORMAT PARQUET, PARTITION_BY (route))
        """,
        {"pat": inputs.DOC_ID_PATTERN},
    )
    routes = inp["expected"]["routes"]
    (out / "_MANIFEST.json").write_text(
        json.dumps({"routes": {r: {"path": f"sinks/route={r}"} for r in routes}})
    )
    result = {
        "routes": {
            r: {k: m[k] for k in ("rows", "sum_n_tok", "matched_rows")} for r, m in routes.items()
        },
        "total_rows": inp["expected"]["total_rows"],
    }
    return result, out, inp["expected"]


def test_checker_accepts_correct_output(tiny_output):
    result, out, expected = tiny_output
    assert len(expected["routes"]) == 9  # 8 sources + quarantine
    assert checks.check_pipeline(result, str(out), expected) == []


def test_checker_reports_dropped_row(tiny_output, tmp_path):
    result, out, expected = tiny_output
    broken = tmp_path / "out"
    shutil.copytree(out, broken)
    sink = broken / "sinks" / "route=web"
    (f,) = [p for p in sink.iterdir() if p.suffix == ".parquet"]
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{f}') OFFSET 1) TO '{sink / 'fewer.parquet'}' (FORMAT PARQUET)"
    )
    f.unlink()
    problems = checks.check_pipeline(result, str(broken), expected)
    assert any(p.startswith("sink[web].rows=") for p in problems), problems
    assert any(p.startswith("sink[web].row_hash=") for p in problems), problems


def test_checker_reports_wrong_route_count(tiny_output):
    result, out, expected = tiny_output
    wrong = json.loads(json.dumps(result))
    wrong["routes"]["books"]["rows"] += 1
    problems = checks.check_pipeline(wrong, str(out), expected)
    assert problems == [
        f"metrics[books].rows={expected['routes']['books']['rows'] + 1} "
        f"expected {expected['routes']['books']['rows']}"
    ]


def test_oracle_comparator_reports_missing_row():
    a = pd.DataFrame({"id": [1, 2, 3], "v": [0.5, 1.0, 2.0]})
    assert checks.compare_with_oracle(a, checks.normalise(a.iloc[::-1])) == []
    assert checks.compare_with_oracle(a.iloc[:2], checks.normalise(a))[0] == "rowcount spark=2 duckdb=3"


def test_result_fingerprint_ignores_row_order_only():
    a = pd.DataFrame({"id": [1, 2, 3], "tags": [["x"], ["y", "z"], None]})
    fp = checks.fingerprint(pa.Table.from_pandas(a, preserve_index=False))
    assert checks.fingerprint(pa.Table.from_pandas(a.iloc[::-1], preserve_index=False)) == fp
    assert checks.fingerprint(pa.Table.from_pandas(a.iloc[:2], preserve_index=False)) != fp
    b = a.assign(id=[1, 2, 4])
    assert checks.fingerprint(pa.Table.from_pandas(b, preserve_index=False)) != fp


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace,names",
    [
        ("fanout_write", "0", END_TO_END),
        ("operator_queries", "0", END_TO_END),
        ("fanout_write", "1", PER_LAYER),
        ("operator_queries", "1", PER_LAYER),
    ],
)
def test_tiny_run_end_to_end(workload, trace, names):
    # operator_queries always reads the committed fixtures; --size shrinks
    # only the generated fanout_write input
    size = ["--size", "3000"] if workload == "fanout_write" else []
    res = _run("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace, *size)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(names)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if trace == "0":
        assert all(v > 0 for v in m.values()), m
    elif workload == "fanout_write":
        assert m["scan.s"] > 0 and m["pipeline.write_job_s"] > 0 and m["sink.files"] > 0
        assert m["pipeline.local1_seq_per_s"] > 0
        assert all(m[f"{mod}.{q}.exec_s"] == 0 for q, mod in QUERY_MODULES.items())
    else:
        assert all(
            m[f"{mod}.{q}.{part}"] > 0
            for q, mod in QUERY_MODULES.items()
            for part in ("plan_s", "exec_s")
        )
        assert m["pipeline.write_job_s"] == 0
