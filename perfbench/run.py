"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload fanout_write --seed 1 --seconds 15 --trace 0

Runs from the repository root as ONE process with one closed-loop client
on ``local[4]``, calling the package only through its public functions.
Inputs are generated from ``--seed`` (``inputs.py``), every operation's
output is checked outside the timed region (``checks.py``), and the last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics and writes spans to ``perfbench/.work/trace/``.
See README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
ORACLE_CACHE = os.path.join(WORK, "oracle")

WORKLOADS = ("fanout_write", "operator_queries")
CORES = 4
MIN_PIPELINE_RUNS = 4  # timed run_pipeline calls, even past --seconds
MIN_QUERY_PASSES = 3  # timed passes over the 16 queries, even past --seconds
# fanout_write's untimed warm-up: run_pipeline calls in set-up. The first
# timed run after a single one was still about 1.5x the later ones.
WARM_UP_RUNS = 2
PREFIX_REPS = 3  # traced noop materialisations per plan prefix
OP_TIMEOUT_S = 90.0  # an operation still running is cancelled and failed

# The 16 headline queries (bench.py's HEADLINE, frozen here) -> the
# package module that does their work, which names their layer.
QUERY_MODULES = {
    "enrich_left_join": "enrich",
    "fields_multi_hit": "enrich",
    "docinfo_latest": "enrich",
    "topk_per_key": "aggregate",
    "esql_stats_by": "esql",
    "esql_enrich": "esql",
    "query_template_render": "template",
    "dedup_exact": "dedup",
    "ngram_jaccard": "dedup",
    "quality_scores": "text",
    "fingerprint": "text",
    "salted_route_agg": "aggregate",
    "embedding_topk": "similarity",
    "embedding_near_dup": "similarity",
    "minhash_lsh": "dedup",
    "ann_ivf": "similarity",
}

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_geomean_ms": "ms",
    "out_bytes_per_row": "B/row",
}
SPARK_ROLLUP = {
    "spark.executor_run_ms": ("executor_run_ms", "ms"),
    "spark.executor_cpu_ms": ("executor_cpu_ms", "ms"),
    "spark.gc_ms": ("gc_ms", "ms"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "spark.spill_mem_bytes": ("spill_mem_bytes", "B"),
    "spark.spill_disk_bytes": ("spill_disk_bytes", "B"),
    "spark.write_task_skew": ("task_skew", "ratio"),
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "process.peak_rss_mb": "MB",
    "scan.s": "s",
    "parse.self_s": "s",
    "parse.ok_rows": "count",
    "parse.quarantined_rows": "count",
    "enrich.prepare_lookup_s": "s",
    "enrich.apply_self_s": "s",
    "enrich.lookup_rows": "count",
    "enrich.lookup_keys": "count",
    "enrich.max_hits_per_key": "count",
    "enrich.match_ratio": "ratio",
    "pipeline.plan_s": "s",
    "pipeline.write_job_s": "s",
    "pipeline.metrics_agg_s": "s",
    "pipeline.publish_s": "s",
    "pipeline.encode_io_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.spark_tasks": "count",
    "sink.files": "count",
    "sink.bytes": "B",
    **{name: unit for name, (_, unit) in SPARK_ROLLUP.items()},
    "pipeline.local1_seq_per_s": "1/s",
    "pipeline.scaling_eff_1_to_4": "ratio",
    **{
        f"{mod}.{q}.{part}": "s"
        for q, mod in QUERY_MODULES.items()
        for part in ("plan_s", "exec_s")
    },
    "trace.overhead_frac": "ratio",
}


def _isolate_environment() -> None:
    """Keep every file Spark and its workers write inside perfbench/.work,
    and let Python workers import the package from the repository root."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["LFES_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


sys.path.insert(0, REPO)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import __spark_entry__  # noqa: E402
from logstash_filter_elasticsearch_spark.operators.enrich import Enricher, EnrichSpec  # noqa: E402
from logstash_filter_elasticsearch_spark.operators.parse import parse_doc_ids  # noqa: E402
from logstash_filter_elasticsearch_spark.pipeline import (  # noqa: E402
    PipelineConfig,
    build_enriched,
    run_pipeline,
)
from logstash_filter_elasticsearch_spark.session import get_spark  # noqa: E402


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _spans_on(k: int) -> bool:
    """Whether the k-th operation of an alternating loop has spans on:
    off, on, on, off, ... so a trend over the loop (the JVM still warming)
    weighs on both halves alike."""
    return k % 4 in (1, 2)


class Bench:
    """One invocation: the Spark session, the tracer and failure accounting."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tracer = tracing.Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.get_spark_s: list[float] = []
        self.untimed_s = 0.0  # the benchmark's own checks and clean-up
        self.eventlog_dir: str | None = None
        self._ops = 0

    def start(self, cores: int = CORES, eventlog: str | None = None) -> None:
        """get_spark; ``eventlog`` names a Spark event-log directory to enable."""
        extra = {}
        if eventlog:
            self.eventlog_dir = os.path.join(
                WORK, "eventlog", f"{self.workload}-seed{self.seed}-{eventlog}"
            )
            shutil.rmtree(self.eventlog_dir, ignore_errors=True)
            os.makedirs(self.eventlog_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.monotonic()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", cores=cores, extra_conf=extra
            )
        self.get_spark_s.append(time.monotonic() - t0)

    def stop(self) -> None:
        self.spark.stop()
        self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        if self.spark is not None:
            self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def attempt(self, what: str, fn):
        """Run one operation under its own job group with a timeout.

        Returns (group, seconds, value); value is None when it failed."""
        self._ops += 1
        self.attempted += 1
        group = f"op-{self._ops}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, what)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, (group,))
        timer.start()
        try:
            t0 = time.monotonic()
            value = fn()
            return group, time.monotonic() - t0, value
        except Exception as e:  # any failure of the program is a failed operation
            self.failed += 1
            self.problems.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return group, 0.0, None
        finally:
            timer.cancel()

    def mismatch(self, what: str, problems: list[str]) -> None:
        """Count an operation whose output was wrong as failed."""
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems[:5])

    def set_up(self, warm_up, gen_s: float) -> float:
        """Seconds from process start to the first timed operation: the
        imports, JVM launch, the first get_spark and the untimed warm-up.
        Input generation and the benchmark's own checks are excluded."""
        self.start()
        warm_up()
        setup = time.monotonic() - T_PROCESS_START - gen_s - self.untimed_s
        log(f"set-up: {setup:.2f}s")
        return setup

    @contextlib.contextmanager
    def spans(self, on: bool):
        """Turn spans on or off (traced runs only) for one operation."""
        self.tracer.enabled = self.trace and on
        try:
            yield
        finally:
            self.tracer.enabled = self.trace


# ------------------------------------------------------------ pipelines


class PipelineWorkload:
    def __init__(self, bench: Bench, rows: int | None = None):
        self.b = bench
        t0 = time.monotonic()
        self.inp = inputs.pipeline_input(WORK, bench.seed, rows)
        self.gen_s = time.monotonic() - t0
        self.expected = self.inp["expected"]
        self.out_dir = os.path.join(WORK, "out", f"{bench.workload}-seed{bench.seed}")

    def config(self, out_dir: str) -> PipelineConfig:
        return PipelineConfig(
            sequences_path=self.inp["sequences"], lookup_path=self.inp["lookup"], out_dir=out_dir
        )

    def enrich_spec(self, cfg: PipelineConfig) -> EnrichSpec:
        """The spec build_enriched derives from ``cfg``: a copy of the
        ``EnrichSpec(...)`` call in ``pipeline.build_enriched``, which
        ``check_enrich_spec`` compares with the real plan."""
        return EnrichSpec(
            event_key="join_key",
            lookup_key="join_key",
            fields=cfg.fields,
            docinfo_fields=cfg.docinfo_fields,
            aggregation_fields=cfg.aggregation_fields,
            result_size=cfg.result_size,
            sort=cfg.sort,
            add_tag_on_match=cfg.add_tag_on_match,
            broadcast=True,
        )

    def check_enrich_spec(self) -> None:
        """Fail the run if ``enrich_spec`` no longer matches the spec
        build_enriched uses: applying the copy to the parsed events must
        give build_enriched's schema, less its ``route`` column."""
        b = self.b
        cfg = self.config(self.out_dir)
        lookup = b.spark.read.parquet(cfg.lookup_path)
        parsed = parse_doc_ids(b.spark.read.parquet(cfg.sequences_path))
        mine = list(Enricher(self.enrich_spec(cfg)).apply(parsed, lookup).schema)
        theirs = [f for f in build_enriched(b.spark, cfg).schema if f.name != "route"]
        if mine != theirs:
            b.attempted += 1
            b.mismatch(
                "enrich_spec",
                [
                    "copy gives " + ",".join(f.simpleString() for f in mine)
                    + "; build_enriched gives " + ",".join(f.simpleString() for f in theirs)
                ],
            )

    def run_once(self, label: str, traced: bool = True) -> dict | None:
        """One run_pipeline into a fresh out_dir, then its output check."""
        b = self.b
        t0 = time.monotonic()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        cfg = self.config(self.out_dir)
        b.untimed_s += time.monotonic() - t0
        with b.spans(traced), b.tracer.span("pipeline.run_pipeline", run=label):
            group, wall, result = b.attempt(label, lambda: run_pipeline(b.spark, cfg))
        if result is None:
            return None
        t0 = time.monotonic()
        problems = checks.check_pipeline(result, self.out_dir, self.expected)
        files = [f for fs in checks.committed_sinks(self.out_dir).values() for f in fs]
        b.untimed_s += time.monotonic() - t0
        b.mismatch(label, problems)
        if problems:
            return None
        run = {
            "group": group,
            "traced": traced,
            "wall_s": wall,
            "phases": result["phase_seconds"],
            "routes": result["routes"],
            "sink_files": len(files),
            "sink_bytes": sum(os.path.getsize(f) for f in files),
        }
        if b.trace:
            tracker = b.spark.sparkContext.statusTracker()
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            stages = [tracker.getStageInfo(s) for j in jobs if j for s in j.stageIds]
            run["spark_jobs"] = len(jobs)
            run["spark_tasks"] = sum(s.numTasks for s in stages if s)
        return run

    def warm_up(self) -> None:
        for i in range(WARM_UP_RUNS):
            self.run_once(f"warm-up-{i}")

    def timed(self, label: str, alternate: bool = False) -> list[dict]:
        """Closed loop of runs until --seconds is up (and MIN_PIPELINE_RUNS).
        With ``alternate``, half the runs have spans on (``_spans_on``)."""
        runs: list[dict] = []
        t_end = time.monotonic() + self.b.seconds
        for i in itertools.count():
            if i >= MIN_PIPELINE_RUNS and time.monotonic() >= t_end:
                return runs
            run = self.run_once(f"{label}-{i}", traced=not alternate or _spans_on(i))
            if run is not None:
                runs.append(run)

    def end_to_end(self) -> dict:
        b = self.b
        setup = b.set_up(self.warm_up, self.gen_s)
        runs = self.timed("timed")
        log("run_pipeline walls s: " + json.dumps([round(r["wall_s"], 3) for r in runs]))
        rows = self.expected["total_rows"]
        wall = _median([r["wall_s"] for r in runs])
        return {
            "setup_s": setup,
            "rows_per_s": rows / wall if wall else 0.0,
            "op_geomean_ms": wall * 1e3,
            "out_bytes_per_row": _median([r["sink_bytes"] for r in runs]) / rows,
        }

    def prefix_layers(self) -> dict[str, float]:
        """Median noop-materialisation time of each plan prefix (execution
        only), and of the ``build_enriched`` call itself, which builds the
        plan without running it (``plan``)."""
        b = self.b
        cfg = self.config(self.out_dir)
        plans = {
            "scan": lambda: b.spark.read.parquet(cfg.sequences_path),
            "parse": lambda: parse_doc_ids(b.spark.read.parquet(cfg.sequences_path)),
            "build_enriched": lambda: build_enriched(b.spark, cfg),
            "prepare_lookup": lambda: Enricher(self.enrich_spec(cfg)).prepare_lookup(
                b.spark.read.parquet(cfg.lookup_path)
            ),
        }

        def materialise(plan) -> float:
            df = plan()
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            return time.monotonic() - t0

        samples: dict[str, list[float]] = {k: [] for k in (*plans, "plan")}
        for rep in range(PREFIX_REPS):
            for name, plan in plans.items():
                with b.tracer.span(f"prefix.{name}", run=f"prefix-{rep}"):
                    _, total, exec_s = b.attempt(f"prefix.{name}", lambda plan=plan: materialise(plan))
                if exec_s is not None:
                    samples[name].append(exec_s)
                    if name == "build_enriched":
                        samples["plan"].append(total - exec_s)
        return {k: _median(v) for k, v in samples.items()}

    def per_layer(self) -> dict:
        """One local[4] session with the event log on: the warm-up, the
        timed loop with spans on for half the runs, and the plan prefixes;
        then the timed loop again at local[1]."""
        b = self.b
        b.start(eventlog="local4")
        self.warm_up()
        self.check_enrich_spec()
        runs = self.timed("timed", alternate=True)
        prefix = self.prefix_layers()
        b.stop()
        rollup = tracing.eventlog_rollup(b.eventlog_dir)
        b.start(cores=1, eventlog="local1")
        self.run_once("warm-up-local1")
        local1 = self.timed("local1")
        b.stop()

        rows = self.expected["total_rows"]
        quarantined = self.expected["quarantined_rows"]
        ok_rows = rows - quarantined
        matched = sum(m["matched_rows"] for m in runs[0]["routes"].values()) if runs else 0
        phase = {
            k: _median([r["phases"].get(k, 0.0) for r in runs])
            for k in ("write_job_s", "metrics_agg_s", "publish_s")
        }
        traced = [r["wall_s"] for r in runs if r["traced"]]
        plain = [r["wall_s"] for r in runs if not r["traced"]]
        rate4 = rows / _median([r["wall_s"] for r in runs]) if runs else 0.0
        rate1 = rows / _median([r["wall_s"] for r in local1]) if local1 else 0.0
        lk = self.expected["lookup"]
        m = {
            "scan.s": prefix["scan"],
            "parse.self_s": prefix["parse"] - prefix["scan"],
            "parse.ok_rows": ok_rows,
            "parse.quarantined_rows": quarantined,
            "enrich.prepare_lookup_s": prefix["prepare_lookup"],
            "enrich.apply_self_s": prefix["build_enriched"] - prefix["parse"],
            "enrich.lookup_rows": lk["rows"],
            "enrich.lookup_keys": lk["keys"],
            "enrich.max_hits_per_key": lk["max_hits_per_key"],
            "enrich.match_ratio": matched / ok_rows if ok_rows else 0.0,
            "pipeline.plan_s": prefix["plan"],
            "pipeline.write_job_s": phase["write_job_s"],
            "pipeline.metrics_agg_s": phase["metrics_agg_s"],
            "pipeline.publish_s": phase["publish_s"],
            "pipeline.encode_io_s": phase["write_job_s"] - prefix["build_enriched"],
            "pipeline.unattributed_s": _median(
                [r["wall_s"] - sum(r["phases"].get(k, 0.0) for k in phase) for r in runs]
            )
            - prefix["plan"],
            "pipeline.spark_jobs": _median([r["spark_jobs"] for r in runs]),
            "pipeline.spark_tasks": _median([r["spark_tasks"] for r in runs]),
            "sink.files": _median([r["sink_files"] for r in runs]),
            "sink.bytes": _median([r["sink_bytes"] for r in runs]),
            "pipeline.local1_seq_per_s": rate1,
            "pipeline.scaling_eff_1_to_4": rate4 / rate1 / CORES if rate1 else 0.0,
            "trace.overhead_frac": _median(traced) / _median(plain) - 1.0
            if plain and traced
            else 0.0,
        }
        groups = [r["group"] for r in runs]
        for name, (key, _) in SPARK_ROLLUP.items():
            m[name] = _median([rollup.get(g, {}).get(key, 0.0) for g in groups])
        return m


# ------------------------------------------------------------ queries


class QueryWorkload:
    gen_s = 0.0  # the fixtures are committed, not generated

    def __init__(self, bench: Bench):
        self.b = bench
        self.star = inputs.FIXTURES
        self.queries = __spark_entry__.queries()
        self.passes = 0
        self.pass_walls: list[float] = []  # timed passes, checks excluded
        self.input_rows: dict[str, int] = {}
        self.oracles = __spark_entry__.oracle_sql()
        self.result_bytes = 0

    def plan(self, name: str):
        """The ``queries()[name](spark, dir)`` call, which builds the plan."""
        df = self.queries[name](self.b.spark, self.star)
        if name not in self.input_rows:
            self.input_rows[name] = inputs.parquet_rows(df.inputFiles())
        return df

    def run_query(self, name: str, label: str, traced: bool = True) -> dict | None:
        """Plan then execute into the noop sink."""
        b = self.b
        mod = QUERY_MODULES[name]
        times = {}

        def op():
            with b.tracer.span(f"{mod}.{name}.plan"):
                t0 = time.monotonic()
                df = self.plan(name)
                times["plan_s"] = time.monotonic() - t0
            with b.tracer.span(f"{mod}.{name}.exec"):
                t0 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                times["exec_s"] = time.monotonic() - t0
            times["op_s"] = times["plan_s"] + times["exec_s"]
            return True

        with b.spans(traced), b.tracer.span(f"query.{name}", run=label):
            group, _, ok = b.attempt(f"{label}:{name}", op)
        return {"group": group, "traced": traced, **times} if ok else None

    def order(self) -> list[str]:
        """The next pass's query order, drawn from the seed and pass number."""
        names = list(QUERY_MODULES)
        random.Random(self.b.seed * 100_003 + self.passes).shuffle(names)
        self.passes += 1
        return names

    def checked_pass(self, label: str) -> None:
        """One pass that collects each result and compares it with its
        oracle on DuckDB; the comparison is untimed."""
        import pyarrow as pa

        b = self.b
        t_pass, untimed0 = time.monotonic(), b.untimed_s
        con = checks.oracle_connection(self.star)
        self.result_bytes = 0
        for name in self.order():
            with b.tracer.span(f"check.{name}", run=f"{label}-{self.passes}"):
                _, _, pdf = b.attempt(f"{label}:{name}", lambda name=name: self.plan(name).toPandas())
            if pdf is None:
                continue
            t0 = time.monotonic()
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            self.result_bytes += table.nbytes
            b.mismatch(
                f"{label}:{name}",
                checks.check_query(pdf, table, con, self.oracles[name], self.star, ORACLE_CACHE),
            )
            b.untimed_s += time.monotonic() - t0
        con.close()
        log(
            f"checked pass: {time.monotonic() - t_pass:.1f}s, "
            f"{b.untimed_s - untimed0:.1f}s of it in the oracle comparison"
        )

    def timed(self, label: str, alternate: bool = False) -> dict[str, list[dict]]:
        """Whole passes over the 16 queries, each in a seeded order, while
        --seconds is not up, and at least MIN_QUERY_PASSES of them. Every
        query gets the same number of samples. With ``alternate``, spans
        are on for half the runs of each query (``_spans_on``), over at
        least four passes, so spans are off in the first and the fourth
        while the JVM is still warming."""
        samples: dict[str, list[dict]] = {q: [] for q in QUERY_MODULES}
        min_passes = max(MIN_QUERY_PASSES, 4) if alternate else MIN_QUERY_PASSES
        t_end = time.monotonic() + self.b.seconds
        for n in itertools.count():
            if n >= min_passes and time.monotonic() >= t_end:
                return samples
            t_pass = time.monotonic()
            for name in self.order():
                traced = not alternate or _spans_on(len(samples[name]))
                res = self.run_query(name, f"{label}-{self.passes}", traced)
                if res is None and not samples[name]:
                    return samples  # a query that fails every time cannot be sampled
                if res is not None:
                    samples[name].append(res)
            self.pass_walls.append(time.monotonic() - t_pass)

    @staticmethod
    def per_query(samples: dict[str, list[dict]], key: str) -> dict[str, float]:
        return {q: _median([s[key] for s in ss]) for q, ss in samples.items()}

    def end_to_end(self) -> dict:
        # the checked pass, which runs every query once, is the warm-up
        setup = self.b.set_up(lambda: self.checked_pass("check"), self.gen_s)
        samples = self.timed("timed")
        op_s = self.per_query(samples, "op_s")
        pass_s = sum(op_s.values())
        log("per-query median s: " + json.dumps({q: round(v, 3) for q, v in op_s.items()}))
        log("pass walls s: " + json.dumps([round(t, 3) for t in self.pass_walls]))
        rows = sum(self.input_rows.values())
        positive = [v for v in op_s.values() if v > 0]
        return {
            "setup_s": setup,
            "rows_per_s": rows / pass_s if pass_s else 0.0,
            "op_geomean_ms": 1e3 * math.exp(statistics.fmean(map(math.log, positive)))
            if positive
            else 0.0,
            "out_bytes_per_row": self.result_bytes / rows if rows else 0.0,
        }

    def per_layer(self) -> dict:
        """One session with the event log on: a checked pass as warm-up,
        then the timed loop with spans on for half the runs of each query."""
        b = self.b
        b.start(eventlog="local4")
        self.checked_pass("warm-up")
        samples = self.timed("timed", alternate=True)
        b.stop()
        rollup = tracing.eventlog_rollup(b.eventlog_dir)

        def pass_s(traced: bool) -> float:
            only = {q: [s for s in ss if s["traced"] == traced] for q, ss in samples.items()}
            return sum(self.per_query(only, "op_s").values())

        m = {"trace.overhead_frac": pass_s(True) / pass_s(False) - 1.0 if pass_s(False) else 0.0}
        for part in ("plan_s", "exec_s"):
            for q, v in self.per_query(samples, part).items():
                m[f"{QUERY_MODULES[q]}.{q}.{part}"] = v
        for name, (key, _) in SPARK_ROLLUP.items():
            per_q = [
                _median([rollup.get(s["group"], {}).get(key, 0.0) for s in ss])
                for ss in samples.values()
            ]
            # per pass: totals add up over the 16 queries; skew is a median
            m[name] = _median(per_q) if key == "task_skew" else sum(per_q)
        return m


# ------------------------------------------------------------ main


def run(workload: str, seed: int, seconds: float, trace: bool, size: int | None = None) -> dict:
    b = Bench(workload, seed, seconds, trace)
    w = QueryWorkload(b) if workload == "operator_queries" else PipelineWorkload(b, size)
    with tracing.RssSampler() if trace else contextlib.nullcontext() as rss:
        try:
            if trace:
                metrics = {name: 0.0 for name in PER_LAYER}
                metrics.update(w.per_layer())
                # the first call, which launches the JVM, as in setup_s
                metrics["session.get_spark_s"] = b.get_spark_s[0]
            else:
                metrics = w.end_to_end()
        finally:
            b.shutdown_jvm()
            # the last run's sinks are only needed by its check
            shutil.rmtree(getattr(w, "out_dir", ""), ignore_errors=True)
    units = PER_LAYER if trace else END_TO_END
    if trace:
        metrics["process.peak_rss_mb"] = rss.peak_bytes / 1e6
        b.tracer.dump(
            os.path.join(WORK, "trace", f"{workload}-seed{seed}.json"),
            {"workload": workload, "seed": seed, "metrics": metrics, "problems": b.problems},
        )
    for p in b.problems:
        log(f"FAILED {p}")
    log(f"{workload} seed {seed}: {time.monotonic() - T_PROCESS_START:.1f}s in total")
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", type=int, default=None,
        help="override the fanout_write input rows; tests only",
    )
    args = ap.parse_args(argv)
    _isolate_environment()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
