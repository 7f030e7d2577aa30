"""Vectorized parse stage: grok/regex extraction of join & route keys.

The reference interpolates event fields into a query per event
(dsl_executor.rb:31,37). In the set-oriented graft, the inverse
operation — extracting structured fields OUT of the raw ``doc_id`` /
``source`` byte columns — is the first pipeline stage. Rows whose
``doc_id`` doesn't match the expected shape are tagged
(``tag_on_failure`` semantics, dsl_executor.rb:79-87; default tag name
follows grok's ``_grokparsefailure`` convention) and routed to the
quarantine sink instead of being dropped.

Scale notes: everything here is native ``regexp_extract`` inside
whole-stage codegen — no Python on the hot path. Java regex covers
grok's expressiveness (named groups, lookarounds); multi-pattern
first-match grok is a ``coalesce`` of extracts, still JVM-side. A
pandas-UDF escape hatch exists for genuinely non-regular parses but is
deliberately NOT used for the standard doc_id shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PARSE_FAILURE_TAG = "_grokparsefailure"

# doc_id shape per FIXTURES.md F1: "{source}/{shard:04d}/{seq:012d}-{epoch}"
DOC_ID_PATTERN = r"^([a-z][a-z0-9_]*)/(\d{4})/(\d{12})-(\d+)$"


def tag_failures(df: DataFrame, fail_condition: Column, tags_to_add: list[str]) -> DataFrame:
    """Append ``tag_on_failure`` tags where the condition holds.

    The event is still delivered (reference: rescue -> tag -> continue,
    dsl_executor.rb:79-87; esql_executor.rb:39-42). Downstream routing
    sends tagged rows to the quarantine sink.
    """
    existing = df["tags"] if "tags" in df.columns else F.array().cast("array<string>")
    existing = F.coalesce(existing, F.array().cast("array<string>"))
    return df.withColumn(
        "tags",
        F.when(
            fail_condition, F.array_union(existing, F.array(*[F.lit(t) for t in tags_to_add]))
        ).otherwise(existing),
    )


def extract_first(col: Column, patterns: list[str], group: int = 1) -> Column:
    """Grok-style multi-pattern extraction: first pattern that matches wins.

    ``coalesce`` over native extracts — stays in codegen, no UDF.
    Spark's regexp_extract returns '' on no-match; normalize to NULL so
    the first MATCHING pattern wins and failures are detectable.
    """
    return F.coalesce(
        *[F.nullif(F.regexp_extract(col, p, group), F.lit("")) for p in patterns]
    )


def parse_doc_ids(df: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    """Extract (route_source, shard, seq, epoch, join_key) from doc_id.

    join_key = "{source}/{shard}" — the key the enrichment lookup
    snapshot is organized by (replaces per-event query interpolation,
    dsl_executor.rb:31,37). Malformed rows get parse_ok=False and the
    failure tag; they keep flowing (left-through semantics,
    dsl_executor.rb:79-87).
    """
    c = F.col(doc_id_col)
    # ONE regex match (validation) + ONE split (extraction) per row.
    # Four separate regexp_extract calls measured 4x slower at 32
    # threads on 2M rows (each re-runs the full pattern and allocates a
    # fresh Matcher + result string; this VM class anti-scales under
    # allocation pressure). The pattern restricts source/shard/seq to
    # [a-z0-9_] and digits, so splitting on [/-] is exact for valid rows.
    parts = F.when(c.rlike(DOC_ID_PATTERN), F.split(c, "[/-]"))
    out = (
        df.withColumn("_p", parts)
        .withColumn("route_source", F.element_at("_p", 1))
        .withColumn("shard", F.element_at("_p", 2))
        # seq is \d{12} (always fits a long); epoch is \d+ UNBOUNDED —
        # a 20+-digit epoch passes the regex but overflows long, and an
        # ANSI cast would abort the whole job on one such row. try_cast
        # nulls it and the row goes to quarantine like any parse failure.
        .withColumn("seq", F.element_at("_p", 3).cast("long"))
        .withColumn(
            "epoch", F.element_at("_p", 4).try_cast("long")
        )
        .drop("_p")
    )
    out = out.withColumn(
        "parse_ok",
        F.col("route_source").isNotNull() & F.col("epoch").isNotNull(),
    )
    out = out.withColumn(
        "join_key",
        F.when(F.col("parse_ok"), F.concat_ws("/", "route_source", "shard")),
    )
    return tag_failures(out, ~F.col("parse_ok"), [PARSE_FAILURE_TAG])
