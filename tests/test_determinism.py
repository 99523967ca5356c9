"""Partition-count invariance: the engine's cross-engine exactness
story rests on order-independent aggregation (quantized-long sums,
md5-derived hashes, closed-form assignments). That claim is only real
if results are bit-identical under DIFFERENT physical parallelism —
the number of shuffle partitions is the knob a 1000-executor cluster
turns that local tests otherwise never exercise. These tests run
representative queries under shuffle.partitions=3 and =24 and demand
identical canonical hashes: any order-dependent float sum,
partition-local row numbering, or non-deterministic tie-break shows
up here as a hash flip.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from cuttlefish_spark.io import clear_memos
from cuttlefish_spark.registry import load_all

# One query per exactness mechanism:
#  - agg_groupby: quantized-long sums (dec_sum) under a keyed shuffle
#  - incremental_rollup: partial-merge across an arbitrary batch split
#  - minhash_accuracy: double sums over join-ordered pair streams
#  - token_budget_trim: two-phase distributed prefix sum + cutoff
#  - embedding_quantize: explode -> per-dim agg -> broadcast-back join
#  - dataset_split: deterministic hash assignment
_QUERIES = [
    "agg_groupby",
    "incremental_rollup",
    "minhash_accuracy",
    "token_budget_trim",
    "embedding_quantize",
    "dataset_split",
    #  - training_shuffle: per-shard ordered windows (rank by portable
    #    hash) must be partitioning-blind
    #  - incremental_dedup: min-doc_id anchor + hash-index join
    "training_shuffle",
    "incremental_dedup",
    #  - sql_frontend_q15: argmax via DOUBLE EQUALITY against a scalar
    #    subquery — both sides must come out bit-identical under any
    #    partitioning (decimal-exact sums cast once)
    #  - adaptive_length_cutoff: exact order statistic (rank over a
    #    total order) as the threshold; rank must not depend on which
    #    partition sorted the group
    "sql_frontend_q15",
    "adaptive_length_cutoff",
    #  - the fixed-point trainers: per-partition int64 partials summed
    #    exactly BEFORE the floored update (flooring each partition's
    #    partial first makes the model depend on the partition count)
    "quality_classifier_weights",
    "lang_id_learned",
    "embedding_pca_power",
]


def _canon_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(6)
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: str(tuple(v)) if isinstance(v, (list, np.ndarray)) else str(v)
            )
    rows = sorted(df.astype(str).itertuples(index=False, name=None))
    return hashlib.md5(str(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", _QUERIES)
def test_partition_count_invariance(spark, sf_dir, name):
    fn = load_all()[name].fn
    old = spark.conf.get("spark.sql.shuffle.partitions")
    hashes = {}
    try:
        for n in (3, 24):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            spark.catalog.clearCache()
            clear_memos()  # trained models would otherwise carry over
            hashes[n] = _canon_hash(fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.clearCache()
        clear_memos()
    assert hashes[3] == hashes[24], (
        f"{name} result depends on shuffle partition count — an "
        "order-dependent aggregation or partition-local numbering leaked"
    )


def test_round6_tie_boundary_diverges_across_engines(spark):
    """Regression pin for the r4 lm_bigram_score finding: round(x, 6)
    is NOT cross-engine deterministic on a bit-identical double. The
    exact integers from the wild (slp=-327752592 micro-nats over 96
    bigrams, sf0.1 doc 1705) produce the mean -3.4140894999999998,
    which Spark rounds DOWN (shortest-decimal-repr HALF_UP) and DuckDB
    rounds AWAY (binary product -3.41408949...e6 lands exactly on
    -3414089.5). The engines MUST therefore disagree on the rounded
    value — if this assertion ever fails, the engines changed rounding
    semantics and the unrounded-quotient policy should be revisited —
    while the UNROUNDED quotient itself is bit-identical, which is the
    contract every integer-quotient mean in the tree relies on
    (PLANS.md Notes)."""
    import duckdb

    slp, n = -327752592, 96
    # CAST to DOUBLE explicitly: a bare 1000000.0 literal is DECIMAL in
    # Spark SQL, while the operators divide via F.lit(1e6) doubles
    expr = f"CAST({slp} AS DOUBLE) / CAST(1000000 AS DOUBLE) / CAST({n} AS DOUBLE)"
    spark_row = spark.sql(
        f"SELECT {expr} AS mean, round({expr}, 6) AS rounded"
    ).collect()[0]
    duck_row = duckdb.sql(
        f"SELECT {expr} AS mean, round({expr}, 6) AS rounded"
    ).fetchone()
    # the raw IEEE quotient is bit-identical
    assert spark_row["mean"] == duck_row[0]
    assert spark_row["mean"].hex() == duck_row[0].hex()
    # ...but round(,6) of that identical double disagrees
    assert spark_row["rounded"] == -3.414089
    assert duck_row[1] == -3.41409


def test_markdown_html_rendered_text_golden(spark):
    """The markdown_html query exports md5(html) against its committed
    golden oracle (see ingest.py); this test pins the RENDERED TEXT
    itself for a representative slice of MD_FIXTURE, so a golden-hash
    failure there comes with a readable expected/actual diff here. The
    query routes through render_markdown_minimal explicitly (r6 ADVICE
    item 1), so this pin applies unconditionally — container contents
    (the optional `markdown` package) no longer matter."""
    from cuttlefish_spark.functions import markdown as md

    fixture = dict(md.MD_FIXTURE)
    expected = {
        1: '<div class="event-api-content"><h1>Release Notes</h1>\n'
           "<p>Version <strong>2.0</strong> is <em>out</em> today.</p></div>",
        2: '<div class="event-api-content"><p>Plain paragraph with '
           '<a href="https://example.com/x?a=1&b=2">a link</a> inline.</p></div>',
        4: '<div class="event-api-content"></div>',
        5: None,
        6: '<div class="event-api-content"><h6>deep heading</h6>\n'
           "<p><em>em</em> <strong>strong</strong> "
           "<strong><em>both</strong></em> <em>a</em>b* edge</p></div>",
        8: '<div class="event-api-content"><h3>Café résumé — naïve</h3>\n'
           "<p>Unicode <strong>café</strong> body.</p></div>",
        12: '<div class="event-api-content"><p># H1\n## H2</p>\n'
            "<p>heading only at block start</p></div>",
    }
    for doc_id, want in expected.items():
        assert md.render_markdown_minimal(fixture[doc_id]) == want, f"doc {doc_id}"
    # And the full query output (Spark plan + Arrow pandas_udf) stays
    # hash-stable across runs of this session.
    out1 = load_all()["markdown_html"].fn(spark, "unused").toPandas()
    out2 = load_all()["markdown_html"].fn(spark, "unused").toPandas()
    assert _canon_hash(out1) == _canon_hash(out2)
