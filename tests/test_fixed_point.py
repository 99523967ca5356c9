"""The fixed-point trainers (quality classifier, lang-ID, PCA power
iteration) run their steps through operators.fixed_point's int64 NumPy
kernel. These tests hold it to the Spark-SQL step it replaced (kept
here as the reference), to the DuckDB oracles under forced partition
counts, to one Spark job per step, and to releasing what training
pins in executor storage."""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import cuttlefish_spark.operators.curation as cur
import cuttlefish_spark.operators.similarity as sim
import cuttlefish_spark.operators.text as txt
from cuttlefish_spark.io import TABLES, clear_memos, load_table
from cuttlefish_spark.operators.fixed_point import iterate_fixed_point
from cuttlefish_spark.registry import load_all
from tests.oracle_harness import compare, run_oracle

SPECS = load_all()


@pytest.fixture(scope="module")
def sf001(sf_dir) -> str:
    """The sf0.01 corpus, beside the suite's default scale."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


# -- the Spark-SQL steps the kernel replaced (reference implementations) --


def _qc_reference_gradient(spark, feats, labels, w) -> np.ndarray:
    """_qc_score, then the per-bucket gradient aggregate."""
    scored = cur._qc_score(spark, feats, labels, [int(x) for x in w])
    rows = (
        feats.join(scored.select("doc_id", "resid"), "doc_id")
        .groupBy("bucket")
        .agg(F.sum(F.col("resid") * F.col("cnt")).alias("g"))
        .collect()
    )
    g = np.zeros(cur._QC_D + 1, np.int64)
    for r in rows:
        g[r["bucket"]] = r["g"]
    return g


def _lid_reference_gradient(spark, feats, labels, w) -> np.ndarray:
    """_lid_scores for every class, residuals against the labels, then
    the (cls, bucket) gradient aggregate."""
    S = txt._LID_SCALE
    classes = txt._LID_CLASSES
    model = {
        (c, b): int(w[i, b]) for i, c in enumerate(classes) for b in range(w.shape[1])
    }
    scores = txt._lid_scores(feats, txt._lid_model_df(spark, model))
    p = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(S).cast("long"), F.lit(S // 2) + F.shiftright("score", 2)),
    )
    resid = scores.join(labels, "doc_id").select(
        "doc_id",
        "cls",
        (p - (F.col("lang") == F.col("cls")).cast("long") * S).alias("resid"),
    )
    rows = (
        feats.join(resid, "doc_id")
        .groupBy("cls", "bucket")
        .agg(F.sum(F.col("resid") * F.col("cnt")).alias("g"))
        .collect()
    )
    g = np.zeros_like(w)
    for r in rows:
        g[classes.index(r["cls"]), r["bucket"]] = r["g"]
    return g


def _pca_reference_s(spark, x, v) -> np.ndarray:
    """Broadcast-v projection aggregate, then the per-dim X^T w."""
    vdf = spark.createDataFrame(
        [(j, int(v[j])) for j in range(sim._PCA_D)], "dim int, v long"
    )
    w = (
        x.join(F.broadcast(vdf), "dim")
        .groupBy("vec_id")
        .agg(F.shiftright(F.sum(F.col("xf") * F.col("v")), sim._PCA_WS).alias("w"))
    )
    rows = (
        x.join(w, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("xf") * F.col("w")).alias("s"))
        .collect()
    )
    s = np.zeros(sim._PCA_D, np.int64)
    for r in rows:
        s[r["dim"]] = r["s"]
    return s


def _checked(reference, step, seen):
    """An update that first requires the kernel's summed reduction to
    equal the reference step's at the same model."""

    def update(t, model, total):
        want = reference(model)
        assert np.array_equal(total, want), f"step {t}: kernel != reference"
        seen.append(t)
        return step(t, model, total)

    return update


def test_qc_kernel_matches_reference_every_step(spark, sf001):
    clear_memos()
    w_final, n, feats, labels = cur._qc_train(spark, sf001)
    seen: list[int] = []
    w = iterate_fixed_point(
        cur._qc_table(feats, labels),
        np.zeros(cur._QC_D + 1, np.int64),
        cur._QC_T,
        cur._qc_partial,
        _checked(
            lambda m: _qc_reference_gradient(spark, feats, labels, m),
            functools.partial(cur._qc_step, n),
            seen,
        ),
    )
    assert seen == list(range(cur._QC_T))
    assert w.tolist() == w_final


def test_lid_kernel_matches_reference_every_step(spark, sf001):
    clear_memos()
    w_final, n, feats, labels = txt._lid_train(spark, sf001)
    seen: list[int] = []
    w = iterate_fixed_point(
        txt._lid_table(feats, labels),
        np.zeros((len(txt._LID_CLASSES), txt._LID_D + 1), np.int64),
        txt._LID_T,
        txt._lid_partial,
        _checked(
            lambda m: _lid_reference_gradient(spark, feats, labels, m),
            functools.partial(txt._lid_step, n),
            seen,
        ),
    )
    assert seen == list(range(txt._LID_T))
    for i, c in enumerate(txt._LID_CLASSES):
        assert [int(x) for x in w[i]] == [
            w_final[(c, b)] for b in range(txt._LID_D + 1)
        ]


def test_pca_kernel_matches_reference_every_step(spark, sf001):
    clear_memos()
    v_final, _ = sim._pca_iterate(spark, sf001)
    x = sim._pca_x(spark, sf001)
    v0 = np.zeros(sim._PCA_D, np.int64)
    v0[0] = sim._PCA_XS
    seen: list[int] = []
    v = iterate_fixed_point(
        sim._pca_table(spark, sf001),
        v0,
        sim._PCA_T,
        sim._pca_partial,
        _checked(lambda m: _pca_reference_s(spark, x, m), sim._pca_step, seen),
    )
    assert seen == list(range(sim._PCA_T))
    assert v.tolist() == v_final


def test_qc_kernel_wraps_like_non_ansi_spark(spark):
    """cnt * w and resid * cnt overflow int64 here: NumPy's wrap and
    Spark's non-ANSI `long` wrap must agree bit for bit."""
    big = 1 << 50
    feats = spark.createDataFrame(
        [(1, 0, 3), (1, 128, 1), (2, 0, big), (2, 5, 7), (2, 128, 1), (3, 128, 1)],
        "doc_id long, bucket long, cnt long",
    )
    labels = spark.createDataFrame([(1, 1), (2, 0), (3, 1)], "doc_id long, y int")
    w = np.zeros(cur._QC_D + 1, np.int64)
    w[0] = (1 << 62) + 12345
    w[5] = -(1 << 61)
    w[128] = 1 << 40

    # the unbounded scores of docs 1 and 2: both leave the int64 range
    for score in (3 * int(w[0]) + int(w[128]),
                  big * int(w[0]) + 7 * int(w[5]) + int(w[128])):
        assert not -(1 << 63) <= score < 1 << 63

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        ref = _qc_reference_gradient(spark, feats, labels, w)
        got = []
        iterate_fixed_point(
            cur._qc_table(feats, labels), w, 1, cur._qc_partial,
            lambda t, m, g: got.append(g) or m,
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert np.array_equal(got[0], ref)


# -- forced partition counts, against the DuckDB oracles --------------------


@pytest.fixture(scope="module")
def tiny_corpus(tmp_path_factory, sf_dir):
    """Six documents and six embeddings (the rest of the tables linked):
    seven partitions then leave at least one empty."""
    d = tmp_path_factory.mktemp("fixed_point_tiny")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        if t in ("documents", "embeddings"):
            pq.write_table(pq.read_table(src).slice(0, 6), str(d / f"{t}.parquet"))
        else:
            os.symlink(src, d / f"{t}.parquet")
    return str(d)


# query -> (trainer returning the model first, steps, jobs a cold run
# fires BEFORE its steps: feature/label checkpoints, the label count,
# the training checkpoint; measured at sf0.001)
_TRAINERS = {
    "quality_classifier_weights": (cur._qc_train, cur._QC_T, 14),
    "lang_id_learned": (txt._lid_train, txt._LID_T, 14),
    "embedding_pca_power": (sim._pca_iterate, sim._PCA_T, 4),
}


def _non_empty_partitions(spark, df, key: str) -> int:
    return (
        df.select(F.col(key).cast("long").alias("row_id"))
        .repartition("row_id")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )


def test_trainers_partition_count_invariant_and_oracle_exact(spark, tiny_corpus):
    keys = ("spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions")
    old = {k: spark.conf.get(k) for k in keys}
    docs = load_table(spark, tiny_corpus, "documents")
    vecs = load_table(spark, tiny_corpus, "embeddings")
    models: dict[str, dict[int, object]] = {name: {} for name in _TRAINERS}
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for n_parts in (1, 3, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
            filled = {
                _non_empty_partitions(spark, docs, "doc_id"),
                _non_empty_partitions(spark, vecs, "vec_id"),
            }
            if n_parts == 3:
                assert min(filled) >= 2, "setup: partials must be summed"
            if n_parts == 7:
                assert max(filled) < 7, "setup: one partition must be empty"
            for name, (train, _, _) in _TRAINERS.items():
                clear_memos()
                models[name][n_parts] = train(spark, tiny_corpus)[0]
                got = SPECS[name].fn(spark, tiny_corpus).toPandas()
                compare(got, run_oracle(SPECS[name].oracle, tiny_corpus), name)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        clear_memos()
    for name, by_parts in models.items():
        assert by_parts[1] == by_parts[3] == by_parts[7], name


# -- cost and lifetime ----------------------------------------------------


@pytest.mark.parametrize("name", sorted(_TRAINERS))
def test_trainer_fires_one_job_per_step(spark, sf_dir, name):
    train, n_steps, n_prep = _TRAINERS[name]
    sc = spark.sparkContext
    group = f"fixed-point-jobs-{name}"
    clear_memos()
    sc.setJobGroup(group, group)
    try:
        train(spark, sf_dir)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {j: tracker.getJobInfo(j).stageIds for j in jobs}
    # A step's one stage is named after its call site in fixed_point.py
    # (skipped stages of other jobs have no stage info).
    step_jobs = [
        j for j, ids in stages.items()
        if any("fixed_point.py" in getattr(tracker.getStageInfo(s), "name", "")
               for s in ids)
    ]
    assert len(step_jobs) == n_steps
    assert all(len(stages[j]) == 1 for j in step_jobs)
    assert len(jobs) <= n_prep + n_steps, f"{name}: {len(jobs)} jobs"


def test_clear_memos_releases_trainer_storage(spark, sf_dir):
    sc = spark.sparkContext
    clear_memos()
    before = set(sc._jsc.getPersistentRDDs().keys())
    for train, _, _ in _TRAINERS.values():
        train(spark, sf_dir)
    assert set(sc._jsc.getPersistentRDDs().keys()) - before, "nothing memoized"
    clear_memos()
    leaked = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert not leaked, f"trainer RDDs still persisted: {sorted(leaked)}"
