"""Partition-order determinism of cross-row aggregations.

The r10 q20_doc_quality regression: ``classify()`` summed DOUBLE
weights across rows, so the rounded 6th decimal of a knife-edge logit
depended on the partition/merge order — a sibling plan change flipped
it. The fix moves the sum onto the exact integer nano-unit grid. These
tests fuzz the input partitioning (1, 8, 32) and assert bit-identical
output multisets, plus equality with an exact-integer Python replay.
"""
from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from jsonl_dataingestion_pipeline_spark.functions.classifier import (
    classify,
    default_weight_table,
)

_PARTITION_COUNTS = (1, 8, 32)


def _bucket_py(term: str, n: int) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n


def _weight_u_py(b: int, scale: int = 6) -> int:
    """default_weight_table weight in exact nano-units (integer)."""
    w = round(((b * 2_654_435_761 + 99991) % 2_000_003)
              / 2_000_003.0 * 2 - 1, scale)
    return round(w * 1e9)


def _docs(n_docs: int = 120) -> list[tuple[int, str]]:
    """Deterministic synthetic corpus with skewed term multiplicity so
    per-document sums mix many distinct weight values."""
    vocab = [f"w{i % 37}" for i in range(200)]
    out = []
    for d in range(n_docs):
        k = (d * 7919) % 53 + 1
        toks = [vocab[(d * 31 + j * 17) % len(vocab)] for j in range(k)]
        out.append((d, " ".join(toks)))
    out.append((n_docs, ""))      # zero-term doc: logit = bias
    out.append((n_docs + 1, "   "))
    return out


def _replay(docs, nf, bias, scale=6):
    exp = {}
    for doc_id, text in docs:
        toks = [t for t in text.lower().split() if t]
        terms = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if not terms:
            exp[doc_id] = (0, round(bias, scale))
            continue
        swu = sum(_weight_u_py(_bucket_py(t, nf)) for t in terms)
        logit = round(bias + swu / 1e9 / len(terms), scale)
        exp[doc_id] = (len(terms), logit)
    return exp


def test_classify_partition_count_invariant(spark):
    """q134/q20 shape: identical multisets under 1/8/32 partitions and
    exact match with the integer-grid replay."""
    docs = _docs()
    nf, bias = 64, -0.05
    w = default_weight_table(spark, n_features=nf)
    exp = _replay(docs, nf, bias)
    results = []
    for p in _PARTITION_COUNTS:
        df = spark.createDataFrame(
            docs, "doc_id long, text string"
        ).repartition(p)
        rows = sorted(
            (r.doc_id, r.n_terms, r.logit, r.label)
            for r in classify(
                df, "text", "doc_id", w,
                n_features=nf, bias=bias, threshold=0.0,
            ).collect()
        )
        results.append(rows)
    # identical (bit-level: tuples compare floats exactly) across
    # partition counts
    assert results[0] == results[1] == results[2]
    # and equal to the exact integer replay
    for doc_id, n_terms, logit, label in results[0]:
        en, el = exp[doc_id]
        assert n_terms == en, (doc_id, n_terms, en)
        assert logit == el, (doc_id, logit, el)
        assert label == ("keep" if logit >= 0.0 else "drop")


def test_dsir_weights_partition_count_invariant(spark):
    """dsir_weights sums per-row 1e-6-grid log-ratios; the sum now runs
    in exact integer micro-units — identical under any partitioning."""
    from jsonl_dataingestion_pipeline_spark.operators.dsir import (
        dsir_log_ratio_table,
        dsir_weights,
    )

    docs = _docs(80)
    results = []
    for p in _PARTITION_COUNTS:
        df = spark.createDataFrame(
            docs, "doc_id long, text string"
        ).repartition(p)
        raw = df.filter(F.col("doc_id") % 2 == 0)
        target = df.filter(F.col("doc_id") % 3 == 0)
        rt = dsir_log_ratio_table(raw, target, "text", n_features=64)
        rows = sorted(
            (r[0], r[1], r[2])
            for r in dsir_weights(
                raw, rt, "text", "doc_id", n_features=64
            ).collect()
        )
        results.append(rows)
    assert results[0] == results[1] == results[2]


def test_rolling_stats_grid_mean_partition_invariant(spark):
    """rolling_stats(value_grid=2): cent-grid values with EQUAL
    timestamps inside one frame (no deterministic peer order) must give
    identical means under any partitioning. Every fifth value is NULL:
    the mean divides by the frame's non-NULL count, as ``avg`` does, and
    matches a Python replay of the same float op chain."""
    import datetime
    from decimal import ROUND_HALF_UP, Decimal

    from jsonl_dataingestion_pipeline_spark.operators.timeseries import (
        rolling_stats,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for k in range(6):
        for t in range(40):
            # three events per instant -> peers with no total order
            for j in range(3):
                eid += 1
                rows.append(
                    (
                        eid,
                        k,
                        base + datetime.timedelta(seconds=60 * (t % 7)),
                        None
                        if eid % 5 == 0
                        else round(((eid * 37) % 1000) / 100.0, 2),
                    )
                )
    results = []
    for p in _PARTITION_COUNTS:
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        ).repartition(p)
        out = sorted(
            (r.event_id, r.roll_n, r.roll_mean, r.roll_min, r.roll_max)
            for r in rolling_stats(
                df, "ts", "user_id", "value",
                window_seconds=120, value_grid=2,
            ).collect()
        )
        results.append(out)
    assert results[0] == results[1] == results[2]

    def replay(e, k, ts):
        cents = [
            round(v * 100)
            for _, k2, ts2, v in rows
            if k2 == k and 0 <= (ts - ts2).total_seconds() <= 120
            and v is not None
        ]
        mean = float(sum(cents)) / 100.0 / float(len(cents))
        # Spark's ROUND: HALF_UP on the shortest repr of the double
        return float(
            Decimal(repr(mean)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )

    expected = sorted((e, replay(e, k, ts)) for e, k, ts, _ in rows)
    assert [(r[0], r[2]) for r in results[0]] == expected


def test_pagerank_reround_partition_invariant(spark):
    """Surviving float sum (documented order-safe): pagerank's
    per-iteration contribution sum is re-rounded to the 1e-9 grid every
    round — six orders of magnitude above the ~1e-16 summation noise —
    so ranks must be identical under any input partitioning."""
    from jsonl_dataingestion_pipeline_spark.operators.graph import pagerank

    edges = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(160)]
    results = []
    for p in _PARTITION_COUNTS:
        df = spark.createDataFrame(
            edges, "src string, dst string"
        ).repartition(p)
        ranks = sorted(
            (r.node_id, r.rank)
            for r in pagerank(df, iterations=4).collect()
        )
        results.append(ranks)
    assert results[0] == results[1] == results[2]


def test_event_value_sum_reround_partition_invariant(spark):
    """Surviving float sum (documented order-safe): SUM over 0.01-grid
    event values re-rounded AT the same 0.01 grid — the true sum is a
    grid point, so flipping needs half a cent of accumulated fp error.
    Fuzz partitioning over a skewed value set to pin the contract."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(minutes=i % 90),
            f"t{i % 4}",
            round(((i * 997) % 100000) / 100.0 + 0.01, 2),
        )
        for i in range(4000)
    ]
    results = []
    for p in _PARTITION_COUNTS:
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        ).repartition(p)
        out = sorted(
            (r.event_type, r.n, r.total)
            for r in df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("total"),
            )
            .collect()
        )
        results.append(out)
    assert results[0] == results[1] == results[2]


def test_classify_sum_is_integer_typed(spark):
    """Guard the fix's mechanism: the aggregate feeding the logit must
    be a decimal (exact) sum, never a DOUBLE sum."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    w = default_weight_table(spark, n_features=32)
    plan = (
        classify(df, "text", "doc_id", w, n_features=32)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "sum(weight" not in plan, plan
