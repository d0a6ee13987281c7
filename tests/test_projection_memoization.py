"""The engine's one memo (``operators.common.memo``).

Its contract: keyed per Spark application, LRU-bounded, safe when two
threads miss at once. The shipment projections memoized through it
(clean, summaries, milestones, content, docs) must be invisible: a hit
returns the same rows as a fresh build, and the keys must discriminate
every input that shapes the trees (as_of, flags)."""

from __future__ import annotations

import sys
import threading
from types import SimpleNamespace

import pytest

from jsonl_dataingestion_pipeline_spark.operators import common
from jsonl_dataingestion_pipeline_spark.operators.docs import normalize_documents
from jsonl_dataingestion_pipeline_spark.plans.shipment import transform_shipments

from test_pipeline import AS_OF, FULL_ROW


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_transform_cache_hit_identical(shipment_df_factory):
    df = shipment_df_factory([FULL_ROW])
    first = _rows(transform_shipments(df, as_of=AS_OF))
    # second call takes the cache-hit path through every memoized builder
    second = _rows(transform_shipments(shipment_df_factory([FULL_ROW]), as_of=AS_OF))
    assert first == second


def test_as_of_is_part_of_the_cache_key(shipment_df_factory):
    df = shipment_df_factory([FULL_ROW])
    base = transform_shipments(df, as_of=AS_OF).first()
    # a later clock must rebuild the derived trees, not reuse AS_OF's:
    # with no ata_dp_date fallback past the ETA, the dp delay keeps
    # growing with the clock
    later = transform_shipments(
        shipment_df_factory([dict(FULL_ROW, ata_dp_date="")]), as_of="2024-09-01"
    ).first()
    earlier = transform_shipments(
        shipment_df_factory([dict(FULL_ROW, ata_dp_date="")]), as_of="2024-06-01"
    ).first()
    assert later["dp_delayed_dur"] != earlier["dp_delayed_dur"]
    assert base["shipment_status"] is not None


def test_doc_flags_are_part_of_the_cache_key(shipment_df_factory):
    derived = transform_shipments(
        shipment_df_factory([dict(FULL_ROW, carr_eqp_uid="", job_no="", container_number="")]),
        as_of=AS_OF,
    )
    with_fallback = normalize_documents(derived).first()
    without = normalize_documents(derived, with_doc_index_fallback=False).first()
    assert with_fallback["document_id"].startswith("doc_")
    assert without["document_id"] is None


def _app(app_id: str):
    """Stand-in for a SparkSession: the memo reads only the app id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture()
def small_memo(monkeypatch):
    monkeypatch.setattr(common, "MEMO_SIZE", 3)
    common.memo_clear()
    yield
    common.memo_clear()


def test_memo_lru_evicts_only_the_oldest_and_keeps_a_touched_one(small_memo):
    app = _app("app-a")
    builds = []

    def get(k):
        return common.memo(app, k, lambda: builds.append(k) or k.upper())

    assert [get(k) for k in ("a", "b", "c")] == ["A", "B", "C"]
    assert get("a") == "A"  # a hit touches "a": "b" is now the oldest
    assert builds == ["a", "b", "c"]
    get("d")  # full: evicts "b" only
    assert [k for _app, k in common._MEMO] == ["c", "a", "d"]
    get("a"), get("c")
    assert builds == ["a", "b", "c", "d"]
    get("b")
    assert builds == ["a", "b", "c", "d", "b"]


def test_memo_keeps_application_ids_apart(small_memo):
    one, two = _app("app-1"), _app("app-2")
    assert common.memo(one, "k", lambda: 1) == 1
    assert common.memo(two, "k", lambda: 2) == 2
    assert common.memo(one, "k", lambda: 3) == 1
    assert common.memo(two, "k", lambda: 4) == 2


def test_memo_concurrent_misses_share_the_first_value(small_memo):
    app = _app("app-a")
    both_building = threading.Barrier(2, timeout=10)
    got = [None, None]

    def worker(i):
        def build():
            both_building.wait()  # both threads have missed
            return object()

        got[i] = common.memo(app, "shared", build)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=20)
        assert not t.is_alive()
    assert got[0] is not None and got[0] is got[1]
    assert common.memo(app, "shared", lambda: None) is got[0]


def test_memo_stress_under_eviction(small_memo):
    """More threads than cores hammer a 3-entry memo over 7 keys: every
    call must return its own key's value and the bound must hold."""
    app = _app("app-a")
    wrong = []

    def churn(i):
        try:
            for n in range(500):
                k = (i + n) % 7
                v = common.memo(app, k, lambda k=k: k * 10)
                if v != k * 10:
                    wrong.append((k, v))
        except Exception as e:  # a race surfaces as KeyError/RuntimeError
            wrong.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert wrong == []
    assert len(common._MEMO) <= 3
