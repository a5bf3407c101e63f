"""Filter attribute index (doc_attrs): plan shape, correctness vs the
docs-scan fallback, and the serving tier's precomputed arrays.

The reference applies category/date filters through index-time keyword/
date fields (src/embedding/mod.rs:237-330); the Spark analog is a skinny
per-generation (doc_id, shard, category, publisher, published_at) table
sorted by the filter keys so row-group min-max pruning works, plus
node-resident sorted arrays on the serving tier (no per-query O(n_docs)
python loop)."""

import os
from datetime import datetime, timedelta

import numpy as np
import pytest

from baram_spark.corpus import make_query_set, pages_df
from baram_spark.index.builder import IndexBuilder
from baram_spark.query.engine import SearchEngine

N = 300


@pytest.fixture(scope="module")
def attrs_index(spark, tmp_path_factory):
    out = f"{tmp_path_factory.mktemp('attrs')}/idx"
    b = IndexBuilder(spark, out, n_shards=2)
    b.build(pages_df(spark, N, partitions=4), fingerprint="attrs-test")
    return out


def _plan(df) -> str:
    jdf = df._jdf
    em = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return jdf.queryExecution().explainString(em)


def test_attrs_table_written_and_used(spark, attrs_index):
    assert os.path.exists(f"{attrs_index}/doc_attrs/gen=0")
    engine = SearchEngine(spark, attrs_index)
    allowed = engine._allowed_docs("sports", None, None)
    plan = _plan(allowed)
    # the candidate scan reads the attribute index, never the docs table
    assert "/doc_attrs" in plan, plan
    assert "/docs/" not in plan and not plan.rstrip().endswith("/docs"), plan
    # category filter pushed into the parquet scan
    assert "PushedFilters" in plan and "category" in plan, plan
    # publisher facet: same attribute-index path, pushed predicate
    allowed_pub = engine._allowed_docs(None, None, None, "바람일보")
    plan_pub = _plan(allowed_pub)
    assert "/doc_attrs" in plan_pub, plan_pub
    assert "PushedFilters" in plan_pub and "publisher" in plan_pub, plan_pub


def test_attrs_matches_docs_fallback(spark, attrs_index):
    """Filtered search results identical whether the candidate set comes
    from doc_attrs or the old column-pruned docs scan."""
    engine = SearchEngine(spark, attrs_index)
    q = make_query_set()[0]["query_text"]
    d0 = datetime(2024, 1, 1)
    d1 = d0 + timedelta(days=200)
    cases = [
        {"category": "sports"},
        {"date_from": d0, "date_to": d1},
        {"category": "economy", "date_from": d0},
        {"publisher": "바람일보"},
        {"publisher": "스파크뉴스", "category": "sports"},
    ]
    for kw in cases:
        with_attrs = engine.search(q, k=10, mode="distributed", **kw)
        engine_fb = SearchEngine(spark, attrs_index)
        engine_fb._doc_attrs = lambda: None  # force the docs-scan fallback
        fallback = engine_fb.search(q, k=10, mode="distributed", **kw)
        assert with_attrs == fallback, kw
        local = engine.search(q, k=10, mode="local", **kw)
        assert local == with_attrs, kw


def test_serving_allowed_arrays_match_naive_loop(spark, attrs_index):
    from baram_spark.serving import ServingContext

    ctx = ServingContext(spark, attrs_index)
    snap = ctx._snap
    d0 = datetime(2024, 1, 1)
    d1 = d0 + timedelta(days=150)

    def naive(category, date_from, date_to, publisher=None):
        out = []
        for doc_id, m in snap.meta.items():
            if category is not None and m["category"] != category:
                continue
            if publisher is not None and m["publisher"] != publisher:
                continue
            pub = m["published_at"]
            if date_from is not None and (pub is None or pub < date_from):
                continue
            if date_to is not None and (pub is None or pub > date_to):
                continue
            out.append(doc_id)
        return np.array(sorted(out), dtype=np.int64)

    for args in [("sports", None, None), (None, d0, d1),
                 ("economy", d0, None), (None, None, d1),
                 ("no-such-category", None, None),
                 (None, None, None, "바람일보"),
                 ("sports", d0, d1, "스파크뉴스"),
                 (None, None, None, "no-such-publisher")]:
        got = ctx._allowed(snap, *args)
        exp = naive(*args)
        assert got is not None
        assert np.array_equal(got, exp), args
    assert ctx._allowed(snap, None, None, None) is None


def test_k_zero_returns_no_hits(spark, attrs_index):
    """k=0 means 'no hits' — the old max(1, k) clamp returned one."""
    engine = SearchEngine(spark, attrs_index)
    q = make_query_set()[0]["query_text"]
    assert engine.search(q, k=0, mode="local") == []
    assert engine.search(q, k=-3, mode="local") == []
    assert engine.search(q, k=1, mode="local") != []
