"""The seeded generators: same seed, same inputs; another seed, others."""

import numpy as np
import pandas as pd

from perfbench import gen


def _same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return a.equals(b)


def test_pages_are_deterministic_per_seed():
    for name in ("corpus", "bigvocab"):
        a, b = gen.PageSource(name, 5), gen.PageSource(name, 5)
        assert _same(a.render(a.indices(0, 20)), b.render(b.indices(0, 20)))
        c = gen.PageSource(name, 6)
        assert not _same(a.render(a.indices(0, 20)),
                         c.render(c.indices(0, 20)))


def test_bigvocab_words_are_distinct_hangul():
    words = {gen.big_word(r) for r in range(0, gen.BIG_VOCAB_SIZE, 97)}
    assert len(words) == len(range(0, gen.BIG_VOCAB_SIZE, 97))
    assert all(len(w) == 3 for w in words)
    ranks = gen.big_ranks(np.random.default_rng(0), 50_000)
    assert ranks.max() < gen.BIG_VOCAB_SIZE
    # Zipf: the head repeats, the tail is long
    assert (ranks == 0).sum() > 1000 and len(set(ranks.tolist())) > 10_000


def test_wave_schedule():
    src = gen.PageSource("corpus", 3)
    waves = gen.wave_schedule(3, src, base_pages=500, n_waves=3,
                              wave_pages=100)
    assert all(
        np.array_equal(a.new, b.new) and np.array_equal(a.recrawl, b.recrawl)
        for a, b in zip(waves, gen.wave_schedule(3, src, 500, 3, 100)))
    committed = set(src.indices(0, 500).tolist())
    for w in waves:
        assert len(w.new) == 90 and len(w.recrawl) == 10
        assert set(w.recrawl.tolist()) <= committed  # re-crawls are known urls
        assert not set(w.new.tolist()) & committed
        committed |= set(w.new.tolist())
    assert [w.delete_share > 0 for w in waves] == [False, True, False]


def test_probe_is_planted_in_the_body():
    src = gen.PageSource("bigvocab", 1)
    html = src.render(src.indices(0, 1)).at[0, "html"]
    planted = gen.plant_probe(html, gen.probe_term(1, 0))
    assert planted is not None and b"zqprobe1w0 " in planted
    assert gen.plant_probe(b"<html><body>deleted</body></html>", "x") is None


def test_query_pool_and_stream_are_deterministic():
    for source in ("corpus", "bigvocab"):
        pool = gen.query_pool(9, source)
        assert pool == gen.query_pool(9, source)
        assert pool != gen.query_pool(10, source)
        modes = [q.mode for q in pool]
        assert modes.count("hybrid") and sum(q.filtered for q in pool)
        assert {q.k for q in pool} >= {10, 50}
    pool = gen.query_pool(9, "corpus")
    assert gen.query_stream(9, pool, 500) == gen.query_stream(9, pool, 500)
    assert gen.query_stream(9, pool, 500) != gen.query_stream(8, pool, 500)


def test_operator_tables_are_deterministic():
    a, b, c = (gen.operator_tables(s) for s in (4, 4, 5))
    assert set(a) == set(gen.operator_tables(0))
    for name in a:
        assert a[name].astype(str).equals(b[name].astype(str)), name
    assert not a["lineitem"].equals(c["lineitem"])
