"""Percentile rule, generator determinism, and failure accounting."""

import zlib

import pyarrow as pa
import pytest

from perfbench import gen, stats
from perfbench.harness import Ops, check
from perfbench.trace import Tracer


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(50) == 80
    assert stats.tail_percentile(99) == 80
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(200) == 95
    assert stats.tail_percentile(1000) == 99
    for n in range(1, 2000):
        p = stats.tail_percentile(n)
        if p is not None:
            beyond = n - -(-p * n // 100)  # n - ceil(p n / 100)
            assert beyond >= stats.MIN_BEYOND


def test_latency_metrics_names_the_supported_tail():
    m = stats.latency_metrics("query", [float(i) for i in range(1, 41)])
    assert m["query_p50_s"] == (20.5, "s")
    assert m["query_p75_s"] == (30.0, "s")
    assert m["query_n"] == (40, "count")
    assert "query_p90_s" not in m
    assert "query_p75_s" not in stats.latency_metrics("query", [1.0] * 39)


def _digest(obj) -> int:
    return zlib.crc32(repr(obj.to_pydict() if isinstance(obj, pa.Table) else obj).encode())


def test_generator_is_deterministic_per_seed():
    def digests(seed):
        star = gen.star_tables(seed)
        day = gen.lake_day_inputs(seed, 3)
        cur = gen.curation_inputs(seed, 800)
        return (
            [_digest(t) for t in star.values()],
            [_digest(day[k]) for k in ("articles", "append", "corrections", "branch")]
            + [_digest(t) for t in day["stream"]] + [day["delete_predicate"]],
            [_digest(cur[k]) for k in ("corpus", "bench", "delta")] + [_digest(cur["expect"])],
            gen.lake_predicates(seed, 3),
            gen.questions(seed, ["a b c d e f g h i j"] * 5, 4),
        )

    assert digests(7) == digests(7)
    assert digests(7) != digests(8)


def test_planted_funnel_adds_up():
    cur = gen.curation_inputs(3, 1000)
    f, delta = cur["expect"]["funnel"], cur["delta"]
    assert f["input"] == delta.num_rows == 1000
    assert len(set(delta.column("doc_id").to_pylist())) == 1000
    assert len(cur["expect"]["released"]) == f["mixed"]
    assert cur["expect"]["kept_after_cluster"] < cur["expect"]["released"]
    # every exact duplicate keeps its original's smaller id
    first = {}
    for i, t in zip(delta.column("doc_id").to_pylist(), delta.column("text").to_pylist()):
        first[t] = min(first.get(t, i), i)
    assert cur["expect"]["released"] <= set(first.values())


def test_forced_failing_op_counts_in_failed_frac_with_error_text():
    ops = Ops(Tracer(None))
    assert ops.run("query", "query", lambda: 41, lambda v: check(v == 41, "wrong")) == 41

    def boom():
        raise RuntimeError("executor lost")

    assert ops.run("query", "query", boom, name="q_boom") is None
    ops.run("query", "query", lambda: 1, lambda v: check(v == 2, "rows differ from oracle"), name="q_wrong")
    assert (ops.attempted, ops.failed) == (3, 2)
    assert ops.failed_frac == pytest.approx(2 / 3)
    assert ops.errors == ["q_boom: RuntimeError: executor lost",
                          "q_wrong: CheckFailed: rows differ from oracle"]
    # failed ops contribute no latency sample
    assert len(ops.walls["query"]) == 1
