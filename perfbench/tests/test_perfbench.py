"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402
from stats import beyond, highest_supported_percentile, p90_if_supported  # noqa: E402
from tracer import Span, Tracer, self_times, self_values  # noqa: E402


# -- span self-time arithmetic ---------------------------------------------
def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("op", "op", 0.0, 10.0, None, 0),
        Span("queries.build", "queries", 0.0, 6.0, 0, 0),
        Span("tables.t", "tables", 1.0, 3.0, 1, 0),
        Span("llm.f", "llm", 3.0, 5.5, 1, 0),
        Span("operators.g", "operators", 4.0, 5.0, 3, 0),
        Span("exec", "exec", 6.0, 10.0, 0, 0),
    ]
    assert self_times(spans) == pytest.approx([0.0, 1.5, 2.0, 1.5, 1.0, 4.0])
    # self times partition the root span exactly
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_self_jobs_use_the_same_arithmetic():
    spans = [
        Span("llm.f", "llm", 0.0, 4.0, None, 0, jobs=5),
        Span("operators.g", "operators", 1.0, 2.0, 0, 0, jobs=2),
        Span("tables.t", "tables", 2.0, 3.0, 0, 0, jobs=1),
    ]
    assert self_values(spans, lambda s: s.jobs) == [2, 2, 1]


def test_tracer_records_nesting_with_a_fake_clock():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))

    def inner():
        return 7

    def outer():
        return tr.call("operators.inner", "operators", inner) + 1

    assert tr.call("llm.outer", "llm", outer) == 8
    outer_span, inner_span = tr.spans
    assert inner_span.parent == 0 and outer_span.parent is None
    # outer: 0..3, inner: 1..2 -> outer self time 2
    assert self_times(tr.spans) == [2.0, 1.0]


def test_tracer_closes_spans_when_the_call_raises():
    tr = Tracer()

    def boom():
        raise RuntimeError("x")

    with pytest.raises(RuntimeError):
        tr.call("io.read_json", "io", boom)
    assert tr.spans[0].end >= tr.spans[0].start
    # the parent stack unwound: the next span is a root again
    tr.call("io.read_parquet", "io", lambda: None)
    assert tr.spans[1].parent is None


def test_install_rebinds_from_imports_and_uninstall_restores():
    lib = types.ModuleType("gcp_etl_spark.llm._perfbench_fake")

    def cosine(x):
        return x * 2

    cosine.__module__ = lib.__name__
    lib.cosine = cosine
    user = types.ModuleType("gcp_etl_spark.queries._perfbench_fake")
    user.cosine = cosine  # as if ``from ... import cosine``
    sys.modules[lib.__name__] = lib
    sys.modules[user.__name__] = user
    try:
        tr = Tracer()
        tr.install()
        assert user.cosine is lib.cosine is not cosine
        assert user.cosine(3) == 6
        assert [s.name for s in tr.spans] == ["llm.cosine"]
        tr.uninstall()
        assert user.cosine is cosine and lib.cosine is cosine
    finally:
        del sys.modules[lib.__name__], sys.modules[user.__name__]


def test_layer_metrics_split_self_time_by_layer():
    tr = Tracer()
    tr.spans = [
        Span("op", "op", 0.0, 10.0, None, 0, jobs=4),
        Span("queries.build", "queries", 0.0, 6.0, 0, 0, jobs=3),
        Span("tables.t", "tables", 1.0, 3.0, 1, 0, jobs=1),
        Span("llm.f", "llm", 3.0, 5.5, 1, 0, jobs=2),
        Span("exec", "exec", 6.0, 10.0, 0, 0, jobs=1),
    ]
    m = layers.metrics(
        tracer=tr,
        setups={"get_spark": [1.0, 0.2, 0.3], "load_all": [0.5, 0.0, 0.0]},
        lat_plain=[("a", 1.0)],
        lat_traced=[("a", 1.1)],
        per_op=[],
        cores=4,
        written=(0, 0),
        landing_bytes=0,
    )
    assert set(m) == set(layers.PER_LAYER)
    assert m["tables.t_s"][0] == pytest.approx(2.0)
    assert m["llm.s"][0] == pytest.approx(2.5)
    assert m["queries.build_self_s"][0] == pytest.approx(1.5)
    assert m["queries.build_jobs"][0] == 0
    assert m["exec.s"][0] == pytest.approx(4.0)
    assert m["exec.jobs"][0] == 4
    assert m["session.get_spark_s"][0] == pytest.approx(0.3)
    assert m["trace.overhead_frac"][0] == pytest.approx(0.1)


# -- seeded generators -----------------------------------------------------
def test_table_dir_holds_every_table():
    assert sorted(os.listdir(gen.TABLE_DIR)) == sorted(f"{t}.parquet" for t in gen.TABLES)


def test_tables_are_a_seeded_permutation_of_the_fixture(tmp_path):
    import pyarrow.parquet as pq

    names = ("nation", "supplier", "embeddings")
    gen.write_tables(str(tmp_path / "a"), seed=3, names=names)
    gen.write_tables(str(tmp_path / "b"), seed=3, names=names)
    gen.write_tables(str(tmp_path / "c"), seed=4, names=names)
    for name in names:
        files = [str(tmp_path / d / f"{name}.parquet") for d in "abc"]
        assert _digest(files[:1]) == _digest(files[1:2]), name
        assert _digest(files[:1]) != _digest(files[2:]), name
        base = pq.read_table(os.path.join(gen.TABLE_DIR, f"{name}.parquet"))
        perm = pq.read_table(files[0])
        assert perm.schema == base.schema
        key = [(base.column_names[0], "ascending")]
        assert perm.sort_by(key).equals(base.sort_by(key)), name
        assert not perm.equals(base), name


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_landing_identical_per_seed_and_different_across_seeds(tmp_path):
    one = gen.write_landing(str(tmp_path / "a"), seed=5, rows=2000, files=3)
    two = gen.write_landing(str(tmp_path / "b"), seed=5, rows=2000, files=3)
    other = gen.write_landing(str(tmp_path / "c"), seed=6, rows=2000, files=3)
    assert len(one) == 3
    assert _digest(one) == _digest(two)
    assert _digest(one) != _digest(other)
    lines = sum(sum(1 for _ in open(p, encoding="utf-8")) for p in one)
    assert lines == 2000


# -- the op_p90_s emission rule ---------------------------------------------
def test_p90_needs_ten_samples_beyond_it():
    assert p90_if_supported([float(i) for i in range(99)]) is None  # 9 beyond
    xs = [float(i) for i in range(100)]
    assert beyond(xs, 90.0) == 10
    assert p90_if_supported(xs) == 89.0
    assert p90_if_supported([]) is None


def test_p90_rule_counts_strictly_greater_samples_only():
    # ties at the p90 value are not "beyond" it
    xs = [1.0] * 95 + [2.0] * 5
    assert beyond(xs, 90.0) == 5
    assert p90_if_supported(xs) is None


def test_highest_supported_percentile():
    assert highest_supported_percentile([float(i) for i in range(15)]) is None
    assert highest_supported_percentile([float(i) for i in range(40)]) == 50.0
    assert highest_supported_percentile([float(i) for i in range(1000)]) == 99.0
