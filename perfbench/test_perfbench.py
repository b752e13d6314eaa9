"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from spans import JobStats, Span  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = gen.generate(workload, 7, tmp_path / "a")
    b = gen.generate(workload, 7, tmp_path / "b")
    c = gen.generate(workload, 8, tmp_path / "c")
    assert a == b
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    fa, fc = _files(tmp_path / "a"), _files(tmp_path / "c")
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)


def test_manifest_records_rows_and_bytes(tmp_path):
    d, m = gen.ensure_inputs("voter_import", 3, tmp_path)
    truth = m["truth"]
    csv = m["files"]["voters.csv"]
    assert csv["rows"] == truth["data_lines"] == truth["good_rows"] + truth["malformed_lines"]
    assert csv["bytes"] == (d / "voters.csv").stat().st_size
    assert m["files"]["registry.parquet"]["rows"] == truth["registry_rows"]
    # the second call reuses the cached inputs
    assert gen.ensure_inputs("voter_import", 3, tmp_path) == (d, m)


def test_voter_csv_is_latin1_with_caret_quotes(tmp_path):
    gen.generate("voter_import", 5, tmp_path)
    raw = (tmp_path / "voters.csv").read_bytes()
    text = raw.decode("iso-8859-1")
    assert any(ch in text for ch in "éñüøó")
    with pytest.raises(UnicodeDecodeError):
        raw.decode("utf-8")
    assert "^" in text and "\n\n" in text


def _span(i, parent, start, end, layer="operators.fuzzy"):
    return Span(i, parent, layer, f"s{i}", start, end)


def test_steal_share_is_stolen_over_used_time():
    assert run.steal_share((10, 100), (15, 200)) == pytest.approx(0.05)
    assert run.steal_share((10, 100), (10, 100)) == 0.0


def test_pass_count_depends_on_requested_seconds_only():
    assert run.warm_passes(1) == 1
    assert run.warm_passes(BENCHMARK["run_seconds"]) == 3


def test_self_time_subtracts_covered_child_interval():
    tree = [
        _span(1, None, 0.0, 10.0, "bench"),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2: [1, 6] counts once
        _span(4, 2, 2.0, 3.0),
        _span(5, 1, 9.5, 12.0),  # runs past its parent: clipped at 10
    ]
    st = spans.self_times(tree)
    assert st[1] == pytest.approx(10.0 - 5.0 - 0.5)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(2.5)


def test_jobs_land_on_the_innermost_span_and_average_per_pass():
    tree = [
        _span(1, None, 0.0, 4.0, "bench"),
        _span(2, 1, 0.0, 3.0, "plans.matching"),
        _span(3, 2, 1.0, 2.0, "session"),
    ]
    tag = spans.TAG_PREFIX
    jobs = [
        JobStats(0, [tag + "3"], stages=2, tasks=8, task_s=4.0, shuffle_bytes=2 * spans.MB),
        JobStats(1, [tag + "2"], stages=1, tasks=4, task_s=2.0, spill_bytes=spans.MB),
        JobStats(2, [tag + "1"], stages=1, tasks=1, task_s=0.5),
        JobStats(3, [], stages=1, tasks=1, task_s=9.0),  # untraced pass
    ]
    m = spans.layer_metrics(tree, jobs, passes=2, wall_s=4.0)
    assert m["session.jobs"] == 0.5 and m["session.task_s"] == 2.0
    assert m["session.shuffle_mb"] == 1.0
    assert m["plans.matching.jobs"] == 0.5 and m["plans.matching.spill_mb"] == 0.5
    assert m["plans.matching.self_s"] == pytest.approx((3.0 - 1.0) / 2)
    assert m["plans.matching.calls"] == 0.5
    assert m["spark.jobs"] == 1.5 and m["spark.tasks"] == 6.5
    assert m["spark.task_s"] == pytest.approx(3.25)
    assert m["spark.parallelism"] == pytest.approx(3.25 / 2.0)
    assert m["operators.similarity.calls"] == 0.0


def test_every_printed_metric_is_declared_and_well_named():
    declared = run.declared_units()
    for section in ("end_to_end", "per_layer"):
        listed = {m["name"]: m["unit"] for m in BENCHMARK[section]}
        assert listed == declared[section], section
        assert all(NAME.match(n) for n in listed)
    e2e = run.e2e_metrics([1.0, 2.0, 3.0], 100, 5.0, 2**20)
    assert set(e2e) == set(declared["end_to_end"])
    layer = spans.layer_metrics([], [], 1, 1.0)
    layer.update(run.ratio_metrics({}, {"truth": {}}, [1.0], [1.5], 4, 0))
    assert set(layer) == set(declared["per_layer"])
    assert set(BENCHMARK) == {"command", "paths", "run_seconds", "workloads",
                              "end_to_end", "per_layer"}
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(gen.SIZES)


def test_tracer_wraps_by_name_imports_and_restores_them():
    from voter_gateway_spark import session
    from voter_gateway_spark.operators import dedup_ops, fuzzy
    from voter_gateway_spark.plans import matching

    originals = (session.ckpt, fuzzy.ckpt, matching.ckpt, dedup_ops.ckpt_parallel,
                 fuzzy.top1_fuzzy_match, matching.MatchPlan.matches)
    t = spans.Tracer(sc=None)
    n = t.install()
    try:
        assert n > 50
        assert fuzzy.ckpt is session.ckpt is matching.ckpt
        assert fuzzy.ckpt is not originals[0]
        assert dedup_ops.ckpt_parallel is session.ckpt_parallel
        assert fuzzy.top1_fuzzy_match is not originals[4]
        assert matching.MatchPlan.matches is not originals[5]
        # Column builders launch no job and stay unwrapped
        assert fuzzy.trigrams.__module__ == fuzzy.__name__
        assert not hasattr(fuzzy.trigrams, "__wrapped__")
    finally:
        t.uninstall()
    assert (session.ckpt, fuzzy.ckpt, matching.ckpt, dedup_ops.ckpt_parallel,
            fuzzy.top1_fuzzy_match, matching.MatchPlan.matches) == originals


def test_context_manager_span_covers_the_block():
    from voter_gateway_spark import session

    t = spans.Tracer(sc=None)
    t.install()
    try:
        with t.root("op"):
            with session.ckpt_defer():
                pass
    finally:
        t.uninstall()
    names = {s.name: s for s in t.spans}
    defer = names["session.ckpt_defer"]
    assert defer.parent == names["op"].id
    assert defer.end >= defer.start > 0
