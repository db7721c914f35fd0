"""Bench-hygiene tooling tests (no Spark session needed).

record_bench_baseline's load gate is what stale-proofs every following
round's vs_prev comparison (verdict r9 #9), and its min-of-N promotion
is what keeps intra-window hypervisor steal bursts out of the promoted
baseline (verdict r10 #1) — pin the refusal paths, the ≥2-run
requirement, the per-cell minima, and the provenance stamp so a future
edit can't silently drop any of them.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))


def _run(tmp_path, monkeypatch, outs, argv=()):
    """Write each record in ``outs`` (first → bench_out.json, rest →
    bench_run_N.json) and invoke the promotion CLI."""
    import record_bench_baseline as rbb

    monkeypatch.setattr(rbb, "ROOT", str(tmp_path))
    if isinstance(outs, dict):
        outs = [outs]
    for i, out in enumerate(outs):
        name = "bench_out.json" if i == 0 else f"bench_run_{i}.json"
        with open(tmp_path / name, "w") as fh:
            json.dump(out, fh)
    monkeypatch.setattr(sys, "argv", ["record_bench_baseline.py", *argv])
    return rbb.main()


def _bench_record(start_load, mid_load, medians=None, noisy=(), **over):
    rec = {
        "value": 70.0,
        "queries_median": medians or {"q1": 1.0, "q2": 2.0},
        "sf": 0.1,
        "git_sha": "abc123def456",
        "host": {
            "loadavg_at_start": [start_load, 0.0, 0.0],
            "loadavg_mid_headline_max": mid_load,
            "canary": {
                "noisy_queries": list(noisy),
                "mp": {"floor_ms": 110.0, "degraded_queries": []},
            },
        },
    }
    rec.update(over)
    return rec


def test_promotion_refused_under_load(tmp_path, monkeypatch):
    # mid-load backstop (r11: 24.0 — bench self-load under steal reads
    # 15-21; only external work pushes past) → no eligible contributor
    assert _run(tmp_path, monkeypatch, _bench_record(0.1, 26.0)) == 2
    assert not (tmp_path / "bench_baseline.json").exists()
    # pre-existing contention at start → refused even with a quiet mid
    assert _run(tmp_path, monkeypatch, _bench_record(9.0, 10.0)) == 2
    # exhausted canary budget = ungated timings → refused
    exhausted = _bench_record(0.1, 10.0)
    exhausted["host"]["canary"]["budget_exhausted"] = True
    assert _run(tmp_path, monkeypatch, exhausted) == 2
    # --force overrides (single contaminated run, provenance marks it)
    assert _run(tmp_path, monkeypatch, _bench_record(0.1, 26.0), ["--force"]) == 0
    with open(tmp_path / "bench_baseline.json") as fh:
        assert json.load(fh)["provenance"]["forced"] is True


def test_promotion_requires_two_gated_runs(tmp_path, monkeypatch):
    # ONE clean run is not baseline material under min-of-N (r10 #1):
    # a burst inside its timed windows would be unfalsifiable
    assert _run(tmp_path, monkeypatch, _bench_record(0.1, 10.0)) == 3
    assert not (tmp_path / "bench_baseline.json").exists()
    # a loaded sibling doesn't count toward the two
    assert (
        _run(
            tmp_path,
            monkeypatch,
            [_bench_record(0.1, 10.0), _bench_record(0.1, 26.0)],
        )
        == 3
    )


def test_promotion_takes_per_cell_minima(tmp_path, monkeypatch):
    runs = [
        _bench_record(0.1, 10.0, {"q1": 1.0, "q2": 9.0, "q3": 2.0}),
        _bench_record(0.2, 9.0, {"q1": 1.2, "q2": 2.0, "q3": 2.1}),
    ]
    assert _run(tmp_path, monkeypatch, runs, ["11"]) == 0
    with open(tmp_path / "bench_baseline.json") as fh:
        base = json.load(fh)
    assert base["round"] == 11
    # each cell independently min'd — NOT one winning run's row; the key
    # is queries_min since r12 (they ARE floors, not medians — ADVICE r11)
    assert base["queries_min"] == {"q1": 1.0, "q2": 2.0, "q3": 2.0}
    assert base["git_sha"] == "abc123def456"
    assert base["sf"] == 0.1
    prov = base["provenance"]
    assert [c["source"] for c in prov["contributors"]] == [
        "bench_out.json",
        "bench_run_1.json",
    ]
    # q2's 4.5× spread is the residual-contamination tripwire
    assert prov["high_spread_cells"] == {"q2": 4.5}
    assert prov["forced"] is False


def test_promotion_refused_on_canary_noise(tmp_path, monkeypatch):
    # hypervisor-noise canary (r10): many windows without a clean run
    # set → that run is not a contributor even though loadavg looked fine
    noisy = _bench_record(0.1, 10.0, noisy=[f"q{i}" for i in range(9)])
    assert _run(tmp_path, monkeypatch, [noisy, noisy]) == 2
    ok = _bench_record(0.1, 10.0, noisy=["q1", "q2"])
    assert _run(tmp_path, monkeypatch, [ok, ok]) == 0


def test_promotion_refused_on_missing_provenance(tmp_path, monkeypatch):
    """A record without the canary block, without a git_sha stamp, or
    marked budget-degraded is not baseline material (ADVICE r11: absence
    of the primary contamination instrument must gate like failure, and
    unstamped/stale records must not fold into new minima)."""
    ok = _bench_record(0.1, 10.0)
    no_canary = _bench_record(0.1, 10.0)
    del no_canary["host"]["canary"]
    assert _run(tmp_path, monkeypatch, [ok, no_canary]) == 3
    unstamped = _bench_record(0.1, 10.0, git_sha=None)
    assert _run(tmp_path, monkeypatch, [ok, unstamped]) == 3
    partial = _bench_record(0.1, 10.0, partial=True)
    assert _run(tmp_path, monkeypatch, [ok, partial]) == 3
    truncated = _bench_record(
        0.1, 10.0, budget={"truncated_after": "q1", "cold_cells": []}
    )
    assert _run(tmp_path, monkeypatch, [ok, truncated]) == 3
    cold = _bench_record(
        0.1, 10.0, budget={"truncated_after": None, "cold_cells": ["q2"]}
    )
    assert _run(tmp_path, monkeypatch, [ok, cold]) == 3
    # parallel-canary evidence (r12): absent mp block, or too many
    # mp-degraded windows, is not baseline material either
    no_mp = _bench_record(0.1, 10.0)
    no_mp["host"]["canary"]["mp"] = None
    assert _run(tmp_path, monkeypatch, [ok, no_mp]) == 3
    mp_degraded = _bench_record(0.1, 10.0)
    mp_degraded["host"]["canary"]["mp"]["degraded_queries"] = [
        f"q{i}" for i in range(9)
    ]
    assert _run(tmp_path, monkeypatch, [ok, mp_degraded]) == 3


def test_promotion_refused_on_mismatched_runs(tmp_path, monkeypatch):
    """Min-of-N across runs is only meaningful when every contributor
    measured the same code at the same scale (ADVICE r11: a leftover
    sf=1 or old-sha run would promote incomparable per-cell minima)."""
    a = _bench_record(0.1, 10.0)
    other_sf = _bench_record(0.1, 10.0, sf=1.0)
    assert _run(tmp_path, monkeypatch, [a, other_sf]) == 3
    other_sha = _bench_record(0.1, 10.0, git_sha="feedfeedfeed")
    assert _run(tmp_path, monkeypatch, [a, other_sha]) == 3
    # matched pair still promotes
    assert _run(tmp_path, monkeypatch, [a, _bench_record(0.2, 9.0)]) == 0


def test_promotion_refused_on_suspect_weather_storm(tmp_path, monkeypatch):
    """r13: a run whose own tripwire flagged a storm's worth of cells
    (median >3× floor surviving a gated re-measure) is weather, not
    baseline material — the sustained steal-sim record flags 6/6."""
    ok = _bench_record(0.1, 10.0)
    stormy = _bench_record(
        0.1, 10.0, suspect_weather=[f"q{i}" for i in range(9)]
    )
    assert _run(tmp_path, monkeypatch, [ok, stormy]) == 3
    mild = _bench_record(0.1, 10.0, suspect_weather=["q1"])
    assert _run(tmp_path, monkeypatch, [ok, mild]) == 0


def test_promotion_ref_capture_only_after_all_checks(tmp_path, monkeypatch):
    """ADVICE r12 (medium): a leftover STALE-sha bench_out.json used to
    be refused by the HEAD check but still captured as ref_sha, so every
    genuinely-fresh run after it was refused for 'mismatching the first
    contributor' and promotion could never succeed. The stale run must
    be refused without poisoning the reference."""
    import record_bench_baseline as rbb

    monkeypatch.setattr(rbb, "_head_sha", lambda: "abc123def456")
    stale = _bench_record(0.1, 10.0, git_sha="feedfeedfeed")  # old code
    fresh1 = _bench_record(0.1, 10.0)
    fresh2 = _bench_record(0.2, 9.0)
    assert _run(tmp_path, monkeypatch, [stale, fresh1, fresh2], ["13"]) == 0
    with open(tmp_path / "bench_baseline.json") as fh:
        base = json.load(fh)
    assert base["git_sha"] == "abc123def456"
    prov = base["provenance"]
    assert [c["source"] for c in prov["contributors"]] == [
        "bench_run_1.json",
        "bench_run_2.json",
    ]
    assert any("HEAD" in r for r in prov["refused"])


def test_headline_value_excludes_cold_cells():
    """Verdict r12 #5: a cold cell's number is one untimed, steal-exposed
    run — it must not enter the cross-round headline total."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    timings = {"warm1": 1.5, "cold": 56.48, "warm2": 2.0}
    repeats = {"warm1": 3, "cold": 0, "warm2": 1}
    assert bench._headline_value(timings, repeats) == 3.5


def test_compact_line_full_map_and_budget():
    """Verdict r13 #1: the driver's per-query comparator reads ONLY the
    printed one-line JSON, and r13's top-5-only line left it blind
    (n_common 0, null geomean, phantom dropped cells). Pin the fixed
    contract: every cell's median in the line when it fits, slowest
    first (the old top-5 is a prefix, so no existing entry is removed or
    renamed), weather flags as indices into the queries key order, and a
    byte budget that evicts only the cheapest cells — counted in
    queries_omitted — because a line longer than the driver's 2000-char
    tail capture loses its head and parses as null."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    extras = {"value": 10.0, "unit": "sec", "sf": 0.1}

    # Small run: everything fits, ordered slowest-first.
    medians = {"a": 1.0, "b": 3.0, "c": 2.0}
    line = bench._compact_line(medians, extras, ["c"], {"a": {}})
    rec = json.loads(line)
    assert list(rec["queries"]) == ["b", "c", "a"]
    assert rec["queries_omitted"] == 0
    assert rec["suspect_qi"] == [1] and rec["retimed_qi"] == [2]
    assert rec["value"] == 10.0 and rec["metric"] == "headline_queries_total"

    # A full 109-cell grid with realistic name lengths cannot ALL fit
    # (r7 proved that: full map → tail overflow → parsed:null), but the
    # packing must carry far more than the old 5 and count the rest.
    wide = {
        f"dedup_cluster_components_cell_{i:03d}": float(i) for i in range(109)
    }
    line = json.loads(bench._compact_line(wide, extras, [], {}))
    assert len(line["queries"]) >= 35
    assert line["queries_omitted"] == 109 - len(line["queries"])
    assert len(json.dumps(line)) <= bench.COMPACT_LINE_LIMIT

    # A cell named in the previous round's parsed line survives the
    # eviction even when it is now among the cheapest — otherwise the
    # driver records a phantom dropped_from_bench for a cell that simply
    # got faster (the exact r13 failure mode).
    fast_prev = "dedup_cluster_components_cell_000"  # value 0.0 → first out
    line = json.loads(
        bench._compact_line(wide, extras, [], {}, keep={fast_prev})
    )
    assert fast_prev in line["queries"]
    assert len(json.dumps(line)) <= bench.COMPACT_LINE_LIMIT

    # Pathological widths: cheapest cells are evicted first, the slow
    # head (the cross-round signal and the old top-5 contract) survives,
    # the count of evictions is reported, and flag indices still point
    # at the right names inside the truncated dict.
    huge = {f"q{i:04d}_{'x' * 60}": float(i) for i in range(200)}
    line = json.loads(
        bench._compact_line(huge, extras, [f"q0199_{'x' * 60}"], {})
    )
    names = list(line["queries"])
    assert len(json.dumps(line)) <= bench.COMPACT_LINE_LIMIT
    assert line["queries_omitted"] == 200 - len(names) > 0
    assert names[0] == f"q0199_{'x' * 60}"  # slowest kept
    assert line["suspect_qi"] == [0]
    # slowest-first means every kept cell outranks every evicted one
    kept_vals = sorted(line["queries"].values(), reverse=True)
    assert list(line["queries"].values()) == kept_vals


def test_flush_removes_tmp_on_failure(tmp_path):
    """ADVICE r12: a serialization crash must not leave a stale .tmp
    next to the artifact (and the tmp name is per-pid so concurrent
    benches cannot tear each other's half-written file)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    out = tmp_path / "bench_out.json"
    try:
        bench._flush(str(out), {"bad": object()})
    except TypeError:
        pass
    assert list(tmp_path.glob("*.tmp")) == []
    # a successful flush also leaves no tmp behind
    bench._flush(str(out), {"ok": 1})
    assert list(tmp_path.glob("*.tmp")) == []
    with open(out) as fh:
        assert json.load(fh) == {"ok": 1}


def test_mp_canary_bracket_flags_either_side(monkeypatch):
    """Verdict r12 #2: the r12 driver run had ~10 steal-inflated cells
    and the single trailing mp reading caught 1 — a burst that ends
    inside the window is only visible to the PRE-window reading. Either
    bracket side above ratio × floor must flag the window."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    class Stub:
        ratio = 2.0
        floor_ms = 100.0
        degraded_queries: list[str] = []
        check_bracket = bench._MpCanary.check_bracket

        def __init__(self, post_readings):
            self._it = iter(post_readings)
            self.degraded_queries = []

        def read_ms(self):
            return next(self._it)

    # pre high, post quiet → flagged (the r12 miss); pre quiet, post
    # high → flagged; both quiet → clean
    c = Stub([120.0, 500.0, 110.0])
    c.check_bracket("q_pre_burst", 900.0)
    c.check_bracket("q_post_burst", 120.0)
    c.check_bracket("q_clean", 130.0)
    assert c.degraded_queries == ["q_pre_burst", "q_post_burst"]


def _stub_bench_instruments(monkeypatch, bench):
    """Quiet-host instrument stubs: the tripwire integration test wants
    DETERMINISTIC steal simulation (slow query callables), not real host
    weather leaking into the gate."""
    monkeypatch.setattr(bench, "_canary_ms", lambda: 100.0)
    monkeypatch.setattr(bench, "_quiesce", lambda *a, **k: 0.0)

    class StubMp:
        def __init__(self, *a, **k):
            self.ratio = 2.0
            self.floor_ms = 100.0
            self.readings = []
            self.degraded_queries = []
            self._n = 0

        def read_ms(self):
            self.readings.append(100.0)
            return 100.0

        check_bracket = bench._MpCanary.check_bracket

        def close(self):
            pass

        def stats(self):
            return {"floor_ms": 100.0, "degraded_queries": self.degraded_queries}

    monkeypatch.setattr(bench, "_MpCanary", StubMp)


def test_bench_tripwire_corrects_and_flags(tmp_path, monkeypatch, spark):
    """Steal-simulated end-to-end run (verdict r12 #1 done-criterion):
    two synthetic cells whose promoted floor is 0.4 s —

    - ``fake_trip_recover`` sleeps 2.0 s during warm+timed runs (a steal
      burst) and is fast by retime time → the gated re-measure CORRECTS
      the cell (retimed_cells carries was/now, median replaced);
    - ``fake_trip_stuck`` sleeps 2.0 s always (sustained weather or a
      real regression) → the re-measure refuses to come down and the
      cell lands in suspect_weather, excluded from tier1_total_clean.

    Margins (r13 flake fix): the tripwire bar is trip_ratio × floor =
    1.2 s, and the "fast" retime run still pays a real noop write of
    ``range(1)`` — measured 0.3-0.7 s on a loaded 32-core box, which
    blew through the old 0.3 s bar and flagged the recovering cell as
    suspect. The floor/sleep pair must keep (noop overhead) ≪ bar ≪
    (sleep): 0.4/2.0 leaves ~0.5 s of slack on both sides.
    """
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import time as _time

    import pyspark.sql

    import bench
    from datamodel_clinicaldata_spark.registry import QUERIES

    _stub_bench_instruments(monkeypatch, bench)
    # bench.main() must not tear down the session-scoped fixture
    monkeypatch.setattr(pyspark.sql.SparkSession, "stop", lambda self: None)

    calls = {"recover": 0, "stuck": 0}

    def fake_recover(s, sf_dir):
        calls["recover"] += 1
        if calls["recover"] <= 2:  # warm + the single timed run
            _time.sleep(2.0)
        return s.range(1)

    def fake_stuck(s, sf_dir):
        calls["stuck"] += 1
        _time.sleep(2.0)
        return s.range(1)

    monkeypatch.setitem(QUERIES, "fake_trip_recover", fake_recover)
    monkeypatch.setitem(QUERIES, "fake_trip_stuck", fake_stuck)

    baseline = tmp_path / "baseline.json"
    with open(baseline, "w") as fh:
        json.dump(
            {
                "queries_min": {
                    "fake_trip_recover": 0.4,
                    "fake_trip_stuck": 0.4,
                },
                "git_sha": "testsha",
            },
            fh,
        )
    out_path = tmp_path / "bench_out.json"
    env = {
        "SPARK_GRAFT_BENCH_ONLY": "fake_trip_recover,fake_trip_stuck",
        "SPARK_GRAFT_BENCH_OUT": str(out_path),
        "SPARK_GRAFT_BENCH_BASELINE": str(baseline),
        "SPARK_GRAFT_BENCH_BUDGET_SEC": "120",
        "SPARK_GRAFT_BENCH_REPEATS": "1",
        "SPARK_GRAFT_BENCH_MAX_LOAD": "10000",
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
    }
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    bench.main()

    with open(out_path) as fh:
        rec = json.load(fh)
    # the burst cell was corrected by the gated re-measure
    rt = rec["retimed_cells"]["fake_trip_recover"]
    assert rt["was_median"] >= 2.0 and rt["retimed"] < 1.2
    assert rec["queries_median"]["fake_trip_recover"] < 1.2
    assert rec["queries"]["fake_trip_recover"] < 1.2
    # the sustained cell survived the re-measure → flagged, not corrected
    assert rec["suspect_weather"] == ["fake_trip_stuck"]
    assert rec["queries_median"]["fake_trip_stuck"] >= 2.0
    # suspect cells stay OUT of the clean tier-1 total (neither fake is
    # tier-1, so the clean set is empty here) and the record carries the
    # tripwire parameters for the reader
    assert rec["tier1_clean_n"] == 0
    assert rec["trip_ratio"] == 3.0
    assert rec["partial"] is False
    assert not rec["budget"]["cold_cells"]
    assert "skipped_probes" not in rec["budget"]


def test_choose_repeats_fair_share():
    """Budget-degradation ladder (verdict r11 #1): unlimited budget →
    full best-of-N; tight budget → fewer repeats, floored at 1 — the
    caller handles truncation, this function never returns 0."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    assert bench._choose_repeats(float("inf"), 50, 3.0, 5) == 5
    # 500 s for 100 queries at ~1 s/run → 5 repeats fit the fair share
    assert bench._choose_repeats(500, 100, 1.0, 5) == 5
    # 100 s for 100 queries at ~1 s/run → share is 1 run
    assert bench._choose_repeats(100, 100, 1.0, 5) == 1
    # never 0, even when the share can't fit one run
    assert bench._choose_repeats(1, 100, 5.0, 5) == 1
    # cheap queries keep full statistics under the same tight budget
    assert bench._choose_repeats(100, 100, 0.05, 5) == 5


def test_flush_is_atomic(tmp_path):
    """A kill (or serialization crash) mid-flush must leave the previous
    complete JSON in place (verdict r11 #2: a mid-loop timeout used to
    yield nothing; with tmp+os.replace any instant's file is parseable)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    out = tmp_path / "bench_out.json"
    bench._flush(str(out), {"queries": {"q1": 1.0}, "partial": True})
    with open(out) as fh:
        assert json.load(fh)["partial"] is True
    # a crash mid-serialization (unserializable object) must not tear
    # the artifact: json.dump dies after partially writing the TMP file
    try:
        bench._flush(str(out), {"queries": {"q1": object()}})
    except TypeError:
        pass
    with open(out) as fh:
        assert json.load(fh) == {"queries": {"q1": 1.0}, "partial": True}


def test_local_dir_sweep_is_locked_and_age_gated(tmp_path):
    """/dev/shm sweep race (ADVICE r11): a just-starting session's
    shuffle dir (young mtime) must survive a concurrent sweep, a crashed
    run's orphan (old mtime) must be reclaimed, and a held lock must
    make the sweep a no-op entirely."""
    from datamodel_clinicaldata_spark.session import _sweep_stale_local_dir

    root = tmp_path / "spark_graft_local"
    root.mkdir()
    old = root / "orphan-from-crashed-run"
    old.mkdir()
    (old / "shuffle.data").write_text("x")
    os.utime(old, (0, 0))  # ancient
    fresh = root / "starting-session-dir"
    fresh.mkdir()

    _sweep_stale_local_dir(str(root))
    assert not old.exists(), "stale orphan should be reclaimed"
    assert fresh.exists(), "young dir (concurrent session) must survive"
    assert not os.path.exists(str(root) + ".sweeplock"), "lock released"

    # held lock (another sweeper/starter active) → no-op, even for orphans
    old.mkdir()
    os.utime(old, (0, 0))
    with open(str(root) + ".sweeplock", "w"):
        pass
    _sweep_stale_local_dir(str(root))
    assert old.exists(), "sweep must be a no-op while the lock is held"
    os.unlink(str(root) + ".sweeplock")


def test_package_env_vars_are_deployment_knobs_only():
    """The engine's only env switches are the four deployment knobs: no
    env var may pick a measurement-only or wrong-answer mode. Any
    ``SPARK_GRAFT_*`` name in the package source counts. bench.py reads
    only the seven knobs its callers set: the data, the budget, the
    quiesce load bar, the cell subset, the repeat cap, the baseline and
    the output path (its docstring also names the session's
    ``SPARK_GRAFT_CPUS``, so there only reads count)."""
    import re
    from pathlib import Path

    import datamodel_clinicaldata_spark as pkg

    found = {
        name
        for src in Path(pkg.__file__).parent.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", src.read_text())
    }
    assert found == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_LOCAL_DIR",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_CHECKPOINT",
    }
    bench_src = (Path(__file__).resolve().parent.parent / "bench.py").read_text()
    assert set(
        re.findall(r'environ\.get\(\s*"(SPARK_GRAFT_[A-Z_]+)"', bench_src)
    ) == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_BENCH_BUDGET_SEC",
        "SPARK_GRAFT_BENCH_MAX_LOAD",
        "SPARK_GRAFT_BENCH_ONLY",
        "SPARK_GRAFT_BENCH_REPEATS",
        "SPARK_GRAFT_BENCH_BASELINE",
        "SPARK_GRAFT_BENCH_OUT",
    }


def test_every_defaulted_parameter_is_set_by_some_caller():
    """A defaulted parameter that no caller ever passes has one value in
    use, so it is a constant in disguise: every value it could take
    doubles the configurations tests would have to cover, and the code
    only its other values reach is dead. Each defaulted parameter of each
    function in the package must be passed, by keyword or position, in at
    least one call in the package, ``tools/``, ``perfbench/``, ``tests/``,
    ``bench.py`` or ``__spark_entry__.py``. Calls match by function name,
    so a same-named function elsewhere can only hide a finding, never
    invent one."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    # module:function.param -> why the parameter stays settable
    allowed = {
        "session:get_spark.master": "deployment address of the cluster",
    }

    def called_name(call: ast.Call) -> str | None:
        f = call.func
        if isinstance(f, ast.Name):
            return f.id
        return f.attr if isinstance(f, ast.Attribute) else None

    passed: dict[str, list[tuple[int, set[str], bool, bool]]] = {}
    callers = [root / "bench.py", root / "__spark_entry__.py"] + [
        p
        for d in ("datamodel_clinicaldata_spark", "tools", "perfbench", "tests")
        for p in (root / d).rglob("*.py")
    ]
    for src in callers:
        for node in ast.walk(ast.parse(src.read_text())):
            if isinstance(node, ast.Call) and called_name(node):
                starred = [i for i, a in enumerate(node.args) if isinstance(a, ast.Starred)]
                n_pos = starred[0] if starred else len(node.args)
                kws = {k.arg for k in node.keywords if k.arg}
                passed.setdefault(called_name(node), []).append(
                    (n_pos, kws, bool(starred), any(k.arg is None for k in node.keywords))
                )

    def defs(tree: ast.AST, in_class: bool = False):
        for node in ast.iter_child_nodes(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield node, in_class
                yield from defs(node)
            else:
                yield from defs(node, in_class or isinstance(node, ast.ClassDef))

    pkg = root / "datamodel_clinicaldata_spark"
    never_set = []
    for src in sorted(pkg.rglob("*.py")):
        module = ".".join(src.relative_to(pkg).with_suffix("").parts)
        for fn, in_class in defs(ast.parse(src.read_text())):
            pos = fn.args.posonlyargs + fn.args.args
            skip = 1 if in_class and pos and pos[0].arg in ("self", "cls") else 0
            defaulted = [
                (p.arg, i - skip)
                for i, p in enumerate(pos)
                if i >= len(pos) - len(fn.args.defaults)
            ] + [
                (p.arg, None)
                for p, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)
                if d is not None
            ]
            for name, index in defaulted:
                if any(
                    name in kws
                    or splat_kw
                    or (index is not None and (index < n_pos or splat_pos))
                    for n_pos, kws, splat_pos, splat_kw in passed.get(fn.name, [])
                ):
                    continue
                key = f"{module}:{fn.name}.{name}"
                if key not in allowed:
                    never_set.append(key)
    assert not never_set, (
        f"{len(never_set)} defaulted parameters are never set by any caller; "
        "make each a constant: " + ", ".join(never_set)
    )


def test_every_pandas_function_is_fully_hinted():
    """Each function handed to ``applyInPandas`` or ``mapInPandas`` is a
    named function of the enclosing scope with the hints of its API:
    ``pd.DataFrame -> pd.DataFrame`` for a grouped map,
    ``Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]`` for a map. Spark
    infers a grouped map's eval type from them, and warns when they are
    partial."""
    import ast
    from pathlib import Path

    hints = {"applyInPandas": "pd.DataFrame", "mapInPandas": "Iterator[pd.DataFrame]"}
    pkg = Path(__file__).resolve().parent.parent / "datamodel_clinicaldata_spark"
    sites, bad = 0, []
    for src in sorted(pkg.rglob("*.py")):
        for scope in ast.walk(ast.parse(src.read_text())):
            if not isinstance(scope, ast.FunctionDef):
                continue
            local = {n.name: n for n in scope.body if isinstance(n, ast.FunctionDef)}
            for call in ast.walk(scope):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr in hints
                ):
                    continue
                sites += 1
                want = hints[call.func.attr]
                arg = call.args[0]
                fn = local.get(arg.id) if isinstance(arg, ast.Name) else None
                site = f"{src.name}:{call.lineno}"
                if fn is None:
                    bad.append(f"{site} passes {ast.unparse(arg)}, not a local def")
                    continue
                got = [a.annotation for a in fn.args.args] + [fn.returns]
                if any(a is None or ast.unparse(a) != want for a in got):
                    bad.append(f"{site} {fn.name} is not hinted {want} -> {want}")
    assert sites >= 16
    assert not bad, bad


def test_host_noise_gate_floor_and_quiet(monkeypatch):
    """_HostNoiseGate semantics: floor is a running MIN (calibrating in
    a noise burst must not permanently loosen the gate), quiet = within
    ratio of the floor, wait_quiet returns the exit state."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    readings = iter(
        [200.0] * 7  # calibration lands in a burst: floor starts 200
        + [100.0]  # quiet host reading corrects the floor down to 100
        + [140.0]  # 1.4x of true floor: quiet under ratio 1.6
        + [900.0]  # burst: not quiet
        + [101.0]  # recovered
    )
    monkeypatch.setattr(bench, "_canary_ms", lambda: next(readings))
    gate = bench._HostNoiseGate(ratio=1.6, max_wait_sec=0.01)
    assert gate.floor_ms == 200.0
    assert gate._quiet() and gate.floor_ms == 100.0  # min-tracked down
    assert gate._quiet()  # 140 <= 1.6 * 100
    assert not gate._quiet()  # 900 — burst detected
    assert gate.wait_quiet()  # recovers on the next reading


def test_gate_reports_reading_distribution(monkeypatch):
    """The artifact must carry median/p90 of ALL canary readings: a
    sustained degradation plateau passes the ratio gate (floor
    calibrates high) and only the distribution exposes it (r11)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    # calibration sees the quiet floor; the host then sits on a 250 ms
    # plateau — each wait_quiet consumes 2 readings (initial + one
    # bounded retry), all of them unquiet
    readings = iter([100.0] * 7 + [250.0] * 8)
    monkeypatch.setattr(bench, "_canary_ms", lambda: next(readings))
    gate = bench._HostNoiseGate(ratio=1.6, max_wait_sec=0.01)
    for _ in range(4):
        assert not gate.wait_quiet()
    s = gate.stats()
    assert s["readings_n"] == 15
    assert s["floor_ms"] == 100.0
    assert s["median_ms"] == 250.0  # the plateau is visible in the record
    assert s["p90_ms"] == 250.0


def test_wait_quiet_charges_only_real_waiting(monkeypatch):
    """An immediately-quiet canary reading is measurement, not waiting —
    it must not erode the global wait budget (ADVICE r10)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import bench

    monkeypatch.setattr(bench, "_canary_ms", lambda: 100.0)
    gate = bench._HostNoiseGate(ratio=1.6, max_wait_sec=0.01)
    for _ in range(50):
        assert gate.wait_quiet()
    assert gate.waited_sec == 0.0
    assert not gate.budget_exhausted()


def test_entry_queries_are_the_registry(monkeypatch):
    """The driver adapter serves the registry as it is: every query in
    registration order, every oracle, and no subprocess on the way."""
    import subprocess

    import __spark_entry__
    from datamodel_clinicaldata_spark.registry import ORACLE_SQL, QUERIES

    spawned = []

    def refuse(*args, **kwargs):
        spawned.append(args)
        raise AssertionError("queries() started a subprocess")

    monkeypatch.setattr(subprocess, "run", refuse)
    monkeypatch.setattr(subprocess, "Popen", refuse)
    assert list(__spark_entry__.queries()) == list(QUERIES)
    assert not spawned
    assert __spark_entry__.oracle_sql() == ORACLE_SQL
    assert set(QUERIES) == set(ORACLE_SQL)
