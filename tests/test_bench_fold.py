"""The orchestrator must FOLD a fresh run with the committed
BENCH_LOCAL.json (min per query), not replace it — one noisy
end-of-round run would otherwise wipe the accumulated quiet-window
record the BASELINE totals quote."""

from __future__ import annotations

import importlib.util
import json
import os


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "benchmod",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_fold_takes_min_and_recomputes_totals(tmp_path, monkeypatch):
    m = _load_bench()
    art = tmp_path / "BENCH_LOCAL.json"
    monkeypatch.setattr(m, "FULL_ARTIFACT", str(art))
    prior = {
        "sf": 0.1,
        "queries": {"a": 1.0, "b": 5.0, "stale": 9.9},
        "sf2": {"queries": {"a": 2.0}, "wall": 2.0},
        "protocol": {"folded_runs": ["prior run"]},
    }
    art.write_text(json.dumps(prior))
    fresh = {
        "sf": 0.1,
        "queries": {"a": 3.0, "b": 4.0, "c": 7.0},
        "value": 14.0,
        "sf2": {"queries": {"a": 1.5, "c": 2.5}, "wall": 4.0},
        "protocol": {},
    }
    out = m.fold_with_committed(fresh)
    # min per query; stale keys (not in the current suite) dropped
    assert out["queries"] == {"a": 1.0, "b": 4.0, "c": 7.0}
    assert out["value"] == 12.0
    assert out["sf2"]["queries"] == {"a": 1.5, "c": 2.5}
    assert out["sf2"]["wall"] == 4.0
    assert "prior run" in out["protocol"]["folded_runs"][0]


def test_fold_without_committed_record_is_identity(tmp_path, monkeypatch):
    m = _load_bench()
    monkeypatch.setattr(m, "FULL_ARTIFACT", str(tmp_path / "missing.json"))
    fresh = {"queries": {"a": 3.0}, "value": 3.0, "protocol": {}}
    assert m.fold_with_committed(fresh) == fresh


def test_committed_record_covers_every_bench_list_name():
    m = _load_bench()
    with open(os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "BENCH_LOCAL.json")) as fh:
        d = json.load(fh)
    assert set(m.HEADLINE) <= set(d["queries"])
    assert set(m.SCALE2) <= set(d["sf2"]["queries"])


def test_fold_refuses_cross_scale_records(tmp_path, monkeypatch):
    """A record from another scale point or another core count (a
    local[32] record must not set the minima of a local[4] run) is not
    folded in."""
    m = _load_bench()
    art = tmp_path / "BENCH_LOCAL.json"
    monkeypatch.setattr(m, "FULL_ARTIFACT", str(art))
    fresh = {"sf": 0.1, "cores": "4", "queries": {"a": 3.0}, "value": 3.0,
             "protocol": {}}
    for prior in (
        {"sf": 0.001, "cores": "4", "queries": {"a": 0.01}},
        {"sf": 0.1, "cores": "32", "queries": {"a": 0.01}},
    ):
        art.write_text(json.dumps(prior))
        assert m.fold_with_committed(dict(fresh)) == fresh, prior
