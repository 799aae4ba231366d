"""tools/query_profile.py drives bench.py's queries child; these tests
replace the child with a stub, so no JVM starts."""

from __future__ import annotations

import importlib.util
import os

import bench


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "query_profile",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools",
                     "query_profile.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _fake_child(calls: list, walls: list[float]):
    def run(args):
        calls.append(args)
        name = args[args.index("--names") + 1]
        confs = [args[i + 1] for i, a in enumerate(args) if a == "--conf"]
        layer = dict.fromkeys(("build_s", "exec_s", "jobs", "tasks", "task_cpu_s",
                               "py_gap_s", "shuffle_mb", "spill_mb"), 0)
        return {"times": {name: walls[len(calls) - 1]},
                "conf": dict(kv.split("=", 1) for kv in confs),
                "layers": {name: {**layer, "stages": []}}}
    return run


def test_time_conf_alternates_ab_and_reports_min_per_side(monkeypatch, capsys):
    tool = _load_tool()
    calls: list = []
    # per query: A, B, A, B
    walls = [3.0, 2.5, 2.0, 2.7, 1.0, 1.5, 1.2, 1.1]
    monkeypatch.setattr(bench, "_run_child", _fake_child(calls, walls))
    out = tool.time_queries(["q1", "q2"], "/data", ["k=v"])
    assert out == {"q1": {"A": 2.0, "B": 2.5}, "q2": {"A": 1.0, "B": 1.1}}
    assert [c[c.index("--names") + 1] for c in calls] == ["q1"] * 4 + ["q2"] * 4
    sides = ["B" if "--conf" in c else "A" for c in calls]
    assert sides == ["A", "B", "A", "B"] * 2
    assert all(c[c.index("--conf") + 1] == "k=v" for c in calls if "--conf" in c)
    assert all(c[c.index("--sf-dir") + 1] == "/data" for c in calls)
    assert '"q1": {"A": 2.0, "B": 2.5}' in capsys.readouterr().out


def test_time_without_conf_runs_two_interleaved_children_per_query(monkeypatch, capsys):
    tool = _load_tool()
    calls: list = []
    # q1, q2, q1, q2
    walls = [0.5, 0.9, 0.6, 0.7]
    monkeypatch.setattr(bench, "_run_child", _fake_child(calls, walls))
    out = tool.time_queries(["q1", "q2"], "/data", [])
    assert [c[c.index("--names") + 1] for c in calls] == ["q1", "q2", "q1", "q2"]
    assert not any("--conf" in c for c in calls)
    assert out["q1"]["wall"] == 0.5 and out["q1"]["wall_max"] == 0.6
    assert out["q2"]["wall"] == 0.7 and out["q2"]["wall_max"] == 0.9
    assert out["q1"]["py_gap_s"] == 0
    printed = capsys.readouterr().out
    assert "q1 min=0.5 max=0.6" in printed and "q2 min=0.7 max=0.9" in printed
