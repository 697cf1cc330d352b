"""The benchmark's own tests, at a tiny input multiple.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The end-to-end tests start one Spark process per workload and trace mode
(about 20 s each on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, parse_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

TINY = "0.01"


def _files(d):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = f.read()
    return out


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    a = _files(gen.generate(7, 0.01, str(tmp_path / "a")))
    b = _files(gen.generate(7, 0.01, str(tmp_path / "b")))
    c = _files(gen.generate(8, 0.01, str(tmp_path / "c")))
    assert a == b
    # region/nation are fixed dimensions; every generated table differs
    assert all(a[t] != c[t] for t in gen.TABLES if t not in ("region", "nation"))


def test_spans_nest():
    tr = Tracer()
    tr.run = 1
    with tr.span("job", "job") as outer:
        with tr.span("build", "entry") as mid:
            with tr.span("load", "session") as inner:
                pass
        with tr.span("action", "action"):
            pass
    assert inner.parent is mid and mid.parent is outer and outer.parent is None
    for s in tr.spans:
        assert s.run == 1
        if s.parent is not None:
            assert s.parent.start <= s.start <= s.end <= s.parent.end
    assert abs(sum(s.self_s for s in tr.spans) - outer.dur) < 1e-9


def test_parse_sql_metric():
    assert parse_metric("1.5 s") == 1.5
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert parse_metric("120 ms") == pytest.approx(0.12)


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--mult", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_printed_with_unit_and_no_errors(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_bare_directory_fails(tmp_path):
    bare = tmp_path / "bare"
    bare.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py") or f.endswith(".md"):
            os.makedirs(bare / "perfbench", exist_ok=True)
            with open(os.path.join(HERE, f), "rb") as src:
                (bare / "perfbench" / f).write_bytes(src.read())
    (bare / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()
