"""Smoke test of the benchmark at tiny input size.

    python3 perfbench/smoke_test.py

Checks that
* every metric of BENCHMARK.json prints with its unit, on every workload,
  traced and untraced, and that the CLI's last line is the result object;
* a span's self time is its duration minus the part its children cover;
* a wrong expected count is reported as a failed op;
* the filter-quality metrics repeat exactly for a seed;
* layers.json maps every per-layer metric, and a traced run has spans in
  every layer it names.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import run  # noqa: E402
from spans import self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", "smoke")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_self_time() -> None:
    # parent 0..10 with children 1..4 and 3..6 (overlapping) and 8..12 (past
    # the parent's end); grandchild 1..2 inside the first child
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},
        {"id": 4, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    got = self_times(spans)
    want = {0: 10.0 - (5.0 + 2.0), 1: 2.0, 2: 3.0, 3: 4.0, 4: 1.0}
    assert all(abs(got[k] - v) < 1e-12 for k, v in want.items()), got


def check_metrics(spark, spec) -> set:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert set(WORKLOADS) == {w["name"] for w in spec["workloads"]}
    with open(os.path.join(HERE, "layers.json")) as f:
        assert set(json.load(f)["per_layer"]) == set(per_layer), "layers.json must map every per-layer metric"
    layers_seen = set()
    for name in WORKLOADS:
        for trace, want in ((False, e2e), (True, per_layer)):
            res, ctx, spans = run.run_benchmark(spark, name, 5, 0.1, trace, size="tiny",
                                                work_dir=WORK, session_s=1.0)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (name, trace, res)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (name, trace, sorted(set(got) ^ set(want)))
            assert all(isinstance(v["value"], float) for v in res["metrics"].values()), res
            if trace:
                layers_seen |= {s["name"].split(".", 1)[0] for s in spans}
                selfs = self_times(spans)
                for op in {s["op"] for s in spans if s["op"] is not None}:
                    mine = [s for s in spans if s["op"] == op]
                    root = [s for s in mine if s["parent"] is None]
                    assert len(root) == 1, (name, op)
                    # nested spans: self times add up to the root's duration
                    total = sum(selfs[s["id"]] for s in mine)
                    assert abs(total - (root[0]["end"] - root[0]["start"])) < 1e-6, (name, op)
            else:
                assert ctx["warmup_ops_discarded"] == WORKLOADS[name].warmup_ops
    return layers_seen


def check_wrong_count_fails(spark) -> None:
    res, _, _ = run.run_benchmark(spark, "prefilter_join", 5, 0.1, False, size="tiny",
                                  work_dir=WORK, expect_offset=1)
    assert not res["correct"] and res["failed"] == res["attempted"] >= 1, res


def check_quality_repeats(spark) -> None:
    a, _, _ = run.run_benchmark(spark, "prefilter_join", 9, 0.1, False, size="tiny", work_dir=WORK)
    b, _, _ = run.run_benchmark(spark, "prefilter_join", 9, 0.1, False, size="tiny", work_dir=WORK)
    for k in ("filter_fpr", "filter_bits_per_key"):
        assert a["metrics"][k]["value"] == b["metrics"][k]["value"], k


def check_cli(spec) -> None:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream_maintain",
         "--seed", "3", "--seconds", "0.1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert set(last["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    # outside a checkout the benchmark fails before printing a result
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as bare:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "stream_maintain", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180, env=env,
        )
        assert out.returncode != 0 and not out.stdout.strip(), out.stdout


def main() -> int:
    spec = _spec()
    check_self_time()
    os.makedirs(WORK, exist_ok=True)
    spark = run.start_session(WORK)
    try:
        layers = check_metrics(spark, spec)
        assert {"session", "core", "functions", "plans", "streaming"} <= layers, layers
        check_wrong_count_fails(spark)
        check_quality_repeats(spark)
    finally:
        run.stop_session(spark)
    check_cli(spec)
    shutil.rmtree(WORK, ignore_errors=True)
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
