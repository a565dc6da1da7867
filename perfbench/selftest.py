"""Self-test of the benchmark on the sf0.001 inputs. From the repository root:

    python3 perfbench/selftest.py

1. BENCHMARK.json has the required shape.
2. Each workload runs once untraced and once traced; every metric named
   in BENCHMARK.json is emitted with its unit.
3. A wrong pinned checksum, planted on purpose, is reported: the run is
   not correct and correct_rate drops below 1.
4. Without the engine next to it, the benchmark exits non-zero and
   prints no result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_format(bench: dict) -> None:
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}, sorted(bench)
    assert 1 <= len(bench["paths"]) <= 16
    assert isinstance(bench["run_seconds"], int)
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}, w
        assert NAME.match(w["name"]) and len(w["why"]) <= 200, w
        assert "\n" not in w["why"]
        names.append(w["name"])
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
        names.append(m["name"])
    assert len(names) == len(set(names)), "names must be unique"
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and \
        setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert len(json.dumps(bench)) <= 64 * 1024


def run(workload: str, trace: int, cwd: str = ROOT,
        extra: tuple = ()) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "5", "--trace", str(trace),
           "--size", "sf0.001", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    result = json.loads(last) if last.startswith("{") else None
    return proc.returncode, result, proc.stderr


def check_emits(result: dict, wanted: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, \
        sorted(set(got) ^ {m["name"] for m in wanted})
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (m, v)
        assert isinstance(v["value"], (int, float)), (m, v)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_format(bench)
    print("format: ok", flush=True)

    for w in (x["name"] for x in bench["workloads"]):
        for trace, wanted in ((0, bench["end_to_end"]),
                              (1, bench["per_layer"])):
            extra = ()
            planted = w == "batch_mix" and trace == 0
            if planted:
                extra = ("--plant-wrong-pin", "q1_available_seats_per_route")
            code, result, err = run(w, trace, extra=extra)
            assert code == 0 and result is not None, err[-3000:]
            check_emits(result, wanted)
            if planted:
                rate = result["metrics"]["correct_rate"]["value"]
                assert not result["correct"] and result["failed"] == 1, \
                    result
                assert rate < 1.0, result
                print(f"{w}: planted wrong checksum -> correct_rate "
                      f"{rate:.4f}", flush=True)
            else:
                assert result["correct"] and result["failed"] == 0, result
            print(f"{w} trace={trace}: {len(wanted)} metrics ok",
                  flush=True)

    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=HERE)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(
                            "results", ".work", "__pycache__",
                            "perfbench-bare-*"))
        code, result, _ = run(bench["workloads"][0]["name"], 0, cwd=bare)
        assert code != 0 and result is None, (code, result)
        print("without the engine: exits", code, "and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
