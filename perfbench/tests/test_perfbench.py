"""Tests of the benchmark itself: seeded inputs, output checks, the
metric contract of ``BENCHMARK.json``, span attribution, and a small
end-to-end run of every workload.

    python -m pytest perfbench/tests -q

The end-to-end runs start one Spark JVM each and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import fake_riot, run
from perfbench.inputs import write_events_dir
from perfbench.trace import Span, Tracer, covered_s
from perfbench import MATCH_KEYS
from perfbench.workloads import WORKLOADS, check_bronze, check_query, check_ranking

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- inputs ---------------------------------------------------------------


def test_same_seed_writes_identical_inputs(tmp_path):
    a = _digests(write_events_dir(str(tmp_path / "a"), 7, 60))
    b = _digests(write_events_dir(str(tmp_path / "b"), 7, 60))
    c = _digests(write_events_dir(str(tmp_path / "c"), 8, 60))
    assert a == b
    assert a["events.parquet"] != c["events.parquet"]
    assert len(a) == 10  # every table the oracle harness binds


def test_fake_api_is_pure_and_overlapping(monkeypatch):
    monkeypatch.setenv(fake_riot.ENV, fake_riot.api_spec(3, 0.5))
    one, two = fake_riot.SeededRiotTransport(), fake_riot.SeededRiotTransport()
    assert one.match_ids(4) == two.match_ids(4)
    mid = one.match_ids(4)[0]
    assert one.match_detail(mid) == two.match_detail(mid)
    listed = [m for u in range(40) for m in one.match_ids(u)]
    assert len(set(listed)) < len(listed)  # shared ids are fetched again

    monkeypatch.setenv(fake_riot.ENV, fake_riot.api_spec(4, 0.5))
    other = fake_riot.SeededRiotTransport()
    assert [other.match_detail(m) for m in listed[:5]] != [
        one.match_detail(m) for m in listed[:5]
    ]


# -- output checks ----------------------------------------------------------


def _ranking_rows():
    """Two matches: (row_uid, predicted_score, predicted_rank, win, rank_in_match)."""
    rows = []
    for m in range(2):
        for slot in range(10):
            win = slot < 5
            rows.append((m * 10 + slot, 10.0 - slot, slot + 1, win, slot + 1))
    return rows


SCORES = {"rmse": 0.5, "rank_acc_exact": 0.6, "rank_acc_1": 0.9, "rank_acc_2": 0.97}


def test_check_ranking_accepts_consistent_result():
    rows = _ranking_rows()
    assert check_ranking(rows, list(rows), len(rows), SCORES) == []


def test_check_ranking_rejects_save_load_drift():
    rows = _ranking_rows()
    back = list(rows)
    back[3] = (back[3][0], back[3][1] + 1e-12, *back[3][2:])
    assert any("save/load" in p for p in check_ranking(rows, back, len(rows), SCORES))


def test_check_ranking_rejects_losers_ranked_first():
    rows = [(u, s, r, not w, lab) for u, s, r, w, lab in _ranking_rows()]
    assert any("winners" in p for p in check_ranking(rows, rows, len(rows), SCORES))


def test_check_ranking_rejects_disordered_accuracy_and_lost_rows():
    rows = _ranking_rows()
    bad = dict(SCORES, rank_acc_1=0.5)
    assert any("accuracy" in p for p in check_ranking(rows, rows, len(rows), bad))
    assert any("rows" in p for p in check_ranking(rows[:-1], rows[:-1], len(rows), SCORES))


def test_check_bronze():
    want = {("KR_1", 300, 10), ("KR_2", 400, 10)}
    assert check_bronze(sorted(want), want) == []
    assert check_bronze([*sorted(want), ("KR_1", 300, 10)], want)  # duplicate id
    assert check_bronze([("KR_1", 300, 10)], want)  # missing match
    assert check_bronze([("KR_1", 300, 10), ("KR_2", 401, 10)], want)  # changed value


def test_check_query():
    cols = ["match_id", "score"]
    want = [(1, 0.5), (2, 0.25)]
    assert check_query("q", list(cols), list(want), cols, want) == []
    assert check_query("q", ["match_id"], want, cols, want)  # lost a column
    assert check_query("q", cols, want[:1], cols, want)  # lost a row
    assert check_query("q", cols, [(1, 0.5), (2, 0.26)], cols, want)  # changed value


def test_match_keys_are_registered_with_oracles():
    from aram_matchdata_etl_spark.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    assert all(k in queries and k in oracles for k in MATCH_KEYS)


# -- tracing ----------------------------------------------------------------


def test_covered_s_merges_overlaps():
    assert covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4)
    assert covered_s([(1, 3)], 2, 10) == pytest.approx(1)


def test_attribution_by_window():
    from perfbench.trace import JobRecord

    tracer = Tracer.__new__(Tracer)
    tracer.spans = [
        Span("top", "p1", start=0.0, end=10.0),
        Span("child", "p1", start=1.0, end=4.0, parent="top"),
        Span("other", "p2", start=1.0, end=4.0),
    ]
    jobs = [JobRecord(2.0, 3.0, 1.5, 0.0, 0.0), JobRecord(5.0, 9.0, 2.0, 1.0, 0.0)]
    tracer._attribute(tracer.spans[0], jobs)
    top, child, other = tracer.spans
    assert (top.jobs, child.jobs, other.jobs) == (2, 1, 0)
    assert top.gap_s == pytest.approx(5.0)
    assert child.gap_s == pytest.approx(2.0)
    assert top.exec_s == pytest.approx(3.5)


# -- the contract of BENCHMARK.json ----------------------------------------------


def test_benchmark_json_matches_the_runner():
    bench = _bench()
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


# -- end to end -------------------------------------------------------------------


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, str]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    hashes = [ln.split()[1] for ln in lines if ln.startswith("output_hash ")]
    assert hashes, proc.stdout
    return json.loads(lines[-1]), hashes[0]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_small_runs_emit_every_metric_and_repeat_their_outputs(workload):
    bench = _bench()
    common = ["--workload", workload, "--seconds", "1", "--scale", "0.2"]
    plain, h_plain = _result(_run(ROOT, *common, "--seed", "5", "--trace", "0"))
    traced, h_traced = _result(_run(ROOT, *common, "--seed", "5", "--trace", "1"))
    other, h_other = _result(_run(ROOT, *common, "--seed", "6", "--trace", "0"))

    for res in (plain, traced, other):
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]
    }
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]
    }
    # jobs and their stages' executor time were read from the status store
    layer = {k: v["value"] for k, v in traced["metrics"].items()}
    assert any(v > 0 for k, v in layer.items() if k.endswith(".jobs"))
    assert any(v > 0 for k, v in layer.items() if k.endswith(".exec_s"))
    assert h_plain == h_traced  # tracing does not change what the program computes
    assert h_plain != h_other


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files the command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(str(tmp_path), "--workload", "rank_train", "--seed", "1", "--seconds", "1")
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
