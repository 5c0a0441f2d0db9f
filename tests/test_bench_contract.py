"""The bench reporting contract (VERDICT r6 item 1): the driver parses a
bounded stdout TAIL, so the FINAL line must stay under budget no matter
how much telemetry the round grows — r6's graph telemetry pushed the
single output line past the window and the driver recorded parsed:null.
These tests pin the shed guard and the realistic line size."""

from __future__ import annotations

import pytest

import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (
    FINAL_LINE_BUDGET,
    HEADLINE,
    ORACLE_BASELINES,
    SCALE_TIER,
    compact_final_line,
)


def _realistic_out(extra: dict | None = None) -> dict:
    out = {
        "metric": "headline_suite_total",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: 12.34 for name in HEADLINE},  # 2-dec contract
        "sf": 0.1,
        "load": {"pre": 12.3, "nbr": [0.123, 0.123]},  # worst case: re-run
        "oracle_baseline_total": 12.345,
        "grand_total": 135.801,
    }
    if extra:
        out.update(extra)
    return out


def test_realistic_line_with_scale_tier_fits():
    # the REAL tier list at worst-case ratio widths — if this stops
    # fitting, shrink the tier block before the driver finds out
    out = _realistic_out(
        {"scale_tier": {"k": 10, "ratios": {n: 99.9 for n in SCALE_TIER}}}
    )
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(HEADLINE)
    # the tier ratios (the judge-facing scaling factors, which exist
    # ONLY on this line) survive even worst-case widths — at worst they
    # COMPRESS to the positional-array form ("r" in SCALE_TIER order);
    # load and the totals also ride the TELEMETRY line + sidecar, so
    # they may shed under worst-case widths
    st = parsed["scale_tier"]
    ratios = st.get("ratios") or dict(zip(SCALE_TIER, st.get("r", [])))
    assert len(ratios) == len(SCALE_TIER) and all(
        v == 99.9 for v in ratios.values()
    )
    assert SCALE_TIER and set(SCALE_TIER) <= set(HEADLINE)


def test_realistic_line_at_shipped_widths_keeps_judge_blocks():
    """At the widths the suite ACTUALLY ships (r12 artifact timings plus
    measured-scale estimates for newer additions), the judge-facing
    blocks survive: queries + load + tier ratios. The totals are ALLOWED
    to shed — they ride the TELEMETRY line/sidecar verbatim, and the r13
    budget cut (1950 -> 1900, ADVICE r12) is paid exactly there."""
    prev = json.load(open(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_r12.json")))["parsed"]
    q = {n: float(prev["queries"].get(n, 9.99)) for n in HEADLINE}
    out = _realistic_out()
    out["queries"] = q
    out["load"] = {"pre": 5.3, "nbr": [0.009]}
    ratios = {n: 9.9 for n in SCALE_TIER}
    ratios.update(prev["scale_tier"]["ratios"])
    out["scale_tier"] = {"k": 10, "ratios": ratios}
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    for block in ("queries", "load", "scale_tier"):
        assert block in parsed, block
    st = parsed["scale_tier"]
    got = st.get("ratios") or dict(zip(SCALE_TIER, st.get("r", [])))
    assert len(got) == len(SCALE_TIER), "tier ratios shed too early"


def test_oversized_optional_blocks_shed_before_queries():
    huge = {"k": 10, "ratios": {f"q_{i}": 1.0 for i in range(400)}}
    errs = {f"q_err_{i}": "x" * 150 for i in range(20)}
    out = _realistic_out({"scale_tier": huge, "errors": errs})
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    # per-query timings survive; the oversized blocks were shed
    assert set(parsed["queries"]) == set(HEADLINE)
    assert "scale_tier" not in parsed


def test_neighbor_share_probe():
    """The r10 load-forensics probe: synthetic snapshots give exact
    arithmetic; a live snapshot pair brackets a busy-spin so the
    /proc-walk actually attributes this process's own work to 'self'."""
    import time

    from bench import _cpu_snapshot, neighbor_share

    ncpu = os.cpu_count() or 1
    # synthetic: 1 second, box 50% busy, half of that is our own tree
    s0 = {"busy": 0, "self": 0, "t": 0.0}
    s1 = {"busy": ncpu * 50, "self": ncpu * 25, "t": 1.0}
    assert neighbor_share(s0, s1) == 0.25
    assert neighbor_share(None, s1) is None
    assert neighbor_share(s0, {"busy": 0, "self": 0, "t": 0.0}) is None
    # self jiffies can exceed busy delta by sampling skew: clamped to 0
    assert neighbor_share(s0, {"busy": 10, "self": 99, "t": 1.0}) == 0.0

    # live: burn ~0.3 s of CPU in-process; the probe must count it as
    # self, so the neighbor share stays well below the spin's own share
    live0 = _cpu_snapshot()
    assert live0 is not None and live0["self"] > 0
    t_end = time.monotonic() + 0.3
    while time.monotonic() < t_end:
        pass
    live1 = _cpu_snapshot()
    spin_self = (live1["self"] - live0["self"]) / 100.0
    assert spin_self >= 0.15, "busy-spin not attributed to self tree"
    share = neighbor_share(live0, live1)
    assert share is not None and 0.0 <= share <= 1.0


def test_headline_and_baselines_disjoint_and_registered():
    from aram_matchdata_etl_spark.registry import all_queries

    qs = all_queries()
    missing = [n for n in HEADLINE if n not in qs]
    assert not missing, f"headline names not in registry: {missing}"
    assert ORACLE_BASELINES <= set(HEADLINE)


def test_band_outlier_trigger():
    """The r11 in-suite pressure defense: a query far above its
    trailing-artifact band triggers; unknown keys and noise-level drift
    do not. r13: the ORACLE_BASELINES lane is covered too — its
    exemption let a 13x-contaminated q_embedding_neardup row ship
    unadjudicated in the r13 baseline run."""
    from bench import BAND_ABS_SLACK, BAND_RATIO, band_outliers

    bands = {"q_a": 2.5, "q_b": 0.1, "q_dedup_clusters": 10.0}
    timings = {
        "q_a": 4.4,  # 1.76x and +1.9s over the band -> triggers
        "q_b": 0.3,  # 3x but inside the absolute slack -> no trigger
        "q_dedup_clusters": 99.0,  # oracle baseline: no longer exempt
        "q_new": 50.0,  # no trailing artifact -> no band to compare
    }
    assert band_outliers(timings, bands) == ["q_a", "q_dedup_clusters"]
    # boundary: exactly at the threshold does not trigger
    t = max(BAND_RATIO * 2.5, 2.5 + BAND_ABS_SLACK)
    assert band_outliers({"q_a": t}, bands) == []
    assert band_outliers({"q_a": t + 0.01}, bands) == ["q_a"]


def test_trailing_minima_window_and_minima(tmp_path):
    """trailing_minima against HAND-WRITTEN fixture artifacts with known
    expected minima (the previous form reimplemented the function's own
    sort and asserted equality — tautological, ADVICE r11). The round
    numbers deliberately stress the ordering: with files r11 r12 r13
    r100, a lexicographic filename sort windows {r11, r12, r13}
    (BENCH_r100 < BENCH_r11) while the correct numeric window is
    {r12, r13, r100} — the two windows yield DIFFERENT minima here."""
    from bench import TRAILING_BAND_ROUNDS, trailing_minima

    assert TRAILING_BAND_ROUNDS == 3  # fixture below is sized to this

    def write(name: str, payload: dict) -> None:
        (tmp_path / name).write_text(json.dumps(payload))

    # r11 carries the global minimum (1.0) but falls OUTSIDE the numeric
    # trailing-3 window; a lexicographic sort would include it (and drop
    # r100, whose 4.0 is the true window minimum)
    write("BENCH_r11.json", {"sf": 0.1, "queries": {"q_x": 1.0, "q_old": 9.0}})
    # driver-wrapped artifact form: final line under "parsed"
    write(
        "BENCH_r12.json",
        {"parsed": {"sf": 0.1, "queries": {"q_x": 5.0, "q_y": 2.0}}},
    )
    write("BENCH_r13.json", {"sf": 0.1, "queries": {"q_x": 6.0, "q_y": 7.5}})
    write("BENCH_r100.json", {"sf": 0.1, "queries": {"q_x": 4.0}})
    # old rounds outside the numeric window — but BOTH sort lexically
    # AFTER BENCH_r13 ('2' > '1'), so a filename sort would window them:
    # wrong sf (skipped by the sf filter) and a malformed artifact
    # (skipped, never raises)
    write("BENCH_r2.json", {"sf": 0.01, "queries": {"q_x": 0.01}})
    (tmp_path / "BENCH_r3.json").write_text("{not json")

    bands = trailing_minima(0.1, root=str(tmp_path))
    assert bands == {"q_x": 4.0, "q_y": 2.0}
    # a different sf has no artifacts -> empty bands, defense disarmed
    assert trailing_minima(0.0123, root=str(tmp_path)) == {}


def test_trailing_minima_reads_shipped_artifacts():
    """Smoke on the repo's REAL artifacts: the default root resolves and
    the shipped sf0.1 history yields non-empty bands covering the
    long-standing headline queries."""
    from bench import trailing_minima

    bands = trailing_minima(0.1)
    assert bands, "repo ships BENCH_r*.json at sf0.1"
    assert "q_groupby_sum" in bands and bands["q_groupby_sum"] > 0


def test_realistic_line_with_rerun_block_fits():
    """Worst plausible rerun block (three flagged queries, both arms)
    still fits the driver tail with the judge-facing blocks intact."""
    out = _realistic_out(
        {"scale_tier": {"k": 10, "ratios": {n: 99.9 for n in SCALE_TIER}}}
    )
    out["load"]["rerun"] = {
        "q_dedup_clusters_lsh": [44.44, 22.52],
        "q_pagerank": [33.41, 13.41],
        "q_textrank_keywords": [13.13, 3.13],
    }
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(HEADLINE)


@pytest.mark.slow
def test_fresh_session_rerun_arm_survives_restart():
    """The band defense's riskiest step is the mid-run SparkSession
    restart (spark.stop() then get_spark()): if the rebuilt session were
    stale or unusable, the driver's bench would DIE the first time the
    band fires — worse than the contamination it guards. Prove the
    restart path end-to-end in a SUBPROCESS (a stop would poison the
    suite's shared session): build a session, stop it, rebuild via the
    same get_spark the bench uses, and run measure_query on the new
    session against a registered scale-path query."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import sys
sys.path.insert(0, %r)
from aram_matchdata_etl_spark.session import get_spark
from aram_matchdata_etl_spark.registry import all_queries
from bench import measure_query
first = get_spark(app_name="restart-arm-first", shuffle_partitions=8)
assert first.range(3).count() == 3
first.stop()
fresh = get_spark(app_name="restart-arm-fresh", shuffle_partitions=8)
sec = measure_query(fresh, all_queries()["q_groupby_sum"],
                    "/root/testdata/sf0.01")
assert sec >= 0.0
assert fresh.range(3).count() == 3
print("RESTART_ARM_OK", sec)
""" % (repo,)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RESTART_ARM_OK" in out.stdout


def test_tier_trailing_minima_reads_history(tmp_path):
    """tier_trailing_minima: per-query minima over the last
    TRAILING_BAND_ROUNDS matching (sf, k, version) entries; mismatched
    sf/k/version entries and malformed lines are skipped, reserved
    _corpus_prep keys ride along."""
    from bench import (
        SCALE_TIER_K,
        TIER_HISTORY_FILE,
        TRAILING_BAND_ROUNDS,
        _SCALE_TIER_VERSION,
        tier_trailing_minima,
    )

    assert TRAILING_BAND_ROUNDS == 3
    ok = {"sf": 0.1, "k": SCALE_TIER_K, "version": _SCALE_TIER_VERSION}
    rows = [
        # outside the trailing-3 window: its global minimum must NOT win
        {**ok, "sec": {"q_x": 0.5}},
        {**ok, "sec": {"q_x": 9.0, "q_y": 3.0, "_corpus_prep": 11.0}},
        # wrong sf / k / version: skipped entirely
        {**ok, "sf": 0.01, "sec": {"q_x": 0.01}},
        # null / non-numeric sf (hand-edited or merge-conflicted line):
        # skipped, never a TypeError that sinks the whole tier phase
        {**ok, "sf": None, "sec": {"q_x": 0.01}},
        {**ok, "sf": "oops", "sec": {"q_x": 0.01}},
        {**ok, "k": 99, "sec": {"q_x": 0.01}},
        {**ok, "version": 1, "sec": {"q_x": 0.01}},
        {**ok, "sec": {"q_x": 7.0, "q_y": 4.0}},
        {**ok, "sec": {"q_x": 8.0}},
    ]
    lines = [json.dumps(r) for r in rows]
    lines.insert(3, "{not json")  # malformed line: skipped, never raises
    (tmp_path / TIER_HISTORY_FILE).write_text("\n".join(lines) + "\n")
    bands = tier_trailing_minima(
        0.1, SCALE_TIER_K, _SCALE_TIER_VERSION, root=str(tmp_path)
    )
    assert bands == {
        "q_x": 7.0, "q_y": 3.0, "_corpus_prep": 11.0,
    }
    # no history file -> empty bands, defense disarmed (not an error)
    assert tier_trailing_minima(
        0.1, SCALE_TIER_K, _SCALE_TIER_VERSION,
        root=str(tmp_path / "nowhere"),
    ) == {}


def test_tier_band_planted_load_trips(tmp_path):
    """The r12 artifact-lies class, planted: a tier run whose seconds
    are load-inflated far above the history band MUST be flagged for
    the fresh-session arm; in-band drift and band-less keys must not."""
    from bench import (
        SCALE_TIER_K,
        TIER_HISTORY_FILE,
        _SCALE_TIER_VERSION,
        tier_suspects,
        tier_trailing_minima,
    )

    ok = {"sf": 0.1, "k": SCALE_TIER_K, "version": _SCALE_TIER_VERSION}
    (tmp_path / TIER_HISTORY_FILE).write_text(
        json.dumps({**ok, "sec": {"q_lsh": 4.0, "q_quiet": 2.0}}) + "\n"
    )
    bands = tier_trailing_minima(
        0.1, SCALE_TIER_K, _SCALE_TIER_VERSION, root=str(tmp_path)
    )
    headline = {"q_lsh": 1.6, "q_quiet": 1.0, "q_new": 5.0}
    anchors = {"q_lsh": 1.7, "q_quiet": 1.1, "q_new": 5.1}
    # q_lsh replays BENCH_r12's contamination (19.9x-style blow-up);
    # q_quiet drifts inside the band; q_new has no history yet
    secs = {"q_lsh": 33.0, "q_quiet": 2.3, "q_new": 9.0}
    assert tier_suspects(anchors, secs, headline, bands) == ["q_lsh"]


def test_tier_anchor_contamination_trips():
    """The flattering dual: a contaminated in-phase 1x anchor UNDERSTATES
    the ratio, so an anchor far above the same run's headline number
    trips the same fresh-session arm even when tier seconds are in-band."""
    from bench import tier_suspects

    headline = {"q_a": 2.0, "q_b": 2.0}
    secs = {"q_a": 4.0, "q_b": 4.0}
    bands = {"q_a": 3.9, "q_b": 3.9}
    assert tier_suspects(
        {"q_a": 4.1, "q_b": 2.1}, secs, headline, bands
    ) == ["q_a"]
    # boundary: exactly at the threshold does not trip
    assert tier_suspects({"q_a": 3.0}, {}, headline, {}) == []
    assert tier_suspects({"q_a": 3.01}, {}, headline, {}) == ["q_a"]


def test_append_tier_history_trims(tmp_path):
    from bench import (
        TIER_HISTORY_FILE,
        TIER_HISTORY_KEEP,
        append_tier_history,
    )

    for i in range(TIER_HISTORY_KEEP + 7):
        append_tier_history(
            0.1, {"q_x": float(i)}, {"q_x": 1.0}, root=str(tmp_path)
        )
    lines = (tmp_path / TIER_HISTORY_FILE).read_text().splitlines()
    assert len(lines) == TIER_HISTORY_KEEP
    # oldest entries trimmed, newest kept, all parseable
    parsed = [json.loads(ln) for ln in lines]
    assert parsed[-1]["sec"] == {"q_x": float(TIER_HISTORY_KEEP + 6)}
    assert parsed[0]["sec"] == {"q_x": 7.0}


def test_shed_ladder_preserves_adjudication_cores():
    """When the line is over budget, load and scale_tier are STRIPPED to
    their rerun adjudication pairs before being dropped: a band-flagged
    number must never ship without visible adjudication while anything
    else on the line could have made room."""
    from bench import compact_final_line

    out = _realistic_out()
    # inflate queries so every rung before strip_tier must fire (even
    # the COMPRESSED tier ratios can't fit), but not so much that the
    # stripped cores can't
    out["queries"] = {f"q_{i:03d}": 123.45 for i in range(110)}
    out["load"] = {
        "pre": 4.0,
        "nbr": [0.032, 0.031],
        "rerun": {"q_media_features": [1.98, 0.28]},
    }
    out["scale_tier"] = {
        "k": 10,
        "ratios": {n: 2.0 for n in SCALE_TIER},
        "rerun": {"q_dedup_minhash_lsh": [19.9, 2.4]},
    }
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["load"] == {"rerun": {"q_media_features": [1.98, 0.28]}}
    assert parsed["scale_tier"] == {
        "k": 10, "rerun": {"q_dedup_minhash_lsh": [19.9, 2.4]},
    }


def test_shed_ladder_compresses_tier_before_stripping():
    """One notch earlier on the ladder: when compression alone makes the
    line fit, the ratios survive in positional-array form WITH the rerun
    adjudication intact."""
    from bench import compact_final_line

    out = _realistic_out()
    out["queries"] = {f"q_{i:03d}": 123.45 for i in range(92)}
    out["scale_tier"] = {
        "k": 10,
        "ratios": {n: 2.0 for n in SCALE_TIER},
        "rerun": {"q_dedup_minhash_lsh": [19.9, 2.4]},
    }
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    st = parsed["scale_tier"]
    assert st["r"] == [2.0] * len(SCALE_TIER)
    assert st["order"] == "SCALE_TIER"
    assert st["rerun"] == {"q_dedup_minhash_lsh": [19.9, 2.4]}


def test_ratio_helper():
    from bench import _ratio

    assert _ratio([2.0, 5.0]) == 2.5
    assert _ratio([None, 5.0]) is None
    assert _ratio([0.0, 5.0]) is None  # zero anchor: no ratio, no crash
    assert _ratio([2.0, None]) is None


def test_r13_driver_width_keeps_ratios_and_baseline_pairs():
    """The r14 regression pin (VERDICT r13 item 2): at the exact widths
    the r13 DRIVER run shipped — 62 queries, 5 tier rerun pairs, both
    ORACLE_BASELINES adjudication pairs in the load block — the final
    line must keep the tier ratios (compressed form counts) AND the
    baseline-lane rerun pairs. The r13 artifact lost both."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = json.load(open(os.path.join(repo, "BENCH_r13.json")))["parsed"]
    out = _realistic_out()
    out["queries"] = dict(prev["queries"])
    out["load"] = {
        "pre": 18.2,
        "nbr": [0.019, 0.018],
        "rerun": {
            "q_embedding_neardup": [2.14, 2.48],
            "q_dedup_clusters": [28.43, 25.5],
        },
    }
    out["scale_tier"] = {
        "k": 10,
        "ratios": {n: 47.2 for n in SCALE_TIER},  # worst realistic width
        "rerun": {
            n: [19.9, 2.4]
            for n in (
                "q_anomaly_zscore", "q_bigram_lm_score",
                "q_dedup_clusters_lsh", "q_dedup_minhash_lsh", "q_kcore",
            )
        },
    }
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    st = parsed["scale_tier"]
    ratios = st.get("ratios") or dict(zip(SCALE_TIER, st.get("r", [])))
    assert len(ratios) == len(SCALE_TIER), "tier ratios shed at r13 widths"
    load_rerun = (parsed.get("load") or {}).get("rerun") or {}
    for name in ORACLE_BASELINES:
        assert name in load_rerun, f"baseline pair {name} shed"


def test_rerun_trim_pins_baselines_and_marks_shed():
    """Under heavier pressure the rerun blocks TRIM instead of dropping
    whole: ORACLE_BASELINES pairs are pinned in the load block, the
    most-disagreeing others survive, and an in-band rerun_shed count
    keeps the trim visible (a trimmed defense must never read as a
    quiet run)."""
    out = _realistic_out()
    # fat queries so the ladder runs deep, but cores still fit
    out["queries"] = {f"q_{i:03d}": 123.45 for i in range(100)}
    out["load"] = {
        "pre": 4.0,
        "nbr": [0.2],
        "rerun": {
            "q_dedup_clusters": [28.4, 25.5],      # pinned (baseline lane)
            "q_embedding_neardup": [2.1, 2.4],     # pinned
            "q_small_a": [1.0, 0.9],               # low discrepancy: trims
            "q_small_b": [9.9, 1.1],               # high discrepancy: kept
        },
    }
    out["scale_tier"] = {
        "k": 10,
        "ratios": {n: 2.0 for n in SCALE_TIER},
        "rerun": {f"q_tier_{i}": [10.0 + i, 2.0] for i in range(6)},
    }
    line = compact_final_line(out)
    assert len(line) <= FINAL_LINE_BUDGET
    parsed = json.loads(line)
    load = parsed.get("load") or {}
    rr = load.get("rerun") or {}
    for name in ORACLE_BASELINES:
        assert name in rr, f"baseline pair {name} shed under pressure"
    if load.get("rerun_shed"):
        # the trimmed pair is the LOW-discrepancy one
        assert "q_small_b" in rr and "q_small_a" not in rr
        assert load["rerun_shed"] == 1
    st = parsed.get("scale_tier") or {}
    if st.get("rerun_shed"):
        # tier rerun trimmed to the 3 most-discrepant pairs
        assert st["rerun_shed"] == 3
        assert set(st["rerun"]) == {"q_tier_5", "q_tier_4", "q_tier_3"}


def test_rerun_trim_twice_accumulates_shed_count():
    """Trimming the same block twice (the ladder's later rungs re-trim a
    block an earlier rung already trimmed) must add to ``rerun_shed``,
    not overwrite it with the second trim's count alone."""
    from bench import _trim_rerun

    block = {"rerun": {f"q_{i}": [10.0 + i, 1.0] for i in range(6)}}
    _trim_rerun(block, keep=3, pinned=set())
    assert block["rerun_shed"] == 3
    assert set(block["rerun"]) == {"q_5", "q_4", "q_3"}
    _trim_rerun(block, keep=1, pinned=set())
    assert block["rerun_shed"] == 5
    assert set(block["rerun"]) == {"q_5"}
    # a no-op trim leaves the count alone
    _trim_rerun(block, keep=1, pinned=set())
    assert block["rerun_shed"] == 5


def test_worst_offenders_soft_trigger():
    """r14 (VERDICT r13 item 6): the N worst sub-threshold offenders vs
    the trailing band get the fresh-session arm too — capped at N, hard
    flags excluded, below-floor jitter ignored."""
    from bench import WORST_N_RERUN, band_outliers, worst_offenders

    bands = {f"q_{i}": 0.30 for i in range(12)}
    bands["q_big"] = 4.0
    timings = {f"q_{i}": 0.30 + 0.03 * i for i in range(12)}  # up to 1.6x
    timings["q_big"] = 9.0  # hard-flagged (1.5x + slack)
    hard = band_outliers(timings, bands)
    assert hard == ["q_big"]
    soft = worst_offenders(timings, bands, exclude=set(hard))
    assert len(soft) == WORST_N_RERUN
    assert "q_big" not in soft
    # worst ratios first: q_11 (1.6x) ... and nothing at/below the floor
    assert soft[0] == "q_11"
    assert all(
        timings[n] > max(1.2 * bands[n], bands[n] + 0.05) for n in soft
    )
    # a query 10 ms over a 100 ms band stays out
    assert worst_offenders({"q_t": 0.11}, {"q_t": 0.10}, set()) == []
