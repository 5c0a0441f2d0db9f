"""Repo benchmark: one seeded workload per run, end-to-end metrics or
(with ``--trace 1``) per-layer metrics.

    python3 perfbench/run.py --workload rank_train --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's inputs from
the seed under ``.perfbench_work/`` (untimed), starts one SparkSession
sized to the machine, runs untimed warm-up passes, then runs timed passes
(at least one) until their walls add up to about ``--seconds`` (it stops
at the pass end nearest that mark; output checks between passes do not
count). It checks the output of every pass and
prints the machine shape and every figure by name and unit, then, as
its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``setup_s``: process start through the end of the first warm-up pass
  (JVM, SparkSession, first-run codegen), minus input generation and
  output checks;
- ``pipeline_s``: wall time of the fastest timed pass. Other tenants of
  a shared host only ever add time to a pass, so the fastest one is the
  least disturbed measure of the program's own cost (the median moved
  with the host's load far more);
- ``peak_rss_mb``: peak RSS of the process tree (Python driver, JVM,
  Python workers) during a timed pass, median over the passes.

With ``--trace 1`` the run alternates untraced and traced passes. Spans
around each call into the package give ``<module>.<span>.<stat>``
medians over the traced passes (0 where the workload does not run that
span); ``trace.overhead`` is traced ``pipeline_s`` over untraced, minus
one (fastest traced pass over fastest untraced). After the passes the
traced run adds standalone spans (for
``match_queries``, the crawl's batch read and two streams into the
bronze upsert, the second one traced; their outputs are checked too).
The spans are written to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import this directory's modules as the ``perfbench`` package, never as
# top-level names (``trace`` would shadow the standard library's)
sys.path[0] = ROOT
WORK = os.path.join(ROOT, ".perfbench_work")
from perfbench import MATCH_KEYS  # noqa: E402
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "pipeline_s": "s",
    "peak_rss_mb": "MiB",
}

_FULL = ("wall_s", "jobs", "gap_s", "exec_s")
SPAN_STATS = {
    "sources.crawl_read": _FULL,
    "operators.silver": _FULL,
    "ml.train": _FULL,
    **{f"operators.{k}": ("wall_s", "jobs", "gap_s") for k in MATCH_KEYS},
    "ml.train.lr": ("wall_s", "jobs"),
    **{f"ml.{c}": ("wall_s", "jobs") for c in ("predict", "evaluate", "save", "load")},
    "streaming.merge_upsert": ("wall_s", "jobs", "gap_s"),
}
STAT_UNITS = {"wall_s": "s", "gap_s": "s", "exec_s": "s", "jobs": "count"}
# per-layer metric -> (figure a pass reports, unit)
FIGURES = {
    "sources.fetch_requests": ("fetch_requests", "count"),
    "sources.useful_fetch_ratio": ("useful_fetch_ratio", "fraction"),
    "ml.test_rmse": ("test_rmse", "score"),
    "ml.rank_acc_exact": ("rank_acc_exact", "fraction"),
    "streaming.latest_offset_s": ("latest_offset_s", "s"),
    "streaming.planning_s": ("planning_s", "s"),
    "streaming.add_batch_s": ("add_batch_s", "s"),
    "streaming.wal_commit_s": ("wal_commit_s", "s"),
    "streaming.batches": ("batches", "count"),
    "streaming.bytes_written_per_byte": ("bytes_written_per_byte", "ratio"),
}


def per_layer_units() -> dict[str, str]:
    units = {"session.start.wall_s": "s"}
    for span, stats in SPAN_STATS.items():
        units.update({f"{span}.{s}": STAT_UNITS[s] for s in stats})
    units.update({name: unit for name, (_, unit) in FIGURES.items()})
    units["trace.overhead"] = "fraction"
    return units


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env(work: str, extra: dict[str, str]) -> dict[str, str]:
    """Pin the machine shape and keep every file Spark writes inside the
    work dir. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
            "SPARK_LAUNCHER_OPTS": java_opts,
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            **extra,
        }
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": java_opts,
    }


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every process it started, and wait
    for each to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            jvm_proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            jvm_proc.kill()
            jvm_proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and _is_live(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def _is_live(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # our own exited child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            return False
        return os.path.exists(f"/proc/{pid}")
    return True


def _machine(spark, args) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_cpus": CPUS,
        "mem_gib": round(mem_kb / 2**20, 1),
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
    }


def span_metrics(tracer, traced: set[str]) -> dict[str, float]:
    """Median of each span's stats over its occurrences in ``traced``
    passes (and the standalone spans); 0 where it never ran."""
    by_name: dict[str, list] = {}
    for sp in tracer.spans:
        if sp.pass_id in traced or sp.pass_id in ("session", "extras"):
            by_name.setdefault(sp.name, []).append(sp)
    out = {"session.start.wall_s": 0.0}
    for name, stats in [("session.start", ("wall_s",)), *SPAN_STATS.items()]:
        spans = by_name.get(name, [])
        for stat in stats:
            vals = [float(getattr(s, stat)) for s in spans]
            out[f"{name}.{stat}"] = statistics.median(vals) if vals else 0.0
    return out


def top_level_overruns(tracer, passes: dict[str, float]) -> list[str]:
    """Top-level span walls of a pass must sum to no more than its wall."""
    sums: dict[str, float] = {}
    for sp in tracer.spans:
        if sp.parent is None and sp.pass_id in passes:
            sums[sp.pass_id] = sums.get(sp.pass_id, 0.0) + sp.wall_s
    return [
        f"{pid}: top-level spans {total:.3f}s exceed the pass wall {passes[pid]:.3f}s"
        for pid, total in sums.items()
        if total > passes[pid] + 1e-3
    ]


def run(args) -> dict:
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    conf = _configure_env(work, wl.env())

    g0 = time.time()
    wl.make_inputs()
    gen_s = time.time() - g0

    from aram_matchdata_etl_spark.session import get_spark

    s0 = time.time()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    s1 = time.time()
    sampler = RssSampler(os.getpid())
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.pass_id = "session"
        tracer.record("session.start", s0, s1)
        wl.open(spark)

        tracer.pass_id = "warmup"
        problems, attempted, failed = [], 0, 0
        warm = [wl.run_pass(spark, tracer, 0)]
        setup_s = _process_age_s() - gen_s - wl.check_s
        warm += [wl.run_pass(spark, tracer, 0) for _ in range(1, wl.WARMUP_PASSES)]
        problems += [f"warmup: {p}" for w in warm for p in w.problems]

        tracer.begin()
        passes, walls, traced, extras = [], {}, set(), []
        with sampler:
            t_loop = time.time()
            i = 1
            while True:
                is_traced = bool(args.trace) and i % 2 == 0
                tracer.enabled = is_traced
                tracer.pass_id = f"pass{i}"
                sampler.peak_mb, sampler.active = 0.0, True
                try:
                    res = wl.run_pass(spark, tracer, i)
                except Exception as exc:  # noqa: BLE001 - a raising pass is a failure
                    res = None
                    attempted += 1
                    failed += 1
                    problems.append(f"pass{i}: {str(exc).splitlines()[0][:300]}")
                sampler.active = False
                if res is not None:
                    res.traced = is_traced
                    res.peak_rss_mb = sampler.peak_mb
                    passes.append(res)
                    attempted += res.attempted
                    failed += res.failed
                    problems += [f"pass{i}: {p}" for p in res.problems]
                    if is_traced:
                        walls[tracer.pass_id] = res.wall_s
                        traced.add(tracer.pass_id)
                i += 1
                # stop at the pass end nearest the deadline; output checks
                # between passes do not count
                spent = sum(p.wall_s for p in passes)
                last = passes[-1].wall_s if passes else 0.0
                if spent + last / 2 >= args.seconds and (not args.trace or traced):
                    break
        if len({p.output_hash for p in warm + passes}) > 1:
            problems.append("same seed, different outputs across passes")

        if args.trace:
            tracer.enabled = True
            tracer.pass_id = "extras"
            extras = wl.run_extras(spark, tracer) or []
            for res in extras:
                attempted += res.attempted
                failed += res.failed
                problems += [f"extras: {p}" for p in res.problems]
            problems += top_level_overruns(tracer, walls)

        machine = _machine(spark, args)
    finally:
        _stop_spark(spark)

    plain = [p for p in passes if not p.traced]
    if not plain:
        raise RuntimeError("no pass completed: " + "; ".join(problems[:5]))
    e2e = {
        "setup_s": setup_s,
        "pipeline_s": min(p.wall_s for p in plain),
        "peak_rss_mb": statistics.median(p.peak_rss_mb for p in plain),
    }
    result = {
        "machine": machine,
        "problems": problems,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "report": wl.report(plain),
        "pass_walls": [p.wall_s for p in passes],
        "output_hash": warm[0].output_hash,
    }
    if args.trace:
        tpasses = [p for p in passes if p.traced] + extras
        layer = span_metrics(tracer, traced)
        for name, (fig, _) in FIGURES.items():
            vals = [p.figures[fig] for p in tpasses if fig in p.figures]
            layer[name] = statistics.median(vals) if vals else 0.0
        layer["trace.overhead"] = (
            min(p.wall_s for p in passes if p.traced) / e2e["pipeline_s"] - 1.0
        )
        result["per_layer"] = layer
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"machine": machine, "spans": tracer.as_dicts()}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return result


def emit(result: dict, trace: bool) -> None:
    """Human-readable lines, then the JSON result as the last line."""
    print("machine " + json.dumps(result["machine"], sort_keys=True))
    for p in result["problems"]:
        print(f"problem {p}")
    print(f"output_hash {result['output_hash']}")
    for i, wall in enumerate(result["pass_walls"]):
        print(f"pass   {i + 1:<3} {wall:.4f} s")
    lines = [(k, v, END_TO_END[k]) for k, v in result["end_to_end"].items()]
    lines += result["report"]
    failed_ratio = result["failed"] / max(result["attempted"], 1)
    lines.append(("failed_ratio", failed_ratio, "fraction"))
    for name, value, unit in lines:
        print(f"metric {name:<36} {value:>14.6f} {unit}")
    if trace:
        units = per_layer_units()
        for name, value in result["per_layer"].items():
            print(f"layer  {name:<44} {value:>14.6f} {units[name]}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in result["end_to_end"].items()}
    print(
        json.dumps(
            {
                "correct": not result["problems"] and result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0, help="input size factor (the tests use a small one)"
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "aram_matchdata_etl_spark")):
        print(f"no aram_matchdata_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    emit(run(args), bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
