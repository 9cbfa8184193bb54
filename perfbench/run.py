"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

One closed-loop client drives the engine's public functions in this
fresh process on ``local[N]`` (N = min(2, nproc), see ``boot.SLOTS``):

1. inputs are generated from ``--seed`` (untimed, before Spark starts);
2. set-up: registry import + ``get_spark()`` (timed, ``setup_s``);
3. the first iteration (``cold_s``), then steady iterations for
   ``--seconds`` of wall time (``wall_s`` is their median);
4. every iteration's output is checked outside the timed region
   (``ok_frac``);
5. untraced runs then make two more set-up samples in fresh processes,
   and ``setup_s`` is the median of the three.

``--trace 1`` enables Spark's event log and the span recorder and
prints the per-layer metrics instead.  The line before the last is the
run record (session facts, per-iteration samples); the last line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import boot  # noqa: E402

#: Set-up samples per untraced run (this process + fresh processes).
SETUP_SAMPLES = 3
#: Steady iterations a run makes even when ``--seconds`` is shorter.
MIN_STEADY = 2


def workload(name: str, seed: int, work_dir: str):
    if name == "medallion_daily":
        from perfbench.wl_medallion import MedallionDaily

        return MedallionDaily(seed, work_dir)
    if name == "headline_queries":
        from perfbench.wl_headline import HeadlineQueries

        return HeadlineQueries(seed, work_dir)
    raise SystemExit(f"unknown workload {name!r}")


def vm_hwm_mb(pid: int) -> tuple[str, float] | None:
    """``(command, VmHWM in MB)`` of one process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            fields = dict(line.split(":", 1) for line in f if ":" in line)
    except OSError:
        return None
    if "VmHWM" not in fields:
        return None
    return fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024


def tree_hwm_mb() -> dict[str, float]:
    """``VmHWM`` of this process and each descendant (the JVM it launched
    and the JVM's Python workers), keyed ``<pid>:<command>``."""
    out = {}
    for pid in [os.getpid(), *boot.descendants(os.getpid())]:
        got = vm_hwm_mb(pid)
        if got is not None:
            out[f"{pid}:{got[0]}"] = got[1]
    return out


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat`` (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def fresh_setup_sample(work_dir: str) -> float:
    """One set-up in a fresh process (``boot.py`` as a script)."""
    out = subprocess.run(
        [sys.executable, os.path.join(boot.ROOT, "perfbench", "boot.py"), work_dir],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
        cwd=boot.ROOT,
    )
    return float(out.stdout.strip().splitlines()[-1])


def traced_metrics(wl, tracer, groups, slots: int) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of ``BENCHMARK.json``.  A layer this
    workload never enters reads 0; the iteration-level counters come from
    the iteration span, the rest from the workload's own spans."""
    from perfbench.trace import iteration_rows, median_of

    units = {m["name"]: m["unit"] for m in boot.spec()["per_layer"]}
    out = {n: (0.0, u) for n, u in units.items()}
    rows = iteration_rows(tracer, groups, wl.iteration_span)
    whole = median_of(rows, wl.iteration_span, slots)
    for k in ("jobs", "tasks", "shuffle_write_mb", "core_busy_frac", "gc_s"):
        out[k] = whole[f"{wl.iteration_span}.{k}"]
    out["tasks_failed"] = (
        statistics.median(r[wl.iteration_span].counters.tasks_failed for r in rows),
        "count",
    )
    for name, (value, _) in wl.layer_metrics(tracer, groups, slots).items():
        if name not in units:
            raise KeyError(f"metric {name!r} is not in BENCHMARK.json")
        out[name] = (value, units[name])
    return out


def session_facts(spark) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "slots": boot.slots(),
        "nproc": os.cpu_count(),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.execution.arrow.maxRecordsPerBatch": conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        ),
        "spark_version": spark.version,
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.driver.extraJavaOptions": conf.get("spark.driver.extraJavaOptions"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    boot.require_program()
    traced = bool(args.trace)
    work_dir = os.path.join(boot.ROOT, ".bench_out", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work_dir, ignore_errors=True)
    boot.configure_env(work_dir)

    from perfbench.trace import Tracer, read_event_log

    wl = workload(args.workload, args.seed, work_dir)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    load_start = os.getloadavg()
    cpu_start = cpu_times()
    event_log = os.path.join(work_dir, "eventlog") if traced else None
    spark, registry, start_times = boot.start(work_dir, event_log)
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id, spark if traced else None, enabled=traced)
    wl.registry = registry

    samples: list[float] = []
    ok: list[bool] = []
    steady_start = None
    while True:
        i = len(samples)
        t = time.perf_counter()
        with tracer.span(wl.iteration_span):
            wl.iteration(spark, i, tracer)
        samples.append(time.perf_counter() - t)
        try:
            ok.append(bool(wl.check(i)))
        except Exception:  # an unreadable output is a failed iteration, not a crash
            sys.stderr.write(f"perfbench: check of iteration {i} raised\n{traceback.format_exc()}")
            ok.append(False)
        if steady_start is None:
            steady_start = time.perf_counter()
        elif len(samples) - 1 >= MIN_STEADY and time.perf_counter() - steady_start >= args.seconds:
            break

    hwm = tree_hwm_mb()
    facts = session_facts(spark)
    boot.stop(spark)
    load_end = os.getloadavg()
    steal = steal_share(cpu_start, cpu_times())

    setup = [start_times["registry.import_s"] + start_times["session.start_s"]]
    if not traced:
        setup += [fresh_setup_sample(work_dir) for _ in range(SETUP_SAMPLES - 1)]

    steady = samples[1:]
    attempted = len(ok)
    failed = attempted - sum(ok)
    if traced:
        metrics = traced_metrics(wl, tracer, read_event_log(event_log), facts["slots"])
        metrics["session.start_s"] = (start_times["session.start_s"], "s")
        metrics["registry.import_s"] = (start_times["registry.import_s"], "s")
        metrics["trace.wall_s"] = (statistics.median(steady), "s")
    else:
        metrics = {
            "wall_s": (statistics.median(steady), "s"),
            "cold_s": (samples[0], "s"),
            "setup_s": (statistics.median(setup), "s"),
            "peak_rss_mb": (sum(hwm.values()), "MB"),
            "ok_frac": (sum(ok) / attempted, "ratio"),
        }

    record = {
        "run_record": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            **facts,
            "loadavg_start": [round(x, 2) for x in load_start],
            "loadavg_end": [round(x, 2) for x in load_end],
            "cpu_steal_share": steal,
            "inputs": wl.input_sizes(),
            "gen_s": gen_s,
            "iteration_s": samples,
            "steady_samples": len(steady),
            "setup_s_samples": setup,
            "vm_hwm_mb": hwm,
            "ok": ok,
            **start_times,
        }
    }
    records = os.path.join(boot.ROOT, ".bench_out", "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, os.path.basename(work_dir))
    with open(stem + ".json", "w") as f:
        json.dump(record, f)
    if traced:
        tracer.dump(stem + ".spans.json")
    shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(record))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
