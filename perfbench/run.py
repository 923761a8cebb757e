"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 10 --trace 0

Run it from the repository root. Inputs are generated from ``--seed``;
every op is checked against an oracle. After set-up and untimed warm-up
ops, ``--trace 0`` measures one window of ``--seconds`` and the last stdout
line carries its end-to-end metrics. ``--trace 1`` splits the time into an
untraced and a traced window of half as long each, prints both sets of
end-to-end metrics and their difference (tracing overhead), and the last
line carries the per-layer metrics; the spans go to ``perfbench/.out/``.

The last line is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 0 only when no op failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
WORK = os.path.join(HERE, ".work")

#: Units of the end-to-end metrics, in BENCHMARK.json order.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: Units of the per-layer metrics, in BENCHMARK.json order.
PER_LAYER = {
    "session.start_s": "s",
    "writer.cluster_write_ms": "ms",
    "metastore.update_ms": "ms",
    "metastore.prune_ms": "ms",
    "metastore.candidate_file_ratio": "ratio",
    "metastore.rows_candidate_per_row_returned": "ratio",
    "stats_backends.store_files": "count",
    "engine.query_build_ms": "ms",
    "engine.exec_ms": "ms",
    "engine.spark_jobs_per_op": "count",
    "engine.spark_tasks_per_op": "count",
    "engine.driver_cpu_ms_per_op": "ms",
    "engine.jvm_cpu_ms_per_op": "ms",
}

QUERY_KINDS = ("lookup", "clean")


def configure_environment(workdir: str) -> None:
    """Keep every file Spark writes inside ``workdir``, make the package
    importable in executor Python workers, and size the driver for a
    shared machine."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Executor Python workers inherit this: update_metastore's footer
    # mapPartitions unpickles lakeshack_spark functions there.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # A fixed-size heap: peak RSS then does not depend on when G1 decides
    # to grow the heap.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # No hsperfdata files in /tmp from the launcher or the driver JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms1g -XX:-UsePerfData"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}"),
        "--conf", "spark.ui.retainedJobs=20000",
        "--conf", "spark.ui.retainedStages=20000",
        "pyspark-shell",
    ])


def spark_work(sess, groups) -> list[tuple[str, int, int]]:
    """``(op kind, jobs, tasks)`` Spark ran for each op's job group."""
    time.sleep(0.5)  # let the listener bus post the last jobs' stages
    tracker = sess.sc.statusTracker()
    out = []
    for kind, group in groups:
        jobs = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        out.append((kind, jobs, tasks))
    return out


def end_to_end(wl, win, rss_mb: float) -> dict[str, float]:
    return {"setup_s": wl.setup_s(), **wl.headline(win), "peak_rss_mb": rss_mb}


def per_layer(wl, win, core) -> tuple[dict[str, float], dict[str, tuple[float, str]]]:
    """Per-layer metrics of a traced window, plus extras for layers only
    one workload reaches (printed, not part of the JSON line, so that no
    metric reads 0 where it does not apply)."""
    tr = wl.tracer
    ms = lambda xs: core.median(xs) * 1e3 if xs else 0.0  # noqa: E731

    def phase_ms(name: str) -> float:
        return ms(tr.durations(name, "op.setup"))

    queries = [(st, rows) for kind, st, rows in win.statuses if kind in QUERY_KINDS]
    aggs = [st for kind, st, _ in win.statuses if kind == "agg"]
    n_ops = max(win.attempted, 1)
    work = spark_work(wl.sess, win.job_groups)
    clean_tasks = [tasks for kind, _, tasks in work if kind == "clean"]
    m = {
        "session.start_s": wl.sess.start_s,
        "writer.cluster_write_ms": phase_ms("writer.cluster_write"),
        "metastore.update_ms": phase_ms("metastore.update"),
        "metastore.prune_ms": ms([st["plan_sec"] for st, _ in queries]),
        "metastore.candidate_file_ratio": (
            sum(st["n_files_candidate"] / st["n_files_total"] for st, _ in queries)
            / max(len(queries), 1)),
        "metastore.rows_candidate_per_row_returned": (
            sum(st["n_rows_candidate"] for st, _ in queries)
            / max(sum(rows for _, rows in queries), 1)),
        "stats_backends.store_files": wl.store_files(),
        "engine.query_build_ms": ms(tr.durations("engine.query", since=win.started)),
        "engine.exec_ms": ms(tr.durations("engine.exec", since=win.started)),
        "engine.spark_jobs_per_op": sum(jobs for _, jobs, _ in work) / n_ops,
        "engine.spark_tasks_per_op": sum(tasks for _, _, tasks in work) / n_ops,
        "engine.driver_cpu_ms_per_op": win.driver_cpu_s * 1e3 / n_ops,
        "engine.jvm_cpu_ms_per_op": win.jvm_cpu_s * 1e3 / n_ops,
    }
    extra: dict[str, tuple[float, str]] = {}
    if aggs:
        extra["metastore.plan_agg_ms"] = (ms([st["plan_sec"] for st in aggs]), "ms")
        extra["metastore.agg_boundary_files"] = (
            sum(st["n_files_boundary"] for st in aggs) / len(aggs), "count")
    if clean_tasks:
        extra["operators.docs_out"] = (win.docs_out[0], "count")
        extra["operators.spark_tasks_per_pass"] = (sum(clean_tasks) / len(clean_tasks), "count")
    for name, sec in sorted(core.self_time_by_name(tr.spans).items()):
        extra[f"self.{name}_s"] = (sec, "s")
    return m, extra


def show(title: str, values: dict[str, tuple[float, str]]) -> None:
    print(title)
    for name, (value, unit) in values.items():
        print(f"  {name:44s} {value:>16.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import lakeshack_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: lakeshack_spark is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import core, inputs
    from perfbench.workloads import WORKLOADS, Session

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # SIGTERM unwinds through the finally below, which stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sentinel_start = core.sentinel_ms()
    steal0 = core.cpu_steal_jiffies()
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    os.makedirs(OUT, exist_ok=True)
    configure_environment(workdir)
    tracer = core.Tracer(enabled=bool(args.trace))
    sess = None
    try:
        sess = Session(workdir, tracer)
        wl = WORKLOADS[args.workload](sess, args.seed, inputs.FULL)
        wl.setup()
        tracer.enabled = False
        plain = wl.window(args.seconds / 2 if args.trace else args.seconds)
        windows = [wl.warmup, plain]
        traced = None
        if args.trace:
            tracer.enabled = True
            traced = wl.window(args.seconds / 2)
            windows.append(traced)
            layers, extra = per_layer(wl, traced, core)
        rss_driver = core.peak_rss_mb(["self"])
        rss_jvm = core.peak_rss_mb([sess.jvm_pid])
        rss = rss_driver + rss_jvm
        e2e = end_to_end(wl, plain, rss)
        detail = {**wl.detail(plain), "peak_rss_driver_mb": (rss_driver, "MB"),
                  "peak_rss_jvm_mb": (rss_jvm, "MB"),
                  "session_start_s": (sess.start_s, "s"),
                  "setup_write_s": (wl.write_s, "s"),
                  "setup_index_s": (wl.index_s, "s"),
                  "setup_warmup_s": (wl.warmup_s, "s")}
        if traced is not None:
            e2e_traced = end_to_end(wl, traced, rss)
            detail_traced = wl.detail(traced)
    finally:
        try:
            if sess is not None:
                sess.stop()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    steal1 = core.cpu_steal_jiffies()
    sentinel_end = core.sentinel_ms()
    contention = {"sentinel_start_ms": sentinel_start, "sentinel_end_ms": sentinel_end,
                  "cpu_steal_pct": 100.0 * (steal1[0] - steal0[0])
                  / max(steal1[1] - steal0[1], 1)}

    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows)
    for w in windows:
        for err in w.errors:
            print(f"perfbench: failed op: {err}", file=sys.stderr)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={sess.cores}")
    show("end-to-end (untraced window)", {
        **{k: (v, END_TO_END[k]) for k, v in e2e.items()},
        **detail,
        "error_rate": (failed / attempted, "fraction"),
        "ops_attempted": (attempted, "count"),
    })
    print("contention " + json.dumps(contention))
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": e2e, "detail": {k: v[0] for k, v in detail.items()},
              "contention": contention,
              "attempted": attempted, "failed": failed}
    if traced is not None:
        both = {**e2e_traced, **{k: v[0] for k, v in detail_traced.items()}}
        plain_all = {**e2e, **{k: v[0] for k, v in detail.items()}}
        show("end-to-end (traced window) and tracing overhead (traced - untraced)", {
            name: (both[name], f"({both[name] - plain_all[name]:+.4g})")
            for name in both if name in plain_all and name != "setup_s"
        })
        show("per-layer (traced window)", {k: (v, PER_LAYER[k]) for k, v in layers.items()})
        show("per-layer extras (this workload only)", extra)
        spans_path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.write(spans_path)
        print(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        record.update(traced=both, per_layer=layers,
                      per_layer_extra={k: v[0] for k, v in extra.items()})
    with open(os.path.join(OUT, f"result-{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    metrics = layers if traced is not None else e2e
    units = PER_LAYER if traced is not None else END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
