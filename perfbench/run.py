"""Repository benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: ``crawl_discover``,
``recrawl_churn`` (crawl.py) and ``corpus_refine`` (corpus.py); their
inputs come from gen.py and depend only on ``--seed``. Everything runs
in one measured process on ``local[nproc]``; scratch, event logs and
results stay under ``.perfbench/`` in the working directory.

Stdout: a line per end-to-end metric and output check, a ``report``
JSON line (machine, seed, set-up parts, checks, crawl-order digest and,
traced, the per-epoch self-time table), then the result line
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.

The command itself only supervises: it starts the measured run as a
child in a session of its own, waits for it, then ends every process
left in that session (the Spark JVM and its Python workers) and waits
until each has gone, on every way out, before it returns.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_discover", "recrawl_churn", "corpus_refine")
#: seconds between two samples of the process tree's memory
RSS_INTERVAL = 0.25
#: seconds the processes left in the run's session get to exit on their
#: own, then after SIGTERM, then after SIGKILL
EXIT_GRACE_S = 5.0
TERM_GRACE_S = 10.0
KILL_GRACE_S = 10.0
#: signals that end the supervisor (after its clean-up)
STOP_SIGNALS = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
E2E_UNITS = {
    "items_per_s": "1/s",
    "step_s.p50": "s",
    "step_s.max": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "disk_mb": "MB",
}
PER_LAYER_UNITS = {
    **{f"epoch.{p}_s": "s" for p in (
        "dequeue", "politeness_fetch", "extract", "links_seen", "writes",
        "plan_build", "unaccounted")},
    "epoch.jobs": "count",
    "frontier.dequeued": "count",
    "frontier.inserted": "count",
    "frontier.size": "count",
    "politeness.granted_ratio": "ratio",
    "politeness.task_skew": "ratio",
    "fetch.fetched": "count",
    "fetch.failed": "count",
    "fetch.changed_ratio": "ratio",
    "extract.docs": "count",
    "seen.insert_ratio": "ratio",
    **{f"catalog.write_s.{t}": "s" for t in (
        "frontier", "page_cache", "politeness", "neg_cache", "extracted",
        "lineage", "seen_set")},
    "catalog.fold_s": "s",
    "catalog.compact_s": "s",
    "catalog.commit_s": "s",
    "catalog.vacuum_s": "s",
    "catalog.folds": "count",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "shuffle.bytes_written": "B",
    "shuffle.bytes_read": "B",
    "spill.bytes": "B",
    "task.cpu_s": "s",
    "gc.s": "s",
    "textstats.s": "s",
    "quality.s": "s",
    "dedup.exact_s": "s",
    "dedup.lsh_s": "s",
    "clusters.s": "s",
    "contamination.s": "s",
    "dedup.lsh_pairs": "count",
    "dedup.removed_ratio": "ratio",
    "quality.kept_ratio": "ratio",
    "trace.recorder_s": "s",
}


def machine() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def _tree_pss(root: int) -> int:
    """Proportional resident bytes (PSS) of ``root`` and all its
    descendants (/proc). PSS splits a shared page among the processes
    that map it, so Python workers forked from one daemon count their
    shared pages once, however many of them are alive at a sample."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, []))
    return total


class RssSampler(threading.Thread):
    """Peak resident memory (PSS) of this process tree, driver JVM and
    Python workers included, sampled every RSS_INTERVAL seconds."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.halt = threading.Event()

    def run(self) -> None:
        while not self.halt.is_set():
            self.peak = max(self.peak, _tree_pss(os.getpid()))
            self.halt.wait(RSS_INTERVAL)

    def stop(self) -> int:
        self.halt.set()
        self.join()
        return self.peak


def recorder_cost(n: int = 20_000) -> float:
    """Seconds one recorded span costs (begin + end), measured here."""
    from spans import Tracer

    tr = Tracer()
    t = time.perf_counter()
    for _ in range(n):
        tr.end(tr.begin("x"))
    return (time.perf_counter() - t) / n


def session(work: str, cpus: int, ram_mb: int, trace: bool, shuffle: int):
    from hiispider_spark.session import get_spark

    conf = {
        # local mode: the driver heap is all executor memory; stay far
        # below physical RAM (the session default is sized for 48 GB)
        "spark.driver.memory": f"{min(2048, ram_mb // 4)}m",
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app="perfbench", cpus=cpus, shuffle_partitions=shuffle,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _session_members(sid: int) -> list[int]:
    """Processes of session ``sid`` (/proc). A zombie counts until it is
    reaped: a JVM whose main thread has ended shows as one while its
    shutdown threads still run. Python workers leave the JVM's process
    group but not its session."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(st[3]) == sid and st[0] != "X":
            out.append(int(d))
    return out


def _reap() -> None:
    """Collect every ended child (orphans included, see _become_subreaper)."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def _end_session(sid: int) -> list[int]:
    """Let the session's processes exit, then TERM and KILL what stays;
    returns the pids still alive after the last grace period."""
    left = _session_members(sid)
    for sig, grace in ((None, EXIT_GRACE_S), (signal.SIGTERM, TERM_GRACE_S),
                       (signal.SIGKILL, KILL_GRACE_S)):
        for pid in left if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            left = _session_members(sid)
        if not left:
            break
    _reap()
    return left


def _become_subreaper() -> None:
    """prctl(PR_SET_CHILD_SUBREAPER): a descendant orphaned when its
    parent dies becomes this process's child, so its exit can be waited
    for here rather than by init."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: prctl(PR_SET_CHILD_SUBREAPER) failed: "
              f"{os.strerror(ctypes.get_errno())}", file=sys.stderr)


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def supervise(args, argv: list[str]) -> int:
    """Run the benchmark in a child that leads a new session; end every
    process of that session and remove the run's scratch before returning."""
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hiispider_spark", "__init__.py")):
        print("perfbench: hiispider_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for s in STOP_SIGNALS:
        signal.signal(s, _on_signal)
    _become_subreaper()
    child = None
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *argv, "--work", work],
            start_new_session=True,
        )
        return child.wait()
    finally:
        # a second signal must not cut the clean-up short
        for s in STOP_SIGNALS:
            signal.signal(s, signal.SIG_IGN)
        if child is not None:
            left = _end_session(child.pid)
            if left:
                print(f"perfbench: processes {left} outlived SIGKILL",
                      file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # recorded with the result; the timed work is a fixed number of
    # epochs or passes, so that every commit times the same work
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set by the supervisor for the measured child: its scratch directory
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.work is None:
        return supervise(args, argv)
    return measure(args)


def measure(args) -> int:
    root = os.getcwd()
    base = os.path.join(root, ".perfbench")
    work = args.work
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_GRAFT_LOCAL_DIR": f"{work}/spark-local",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    })
    sys.path[:0] = [HERE, root]

    import corpus
    import crawl
    from spans import Tracer

    mach = machine()
    tracer = Tracer()
    if args.trace:
        tracer.install()
    sampler = RssSampler()
    sampler.start()
    try:
        t = time.time()
        spark = session(work, mach["nproc"], mach["ram_mb"], bool(args.trace),
                        crawl.PARTITIONS)
        session_s = time.time() - t
        mach["java"] = spark.sparkContext._jvm.System.getProperty(
            "java.version"
        )
        try:
            if args.workload == "corpus_refine":
                res = corpus.run(spark, work, args.seed, tracer)
            else:
                res = crawl.run(spark, work, args.seed, tracer,
                                churn=args.workload == "recrawl_churn")
        finally:
            # the gateway JVM exits once this process has ended and
            # closed its stdin; the supervisor waits for that
            spark.stop()
        peak = sampler.stop()

        e2e = dict(res["e2e"])
        e2e["setup_s"] = session_s + sum(res["setup"].values())
        e2e["peak_rss_mb"] = peak / 1e6
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "machine": mach,
            "setup_parts_s": {"session_s": session_s, **res["setup"]},
            "end_to_end": metrics,
            "error_rate": res["failed"] / res["attempted"],
            "attempted": res["attempted"],
            "failed": res["failed"],
            "failures": res["failures"],
            "crawl_order_digest": res.get("digest"),
            "log": res["log"],
        }
        if args.trace:
            layers = _traced_layers(res, work, args.workload, tracer)
            report["epoch_tables"] = layers.pop("_tables", None)
            untraced = _result_path(base, args.workload, args.seed, 0)
            if os.path.isfile(untraced):
                with open(untraced) as f:
                    ref = json.load(f)["end_to_end"]
                report["tracing_overhead"] = {
                    k: e2e[k] - ref[k]["value"] for k in E2E_UNITS
                }
            metrics = {
                k: {"value": float(layers.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER_UNITS.items()
            }
            report["per_layer"] = metrics
            _dump(os.path.join(base, "results",
                               f"{args.workload}-seed{args.seed}-spans.json"),
                  [[s.name, s.start, s.end, s.parent, s.epoch]
                   for s in tracer.spans])
        _dump(_result_path(base, args.workload, args.seed, args.trace), report)
    finally:
        if sampler.is_alive():
            sampler.stop()

    for k, m in report["end_to_end"].items():
        print(f"{args.workload} {k} = {m['value']:.4f} {m['unit']}")
    print(f"{args.workload} error_rate = {report['error_rate']:.4f} "
          f"({res['failed']} of {res['attempted']} failed)")
    for line in res["failures"] or ["all output checks passed"]:
        print(f"{args.workload} check: {line}")
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _result_path(base: str, workload: str, seed: int, trace: int) -> str:
    return os.path.join(base, "results",
                        f"{workload}-seed{seed}-trace{trace}.json")


def _dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, default=str)


def _traced_layers(res: dict, work: str, workload: str, tracer) -> dict:
    """Per-layer metrics: the workload's own numbers plus event-log data
    movement per step and the span recorder's cost per step."""
    import crawl
    from spans import data_movement, read_event_log

    layers = dict(res.get("layers", {}))
    jobs, tasks = read_event_log(f"{work}/eventlog")
    if workload == "corpus_refine":
        per = [data_movement(jobs, tasks, a, b) for a, b in res["windows"]]
        for key, name in crawl.MOVEMENT:
            layers[name] = statistics.mean(p[key] for p in per)
    else:
        crawl.add_data_movement(layers, res["epochs"], jobs, tasks)
    layers["trace.recorder_s"] = (
        len(tracer.spans) * recorder_cost() / len(res["log"])
    )
    return layers


if __name__ == "__main__":
    sys.exit(main())
