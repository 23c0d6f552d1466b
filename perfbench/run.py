"""Benchmark of driftspark's validation engine.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  One process drives driftspark's public
entry points on ``local[4]`` as a single closed-loop client: the next pass
starts only when the previous one has returned and its outputs are
collected.  Inputs come from ``--seed`` alone (perfbench/inputs.py) and are
cached under ``.perfbench_cache/``, which also holds every file a run writes.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics of perfbench/layers.py with
``--trace 1``.  The line before it carries the run's context: nproc, the
load average at start and end, sizes and every pass time.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
MASTER = "local[4]"

E2E_UNITS = {"images_per_sec": "images/s", "pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def descendants(pid: int) -> set:
    """Pids of every live process below ``pid``."""
    children = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(run_dir: Path, event_dir: Path | None):
    from driftspark.session import get_spark

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # pyspark's gateway handshake file and the Python workers' temporaries
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # the JVMs keep their perf-data and temporary files out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # it would override spark.local.dir and put shuffle files outside the run
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # no -Xms or pre-touch: the JVM's resident peak then follows the heap
        # the program actually touches, up to the 2 GB cap
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, before: set) -> None:
    """Stop the session and the JVM, and wait for every process they started."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and descendants(os.getpid()) & before:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "driftspark").is_dir():
        print(f"perfbench: no driftspark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import inputs
    from layers import Tracer, layer_metrics, metric_specs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    context = {
        "workload": cls.name,
        "seed": args.seed,
        "master": MASTER,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "sizes": cls.sizes,
    }
    data, expect = inputs.build(CACHE, cls.name, args.seed, cls.sizes)

    run_dir = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    event_dir = run_dir / "eventlog" if args.trace else None
    problems, walls, attempted, failed = [], [], 0, 0
    t_start = time.perf_counter()
    spark = start_spark(run_dir, event_dir)
    try:
        tracer = Tracer(spark.sparkContext, cls.name, enabled=False)
        wl = cls(spark, tracer, data, expect, run_dir)
        wl.cold_pass()
        setup_s = time.perf_counter() - t_start
        tracer.enabled = bool(args.trace)
        traced_since = time.time() * 1000.0
        problems += wl.after_setup()

        deadline = time.perf_counter() + args.seconds
        while attempted == 0 or time.perf_counter() < deadline:
            attempted += 1
            wl.prepare()
            t0 = time.perf_counter()
            try:
                out = wl.run_pass()
            except Exception:  # a failing pass is counted, but not timed
                traceback.print_exc()
                failed += 1
                continue
            walls.append(time.perf_counter() - t0)
            bad = wl.check(out)
            if bad:
                failed += 1
                problems += bad
        problems += wl.finish()
        attempted += 1  # the once-per-run checks
        if problems:
            failed += 1

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        before = descendants(os.getpid())
    except BaseException:
        before = descendants(os.getpid())
        stop_spark(spark, before)
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    stop_spark(spark, before)
    if not walls:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: all {attempted - 1} timed passes failed", file=sys.stderr)
        return 1

    pass_s = statistics.median(walls)
    if args.trace:
        (log,) = event_dir.iterdir()
        values = layer_metrics(log, tracer, traced_since, walls)
        metrics = {n: {"value": values[n], "unit": u} for n, u in metric_specs()}
    else:
        values = {
            "images_per_sec": wl.images_per_pass / pass_s,
            "pass_s": pass_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in values.items()}
    shutil.rmtree(run_dir, ignore_errors=True)

    context.update(
        loadavg_end=os.getloadavg(),
        passes=len(walls),
        pass_walls_s=walls,
        setup_s=setup_s,
        peak_rss_mb=peak_rss_mb,
        error_rate=failed / attempted,
        problems=problems[:20],
    )
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print("perfbench context: " + json.dumps(context))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
