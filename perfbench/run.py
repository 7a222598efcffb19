"""Crawl-and-index benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 15 --trace 0

Run from the repository root. The engine runs on ``local[nproc]`` in
this process, with the driver heap sized to the box through
``SPARK_GRAFT_DRIVER_MEM`` (an existing value wins). Inputs are
generated from ``--seed``; outputs are checked against the sequential
crawl oracle or the DuckDB query oracle. ``--trace 1`` turns on Spark's
event log (through ``SPARK_GRAFT_CONF``) and the layer replays, and
reports per-layer metrics instead of end-to-end ones.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: a per-run scratch directory (removed at exit), cached
index inputs and oracles, and one record per run in ``results/`` with
the environment before and after, the set-up and per-operation walls,
every metric and (traced) the spans.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is 0 when a result was printed, whatever ``correct`` says.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_deep", "index_neardup")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, traced: bool) -> dict:
    """Point every temp/scratch location of Spark, the JVM and Python at
    ``work`` and size the session to the box. Must run before pyspark is
    imported."""
    from perfbench import system

    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"])
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", system.driver_heap())
    os.environ["SPARK_GRAFT_CPUS"] = str(system.nproc())
    conf = [os.environ.get("SPARK_GRAFT_CONF", ""),
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if traced:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{events}"]
    os.environ["SPARK_GRAFT_CONF"] = ";".join(c for c in conf if c)
    return {"nproc": system.nproc(), "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "events": events}


class Context(SimpleNamespace):
    """What a workload needs: seed and window, tracer, directories, the
    session, and the counters it fills in."""

    def session(self):
        if self._spark is None:
            from pygeodatacrawler_spark.session import get_spark

            t0 = time.time()
            self._spark = get_spark("perfbench", master=f"local[{self.cpus}]")
            self._spark.sparkContext.setLogLevel("ERROR")
            self.log["session_s"] = time.time() - t0
        return self._spark


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pygeodatacrawler_spark")):
        print("perfbench: the pygeodatacrawler_spark package is not in this tree",
              file=sys.stderr)
        return 2

    from perfbench import metrics, system
    from perfbench.tracing import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    stamp = (f"{args.workload}-s{args.seed}-t{args.trace}-"
             f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    work = os.path.join(base, "runs", stamp)
    env = prepare_env(work, bool(args.trace))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": env["nproc"], "driver_heap": env["driver_heap"],
        "revision": system.source_revision(ROOT), "before": system.env_snapshot(),
    }
    ctx = Context(
        seed=args.seed, seconds=args.seconds, cpus=env["nproc"], work=work,
        cache=os.path.join(base, "cache"), event_log_dir=env["events"],
        tracer=Tracer(bool(args.trace)), setups=[], attempted=0, failed=0,
        log={}, _spark=None,
    )
    os.makedirs(ctx.cache, exist_ok=True)
    if args.workload == "crawl_deep":
        from perfbench import crawl_deep as workload
    else:
        from perfbench import index_neardup as workload

    try:
        with system.RssPoller() as rss:
            e2e, layers_fn = workload.run(ctx)
        if ctx._spark is not None:
            system.stop_spark(ctx._spark)
        # the event log is complete only once the session has stopped
        layers = layers_fn() if args.trace else {}
    finally:
        system.stop_children()
        shutil.rmtree(work, ignore_errors=True)
    record["after"] = system.env_snapshot()

    e2e["setup_s"] = statistics.median(ctx.setups)
    record.update(setups_s=ctx.setups, log=ctx.log, end_to_end=e2e,
                  peak_rss_mb=rss.peak / 1e6)
    if args.trace:
        layers.update({
            "proc.peak_rss_mb": rss.peak / 1e6,
            "setup.session_s": ctx.log.get("session_s", 0.0),
            "setup.gen_s": ctx.log.get("gen_s", 0.0),
            "setup.oracle_s": ctx.log.get("oracle_s", 0.0),
            **{f"trace.{k}": v for k, v in e2e.items() if f"trace.{k}" in metrics.PER_LAYER},
        })
        record["per_layer"] = layers
        record["spans"] = [vars(s) for s in ctx.tracer.spans]
        line = metrics.result_line(not ctx.failed, ctx.attempted, ctx.failed,
                                   layers, metrics.PER_LAYER)
    else:
        line = metrics.result_line(not ctx.failed, ctx.attempted, ctx.failed,
                                   e2e, metrics.END_TO_END)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, stamp + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for problem in ctx.log.get("problems", []):
        print(f"check failed: {problem}", file=sys.stderr)
    print("perfbench env: " + json.dumps(env_summary(record)), file=sys.stderr)
    print(json.dumps(line))
    return 0


def env_summary(record: dict) -> dict:
    """The run's environment in one line: the share of CPU time the
    hypervisor stole during the run and the load average around it tell
    box noise apart from a program change."""
    before, after = record["before"], record["after"]
    ticks = (after["t"] - before["t"]) * os.sysconf("SC_CLK_TCK") * record["nproc"]
    return {
        "nproc": record["nproc"], "driver_heap": record["driver_heap"],
        "steal_share": round((after["steal_ticks"] - before["steal_ticks"]) / ticks, 4),
        "loadavg": [before["loadavg"][0], after["loadavg"][0]],
        "revision": record["revision"],
    }


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the benchmark as the ``perfbench`` package
    sys.exit(main())
