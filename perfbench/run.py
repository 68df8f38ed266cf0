"""The repository's benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, computes the oracle's
answer, starts Spark on ``local[<cores>]``, warms up until consecutive
passes settle, then runs passes back to back for ``--seconds`` seconds and
checks every pass against the oracle. ``--trace 1`` replaces the timed
passes with one traced pass that materializes each layer's output under the
job group ``<workload>:<layer>`` and reports per-layer metrics from Spark's
status store; the spans go to ``.perfbench_run/trace-<workload>-seed<n>.json``.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``. The line before it is a detail record (pinned
environment, every pass time, CPU steal per pass, warm-up count, oracle
time, ``build_s``/``resume_s`` and ``failed_frac``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import procfs

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ai_knowledge_graph_builder_spark"
RUN_ROOT = ROOT / ".perfbench_run"

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s"}

#: warm-up: at least WARMUP_MIN passes (the first one is cold), then stop
#: once a pass is within SETTLE of the one before it, or at WARMUP_MAX
#: passes / WARMUP_CAP_S seconds, which bound a run's set-up time
WARMUP_MIN, WARMUP_MAX, SETTLE, WARMUP_CAP_S = 3, 4, 0.15, 60.0

_UNITS = {"wall_s": "s", "task_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
_EXTRA = {
    "mentions.per_doc": "rows/doc",
    "linking.distinct_norms": "count",
    "linking.exact_ratio": "ratio",
    "linking.fuzzy_ratio": "ratio",
    "linking.external_ratio": "ratio",
    "linking.resolved_ratio": "ratio",
    "graph.pairs": "count",
    "graph.inferred": "count",
    "graph.infer_ratio": "ratio",
    "checkpoint.stages_written": "count",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written_mb": "MB",
    "checkpoint.write_amp": "ratio",
    "checkpoint.lineage_s": "s",
    "checkpoint.verify_s": "s",
    "checkpoint.resumed_ratio": "ratio",
    "dedup.shingles": "count",
    "dedup.shingle_df2": "count",
    "dedup.minhash_recall": "ratio",
    "trace.layer_sum_s": "s",
    "trace.untraced_wall_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from spans import SPARK_LAYER_METRICS
    from workloads import LAYERS

    units = {"session.start_s": "s"}
    for layer in LAYERS:
        for m in SPARK_LAYER_METRICS:
            units[f"{layer}.{m}"] = _UNITS.get(m, "count")
    units.update(_EXTRA)
    return units


def spark_cores() -> int:
    """Task slots for Spark: one fewer than the CPUs this process may run
    on, so the driver (the Python client, the JVM's scheduler, JIT and GC
    threads) keeps a core. With a task thread on every core, a pass on a
    shared 4-core host slowed by about a third under two competing busy
    loops; with one core left free, by about a fifth."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def pin_host(run_dir: Path) -> dict[str, str]:
    """Size Spark to this host and keep every file it writes in ``run_dir``.
    Any SPARK_GRAFT_* setting inherited from the caller is dropped, so a run
    depends only on the host and the arguments."""
    local, tmp = run_dir / "spark-local", run_dir / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    mem_mb = min(int(0.4 * procfs.mem_total_bytes() / 2**20), 16 * 1024)
    pinned = {
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_CPUS": str(spark_cores()),
        "SPARK_LOCAL_DIRS": str(local),
    }
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.update(pinned)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_WAREHOUSE": str(run_dir / "warehouse"),
        # every JVM: the spark-submit launcher as well as the driver
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None  # pick up the new TMPDIR
    return pinned


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait for every process it started."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = procfs.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            proc.kill()
            proc.wait()
    procfs.reap_descendants(started)


class Bench:
    def __init__(self, args, workload, spark, expected, scratch: Path):
        self.args = args
        self.wl = workload
        self.spark = spark
        self.expected = expected
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def attempt(self):
        """One pass plus its oracle check. Returns the PassResult, or None
        if the pass raised. Each pass starts from an empty cache."""
        self.n += 1
        self.attempted += 1
        pass_dir = self.scratch / f"pass{self.n}"
        try:
            res = self.wl.run_pass(self.spark, pass_dir)
        except Exception:  # noqa: BLE001 - a raising pass is a counted failure
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            shutil.rmtree(pass_dir, ignore_errors=True)
        self.spark.catalog.clearCache()
        self.check(res.output, f"pass {self.n}")
        return res

    def check(self, output, what: str) -> None:
        reason = self.wl.check(output, self.expected)
        if reason is not None:
            self.failed += 1
            print(f"perfbench: {what} failed its oracle check: {reason}", file=sys.stderr)

    def warm_up(self) -> list[float]:
        times: list[float] = []
        t0 = time.perf_counter()
        while len(times) < WARMUP_MAX and time.perf_counter() - t0 < WARMUP_CAP_S:
            res = self.attempt()
            if res is None:
                break
            times.append(res.times["wall_s"])
            if len(times) >= WARMUP_MIN and abs(times[-1] - times[-2]) <= SETTLE * times[-2]:
                break
        return times

    def timed(self, rss: procfs.RssSampler) -> list[dict]:
        passes: list[dict] = []
        rss.active.set()
        t0 = time.perf_counter()
        while True:
            before, t = procfs.cpu_times(), time.perf_counter()
            res = self.attempt()
            # a pass that raised is timed from the outside
            times = res.times if res is not None else {"wall_s": time.perf_counter() - t}
            passes.append({**times, "steal_frac": procfs.steal_frac(before, procfs.cpu_times())})
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        rss.active.clear()
        return passes


def _median(passes: list[dict], key: str) -> float | None:
    vals = [p[key] for p in passes if key in p]
    return statistics.median(vals) if vals else None


def run(args) -> tuple[dict, dict]:
    t_origin = time.perf_counter() - procfs.process_age_s()
    RUN_ROOT.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-seed{args.seed}-", dir=RUN_ROOT))
    try:
        return _run(args, t_origin, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, t_origin: float, run_dir: Path) -> tuple[dict, dict]:
    pinned = pin_host(run_dir)
    from spans import LayerRun, Tracer
    from workloads import LAYERS, WORKLOADS

    wl = WORKLOADS[args.workload](run_dir / "data", args.seed, args.tiny)
    tracer = Tracer(f"{wl.name}:seed{args.seed}")
    detail: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
                    "env": pinned}
    with tracer.span("setup.generate"):
        detail["inputs"] = wl.generate()
    with tracer.span("setup.oracle"):
        expected = wl.oracle()
    oracle_s = tracer.duration("setup.oracle")

    from ai_knowledge_graph_builder_spark.session import get_spark

    with tracer.span("session"):
        spark = get_spark(f"perfbench-{wl.name}", master=f"local[{pinned['SPARK_GRAFT_CPUS']}]",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
    try:
        with procfs.RssSampler() as rss:
            bench = Bench(args, wl, spark, expected, run_dir / "scratch")
            with tracer.span("setup.warmup"):
                wl.open(spark)
                warm = bench.warm_up()
            setup_s = time.perf_counter() - t_origin - oracle_s
            detail.update({
                "setup_s": setup_s,
                "setup_parts_s": {s["name"]: s["end"] - s["start"] for s in tracer.spans},
                "warmup": {"passes": len(warm), "wall_s": warm},
            })
            if args.trace:
                L = LayerRun(spark, tracer, wl.name)
                with tracer.span("pass", workload=wl.name):
                    output = wl.traced_pass(spark, L, run_dir / "scratch" / "traced")
                L.release()
                bench.attempted += 1
                bench.check(output, "traced pass")
                metrics = L.metrics(LAYERS)
                metrics["session.start_s"] = tracer.duration("session")
                metrics["trace.layer_sum_s"] = sum(metrics[f"{x}.wall_s"] for x in LAYERS)
                metrics["trace.untraced_wall_s"] = warm[-1] if warm else 0.0
                units = per_layer_units()
                _write_trace(tracer, wl, args, metrics, LAYERS)
            else:
                passes = bench.timed(rss)
                wall = _median(passes, "wall_s")
                metrics = {
                    "setup_s": setup_s,
                    "wall_s": wall,
                    "docs_per_s": wl.n_docs / wall,
                }
                units = END_TO_END
                # JVM RSS follows G1's heap sizing and spreads too widely
                # across seeds to gate on; it is reported here instead
                detail["peak_rss_mb"] = rss.peak / 2**20
                detail["peak_rss_mb_by_process"] = rss.peak_parts
                detail["timed"] = {"passes": len(passes), "seconds": args.seconds,
                                   "closed_loop_clients": 1, "per_pass": passes}
                for k in ("build_s", "resume_s"):
                    if (v := _median(passes, k)) is not None:
                        detail[k] = v
    finally:
        stop_spark(spark)
    detail["oracle_s"] = oracle_s
    detail["failed_frac"] = bench.failed / bench.attempted
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        # a traced pass reports zeros for the layers its workload does not call
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }
    return detail, result


def _write_trace(tracer, wl, args, metrics: dict, layers) -> None:
    rows = {"session": {"start_s": metrics["session.start_s"]}}
    for layer in layers:
        rows[layer] = {k.split(".", 1)[1]: v for k, v in metrics.items() if k.startswith(layer + ".")}
    rows["trace"] = {k.split(".", 1)[1]: v for k, v in metrics.items() if k.startswith("trace.")}
    tracer.write(RUN_ROOT / f"trace-{wl.name}-seed{args.seed}.json",
                 {"workload": wl.name, "seed": args.seed, "exercised": list(wl.layers),
                  "layers": rows})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test input sizes (not for measurement)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: the package {PACKAGE}/ is not in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    detail, result = run(args)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
