#!/usr/bin/env python
"""Round-7 optimization harness (bench.py is FROZEN for measurement — this
file exists so the round's iteration loop and plan capture never touch it).

Usage:
    python bench_extra.py [--sf-dir DIR] [--tries N] [--explain-tag TAG]
                          [--queries a,b,c]

Per query: noop-sink isolated timing (guide §1.4), min-of-N with the cache
cleared between tries, steal fraction sampled around each try; with
--explain-tag TAG also writes plans/r07/<query>_<TAG>.txt with the
``.explain("formatted")`` output of the last timed DataFrame. Prints one
JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import HEADLINE, _spin_probe, warm_up


def _parse_args() -> argparse.Namespace:
    """The command line, checked before any Spark session starts: an
    unknown flag or query name exits here with status 2."""
    from ai_knowledge_graph_builder_spark.driver_queries import QUERIES

    p = argparse.ArgumentParser(description="Min-of-N noop-sink timings of driver queries.")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
                   help="directory of the parquet tables (default: $SPARK_GRAFT_SF_DIR or sf0.1)")
    p.add_argument("--tries", type=int, default=2, help="timed tries per query; the minimum is kept")
    p.add_argument("--explain-tag", help="also write plans/r07/<query>_<TAG>.txt")
    p.add_argument("--queries", default=",".join(HEADLINE),
                   help="comma-separated driver query names (default: the bench.py headline set)")
    args = p.parse_args()
    args.queries = args.queries.split(",")
    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        p.error(f"unknown queries: {', '.join(unknown)}")
    args.tries = max(1, args.tries)
    return args


def main() -> None:
    args = _parse_args()
    from ai_knowledge_graph_builder_spark.bench_scaling import _steal_snapshot
    from ai_knowledge_graph_builder_spark.driver_queries import QUERIES
    from ai_knowledge_graph_builder_spark.session import default_cpus, get_spark

    sf_dir, tries, tag, names = args.sf_dir, args.tries, args.explain_tag, args.queries

    cpus = default_cpus()
    spark = get_spark("kg-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir, cpus)

    plans_dir = Path(__file__).resolve().parent / "plans" / "r07"
    timings: dict[str, float] = {}
    steals: dict[str, float] = {}
    probe = _spin_probe()
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best, worst_steal = None, 0.0
        for _ in range(tries):
            spark.catalog.clearCache()
            s0, t0 = _steal_snapshot()
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            sec = time.perf_counter() - start
            s1, t1 = _steal_snapshot()
            worst_steal = max(worst_steal, (s1 - s0) / max(t1 - t0, 1))
            best = sec if best is None or sec < best else best
        timings[name] = round(best, 3)
        steals[name] = round(worst_steal, 4)
        if tag:
            plans_dir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            # the DataFrame that was timed: rebuilding it would re-run
            # side-effecting queries (kg_stream_sessions)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({
        "metric": "bench_extra_sec",
        "sf_dir": sf_dir,
        "tries": tries,
        "queries": timings,
        "steal_frac": steals,
        "spin_probe_s": round(probe, 3),
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
