"""Thread-scaling probe for the N-vs-4N criterion (BASELINE.json north
rule): the SAME KG job on the SAME input at local[N] and local[4N], with
N = nproc // 4 (at least 1) taken from the host.

Each point is one ``slice_kg_run`` in a fresh process (``python -m
ai_knowledge_graph_builder_spark.bench_scaling probe <cpus> <reps> <sf_dir>``),
timed min-of-3 behind a hypervisor steal guard. A least-squares fit
T = F + docs/rate over three input sizes separates the per-session fixed
cost F (JVM start, Python worker imports) from the marginal rate, and
efficiency = rate(4N) / (4 · rate(N)). ``python bench.py --scaling`` runs it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

from pyspark.sql import functions as F

from .session import PACKAGE_ROOT

#: replicas of the sf corpus per point. At sf0.1 on a 4-core host a point
#: costs 13-16 s of fixed cost plus ~0.14 ms/doc at local[1] and ~0.07 ms/doc
#: at local[4], and each process ~10 s more to start and stop, so fixed cost
#: and steal-guard retries, not input size, set the run time: ~10.5 min with
#: one retry.
SIZES = (1, 8, 16)


def slice_kg_run(spark, sf_dir: str, replicas: int, out_dir: str) -> None:
    """documents × ``replicas`` → synthesized (url, html) pages → fused
    extraction+NER → linking → (url, resolved_id, resolution_type) written
    to ``out_dir``."""
    from collections.abc import Iterator

    import pandas as pd

    from .driver_queries import flagship_gazetteer, flagship_registry_df
    from .functions.html import render_html
    from .operators.linking import build_alias_table, resolve_mentions
    from .operators.mentions import extract_and_detect
    from .operators.skew import spread

    # spread BEFORE the explode so page synthesis runs on every core
    docs = spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    ).withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))

    # only (url, html) cross into the extraction worker: the oracle text
    # columns would double the per-doc Arrow traffic for nothing
    def _mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls = [f"doc://{d:08d}-{r:04d}" for d, r in zip(pdf["doc_id"], pdf["rep"])]
            htmls = [render_html(u, t) for u, t in zip(urls, pdf["text"])]
            yield pd.DataFrame({"url": urls, "html": htmls})

    pages = docs.mapInPandas(_mk, "url string, html binary")
    # presalted: the docs were spread before the explode
    mentions_raw = extract_and_detect(pages, flagship_gazetteer(), presalted=True)
    # the mention columns linking needs; the write keeps what co-occurrence reads
    mentions_raw = mentions_raw.select("url", "mention_idx", "text", "label")
    aliases = build_alias_table(flagship_registry_df(spark))
    mentions, _ = resolve_mentions(mentions_raw, aliases)
    mentions.select("url", "resolved_id", "resolution_type").write.mode(
        "overwrite").parquet(out_dir)


def _steal_snapshot() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat — the KVM host lends this
    guest its cores; neighbor VMs stealing cycles mid-run is the dominant
    noise source (observed: identical runs swinging 22 s ↔ 101 s)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _guarded_run(fn, max_tries: int = 5, steal_budget: float = 0.02,
                 backoff_s: int = 25):
    """Run ``fn()`` (returns elapsed seconds); if hypervisor steal during the
    run exceeded ``steal_budget`` of total ticks, the measurement is
    contaminated — back off (noise arrives in waves from neighbor VMs) and
    retry up to ``max_tries``, then keep the best anyway. Any clean try
    beats every dirty one, so a fast dirty try is never published while a
    clean one exists. The steal fraction is recorded alongside every
    published point so a dirty point is visible, never silent."""
    best = None  # (dirty, sec, steal_frac)
    for i in range(max_tries):
        s0, t0 = _steal_snapshot()
        sec = fn()
        s1, t1 = _steal_snapshot()
        frac = (s1 - s0) / max(t1 - t0, 1)
        if best is None or (frac > steal_budget, sec, frac) < best:
            best = (frac > steal_budget, sec, frac)
        if not best[0] and i >= 2:  # at least three tries (min-of-3)
            break
        time.sleep(backoff_s if frac > steal_budget else 0)
    return best[1], best[2]


def fit_rate(points: list[tuple[float, float]]) -> tuple[float, float] | None:
    """Least-squares fit of T = F + docs/rate over ``(docs, sec)`` points.
    Returns ``(fixed_cost_s, docs_per_s)``, or None when the slope is not
    positive: noise inverted the timings, and no rate can be read off them."""
    xs, ys = [p[0] for p in points], [p[1] for p in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    if slope <= 0:
        return None
    return my - slope * mx, 1.0 / slope


def _probe_main(cpus: int, reps: int, sf_dir: str) -> None:
    """One timed ``slice_kg_run`` at local[cpus]; prints ``{"sec": ...}``.
    Spark's scratch and the mention sink live in a fresh temp dir, removed
    on exit, so concurrent probes never share files."""
    from .session import get_spark

    scratch = tempfile.mkdtemp(prefix="kg-probe-")
    try:
        # a declared core budget and ParallelGC for the probe JVM (both
        # widths alike): G1 sizes its concurrent threads for every host CPU,
        # which then contend with the task threads of a narrow session
        spark = get_spark(f"kg-probe-{cpus}-{reps}", master=f"local[{cpus}]",
                          extra_conf={"spark.local.dir": f"{scratch}/spark",
                                      "spark.driver.extraJavaOptions":
                                          f"-XX:ActiveProcessorCount={cpus} -XX:+UseParallelGC"})
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        slice_kg_run(spark, sf_dir, reps, f"{scratch}/out")
        print(json.dumps({"sec": round(time.perf_counter() - t0, 2)}))
        spark.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def probe_once(cpus: int, reps: int, sf_dir: str) -> float:
    """Seconds of one ``probe`` run in a fresh process. The child imports
    this package from its own root, whatever the working directory."""
    path = os.environ.get("PYTHONPATH")
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([PACKAGE_ROOT] + ([path] if path else []))}
    p = subprocess.run(
        [sys.executable, "-m", "ai_knowledge_graph_builder_spark.bench_scaling",
         "probe", str(cpus), str(reps), sf_dir],
        capture_output=True, text=True, env=env)
    if p.returncode != 0 or not p.stdout.strip():
        raise RuntimeError(f"scaling probe (cpus={cpus}, reps={reps}) died "
                           f"rc={p.returncode}; stderr tail: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["sec"]


def _base_docs(sf_dir: str) -> int:
    import duckdb

    return duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]


def run_thread_scaling(sf_dir: str) -> dict:
    """local[N] vs local[4N] on the same job and input, N = nproc // 4.
    Each point is the min of three fresh-process runs; a width whose fitted
    slope is not positive marks the result ``invalid`` (value None)."""
    nproc = len(os.sched_getaffinity(0))
    n = max(1, nproc // 4)
    base = _base_docs(sf_dir)
    res: dict = {"metric": "scaling_efficiency_N_to_4N", "value": None, "unit": "ratio",
                 "method": f"local[{n}] vs local[{4 * n}], same job+input; min-of-3 "
                           f"steal-guarded fresh-process points at {list(SIZES)} "
                           "replicas; least-squares T = F + docs/rate",
                 "sf_dir": sf_dir, "nproc": nproc}
    rates = {}
    for cpus in (n, 4 * n):
        pts = []
        for reps in SIZES:
            sec, steal = _guarded_run(lambda: probe_once(cpus, reps, sf_dir))
            pts.append({"docs": base * reps, "sec": sec, "steal_frac": round(steal, 4)})
        res[f"cores_{cpus}"] = {"points": pts}
        fit = fit_rate([(p["docs"], p["sec"]) for p in pts])
        if fit is None:
            res["invalid"] = f"non-increasing timing at {cpus} cores"
            return res
        fixed, rates[cpus] = fit
        res[f"cores_{cpus}"].update(fixed_cost_s=round(fixed, 1),
                                    marginal_docs_per_sec=round(rates[cpus], 1))
    res["value"] = round(rates[4 * n] / (4 * rates[n]), 3)
    return res


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "probe":
        sys.exit("usage: python -m ai_knowledge_graph_builder_spark.bench_scaling "
                 "probe <cpus> <reps> <sf_dir>")
    _probe_main(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
