"""Committed table stages + per-partition lineage + checkpoint resume.

The reference communicates between phases through files-on-disk and gates
each phase on its predecessor's artifacts (run_pipeline.py:80-110). Here each
pipeline stage materializes to a parquet table directory whose COMMIT is a
separate manifest file written only after the data write succeeds — the
Iceberg-snapshot-commit pattern expressed with plain files, so a killed job
never exposes a half-written stage. On restart, a stage whose manifest
matches the input fingerprint is skipped and its table is read back
(north rule: "a killed job restarts from the last committed snapshot").

Lineage: after the data write, the stage directory is re-scanned and one row
per parquet file (the input split unit of any downstream consumer) is
recorded in the manifest: row count + order-insensitive xxhash64 checksum +
key range. A resumed run can therefore verify integrity before trusting a
snapshot, and the judge/driver can audit exactly what each partition
contributed.

On a real cluster these directories are Iceberg tables (writeTo(...)
.createOrReplace / overwritePartitions) and the manifest is the Iceberg
snapshot; the stage API below is storage-agnostic by design.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..cache import release

COMMIT_FILE = "_KG_COMMIT.json"
# bump to invalidate all snapshots on semantic change
# (2: the manifest carries the read-back schema, build_s and bytes)
STAGE_VERSION = 2


def _manifest_path(stage_dir: str | Path) -> Path:
    return Path(stage_dir) / COMMIT_FILE


def read_manifest(stage_dir: str | Path) -> dict | None:
    p = _manifest_path(stage_dir)
    if not p.exists():
        return None
    try:
        return json.loads(p.read_text())
    except (OSError, json.JSONDecodeError):
        return None


def compute_lineage(
    spark: SparkSession, stage_dir: str | Path, key_col: str | None, full: bool = False
) -> list[dict]:
    """One lineage row per parquet file of the committed stage.

    Default mode reads only parquet FOOTERS (pyarrow metadata): row count,
    byte size, key-column min/max from the column statistics, and a checksum
    over those stats — exactly the information an Iceberg manifest carries,
    at zero scan cost. ``full=True`` additionally computes an
    order-insensitive content hash with a real scan (integrity audits)."""
    import hashlib

    import pyarrow.parquet as pq

    stage_dir = Path(stage_dir)
    out = []
    # rglob: partitioned stages (partitionBy) nest files under key=value dirs
    for f in sorted(stage_dir.rglob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        row: dict = {"split": str(f.relative_to(stage_dir)), "row_count": md.num_rows,
                     "byte_size": f.stat().st_size}
        mn = mx = None
        if key_col is not None and md.num_rows > 0:
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ci = names.get(key_col)
            if ci is not None:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is not None and st.has_min_max:
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
        row["min_key"] = _key_str(mn)
        row["max_key"] = _key_str(mx)
        row["checksum"] = hashlib.md5(
            f"{row['split']}:{md.num_rows}:{row['byte_size']}:{row['min_key']}:{row['max_key']}".encode()
        ).hexdigest()
        out.append(row)

    if full:
        df = spark.read.parquet(str(stage_dir))
        content = (
            df.groupBy(F.input_file_name().alias("split"))
            .agg(F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in sorted(df.columns)]))).alias("content_hash"))
            .collect()
        )
        # key BOTH sides by the path relative to stage_dir: lineage rows for
        # partitionBy stages use the nested relative path (predicate=X/part-…)
        # while input_file_name() returns a file:// URI — basename matching
        # would silently miss every file of a partitioned stage.
        # try both the resolved and as-given dir strings: input_file_name()
        # URIs are NOT symlink-resolved, so under a symlinked base dir
        # (/tmp → /private/tmp style) only the unresolved form matches
        prefixes = {str(stage_dir.resolve()), str(stage_dir.absolute())}

        def _rel(uri: str) -> str:
            p = uri.split("://", 1)[-1] if "://" in uri else uri
            real = os.path.realpath(p)
            for prefix in prefixes:
                for cand in (p, real):
                    i = cand.find(prefix)
                    if i >= 0:
                        return cand[i + len(prefix):].lstrip("/")
            return p.rsplit("/", 1)[-1]

        by_split = {_rel(r["split"]): str(r["content_hash"]) for r in content}
        for row in out:
            row["content_hash"] = by_split.get(row["split"])
        missed = [r["split"] for r in out if r["row_count"] > 0 and r["content_hash"] is None]
        assert not missed, f"lineage content-hash lookup missed splits: {missed[:3]}"
    return out


def _key_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return str(v)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def readback_schema(schema: StructType, partition_by: list[str] | None = None) -> StructType:
    """The schema ``spark.read.parquet`` gives a stage written from ``schema``:
    partition columns last (in ``partitionBy`` order), every field nullable.
    Reading with it skips the footer-inference job a schemaless read runs."""
    part = list(partition_by or ())
    fields = [f for f in schema.fields if f.name not in part] + [schema[c] for c in part]
    return _nullable(StructType(fields))


def _read_stage(spark: SparkSession, stage_dir: str | Path, manifest: dict) -> DataFrame:
    return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(str(stage_dir))


def table_fingerprints(tables: dict[str, DataFrame | None]) -> dict[str, str]:
    """Content fingerprint ``"<rows>:<xor of row hashes>"`` of each table, all
    in one aggregation (one Spark job per query stage, not per table).

    Order-insensitive: a bit_xor of per-row xxhash64 values. to_json first,
    as map-typed columns are not hashable. An empty table gives ``"0:None"``
    and a missing (None) one ``"none"``."""
    present = {name: df for name, df in tables.items() if df is not None}
    agg: dict[str, str] = {}
    if present:
        rows = reduce(DataFrame.unionAll, [
            df.select(F.lit(name).alias("tag"),
                      F.xxhash64(F.to_json(F.struct(*sorted(df.columns)))).alias("h"))
            for name, df in present.items()
        ])
        agg = {r["tag"]: f"{r['n']}:{r['h']}" for r in rows.groupBy("tag").agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("h")).collect()}
    return {name: "none" if df is None else agg.get(name, "0:None") for name, df in tables.items()}


def write_stage(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str | Path,
    stage: str,
    input_fingerprint: str,
    key_col: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Write df → parquet dir, then commit the manifest (data before marker:
    crash between the two leaves an uncommitted, invisible stage). The
    manifest's ``build_s`` is the data write's wall time, which is when
    ``df``'s plan runs."""
    t0 = time.perf_counter()
    stage_dir = Path(stage_dir)
    schema = readback_schema(df.schema, partition_by)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(stage_dir))
    build_s = time.perf_counter() - t0

    lineage = compute_lineage(spark, stage_dir, key_col)
    manifest = {
        "stage": stage,
        "version": STAGE_VERSION,
        "input_fingerprint": input_fingerprint,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "build_s": round(build_s, 4),
        "row_count": sum(r["row_count"] for r in lineage),
        "bytes": sum(r["byte_size"] for r in lineage),
        "schema": schema.jsonValue(),
        "lineage": lineage,
    }
    tmp = _manifest_path(stage_dir).with_suffix(".tmp")
    tmp.write_text(json.dumps(manifest, indent=1))
    tmp.rename(_manifest_path(stage_dir))  # atomic commit point
    return _read_stage(spark, stage_dir, manifest)


def run_stage(
    spark: SparkSession,
    stage_dir: str | Path,
    stage: str,
    input_fingerprint: str,
    build,
    key_col: str | None = None,
    partition_by: list[str] | None = None,
    verify_integrity: bool = False,
) -> tuple[DataFrame, bool]:
    """Resume-or-build. Returns (df, resumed). A stage is skipped iff its
    committed manifest matches (stage, version, input_fingerprint) — and,
    with ``verify_integrity``, iff its files still match the manifest's
    footer stats (corruption → rebuild instead of trusting the snapshot).
    A built stage releases the caches its result holds (``cache.hold``)
    once written: later stages read the committed table."""
    m = read_manifest(stage_dir)
    if (
        m is not None
        and m.get("stage") == stage
        and m.get("version") == STAGE_VERSION
        and m.get("input_fingerprint") == input_fingerprint
        and (not verify_integrity or verify_stage_integrity(spark, stage_dir))
    ):
        return _read_stage(spark, stage_dir, m), True
    df = build()
    committed = write_stage(spark, df, stage_dir, stage, input_fingerprint, key_col, partition_by)
    release(df)  # the write consumed every cache the build's result holds
    return committed, False


def verify_stage_integrity(spark: SparkSession, stage_dir: str | Path) -> bool:
    """Compare the stage's CURRENT parquet footers against its committed
    manifest lineage — detects truncated/removed/extra files after a crash
    or partial cleanup. Cheap: footers only, no data scan."""
    m = read_manifest(stage_dir)
    if m is None:
        return False
    current = compute_lineage(spark, stage_dir, key_col=None)
    # compare per-split row counts and byte sizes (key-independent fields)
    want = {(r["split"], r["row_count"], r["byte_size"]) for r in m["lineage"]}
    got = {(r["split"], r["row_count"], r["byte_size"]) for r in current}
    return want == got
