"""The benchmark's workloads: seeded input generators, one timed pass each
through the package's public functions, an independent oracle per
workload, and a traced pass that calls each layer on its own.

Every input is generated from the seed here; the program only sees the
generated tables.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spans import LayerRun, job_group


@dataclass
class PassResult:
    output: object
    times: dict[str, float] = field(default_factory=dict)


def _probe(spark, L: LayerRun):
    """Job group for the counts the benchmark takes after a traced pass, so
    they are charged to no layer."""
    return job_group(spark, L.group("probe"))


def _linking_extras(spark, L: LayerRun, mentions_raw, resolved) -> None:
    from pyspark.sql import functions as F

    n_raw = L.rows["mentions"]
    with _probe(spark, L):
        by_method = {r[0]: r[1] for r in resolved.groupBy("resolution_method").count().collect()}
        norms = mentions_raw.select(F.lower(F.trim("text"))).distinct().count()
    n_resolved = sum(by_method.values())
    L.extra.update({
        "linking.distinct_norms": float(norms),
        "linking.exact_ratio": by_method.get("exact_match", 0) / n_raw,
        "linking.fuzzy_ratio": by_method.get("fuzzy_match", 0) / n_raw,
        "linking.external_ratio": by_method.get("external_entity", 0) / n_raw,
        "linking.resolved_ratio": n_resolved / n_raw,
    })


def _graph_extras(spark, L: LayerRun, resolved, n_inferred: int) -> None:
    from ai_knowledge_graph_builder_spark.operators.graph import cooccurrence_pairs

    with _probe(spark, L):
        pairs = cooccurrence_pairs(resolved).count()
    L.extra.update({
        "graph.pairs": float(pairs),
        "graph.inferred": float(n_inferred),
        "graph.infer_ratio": n_inferred / pairs if pairs else 0.0,
    })


# ---------------------------------------------------------------------------
# flagship: the driver query kg_inferred_triples over generated documents
# ---------------------------------------------------------------------------
# The 30 uniform words of the driver's documents table; the 31st word,
# ``dup``, is planted in about 5% of documents.
FLAGSHIP_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)


class Flagship:
    name = "flagship"
    layers = ("mentions", "linking", "graph")

    def __init__(self, data_dir: Path, seed: int, tiny: bool):
        self.dir = data_dir / "flagship"
        self.seed = seed
        self.n_docs = 500 if tiny else 20_000

    def generate(self) -> dict:
        rng = np.random.default_rng(self.seed)
        # 8-96 words ≈ the 44-577 character spread of the driver's table
        lens = rng.integers(8, 97, self.n_docs)
        words = np.array(FLAGSHIP_VOCAB)[rng.integers(0, len(FLAGSHIP_VOCAB), int(lens.sum()))]
        dup_at = np.where(rng.random(self.n_docs) < 0.05, rng.integers(0, 8, self.n_docs), -1)
        texts, off = [], 0
        for n, d in zip(lens.tolist(), dup_at.tolist()):
            w = words[off:off + n].tolist()
            off += n
            if d >= 0:
                w[d] = "dup"
            texts.append(" ".join(w))
        table = pa.table({
            "doc_id": pa.array(np.arange(self.n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, self.n_docs, p=LANG_P).tolist()),
            "source": [f"src{i % 5}" for i in range(self.n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        self.dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, self.dir / "documents.parquet")
        return {"docs": self.n_docs, "words": int(lens.sum())}

    def open(self, spark) -> None:
        pass

    def oracle(self):
        import duckdb

        from ai_knowledge_graph_builder_spark.driver_queries import ORACLES

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM {_parquet(self.dir / 'documents.parquet')}")
            return {_triple_row(r) for r in con.execute(ORACLES["kg_inferred_triples"]).fetchall()}
        finally:
            con.close()

    def run_pass(self, spark, scratch: Path) -> PassResult:
        from ai_knowledge_graph_builder_spark.driver_queries import kg_inferred_triples

        t0 = time.perf_counter()
        rows = kg_inferred_triples(spark, str(self.dir)).collect()
        wall = time.perf_counter() - t0
        return PassResult({_triple_row(r) for r in rows}, {"wall_s": wall})

    def check(self, output, expected) -> str | None:
        if not expected:
            return "oracle returned no triples"
        return None if output == expected else _set_diff("triples", output, expected)

    def traced_pass(self, spark, L: LayerRun, scratch: Path):
        from pyspark.sql import functions as F

        from ai_knowledge_graph_builder_spark.driver_queries import (
            flagship_mentions_raw,
            flagship_registry_df,
        )
        from ai_knowledge_graph_builder_spark.operators.graph import cooccurrence_pairs, infer_edges
        from ai_knowledge_graph_builder_spark.operators.linking import build_alias_table, resolve_mentions
        from ai_knowledge_graph_builder_spark.plans.pipeline import _empty_edges

        mentions_raw = L.run("mentions", lambda: flagship_mentions_raw(spark, str(self.dir)))

        def link():
            aliases = build_alias_table(flagship_registry_df(spark))
            return resolve_mentions(mentions_raw, aliases)[0]

        resolved = L.run("linking", link)
        # the final projection of kg_inferred_triples
        inferred = L.run("graph", lambda: infer_edges(
            cooccurrence_pairs(resolved), _empty_edges(spark)
        ).select(
            F.col("src").alias("subject_id"),
            "predicate",
            F.col("dst").alias("object_id"),
            F.round("confidence", 4).alias("confidence"),
            F.col("props")["cooccurrence_count"].cast("long").alias("cooccurrence_count"),
        ))
        output = {_triple_row(r) for r in inferred.collect()}
        L.extra["mentions.per_doc"] = L.rows["mentions"] / self.n_docs
        _linking_extras(spark, L, mentions_raw, resolved)
        _graph_extras(spark, L, resolved, len(output))
        return output


def _parquet(path: Path) -> str:
    """A DuckDB read_parquet() call on ``path`` (views cannot take bound
    parameters)."""
    quoted = str(path).replace("'", "''")
    return f"read_parquet('{quoted}')"


def _triple_row(r) -> tuple:
    s, p, o, conf, cnt = r
    return (s, p, o, round(float(conf), 4), int(cnt))


def _set_diff(what: str, got: set, want: set) -> str:
    return (f"{what} differ from the oracle: {len(got - want)} extra, {len(want - got)} missing; "
            f"e.g. extra={sorted(got - want)[:2]} missing={sorted(want - got)[:2]}")


# ---------------------------------------------------------------------------
# checkpoint_resume: cold checkpointed build, then a verified resume
# ---------------------------------------------------------------------------
CORPUS_TABLES = ("pages", "registry", "doc_meta", "employees", "assignments", "policies", "emails")
TRIPLE_COLS = ("subject_id", "subject_name", "subject_type", "predicate", "object_id",
               "object_name", "object_type", "source", "flagged", "inferred", "text")
#: which layer computes each committed stage of run_kg_pipeline_checkpointed
STAGE_LAYER = {
    "documents": "extraction",
    "mentions_raw": "mentions",
    "mentions": "linking",
    "nodes": "graph",
    "edges": "graph",
    "triples": "graph",
}


def _triple_key(d) -> tuple:
    return tuple(d[c] for c in TRIPLE_COLS) + (round(float(d["confidence"]), 4),)


class CheckpointResume:
    name = "checkpoint_resume"
    layers = ("extraction", "mentions", "linking", "graph", "checkpoint")

    def __init__(self, data_dir: Path, seed: int, tiny: bool):
        self.seed = seed
        # waves >= 5 makes every inference rule fire (sources/corpus.py)
        self.size = (dict(waves=2, n_emails=10, n_external=4) if tiny
                     else dict(waves=5, n_emails=10, n_external=4))

    def generate(self) -> dict:
        from ai_knowledge_graph_builder_spark.sources.corpus import generate_corpus

        self.corpus = generate_corpus(seed=self.seed, **self.size)
        pages = self.corpus["pages"]
        self.n_docs = len(pages)
        self.page_bytes = int(sum(len(h) for h in pages["html"]) + pages["text"].str.len().sum())
        return {"docs": self.n_docs, "page_bytes": self.page_bytes, **self.size}

    def open(self, spark) -> None:
        self.dfs = {k: spark.createDataFrame(self.corpus[k]) for k in CORPUS_TABLES}

    def oracle(self):
        from ai_knowledge_graph_builder_spark.functions.ner import RuleNER
        from ai_knowledge_graph_builder_spark.plans.oracle import run_oracle

        triples = run_oracle(self.corpus, RuleNER())["triples"]
        return {_triple_key(r) for r in triples.to_dict("records")}

    def _pipeline(self, spark, base: Path, verify: bool):
        from ai_knowledge_graph_builder_spark.plans.pipeline import run_kg_pipeline_checkpointed

        d = self.dfs
        return run_kg_pipeline_checkpointed(
            spark, str(base), d["pages"], d["registry"], f"perfbench-seed-{self.seed}",
            doc_meta=d["doc_meta"], employees=d["employees"], assignments=d["assignments"],
            policies=d["policies"], emails=d["emails"], verify_integrity=verify,
        )

    def run_pass(self, spark, scratch: Path) -> PassResult:
        base = scratch / "stages"
        t0 = time.perf_counter()
        out, built_flags = self._pipeline(spark, base, verify=False)
        built = {_triple_key(r.asDict()) for r in out["triples"].collect()}
        t1 = time.perf_counter()
        out, resume_flags = self._pipeline(spark, base, verify=True)
        resumed = {_triple_key(r.asDict()) for r in out["triples"].collect()}
        t2 = time.perf_counter()
        return PassResult(
            (built, resumed, built_flags, resume_flags),
            {"wall_s": t2 - t0, "build_s": t1 - t0, "resume_s": t2 - t1},
        )

    def check(self, output, expected) -> str | None:
        built, resumed, built_flags, resume_flags = output
        if any(built_flags.values()):
            return f"cold build resumed a stage: {built_flags}"
        if not all(resume_flags.values()):
            return f"resume rebuilt a stage: {resume_flags}"
        if built != expected:
            return _set_diff("built triples", built, expected)
        if resumed != built:
            return _set_diff("resumed triples", resumed, built)
        return None

    def traced_pass(self, spark, L: LayerRun, scratch: Path):
        """The real checkpointed runner, with its stage, lineage and
        integrity-check functions wrapped: each stage's build runs as its
        layer (materialized before the write), the rest is the checkpoint
        layer."""
        from ai_knowledge_graph_builder_spark.plans import checkpoint as ck

        real_run_stage, real_lineage, real_verify = (
            ck.run_stage, ck.compute_lineage, ck.verify_stage_integrity)
        in_verify = []

        def run_stage(spark_, stage_dir, stage, fingerprint, build, **kw):
            with L.tracer.span("checkpoint", stage=stage) as attrs:
                df, resumed = real_run_stage(
                    spark_, stage_dir, stage, fingerprint,
                    lambda: L.run(STAGE_LAYER[stage], build), **kw)
                attrs["resumed"] = resumed
            L.release()  # the boundary cache is consumed by the stage write
            return df, resumed

        def compute_lineage(*a, **kw):
            if in_verify:
                return real_lineage(*a, **kw)
            with L.tracer.span("checkpoint.lineage"):
                return real_lineage(*a, **kw)

        def verify_stage_integrity(*a, **kw):
            in_verify.append(True)
            try:
                with L.tracer.span("checkpoint.verify"):
                    return real_verify(*a, **kw)
            finally:
                in_verify.pop()

        base = scratch / "stages"
        ck.run_stage, ck.compute_lineage, ck.verify_stage_integrity = (
            run_stage, compute_lineage, verify_stage_integrity)
        try:
            with L.layer("checkpoint"):
                out, built_flags = self._pipeline(spark, base, verify=False)
                built = {_triple_key(r.asDict()) for r in out["triples"].collect()}
            written = [p for p in base.rglob("*") if p.is_file()]
            with L.layer("checkpoint"):
                out2, resume_flags = self._pipeline(spark, base, verify=True)
                resumed = {_triple_key(r.asDict()) for r in out2["triples"].collect()}
        finally:
            ck.run_stage, ck.compute_lineage, ck.verify_stage_integrity = (
                real_run_stage, real_lineage, real_verify)

        n_bytes = sum(p.stat().st_size for p in written)
        L.rows["checkpoint"] = sum(
            (ck.read_manifest(base / s) or {}).get("row_count", 0) for s in built_flags)
        L.extra.update({
            "checkpoint.stages_written": float(sum(not r for r in built_flags.values())),
            "checkpoint.files_written": float(len(written)),
            "checkpoint.bytes_written_mb": n_bytes / 1e6,
            "checkpoint.write_amp": n_bytes / self.page_bytes,
            "checkpoint.lineage_s": L.tracer.duration("checkpoint.lineage"),
            "checkpoint.verify_s": L.tracer.duration("checkpoint.verify"),
            "checkpoint.resumed_ratio": sum(resume_flags.values()) / len(resume_flags),
            "mentions.per_doc": L.rows["mentions"] / self.n_docs,
        })
        _linking_extras(spark, L, out["mentions_raw"], out["mentions"])
        _graph_extras(spark, L, out["mentions"], sum(1 for t in built if t[9]))
        return built, resumed, built_flags, resume_flags


# ---------------------------------------------------------------------------
# near_dup: exact, MinHash-LSH and exact n-gram Jaccard dedup
# ---------------------------------------------------------------------------
NEAR_DUP_VOCAB = 50_000
NEAR_DUP_FILES = 4

# Exact token-trigram Jaccard over every pair that shares a trigram —
# written independently of the package's dedup operators.
NGRAM_ORACLE_SQL = r"""
WITH w AS (SELECT doc_id AS id, string_split_regex(trim(text), '\s+') AS w FROM docs),
sh AS (
  SELECT DISTINCT id,
         unnest(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
                ELSE [array_to_string(w, ' ')] END) AS s
  FROM w
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
common AS (
  SELECT x.id AS a, y.id AS b, count(*) AS c
  FROM sh x JOIN sh y ON x.s = y.s AND x.id < y.id
  GROUP BY 1, 2
)
SELECT c.a, c.b, c.c::DOUBLE / (na.n + nb.n - c.c) AS j
FROM common c JOIN sizes na ON na.id = c.a JOIN sizes nb ON nb.id = c.b
WHERE c.c::DOUBLE / (na.n + nb.n - c.c) >= 0.5
"""
EXACT_ORACLE_SQL = "SELECT md5(text), min(doc_id), count(*) FROM docs GROUP BY 1"


class NearDup:
    name = "near_dup"
    layers = ("dedup",)

    def __init__(self, data_dir: Path, seed: int, tiny: bool):
        self.dir = data_dir / "near_dup"
        self.seed = seed
        self.n_docs = 200 if tiny else 250

    def generate(self) -> dict:
        """Docs of 50-200 words from a Zipf(1.0) vocabulary, so frequent
        words make hot shingles; 10% are copies of an earlier doc with about
        5% of their words substituted. The seed draws the words, the order
        of the doc lengths and which docs are copies, but not the lengths
        themselves or the number of copies, so seeds differ little in the
        amount of work."""
        rng = np.random.default_rng(self.seed)
        p = 1.0 / np.arange(1, NEAR_DUP_VOCAB + 1)
        p /= p.sum()
        lens = rng.permutation(np.linspace(50, 200, self.n_docs).round().astype(int))
        words = rng.choice(NEAR_DUP_VOCAB, int(lens.sum()), p=p)
        copies = set(rng.choice(np.arange(1, self.n_docs), self.n_docs // 10, replace=False).tolist())
        docs: list[list[str]] = []
        off, n_copies = 0, 0
        for i, n in enumerate(lens.tolist()):
            if i in copies:
                w = list(docs[int(rng.integers(0, i))])
                for j in rng.choice(len(w), max(1, round(0.05 * len(w))), replace=False):
                    w[j] = f"t{int(rng.choice(NEAR_DUP_VOCAB, p=p))}"
                n_copies += 1
            else:
                w = [f"t{x}" for x in words[off:off + n].tolist()]
            off += n
            docs.append(w)
        ids = [f"d{i:06d}" for i in range(self.n_docs)]
        texts = [" ".join(w) for w in docs]
        self.dir.mkdir(parents=True, exist_ok=True)
        # several files, as a real corpus has, so the scan is parallel
        for k in range(NEAR_DUP_FILES):
            pq.write_table(pa.table({"doc_id": ids[k::NEAR_DUP_FILES], "text": texts[k::NEAR_DUP_FILES]}),
                           self.dir / f"part-{k}.parquet")
        return {"docs": self.n_docs, "planted_copies": n_copies, "files": NEAR_DUP_FILES}

    def open(self, spark) -> None:
        pass

    def oracle(self):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW docs AS SELECT * FROM {_parquet(self.dir / '*.parquet')}")
            exact = {tuple(r) for r in con.execute(EXACT_ORACLE_SQL).fetchall()}
            pairs = {(a, b): j for a, b, j in con.execute(NGRAM_ORACLE_SQL).fetchall()}
        finally:
            con.close()
        return exact, pairs

    def _docs(self, spark):
        return spark.read.parquet(str(self.dir))

    def run_pass(self, spark, scratch: Path) -> PassResult:
        from ai_knowledge_graph_builder_spark.operators import dedup

        t0 = time.perf_counter()
        docs = self._docs(spark)
        exact = {tuple(r) for r in dedup.exact_dedup_ids(docs, "doc_id", "text").collect()}
        mh = dedup.minhash_dedup_pairs(docs, "doc_id", "text", tau=0.5)
        minhash = {(r.a, r.b): r.jaccard for r in mh.collect()}
        dedup.release(mh)
        ng = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=0.5, n=3)
        ngram = {(r.a, r.b): r.jaccard for r in ng.collect()}
        dedup.release(ng)
        return PassResult((exact, minhash, ngram), {"wall_s": time.perf_counter() - t0})

    def check(self, output, expected) -> str | None:
        exact, minhash, ngram = output
        want_exact, want_pairs = expected
        if not want_pairs:
            return "oracle found no near-duplicate pairs"
        if exact != want_exact:
            return _set_diff("exact dedup groups", exact, want_exact)
        if ngram != want_pairs:
            return _set_diff("n-gram pairs", set(ngram.items()), set(want_pairs.items()))
        if any(want_pairs.get(k) != j for k, j in minhash.items()):
            return "minhash pairs are not a subset of the exact pairs with equal Jaccard"
        return None

    def traced_pass(self, spark, L: LayerRun, scratch: Path):
        from pyspark.sql import functions as F

        from ai_knowledge_graph_builder_spark.operators import dedup

        docs = self._docs(spark)
        with L.layer("dedup"):
            with L.tracer.span("dedup.exact"):
                exact = {tuple(r) for r in dedup.exact_dedup_ids(docs, "doc_id", "text").collect()}
            with L.tracer.span("dedup.minhash"):
                mh = dedup.minhash_dedup_pairs(docs, "doc_id", "text", tau=0.5)
                minhash = {(r.a, r.b): r.jaccard for r in mh.collect()}
                dedup.release(mh)
            with L.tracer.span("dedup.ngram"):
                ng = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", tau=0.5, n=3)
                ngram = {(r.a, r.b): r.jaccard for r in ng.collect()}
                dedup.release(ng)
        L.rows["dedup"] = len(exact) + len(minhash) + len(ngram)
        with _probe(spark, L):
            sh = dedup.token_shingles(docs, "doc_id", "text", 3)
            df = sh.groupBy("shingle").count()
            row = df.agg(F.sum("count").alias("n"), F.sum(F.col("count") * F.col("count")).alias("df2")).first()
        L.extra.update({
            "dedup.shingles": float(row["n"]),
            "dedup.shingle_df2": float(row["df2"]),
            "dedup.minhash_recall": len(minhash) / len(ngram) if ngram else 0.0,
        })
        return exact, minhash, ngram


WORKLOADS = {w.name: w for w in (Flagship, CheckpointResume, NearDup)}
#: every layer some workload's traced pass reports, in pipeline order
LAYERS = ("extraction", "mentions", "linking", "graph", "checkpoint", "dedup")
