"""Golden-query harness — the reference's phase-10 validation, answered
purely from the materialized graph (no LLM).

Reference: generate_golden_queries.py derives 100-200 queries from the
ground-truth CSVs across ELEVEN categories (basic_fact :202, relationship
:253, quantitative :329, temporal :395, comparative :459, aggregative :504,
negative :569, complex :620, semantic :704, contradiction :779, edge_case
:812); validate_rag.py scores answers against them. Here golden queries are
derived from the same corpus ground truth and answered with set-oriented
joins against the triples/nodes tables; scoring is exact set equality per
category — every graph-answerable category must hit 1.0 because the whole
pipeline is deterministic.

Answering stays scale-sane: document-scale relations (triples) are touched
only through joins/groupBys keyed by the broadcast-sized question table;
the only driver-side collect is over ENTITY nodes (the registry dimension —
broadcast-sized by construction) and per-question aggregates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F


# Per-category answer-latency budgets (ms), mirroring the per-query
# max_latency_ms the reference attaches (generate_golden_queries.py:163-200;
# per-category values read from the _generate_* calls — the max used within
# each category). The reference budgets a per-question LLM+graph round trip;
# here answering is set-oriented (one Spark pass per question SHAPE), so a
# question's latency is its pass's wall time amortized over the questions the
# pass answered — the honest per-question cost of the batch engine.
CATEGORY_LATENCY_BUDGET_MS = {
    "basic_fact": 2000, "relationship": 2500, "quantitative": 3500,
    "temporal": 3000, "comparative": 3500, "aggregative": 3500,
    "negative": 3000, "complex": 4000, "semantic": 4000,
    "contradiction": 3500, "edge_case": 4000,
}


def _q(qid, category, question, expected, should_succeed=True, **kw):
    return dict(qid=qid, category=category, question=question,
                expected=sorted(expected), should_succeed=should_succeed,
                max_latency_ms=CATEGORY_LATENCY_BUDGET_MS[category], **kw)


def generate_golden_queries(corpus: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """(qid, category, question, qtype, params…, expected array,
    should_succeed) derived from the structured ground truth — the
    generate_golden_queries.py analog, covering all 11 reference
    categories."""
    employees = corpus["employees"].to_dict("records")
    by_id = {e["id"]: e for e in employees}
    projects = corpus["projects"].to_dict("records")
    proj_by_id = {p["id"]: p for p in projects}
    products = corpus["products"].to_dict("records")
    policies = corpus["policies"].to_dict("records")
    assignments = corpus["assignments"].to_dict("records")
    rows: list[dict] = []

    # --- basic_fact: manager lookups (:202-251) ----------------------------
    for e in employees:
        if e.get("manager_id"):
            rows.append(_q(f"bf_{e['id']}", "basic_fact",
                           f"Who does {e['full_name']} report to?",
                           [by_id[e["manager_id"]]["full_name"]],
                           qtype="subject_objects", subject_name=e["full_name"],
                           predicate="REPORTS_TO"))

    # --- relationship: project teams (:253-327) ----------------------------
    team: dict[str, list[str]] = {}
    for a in assignments:
        team.setdefault(a["project_id"], []).append(by_id[a["employee_id"]]["full_name"])
    for pid, members in team.items():
        rows.append(_q(f"rel_{pid}", "relationship",
                       f"Who works on {proj_by_id[pid]['name']}?",
                       set(members), qtype="object_subjects",
                       object_name=proj_by_id[pid]["name"], predicate="WORKS_ON"))

    # --- quantitative: per-employee project counts (:329-393) --------------
    per_emp: dict[str, int] = {}
    for a in assignments:
        per_emp[a["employee_id"]] = per_emp.get(a["employee_id"], 0) + 1
    for eid, cnt in sorted(per_emp.items()):
        rows.append(_q(f"qt_{eid}", "quantitative",
                       f"How many projects does {by_id[eid]['full_name']} work on?",
                       [str(cnt)], qtype="subject_count",
                       subject_name=by_id[eid]["full_name"], predicate="WORKS_ON"))

    # --- temporal: project status + active/completed lists (:395-458) ------
    for p in projects:
        rows.append(_q(f"tmp_{p['id']}", "temporal",
                       f"What is the status of {p['name']}?", [p["status"]],
                       qtype="node_prop", node_name=p["name"],
                       node_type="Project", prop="status"))
    for status in ("active", "completed"):
        names = {p["name"] for p in projects if p["status"] == status}
        rows.append(_q(f"tmp_list_{status}", "temporal",
                       f"Which projects are {status}?", names,
                       qtype="nodes_by_prop", node_type="Project",
                       prop="status", prop_value=status))

    # --- comparative: direct-report counts + department sizes (:459-503) ---
    reports: dict[str, int] = {}
    for e in employees:
        if e.get("manager_id"):
            m = by_id[e["manager_id"]]["full_name"]
            reports[m] = reports.get(m, 0) + 1
    mgrs = sorted(reports)
    for i in range(len(mgrs) - 1):
        a, b = mgrs[i], mgrs[i + 1]
        want = [a] if reports[a] > reports[b] else [b] if reports[b] > reports[a] else [a, b]
        rows.append(_q(f"cmp_mgr_{i}", "comparative",
                       f"Who has more direct reports: {a} or {b}?", want,
                       qtype="compare_reports", name_a=a, name_b=b))
    depts = sorted({e["department"] for e in employees})
    for i in range(len(depts) - 1):
        d1, d2 = depts[i], depts[i + 1]
        c1 = sum(1 for e in employees if e["department"] == d1)
        c2 = sum(1 for e in employees if e["department"] == d2)
        rows.append(_q(f"cmp_dept_{i}", "comparative",
                       f"How does {d1} compare to {d2} in team size?",
                       [f"{d1}={c1}", f"{d2}={c2}"],
                       qtype="compare_departments", name_a=d1, name_b=d2))

    # --- aggregative: totals + full lists (:504-568) ------------------------
    rows.append(_q("agg_emp", "aggregative", "How many total employees are there?",
                   [str(len(employees))], qtype="count_node_type", node_type="Employee"))
    rows.append(_q("agg_proj", "aggregative", "How many total projects are there?",
                   [str(len(projects))], qtype="count_node_type", node_type="Project"))
    rows.append(_q("agg_depts", "aggregative", "What are all the departments?",
                   set(depts), qtype="distinct_prop", node_type="Employee",
                   prop="department"))
    rows.append(_q("agg_products", "aggregative", "What products are in use?",
                   {p["name"] for p in products}, qtype="names_by_type",
                   node_type="Product"))

    # --- negative: must return nothing (:569-617) ---------------------------
    rows.append(_q("neg_1", "negative", "Who does Nonexistent Person report to?",
                   [], should_succeed=False, qtype="subject_objects",
                   subject_name="Nonexistent Person", predicate="REPORTS_TO"))
    rows.append(_q("neg_2", "negative", "Who works on Project Vaporware?",
                   [], should_succeed=False, qtype="object_subjects",
                   object_name="Vaporware", predicate="WORKS_ON"))
    rows.append(_q("neg_3", "negative", "Who owns the Imaginary Policy?",
                   [], should_succeed=False, qtype="object_subjects",
                   object_name="Imaginary Policy", predicate="OWNS"))
    rows.append(_q("neg_4", "negative",
                   "How many projects does Nonexistent Person work on?",
                   [], should_succeed=False, qtype="subject_count",
                   subject_name="Nonexistent Person", predicate="WORKS_ON"))

    # --- complex: 2-hop manager-projects + project teammates (:620-703) -----
    emp_projects: dict[str, list[str]] = {}
    for a in assignments:
        emp_projects.setdefault(a["employee_id"], []).append(a["project_id"])
    for e in employees:
        mid = e.get("manager_id")
        if mid and emp_projects.get(mid):
            rows.append(_q(f"cx_mgr_{e['id']}", "complex",
                           f"What projects does {e['full_name']}'s manager work on?",
                           {proj_by_id[p]["name"] for p in emp_projects[mid]},
                           qtype="manager_projects", subject_name=e["full_name"]))
    for e in employees:
        pids = emp_projects.get(e["id"])
        if not pids:
            continue
        pid = sorted(pids)[0]
        others = {by_id[a["employee_id"]]["full_name"] for a in assignments
                  if a["project_id"] == pid and a["employee_id"] != e["id"]}
        if others:
            rows.append(_q(f"cx_team_{e['id']}", "complex",
                           f"Who else works on {proj_by_id[pid]['name']} besides "
                           f"{e['full_name']}?", others,
                           qtype="teammates", object_name=proj_by_id[pid]["name"],
                           subject_name=e["full_name"], predicate="WORKS_ON"))

    # --- semantic: policy ownership from actual data (:704-778) -------------
    for p in policies:
        if p.get("owner_id"):
            rows.append(_q(f"sem_{p['id']}", "semantic",
                           f"Who owns the {p['name']}?",
                           [by_id[p["owner_id"]]["full_name"]],
                           qtype="object_subjects", object_name=p["name"],
                           predicate="OWNS"))

    # --- contradiction: planted assignment conflicts must surface flagged
    #     (:779-811; rag_system.py:569-595 surfaces flagged triples) ---------
    planted: dict[str, set[str]] = {}
    for m in corpus["doc_meta"].to_dict("records"):
        for c in m.get("contradictions") or []:
            if c["type"] == "project_assignment":
                planted.setdefault(c["entity"], set()).add(
                    proj_by_id[c["document_value"]]["name"])
    for eid, projs in sorted(planted.items()):
        rows.append(_q(f"con_{eid}", "contradiction",
                       f"What contradictory project assignments are flagged for "
                       f"{by_id[eid]['full_name']}?", projs,
                       qtype="flagged_objects", subject_name=by_id[eid]["full_name"],
                       predicate="WORKS_ON"))
    clean = next(e for e in employees if e["id"] not in planted)
    rows.append(_q("con_none", "contradiction",
                   f"What contradictory project assignments are flagged for "
                   f"{clean['full_name']}?", [], should_succeed=False,
                   qtype="flagged_objects", subject_name=clean["full_name"],
                   predicate="WORKS_ON"))

    # --- edge_case: ambiguous first-name reference + case-insensitive lookup
    #     (:812-877) ---------------------------------------------------------
    full_names = [e["full_name"] for e in employees]
    for e in employees:
        first = e["first_name"]
        if e.get("manager_id") and sum(first in n for n in full_names) == 1:
            rows.append(_q(f"edge_first_{e['id']}", "edge_case",
                           f"Who does {first} report to?",
                           [by_id[e["manager_id"]]["full_name"]],
                           qtype="contains_subject", subject_name=first,
                           predicate="REPORTS_TO"))
    for pol in policies:
        rows.append(_q(f"edge_case_ci_{pol['id']}", "edge_case",
                       f"who owns the {pol['name'].lower()}?",
                       [by_id[pol["owner_id"]]["full_name"]],
                       qtype="object_subjects_ci", object_name=pol["name"].lower(),
                       predicate="OWNS"))
    return pd.DataFrame(rows)


def answer_golden_queries(
    spark: SparkSession,
    golden: pd.DataFrame,
    triples: DataFrame,
    nodes: DataFrame | None = None,
) -> pd.DataFrame:
    """Answer every golden query with ONE pass per question SHAPE (set-
    oriented — no per-question graph round trips, unlike
    rag_system.py:323-393). ``nodes`` is required for the temporal /
    aggregative / comparative-department shapes (node-property questions)."""
    # ground-truth edges only (confidence == 1.0) mirror the CSV derivation
    gt = triples.filter(F.col("confidence") == 1.0).select(
        "subject_name", "predicate", "object_name"
    ).persist()
    try:
        return _answer_golden(spark, golden, triples, gt, nodes)
    finally:
        gt.unpersist()


def _answer_golden(
    spark: SparkSession,
    golden: pd.DataFrame,
    triples: DataFrame,
    gt: DataFrame,
    nodes: DataFrame | None,
) -> pd.DataFrame:
    import time as _time

    answers: dict[str, list[str]] = {}
    # per-question amortized latency (ms): each set-oriented pass's wall time
    # divided over the questions it answered (the reference budgets a
    # per-question round trip; this is the batch engine's equivalent)
    latency_ms: dict[str, float] = {}

    def _attribute(qids, t0: float) -> None:
        if len(qids):
            per = (_time.perf_counter() - t0) * 1000.0 / len(qids)
            for qid in qids:
                latency_ms[qid] = latency_ms.get(qid, 0.0) + per

    def _join_pass(qs: pd.DataFrame, cond, collect_col: str):
        """Generic broadcast-question join → per-qid sorted answer set."""
        if not len(qs):
            return
        t0 = _time.perf_counter()
        qpd = (
            qs[["qid", "subject_name", "object_name", "predicate"]]
            .rename(columns={"subject_name": "q_subject", "object_name": "q_object",
                             "predicate": "q_predicate"})
            .astype(object)
        )
        # explicit schema: every question shape leaves at least one column
        # all-None (shape 1 has no q_object, shape 2 no q_subject), and
        # schema inference over an all-None column raises
        # CANNOT_DETERMINE_TYPE under an Arrow-disabled session (the driver
        # gate's config) while passing under the Arrow path — r6 verdict #1
        qdf = F.broadcast(spark.createDataFrame(
            qpd.where(pd.notnull(qpd), None),
            "qid string, q_subject string, q_object string, q_predicate string",
        ))
        hits = (
            qdf.join(gt, cond, "left")
            .groupBy("qid")
            .agg(F.sort_array(F.collect_set(collect_col)).alias("ans"))
            .collect()
        )
        for r in hits:
            answers[r["qid"]] = [a for a in r["ans"] if a is not None]
        _attribute(list(qs["qid"]), t0)

    g = golden.copy()
    for c in ("subject_name", "object_name", "predicate"):
        if c not in g.columns:
            g[c] = None

    # shape 1: subject → objects (basic_fact, quantitative, negative)
    _join_pass(
        g[g["qtype"].isin(["subject_objects", "subject_count"])],
        (gt["subject_name"] == F.col("q_subject")) & (gt["predicate"] == F.col("q_predicate")),
        "object_name",
    )
    # shape 2: object → subjects (relationship, semantic, negative, teammates)
    _join_pass(
        g[g["qtype"].isin(["object_subjects", "teammates"])],
        (gt["object_name"] == F.col("q_object")) & (gt["predicate"] == F.col("q_predicate")),
        "subject_name",
    )
    # shape 2b: case-insensitive object match (edge_case)
    _join_pass(
        g[g["qtype"] == "object_subjects_ci"],
        (F.lower(gt["object_name"]) == F.col("q_object")) & (gt["predicate"] == F.col("q_predicate")),
        "subject_name",
    )
    # shape 3: CONTAINS subject match (edge_case; rag_system.py:323-341 style)
    _join_pass(
        g[g["qtype"] == "contains_subject"],
        gt["subject_name"].contains(F.col("q_subject")) & (gt["predicate"] == F.col("q_predicate")),
        "object_name",
    )
    # shape 4: 2-hop manager projects (complex): REPORTS_TO then WORKS_ON
    cx = g[g["qtype"] == "manager_projects"]
    if len(cx):
        t0 = _time.perf_counter()
        qdf = F.broadcast(spark.createDataFrame(
            cx[["qid", "subject_name"]].rename(columns={"subject_name": "q_subject"}),
            "qid string, q_subject string"))
        mgr = gt.filter(F.col("predicate") == "REPORTS_TO").select(
            F.col("subject_name").alias("q_subject"), F.col("object_name").alias("mgr"))
        works = gt.filter(F.col("predicate") == "WORKS_ON").select(
            F.col("subject_name").alias("mgr"), F.col("object_name").alias("proj"))
        hits = (
            qdf.join(mgr, "q_subject").join(works, "mgr")
            .groupBy("qid").agg(F.sort_array(F.collect_set("proj")).alias("ans"))
            .collect()
        )
        for r in hits:
            answers[r["qid"]] = r["ans"]
        _attribute(list(cx["qid"]), t0)
    # shape 5: flagged triples (contradiction; rag_system.py:569-584)
    con = g[g["qtype"] == "flagged_objects"]
    if len(con):
        t0 = _time.perf_counter()
        qdf = F.broadcast(spark.createDataFrame(
            con[["qid", "subject_name", "predicate"]]
            .rename(columns={"subject_name": "q_subject", "predicate": "q_predicate"}),
            "qid string, q_subject string, q_predicate string"))
        flagged = triples.filter(F.col("flagged")).select(
            "subject_name", "predicate", "object_name")
        hits = (
            qdf.join(flagged,
                     (flagged["subject_name"] == F.col("q_subject"))
                     & (flagged["predicate"] == F.col("q_predicate")), "left")
            .groupBy("qid").agg(F.sort_array(F.collect_set("object_name")).alias("ans"))
            .collect()
        )
        for r in hits:
            answers[r["qid"]] = [a for a in r["ans"] if a is not None]
        _attribute(list(con["qid"]), t0)

    # shapes over ENTITY node properties (temporal / aggregative /
    # comparative-departments): one collect of the registry-sized dimension
    _NODE_PROP_SHAPES = ("node_prop", "nodes_by_prop", "count_node_type",
                         "distinct_prop", "names_by_type", "compare_departments")
    t0 = _time.perf_counter()
    ent: list[dict] = []
    if nodes is not None:
        ent = [r.asDict() for r in
               nodes.filter(F.col("node_type").isin("Employee", "Project", "Product",
                                                    "Policy", "Regulation")).collect()]
    for q in g.to_dict("records"):
        qt, qid = q["qtype"], q["qid"]
        if qt == "node_prop":
            answers[qid] = sorted({(n["props"] or {}).get(q["prop"]) for n in ent
                                   if n["node_type"] == q["node_type"]
                                   and n["name"] == q["node_name"]} - {None})
        elif qt == "nodes_by_prop":
            answers[qid] = sorted({n["name"] for n in ent
                                   if n["node_type"] == q["node_type"]
                                   and (n["props"] or {}).get(q["prop"]) == q["prop_value"]})
        elif qt == "count_node_type":
            answers[qid] = [str(sum(1 for n in ent if n["node_type"] == q["node_type"]))]
        elif qt == "distinct_prop":
            answers[qid] = sorted({(n["props"] or {}).get(q["prop"]) for n in ent
                                   if n["node_type"] == q["node_type"]} - {None})
        elif qt == "names_by_type":
            answers[qid] = sorted({n["name"] for n in ent if n["node_type"] == q["node_type"]})
        elif qt == "compare_departments":
            counts = {}
            for n in ent:
                if n["node_type"] == "Employee":
                    d = (n["props"] or {}).get("department")
                    if d in (q["name_a"], q["name_b"]):
                        counts[d] = counts.get(d, 0) + 1
            answers[qid] = sorted(f"{d}={c}" for d, c in counts.items())

    _attribute(list(g[g["qtype"].isin(_NODE_PROP_SHAPES)]["qid"]), t0)

    # shape: compare direct-report counts (comparative) — from the answered
    # REPORTS_TO objects turned around: count subjects per manager name
    cmpq = g[g["qtype"] == "compare_reports"]
    if len(cmpq):
        t0 = _time.perf_counter()
        pairs = {n for q in cmpq.to_dict("records") for n in (q["name_a"], q["name_b"])}
        counts = {
            r["object_name"]: r["n"]
            for r in gt.filter((F.col("predicate") == "REPORTS_TO")
                               & F.col("object_name").isin(*sorted(pairs)))
            .groupBy("object_name").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        for q in cmpq.to_dict("records"):
            ca, cb = counts.get(q["name_a"], 0), counts.get(q["name_b"], 0)
            answers[q["qid"]] = ([q["name_a"]] if ca > cb else [q["name_b"]]
                                 if cb > ca else sorted([q["name_a"], q["name_b"]]))
        _attribute(list(cmpq["qid"]), t0)

    # quantitative answers are the COUNT of the matched object set
    out = []
    for q in g.to_dict("records"):
        ans = answers.get(q["qid"], [])
        if q["qtype"] == "subject_count":
            ans = [str(len(ans))] if ans else []
        elif q["qtype"] == "teammates":
            # "who ELSE works on …" — drop the asking employee
            ans = [a for a in ans if a != q["subject_name"]]
        out.append({**q, "answer": ans,
                    "latency_ms": round(latency_ms.get(q["qid"], 0.0), 2)})
    return pd.DataFrame(out)


def golden_latency_report(answered: pd.DataFrame) -> pd.DataFrame:
    """Per-category latency report against the reference budgets: p50/p95 of
    the per-question amortized latency, the category budget, and whether the
    p95 clears it — the golden harness doubling as a perf-regression net."""
    rows = []
    for cat, grp in answered.groupby("category"):
        lat = sorted(grp["latency_ms"])
        p = lambda q: lat[min(len(lat) - 1, int(q * len(lat)))]
        budget = int(grp["max_latency_ms"].iloc[0])
        rows.append({
            "category": cat, "n": len(lat),
            "p50_ms": round(p(0.50), 2), "p95_ms": round(p(0.95), 2),
            "budget_ms": budget, "under_budget": p(0.95) <= budget,
        })
    return pd.DataFrame(rows).sort_values("category").reset_index(drop=True)


def score_golden(answered: pd.DataFrame) -> dict[str, float]:
    """Exact-match accuracy per category (validate_rag.py scoring analog;
    graph categories must be 1.0 — config/pipeline.yaml:131-143 requires
    ≥0.75 overall / ≥0.80 graph for the reference's fuzzier LLM pipeline)."""
    scores: dict[str, list[float]] = {}
    for q in answered.to_dict("records"):
        got = sorted(q["answer"]) if isinstance(q["answer"], list) else []
        want = sorted(q["expected"])
        ok = float(got == want) if q["should_succeed"] else float(got == [])
        scores.setdefault(q["category"], []).append(ok)
    return {k: sum(v) / len(v) for k, v in sorted(scores.items())}


def score_golden_weighted(answered: pd.DataFrame) -> pd.DataFrame:
    """validate_rag.py-parity weighted scoring next to exact-match: each
    answer set is rendered as the extractive sentence the reference scores,
    then graded 0.40 keywords / 0.30 completeness / 0.20 accuracy / 0.10
    relevance (plans/scoring.py). A query PASSES when its status matches
    ``should_succeed`` and the weighted quality clears 0.5 (the reference's
    per-query gate, validate_rag.py:425-436); the per-category threshold
    (config/pipeline.yaml:135-143 mapping, default 0.70) applies to the
    PASS RATE — validate_rag.py:616-628 — not the mean score."""
    from .scoring import CATEGORY_THRESHOLDS, DEFAULT_THRESHOLD, render_answer, weighted_score

    per_cat: dict[str, dict[str, list[float]]] = {}
    for q in answered.to_dict("records"):
        got = sorted(q["answer"]) if isinstance(q["answer"], list) else []
        want = sorted(q["expected"])
        exact = float(got == want) if q["should_succeed"] else float(got == [])
        # status check (validate_rag.py:398-404): success ⇔ found an answer
        status_ok = bool(got) == bool(q["should_succeed"])
        # negatives expect the no-info sentence; keywords = expected items
        expected_text = render_answer(want) if q["should_succeed"] else "N/A - no information"
        total, _parts = weighted_score(
            q["question"], render_answer(got), expected_text, keywords=list(want)
        )
        passed = status_ok and (total >= 0.5 if q["should_succeed"] else True)
        d = per_cat.setdefault(q["category"], {"weighted": [], "exact": [], "passed": []})
        d["weighted"].append(total)
        d["exact"].append(exact)
        d["passed"].append(float(passed))

    rows = []
    for cat in sorted(per_cat):
        d = per_cat[cat]
        thr = CATEGORY_THRESHOLDS.get(cat, DEFAULT_THRESHOLD)
        pass_rate = sum(d["passed"]) / len(d["passed"])
        exact_rate = sum(d["exact"]) / len(d["exact"])
        rows.append({
            "category": cat,
            "n": len(d["weighted"]),
            "weighted_score": round(sum(d["weighted"]) / len(d["weighted"]), 4),
            "pass_rate": round(pass_rate, 4),
            "exact_match": round(exact_rate, 4),
            "threshold": thr,
            "passed_weighted": pass_rate >= thr,
            "passed_exact": exact_rate >= thr,
        })
    return pd.DataFrame(rows)
