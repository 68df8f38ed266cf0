"""Deterministic synthetic corpus of Common-Crawl-style pages.

Port of the *semantics* of the reference's phase 1-5 generators
(gen_data_str.py / gen_data_semstr.py / gen_data_email.py /
gen_data_external.py, seed 42 at config.yaml:159): a seeded entity registry
(30 employees / 12 projects / 7 products / 5 policies / 3 regulations —
config.yaml:9-14), ground-truth structured edges (REPORTS_TO / WORKS_ON /
OWNS, neo4j_loader.py:151-213), and a document corpus (reports / emails /
external docs) with planted contradictions (every 3rd report, every 5th
email — gen_data_semstr.py:464, gen_data_email.py:361).

Instead of docx/txt/pdf files, each document is rendered to HTML bytes with
``render_html`` and stored in a ``pages(url, warc_ts, html, text, lang)``
table (BASELINE.json input_hint); ``text`` holds the known plain text so the
pipeline's ``extract_text(html)`` can be byte-checked per url.

Everything is pure pandas/stdlib (driver-side synthesis; the Spark pipeline
only ever reads the resulting parquet), seeded, and scale-parameterized.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd

from ..functions.html import render_html

FIRST_NAMES = [
    "Alice", "Benjamin", "Clara", "Daniel", "Elena", "Felix", "Grace", "Henry",
    "Isabel", "James", "Katherine", "Liam", "Maria", "Nathan", "Olivia", "Peter",
    "Quinn", "Rachel", "Samuel", "Teresa", "Ulrich", "Victoria", "William", "Xenia",
    "Yusuf", "Zoe", "Andrea", "Bruno", "Celine", "Dmitri",
]
LAST_NAMES = [
    "Johnson", "Martinez", "Chen", "Williams", "Brown", "Davis", "Miller", "Wilson",
    "Moore", "Taylor", "Anderson", "Thomas", "Jackson", "White", "Harris", "Martin",
    "Thompson", "Garcia", "Robinson", "Clark", "Lewis", "Walker", "Hall", "Allen",
    "Young", "King", "Wright", "Scott", "Johnson", "Chen",  # deliberate repeats:
    # shared last names exercise J1 last-wins alias collision (SURVEY.md §7.4)
]
PROJECT_NAMES = [
    "Aurora", "Falcon", "Titanus", "Nimbus", "Vertex", "Quasar",
    "Orionis", "Zephyr", "Atlantis", "Borealis", "Cascade", "Dynamo",
]
PRODUCT_NAMES = [
    "DataHub Pro", "CloudSync Suite", "SecureVault Platform",
    "InsightEngine Analytics", "FlowMaster Hub", "NetGuard Cloud", "QueryForge DB",
]
POLICY_NAMES = [
    "Data Retention Policy", "Access Control Policy", "Remote Work Policy",
    "Incident Response Policy", "Vendor Management Policy",
]
REGULATIONS = [
    ("GDPR", "General Data Protection Regulation"),
    ("HIPAA", "Health Insurance Portability Act"),
    ("SOX", "Sarbanes Oxley Act"),
]
EXTERNAL_ORGS = [  # recurring → ExternalEntity (≥2 mentions); singletons → noise
    "European Commission", "Global Tech Review", "Federal Trade Commission",
    "International Standards Board",
]
NOISE_ORGS = ["Quantum Dynamics", "Hyperion Labs", "Stellar Insights", "Nova Partners"]
ROLES = ["developer", "analyst", "architect", "tester", "lead"]
SHADOW_PRODUCTS = ["ShadowCRM Tool", "RogueSync App"]

EPOCH = datetime(2025, 1, 1)


def build_registry(rng: random.Random) -> dict[str, list[dict]]:
    """entities.json analog (gen_data_str.py:532-577)."""
    employees = []
    for i in range(30):
        fn, ln = FIRST_NAMES[i], LAST_NAMES[i]
        employees.append(
            {
                "id": f"emp_{i + 1:03d}",
                "full_name": f"{fn} {ln}",
                "first_name": fn,
                "last_name": ln,
                "role": ROLES[i % len(ROLES)],
                "department": ["Engineering", "Compliance", "Sales"][i % 3],
                # emp_001 is the CEO; everyone else reports to one of 6 managers
                "manager_id": None if i == 0 else f"emp_{(i % 6) + 1:03d}",
                "hire_date": (EPOCH - timedelta(days=30 * (i + 1))).strftime("%Y-%m-%d"),
                "email": f"{fn.lower()}.{ln.lower()}@corp.example",
            }
        )
    projects = [
        {
            "id": f"proj_{i + 1:03d}",
            "name": n,
            "status": ["active", "completed"][i % 2],
            "department": ["Engineering", "Compliance", "Sales"][i % 3],
        }
        for i, n in enumerate(PROJECT_NAMES)
    ]
    products = [
        {"id": f"prod_{i + 1:03d}", "name": n, "vendor": f"Vendor{i + 1}"}
        for i, n in enumerate(PRODUCT_NAMES)
    ]
    policies = [
        {"id": f"pol_{i + 1:03d}", "name": n, "owner_id": f"emp_{(i % 6) + 1:03d}",
         "effective_date": (EPOCH + timedelta(days=10 * i)).strftime("%Y-%m-%d")}
        for i, n in enumerate(POLICY_NAMES)
    ]
    regulations = [
        {"id": f"reg_{i + 1:03d}", "name": short, "full_name": full}
        for i, (short, full) in enumerate(REGULATIONS)
    ]
    # project assignments (gen_data_str.py:515-523): 2-4 employees per project
    assignments = []
    aid = 0
    for p in projects:
        team = rng.sample(employees, rng.randint(2, 4))
        for emp in team:
            aid += 1
            assignments.append(
                {
                    "assignment_id": f"assign_{aid:03d}",
                    "employee_id": emp["id"],
                    "project_id": p["id"],
                    "role": rng.choice(ROLES),
                    "allocation_pct": rng.choice([25, 50, 75, 100]),
                    "start_date": (EPOCH + timedelta(days=rng.randint(0, 300))).strftime("%Y-%m-%d"),
                }
            )
    return {
        "employees": employees,
        "projects": projects,
        "products": products,
        "policies": policies,
        "regulations": regulations,
        "assignments": assignments,
    }


def _typo(name: str, rng: random.Random) -> str:
    """Single-char deletion in the longest token — keeps difflib ratio >= 0.90
    for the fuzzy path (resolution_threshold, config/pipeline.yaml:56)."""
    toks = name.split(" ")
    j = max(range(len(toks)), key=lambda k: len(toks[k]))
    t = toks[j]
    pos = rng.randint(2, len(t) - 2)
    toks[j] = t[:pos] + t[pos + 1 :]
    return " ".join(toks)


def _emp_ref(emp: dict, rng: random.Random) -> str:
    """Vary the surface form to exercise J2 exact (full/first/honorific) and
    J3 fuzzy (typo) resolution paths."""
    r = rng.random()
    if r < 0.45:
        return emp["full_name"]
    if r < 0.60:
        return f"Mr. {emp['last_name']}" if rng.random() < 0.5 else f"Ms. {emp['last_name']}"
    if r < 0.80:
        return emp["first_name"]
    return _typo(emp["full_name"], rng)


_FILLER_VOCAB = (
    "the quarterly review covered ongoing delivery metrics and resource "
    "allocation across teams with stable velocity and no major blockers "
    "reported during the sprint while stakeholders noted steady progress "
    "on integration testing deployment automation and documentation updates"
).split()


def _filler(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_FILLER_VOCAB) for _ in range(n_words))


def generate_corpus(
    seed: int = 42,
    waves: int = 3,
    n_emails: int = 20,
    n_external: int = 6,
    filler_max_words: int = 200,
) -> dict[str, pd.DataFrame]:
    """Build the full fixture set. Returns pandas DataFrames:
    pages, registry, doc_meta, emails, employees, projects, products,
    policies, assignments. ``waves`` scales the report count (waves × 12 projects);
    co-occurrence counts scale with waves so rule inference (A4 thresholds
    3/5 — entity_extractor.py:430-450) fires on a controlled subset."""
    rng = random.Random(seed)
    reg = build_registry(rng)
    emp_by_id = {e["id"]: e for e in reg["employees"]}
    proj_team: dict[str, list[str]] = {}
    for a in reg["assignments"]:
        proj_team.setdefault(a["project_id"], []).append(a["employee_id"])

    pages_rows: list[dict] = []
    meta_rows: list[dict] = []
    email_rows: list[dict] = []  # emails_metadata.json analog (gen_data_email.py)
    report_no = 0

    # --- reports (semi_structured; gen_data_semstr.py analog) -------------
    for wave in range(waves):
        for pi, proj in enumerate(reg["projects"]):
            report_no += 1
            team_ids = proj_team.get(proj["id"], [])
            k = min(len(team_ids), rng.randint(2, 3))
            team = [emp_by_id[i] for i in rng.sample(team_ids, k)] if k else []
            # fixed per-project product/policy/regulation so the proj×prod,
            # proj×pol, pol×reg, prod×reg co-occurrence counts reach the A4
            # thresholds across waves (entity_extractor.py:430-450)
            prod = reg["products"][pi % len(reg["products"])]
            pol = reg["policies"][pi % len(reg["policies"])]
            regu = reg["regulations"][pi % len(reg["regulations"])]
            ext = EXTERNAL_ORGS[(pi + wave) % len(EXTERNAL_ORGS)]
            proj_ref = f"Project {proj['name']}" if rng.random() < 0.5 else proj["name"]

            # stakeholders NOT assigned to the project: s1 in every wave
            # (count=waves → WORKS_ON@0.7 when waves>=5), s2 in alternate
            # waves (→ the @0.6 tier). No ground-truth/contradiction edge
            # exists for them, so the J7 anti-join lets the inference through.
            unassigned_pool = [e for e in reg["employees"] if e["id"] not in team_ids]
            s1 = unassigned_pool[(pi * 7 + 3) % len(unassigned_pool)]
            s2 = unassigned_pool[(pi * 11 + 5) % len(unassigned_pool)]
            if s2["id"] == s1["id"]:
                s2 = unassigned_pool[(pi * 11 + 6) % len(unassigned_pool)]

            paras = [
                f"Status update for {proj_ref} covering delivery milestones this quarter.",
                f"Executive sponsor {s1['full_name']} reviewed the roadmap in detail.",
            ]
            # entities_mentioned: the doc metadata's declared entity list
            # (metadata.json analog — neo4j_loader.py:346-366 ingests these as
            # confidence-0.9 MENTIONS edges behind an entity-exists check)
            mentioned: dict[str, str] = {proj["id"]: proj_ref, s1["id"]: s1["full_name"]}
            if wave % 2 == 0:
                paras.append(f"Budget sign-off was provided by {s2['full_name']} this cycle.")
                mentioned[s2["id"]] = s2["full_name"]
            for e2, p2 in ((prod, prod["name"]), (pol, pol["name"]),
                           (regu, regu["name"] if wave % 2 else regu["full_name"])):
                mentioned[e2["id"]] = p2
            if report_no % 11 == 0:
                # dangling declared mention: no such node — the J5
                # entity-exists gate must drop it on both engine and oracle
                mentioned["proj_999"] = "Project Vaporware"
            if team:
                refs = [_emp_ref(e, rng) for e in team]
                for e2, ref in zip(team, refs):
                    mentioned[e2["id"]] = ref
                paras.append(
                    "The work led by " + " and ".join(refs)
                    + f" completed integration of {prod['name']} under the {pol['name']}."
                    # pronoun referring back to the team (exercises the
                    # opt-in pronoun-to-antecedent pass; inert otherwise:
                    # sentence-initial pronouns are NER stopwords)
                    + " They also maintained the audit trail."
                )
            paras.append(
                f"A compliance review against {regu['name'] if wave % 2 else regu['full_name']}"
                f" was coordinated with the {ext}."
            )
            contradictions = []
            if report_no % 3 == 0:
                # planted project_assignment contradiction (gen_data_semstr.py:464):
                # an employee NOT assigned to this project appears in the text
                unassigned = [e for e in reg["employees"] if e["id"] not in team_ids]
                rogue = rng.choice(unassigned)
                paras.append(
                    f"Additional support was provided by {rogue['full_name']}"
                    f" for the {proj['name']} rollout."
                )
                contradictions.append(
                    {
                        "type": "project_assignment",
                        "entity": rogue["id"],
                        "document_value": proj["id"],
                        "explanation": f"{rogue['full_name']} not in assignments for {proj['id']}",
                    }
                )
            if filler_max_words:
                paras.append(_filler(rng, rng.randint(20, filler_max_words)))
            text = "\n".join(paras)
            url = f"https://corp.example/reports/report_{report_no:05d}.html"
            pages_rows.append(_page(url, report_no, text, f"Report {report_no}"))
            meta_rows.append(_meta(url, "semi_structured", contradictions, mentioned))

    # --- emails (unstructured; gen_data_email.py analog) ------------------
    for i in range(1, n_emails + 1):
        frm = rng.choice(reg["employees"])
        to = rng.choice([e for e in reg["employees"] if e["id"] != frm["id"]])
        proj = rng.choice(reg["projects"])
        colleague = rng.choice(reg["employees"])
        paras = [
            f"Hi {to['first_name']},",
            f"Quick update on {('Project ' + proj['name']) if rng.random() < 0.5 else proj['name']}:"
            f" please sync with {_emp_ref(colleague, rng)} about the remaining tasks.",
        ]
        contradictions = []
        if i % 5 == 0:
            shadow = SHADOW_PRODUCTS[i % len(SHADOW_PRODUCTS)]
            paras.append(f"Also, the team started using {shadow} for tracking, outside procurement.")
            contradictions.append(
                {
                    "type": "product_mention",
                    "entity": "",
                    "document_value": shadow,
                    "explanation": f"unapproved product {shadow}",
                }
            )
        paras.append(f"Thanks,\n{frm['first_name']}")
        text = "\n".join(paras)
        url = f"https://corp.example/unstructured/email_{i:05d}.html"
        pages_rows.append(_page(url, 10000 + i, text, f"Email {i}"))
        mentioned = {proj["id"]: proj["name"], colleague["id"]: colleague["full_name"],
                     to["id"]: to["first_name"]}
        meta_rows.append(_meta(url, "unstructured", contradictions, mentioned))
        # emails metadata (gen_data_email.py analog): sender/recipient
        # addresses resolve to Employee nodes → SENT / SENT_TO edges
        # (neo4j_loader.py:301-344). Every 7th sender is an outside address
        # with no Employee match — the no-edge branch must hold on both sides.
        email_rows.append(
            {
                "url": url,
                "from_email": "external.sender@outside.example" if i % 7 == 0 else frm["email"],
                "to_email": to["email"],
                "ts": (EPOCH + timedelta(minutes=10000 + i)).strftime("%Y-%m-%dT%H:%M:%S"),
                "subject": f"Update on {proj['name']}",
            }
        )

    # --- external docs (gen_data_external.py analog) ----------------------
    for i in range(1, n_external + 1):
        regu = reg["regulations"][i % len(reg["regulations"])]
        ext = EXTERNAL_ORGS[i % len(EXTERNAL_ORGS)]
        noise = NOISE_ORGS[i % len(NOISE_ORGS)]
        paras = [
            f"Guidance issued by the {ext} concerning the {regu['full_name']} ({regu['name']}).",
            f"Commentary referencing {noise} appears once and should remain noise.",
            _filler(rng, rng.randint(20, filler_max_words or 20)),
        ]
        text = "\n".join(paras)
        url = f"https://corp.example/external/ext_{i:05d}.html"
        pages_rows.append(_page(url, 20000 + i, text, f"External {i}"))
        meta_rows.append(_meta(url, "external", [], {regu["id"]: regu["name"]}))

    pages = pd.DataFrame(pages_rows).sort_values("url").reset_index(drop=True)
    doc_meta = pd.DataFrame(meta_rows)
    registry_df = _registry_df(reg)
    out = {
        "pages": pages,
        "registry": registry_df,
        "doc_meta": doc_meta,
        "emails": pd.DataFrame(email_rows),
        "employees": pd.DataFrame(reg["employees"]),
        "projects": pd.DataFrame(reg["projects"]),
        "products": pd.DataFrame(reg["products"]),
        "policies": pd.DataFrame(reg["policies"]),
        "assignments": pd.DataFrame(reg["assignments"]),
    }
    validate_corpus(out)  # gen_data_str.py:579-661 analog — fail at build time
    return out


def _alpha(n: int) -> str:
    """Deterministic bijective base-26 TitleCase token (0 → 'A', 27 → 'Ab')."""
    s = ""
    n += 1
    while n:
        n, r = divmod(n - 1, 26)
        s = chr(97 + r) + s
    return s.capitalize()


def open_vocab_pages(n_docs: int = 200, uniques_per_doc: int = 12,
                     seed: int = 7) -> pd.DataFrame:
    """Open-vocabulary stress wave: pages whose mention population is
    dominated by globally-UNIQUE surface forms, the regime the production
    spaCy NER produces over web text (entity_extractor.py:169-190) and the
    one the gazetteer fixtures hide (there, distinct norms ≈ dictionary
    size). Each document plants:

    - ``uniques_per_doc`` unique two-token org names ("Zq<Alpha> Consulting")
      — never in the alias table, difflib-infeasible, so they ride the
      external-entity cascade; every 10th appears twice in its document
      (≥2 occurrences → ExternalEntity), the rest are singletons (dropped);
    - one typo'd employee name (the fuzzy cascade at volume);
    - one exact registry name (the broadcast-dictionary path stays hot).

    With the defaults, distinct UNRESOLVED norms ≈ n_docs × uniques_per_doc
    ≥ 10× the alias table — the regime where resolve_mentions must switch
    its norm-keyed join-backs from broadcast to shuffle."""
    rng = random.Random(seed)
    reg = build_registry(random.Random(42))
    rows = []
    for d in range(n_docs):
        emp = reg["employees"][d % len(reg["employees"])]
        paras = [f"The audit file prepared by {emp['full_name']} covers the scope."]
        for k in range(uniques_per_doc):
            uid = d * uniques_per_doc + k
            org = f"Zq{_alpha(uid)} Consulting"
            if uid % 10 == 0:
                paras.append(f"The partner {org} was engaged; later {org} confirmed the scope.")
            else:
                paras.append(f"The commentary from {org} noted steady progress.")
        e2 = reg["employees"][(d * 7 + 3) % len(reg["employees"])]
        paras.append(f"Also recorded was input from {_typo(e2['full_name'], rng)} this cycle.")
        url = f"https://corp.example/openvocab/ov_{d:05d}.html"
        rows.append(_page(url, 30000 + d, "\n".join(paras), f"OpenVocab {d}"))
    return pd.DataFrame(rows)


def _page(url: str, ordinal: int, text: str, title: str) -> dict:
    return {
        "url": url,
        "warc_ts": EPOCH + timedelta(minutes=ordinal),
        "html": render_html(title, text),
        "text": text,
        "lang": "en",
    }


def _meta(url: str, doc_type: str, contradictions: list[dict],
          mentioned: dict[str, str] | None = None) -> dict:
    return {
        "url": url,
        "doc_type": doc_type,
        "contradictions": contradictions,
        "entities_mentioned": [
            {"id": eid, "mention_text": txt} for eid, txt in (mentioned or {}).items()
        ],
        "confidence_alignment": {"semi_structured": 0.7, "unstructured": 0.6, "external": 0.5}[doc_type],
    }


def _registry_df(reg: dict[str, list[dict]]) -> pd.DataFrame:
    """Flatten the registry to the REGISTRY schema; insertion_idx preserves
    the reference's registration order (employees, projects, products,
    policies, regulations — entity_extractor.py:119-149)."""
    rows = []
    idx = 0
    prop_keys = {
        "employee": ("role", "department", "hire_date"),
        "project": ("status", "department"),
        "product": ("vendor",),
        "policy": ("effective_date",),
        "regulation": (),
    }
    for etype, key in [
        ("employee", "employees"),
        ("project", "projects"),
        ("product", "products"),
        ("policy", "policies"),
        ("regulation", "regulations"),
    ]:
        for e in reg[key]:
            rows.append(
                {
                    "entity_id": e["id"],
                    "entity_type": etype,
                    "name": e.get("name") or e.get("full_name"),
                    "full_name": e.get("full_name"),
                    "first_name": e.get("first_name"),
                    "last_name": e.get("last_name"),
                    # node property bag (neo4j_loader.py:100-145 SETs these on
                    # the typed nodes; the golden temporal/comparative/
                    # aggregative categories read them back)
                    "props": {k: str(e[k]) for k in prop_keys[etype] if e.get(k)},
                    "insertion_idx": idx,
                }
            )
            idx += 1
    return pd.DataFrame(rows)


def validate_corpus(corpus: dict[str, pd.DataFrame]) -> dict[str, int]:
    """Generation-time integrity checks (gen_data_str.py:579-661 analog):
    duplicate-ID detection across every catalog, manager/owner/assignment
    referential integrity, the unique-first-name invariant (first-name
    alias resolution relies on it), and registry↔catalog count equality.
    Raises ``AssertionError`` listing every violation; returns the count
    summary on success. Runs automatically at the end of
    ``generate_corpus`` so a broken generator change fails loudly at
    fixture-build time, not as a mysterious linking diff downstream."""
    errors: list[str] = []

    def _dupes(values) -> list:
        seen, out = set(), []
        for v in values:
            if v in seen:
                out.append(v)
            seen.add(v)
        return out

    emp = corpus["employees"]
    catalogs = {
        "employees": emp["id"],
        "projects": corpus["projects"]["id"],
        "products": corpus["products"]["id"],
        "policies": corpus["policies"]["id"],
        "registry": corpus["registry"]["entity_id"],
        "pages": corpus["pages"]["url"],
        "assignments": corpus["assignments"]["assignment_id"],
    }
    for name, col in catalogs.items():
        d = _dupes(col)
        if d:
            errors.append(f"duplicate ids in {name}: {sorted(set(d))[:5]}")

    emp_ids = set(emp["id"])
    for m in emp["manager_id"]:
        if m is not None and not (isinstance(m, float) and pd.isna(m)) and m not in emp_ids:
            errors.append(f"dangling manager_id {m}")
    for o in corpus["policies"]["owner_id"]:
        if o not in emp_ids:
            errors.append(f"dangling policy owner_id {o}")
    proj_ids = set(corpus["projects"]["id"])
    for _, a in corpus["assignments"].iterrows():
        if a["employee_id"] not in emp_ids:
            errors.append(f"dangling assignment employee {a['assignment_id']}")
        if a["project_id"] not in proj_ids:
            errors.append(f"dangling assignment project {a['assignment_id']}")

    d = _dupes(emp["first_name"])
    if d:
        errors.append(f"first names not unique: {sorted(set(d))[:5]}")

    reg = corpus["registry"]
    reg_counts = reg.groupby("entity_type")["entity_id"].count().to_dict()
    for etype, df_key in (("employee", "employees"), ("project", "projects"),
                          ("product", "products"), ("policy", "policies")):
        if reg_counts.get(etype, 0) != len(corpus[df_key]):
            errors.append(
                f"registry↔catalog count mismatch for {etype}: "
                f"{reg_counts.get(etype, 0)} vs {len(corpus[df_key])}"
            )

    if errors:
        # raised explicitly (not an `assert` statement) so `python -O`
        # cannot strip the generation-time gate
        raise AssertionError(
            "corpus integrity violations:\n  " + "\n  ".join(errors)
        )
    return {name: len(col) for name, col in catalogs.items()}
