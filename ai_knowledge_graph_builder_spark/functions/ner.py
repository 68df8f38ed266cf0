"""Deterministic rule-based NER — the pipeline's stand-in for spaCy.

The reference runs spaCy ``en_core_web_md`` over every document and keeps
entity spans labelled PERSON/ORG/PRODUCT/GPE/LAW (entity_extractor.py:169-190).
spaCy is not available in this environment, so mention detection is a pure
deterministic rule matcher with the same interface — spans of
``(text, label, start_char, end_char)`` in document order. Any detector
with that interface (spaCy's, say) can be dropped in instead; everything
downstream (linking, aggregation, inference) is detector-agnostic.

Detector rules (fixed; the pandas test oracle runs the identical function, so
linking/inference correctness is measured independently of detector fidelity):

- honorific names:   ``(Mr|Ms|Mrs|Dr). Xxxx``              → PERSON
- capitalized runs:  maximal runs of Capitalized tokens     → label heuristic
- ALL-CAPS acronyms (≥2 letters)                            → LAW
- trailing Act/Regulation/Directive/Law/Policy/Standard     → LAW
- token with a digit or product-ish suffix                  → PRODUCT
- exactly two TitleCase alpha tokens                        → PERSON
- otherwise                                                 → ORG
- optional gazetteer of (phrase → label), matched case-insensitively on word
  boundaries (used for lowercase corpora where the capitalization cue is
  absent); overlaps resolved leftmost-longest, gazetteer wins ties.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class Mention(NamedTuple):
    text: str
    label: str
    start: int
    end: int


NER_LABELS = ("PERSON", "ORG", "PRODUCT", "GPE", "LAW")  # entity_extractor.py:176

_HONORIFIC = re.compile(r"\b(?:Mr|Ms|Mrs|Dr)\.\s[A-Z][a-z]+\b")
_CAP_RUN = re.compile(r"\b[A-Z][A-Za-z0-9\-]*(?: [A-Z][A-Za-z0-9\-]*)*\b")

_SINGLE_STOP = frozenset(
    """The A An In On At We I It This That Our As To For From By With And But
    Or If He She They You Of Is Are Was Were Please Hi Hello Thanks Regards
    Subject Dear Best All After Before During New Per Re Also However
    Meanwhile Finally Next Last First Second Third""".split()
)
_LAW_SUFFIX = frozenset({"Act", "Regulation", "Directive", "Law", "Policy", "Standard", "Procedure", "Guideline", "Guidelines"})
_PRODUCT_SUFFIX = frozenset({"Pro", "Suite", "Platform", "Cloud", "Hub", "DB", "Engine", "Analytics"})
_TITLECASE = re.compile(r"^[A-Z][a-z]+$")


def _label_cap_run(span_text: str) -> str:
    toks = span_text.split(" ")
    if all(t.isupper() and t.isalpha() and len(t) >= 2 for t in toks):
        return "LAW"
    if toks[-1] in _LAW_SUFFIX:
        return "LAW"
    if any(any(c.isdigit() for c in t) for t in toks) or toks[-1] in _PRODUCT_SUFFIX:
        return "PRODUCT"
    if len(toks) == 2 and all(_TITLECASE.match(t) for t in toks):
        return "PERSON"
    return "ORG"


class RuleNER:
    """Deterministic mention detector. ``gazetteer`` is a list of
    (phrase, label) pairs matched case-insensitively."""

    def __init__(self, gazetteer: list[tuple[str, str]] | None = None):
        # When every phrase is a single ASCII-alphanumeric token, the
        # whole gazetteer collapses into ONE alternation scan (~6× fewer
        # regex passes over every document — this is the per-doc hot
        # kernel of the whole pipeline). The fast path is taken per
        # DOCUMENT, only when the text is pure ASCII too (an O(n) C-level
        # check): that pair of restrictions makes it exactly equivalent,
        # not just plausibly so. Over ASCII text, IGNORECASE is plain
        # letter-case folding, so with the (?<![0-9A-Za-z]) /
        # (?![0-9A-Za-z]) guards two single-token matches can never
        # overlap (an overlap would need a token boundary inside an
        # alphanumeric run) — the alternation's non-overlapping scan
        # yields the SAME candidate set as the per-phrase loop, and
        # duplicate phrases resolve first-listed via the label dict just
        # as the sweep's stable (start,-len,prio) sort would. Outside the
        # restrictions equivalence genuinely breaks (all found by
        # fuzzing/review): multi-word phrases can overlap and a cap-run
        # blocker can reject the long match while leaving the
        # greedily-suppressed short one viable; Unicode case-folds (ſ→s)
        # let matches overlap even for ASCII phrases AND produce matched
        # text whose .lower() is not a label key. Such gazetteers/docs
        # keep the per-phrase loop.
        self._gaz_pat: re.Pattern | None = None
        self._gaz_label: dict[str, str] = {}
        self._gaz: list[tuple[re.Pattern, str, str]] = []
        for phrase, label in gazetteer or []:
            pat = re.compile(
                r"(?<![0-9A-Za-z])" + re.escape(phrase) + r"(?![0-9A-Za-z])",
                re.IGNORECASE,
            )
            self._gaz.append((pat, phrase, label))
        if gazetteer and all(p.isalnum() and p.isascii() for p, _l in gazetteer):
            self._gaz_pat = re.compile(
                r"(?<![0-9A-Za-z])(?:"
                + "|".join(re.escape(p) for p, _l in gazetteer)
                + r")(?![0-9A-Za-z])",
                re.IGNORECASE,
            )
            for phrase, label in gazetteer:  # first-wins on duplicate phrases
                self._gaz_label.setdefault(phrase.lower(), label)

    def __call__(self, text: str) -> list[Mention]:
        # candidates: (start, end, text, label, priority); lower prio wins ties
        cands: list[tuple[int, int, str, str, int]] = []
        if self._gaz_pat is not None and text.isascii():
            for m in self._gaz_pat.finditer(text):
                s = m.group(0)
                cands.append((m.start(), m.end(), s, self._gaz_label[s.lower()], 0))
        else:
            for pat, _phrase, label in self._gaz:
                for m in pat.finditer(text):
                    cands.append((m.start(), m.end(), m.group(0), label, 0))
        for m in _HONORIFIC.finditer(text):
            cands.append((m.start(), m.end(), m.group(0), "PERSON", 1))
        for m in _CAP_RUN.finditer(text):
            s = m.group(0)
            toks = s.split(" ")
            if len(toks) == 1 and s in _SINGLE_STOP:
                continue
            if len(toks) == 1 and len(s) == 1:
                continue
            cands.append((m.start(), m.end(), s, _label_cap_run(s), 2))
        # leftmost-longest non-overlapping sweep
        cands.sort(key=lambda c: (c[0], -(c[1] - c[0]), c[4]))
        out: list[Mention] = []
        cur_end = -1
        for start, end, txt, label, _prio in cands:
            if start >= cur_end:
                out.append(Mention(txt, label, start, end))
                cur_end = end
        return out
