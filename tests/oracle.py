"""Single-process pandas/pure-Python oracle implementing the reference
semantics (SURVEY §5: the P/R gate compares Spark output row-for-row to
this). Independent implementation path: plain Python string ops over the
flat driver corpus — no Spark, no SQL.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd

from cspirit_ontology_information_extraction_opus4plan_spark import (
    ontology_data as OD,
)

SURF = OD.surfaces()
N = len(SURF)
PHRASES = OD.PREDICATE_PHRASES


def expected_spans(flat: pd.DataFrame) -> list[dict]:
    """Recompute the interleaved spans per doc (corpus.py's spec) in pure
    Python. Returns rows (doc_id, pos, kind, text, media_ref, offset)."""
    rows = []
    for r in flat.itertuples(index=False):
        d, text, nc = int(r.doc_id), r.text, int(r.n_chars)
        doc = f"DOC:{d:06d}"
        subj = "glucose" if d % 5 == 0 else SURF[d % N]
        obj = SURF[(d * 7 + 3) % N]
        phrase = PHRASES[d % 7][0]
        sentence = f"{subj} {phrase} {obj}."
        spans = [("text", text, "", 0), ("text", sentence, "", nc + 1)]
        off = nc + 1 + len(sentence) + 1
        if d % 3 == 0:
            figcap = (f"figure 1. microscopy of {SURF[(d + 1) % N]} "
                      f"distribution in sample {d}.")
            spans.append(("figure", figcap, f"media/DOC{d}/fig1.png", off))
            off += len(figcap) + 1
        if d % 4 == 0:
            tabcap = (f"table 1. quantification of {SURF[(d + 2) % N]} "
                      f"levels across {d % 7 + 2} conditions.")
            spans.append(("table", tabcap, f"media/DOC{d}/tab1.parquet", off))
            off += len(tabcap) + 1
        if d % 5 == 1:
            refcit = (f"smith j, doe a ({d % 30 + 1990}). studies on "
                      f"{SURF[(d + 4) % N]}. journal of synthetic data, "
                      f"{d % 50 + 1}(2), 100-110. doi:10.1234/jsd.{d}")
            spans.append(("reference", refcit, "", off))
        for pos, (kind, t, m, o) in enumerate(spans):
            rows.append({"doc_id": doc, "pos": pos, "kind": kind, "text": t,
                         "media_ref": m, "offset": o})
    return rows


@lru_cache(maxsize=1)
def _pat() -> re.Pattern:
    return re.compile(r"\b(" + OD.alternation(SURF) + r")\b")


@lru_cache(maxsize=1)
def _best_candidate() -> dict[str, tuple[str, str]]:
    """surface -> (term_id, match_kind): argmax rank, tie min term_id."""
    best: dict[str, tuple[int, str, str]] = {}
    for g in OD.gazetteer():
        rank = OD.MATCH_KIND_RANK[g["match_kind"]]
        cur = best.get(g["surface"])
        cand = (-rank, g["term_id"], g["match_kind"])
        if cur is None or cand < cur:
            best[g["surface"]] = cand
    return {s: (tid, mk) for s, (_, tid, mk) in best.items()}


def _span_mentions(r: dict) -> list[dict]:
    """The mentions of one span row (no other row's)."""
    if r["kind"] not in ("text", "figure", "table") or not r["text"]:
        return []
    return [{"doc_id": r["doc_id"], "pos": r["pos"], "kind": r["kind"],
             "m_off": m.start(), "surface": m.group(1)}
            for m in _pat().finditer(r["text"].lower())]


def expected_mentions(span_rows: list[dict]) -> list[dict]:
    return [m for r in span_rows for m in _span_mentions(r)]


_PHRASE_PAT = re.compile(
    r"\b(" + OD.alternation([p for p, _ in PHRASES]) + r")\b")
_PRED = dict(PHRASES)


def expected_triples(span_rows: list[dict]) -> list[dict]:
    """Reference-semantics relation extraction over every text span with
    exactly one predicate phrase in its lower-cased text (the rule in
    operators/relations.py): subject = mention ending closest before the
    phrase, object = mention starting closest after, no self-loops,
    confidence 1.0 iff both name-matches. Offsets are Python string
    indices (code points), as for the mentions. Mentions are found per
    span row, so two documents that share a doc_id never mix."""
    link = _best_candidate()
    out = []
    for r in span_rows:
        if r["kind"] != "text" or not r["text"]:
            continue
        found = list(_PHRASE_PAT.finditer(r["text"].lower()))
        if len(found) != 1:
            continue
        pm = found[0]
        p0, plen = pm.start(1), len(pm.group(1))
        ms = _span_mentions(r)
        subj_c = [m for m in ms if m["m_off"] + len(m["surface"]) <= p0]
        obj_c = [m for m in ms if m["m_off"] >= p0 + plen + 1]
        if not subj_c or not obj_c:
            continue
        s = max(subj_c, key=lambda m: m["m_off"])
        o = min(obj_c, key=lambda m: m["m_off"])
        s_tid, s_mk = link[s["surface"]]
        o_tid, o_mk = link[o["surface"]]
        if s_tid == o_tid:
            continue
        out.append({
            "doc_id": r["doc_id"], "pos": r["pos"], "subject": s_tid,
            "predicate": _PRED[pm.group(1)], "object": o_tid,
            "subject_type": "uri", "object_type": "uri",
            "object_datatype": None, "object_language": None,
            "confidence": 1.0 if (s_mk == "name" and o_mk == "name") else 0.9,
            "evidence": r["text"]})
    return out


TRIPLE_KEY = ("subject", "predicate", "object", "subject_type",
              "object_type", "object_datatype", "object_language")


def triple_keys(rows) -> set[tuple]:
    """The reference's 7-tuple triple identity (models.py:4408-4418)."""
    return {tuple(r[k] for k in TRIPLE_KEY) for r in rows}
