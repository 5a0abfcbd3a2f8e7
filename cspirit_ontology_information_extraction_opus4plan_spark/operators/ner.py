"""NER mention detection — sanctioned Arrow stage #1 (SURVEY §2.10).

Reference semantics: exact-name / synonym dictionary matching against the
ontology indexes (find_terms_by_name models.py:2849, find_terms_by_synonym
models.py:2886, substring search find_terms models.py:2812). The reference
walks Python dicts per string; here a single vectorized `mapInPandas` pass
scans each span once with a compiled leftmost-longest automaton.

Matching semantics (shared with the pandas oracle and the DuckDB oracle):
  * word-boundary (\\b) matches over lower-cased text;
  * leftmost-longest, non-overlapping — realized by a single alternation
    regex with alternatives sorted longest-first (ontology_data.alternation),
    which makes Python `re`, RE2 (DuckDB) and an Aho-Corasick automaton all
    agree because the gazetteer is token-substring-free (asserted in tests).

Scale notes:
  * the automaton compiles once per executor process (module-level cache),
    amortized over all Arrow batches — never per row (SURVEY §4.3). On a
    real cluster the surface list ships with --py-files (deterministic
    constants) or as a SparkContext.broadcast of the gazetteer snapshot.
  * input is column-pruned before the Arrow boundary: only
    (doc_id, pos, kind, text) cross into Python; spans.media_ref/offset
    never pay the serialization cost.
  * NER applies to kind in ('text','figure','table') — captions contribute
    mentions (figure/table caption extraction, pdf_parser.py:1356,
    xml_parser.py:2302/2372); references do not.
  * detect_mentions emits a row per mention of every span, for the
    mention queries. The triples path runs no Python: relations.ENDPOINTS
    matches relations.NER_PATTERN in the JVM, whose \\b is not Python's
    ('²' is no word character there, a combining mark is one), so its
    patterns spell Python's boundary as lookarounds. The DuckDB oracle
    SQL keeps ner_pattern() and RE2's ASCII-only \\b.
  * m_off counts code points of the lower-cased text (Python str), the
    unit relations measures the phrase offset p0 in.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ontology_data import alternation, surfaces

MENTION_SCHEMA = ("doc_id string, pos int, kind string, m_off int, "
                  "surface string")

NER_KINDS = ("text", "figure", "table")


@lru_cache(maxsize=4)
def _compiled(surface_tuple: tuple[str, ...]) -> re.Pattern:
    return re.compile(r"\b(" + alternation(list(surface_tuple)) + r")\b")


# above this many surfaces, CPython `re` alternation (which retries
# alternatives per position) loses to the linear-scan automaton; below
# it the C regex engine's constant factor wins. The outputs are
# identical (tests/test_automaton.py) — this is purely a cost switch.
AC_SURFACE_THRESHOLD = 5000


@lru_cache(maxsize=4)
def _compiled_ac(surface_tuple: tuple[str, ...]):
    from .automaton import AhoCorasick
    return AhoCorasick(surface_tuple)


def _matcher(surface_tuple: tuple[str, ...]):
    """text -> [(offset, surface), ...]; regex alternation for small
    gazetteers, Aho-Corasick beyond AC_SURFACE_THRESHOLD (a real
    1e5-1e6-surface ontology). Both compile once per executor process
    via the lru_cache."""
    if len(surface_tuple) >= AC_SURFACE_THRESHOLD:
        return _compiled_ac(surface_tuple).finditer
    pat = _compiled(surface_tuple)

    def finditer(text: str) -> list[tuple[int, str]]:
        return [(m.start(), m.group(1)) for m in pat.finditer(text)]

    return finditer


def ner_pattern() -> str:
    """The exact pattern string; shared with the DuckDB oracle SQL."""
    return r"\b(" + alternation(surfaces()) + r")\b"


def jvm_word_bounded(words: list[str]) -> str:
    """`words` (of [a-z0-9 ], starting and ending with a word character)
    as JDK regex, bounded as Python's str \\b bounds them. The lookbehind
    reads two UTF-16 units (with one it would miss a letter outside the
    BMP); the first-character lookahead keeps it off most positions."""
    first = "".join(sorted({w[0] for w in words}))
    return (f"(?=[{first}])" + r"(?<![\p{L}\p{N}_]{1,2})("
            + alternation(words) + r")(?![\p{L}\p{N}_])")


def _ner_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    find = _matcher(tuple(surfaces()))
    for pdf in batches:
        doc_ids, poss, kinds, offs, surfs = [], [], [], [], []
        for doc_id, pos, kind, text in zip(
                pdf["doc_id"], pdf["pos"], pdf["kind"], pdf["text"]):
            if text:
                for off, surf in find(text.lower()):
                    doc_ids.append(doc_id)
                    poss.append(pos)
                    kinds.append(kind)
                    offs.append(off)
                    surfs.append(surf)
        yield pd.DataFrame({
            "doc_id": doc_ids, "pos": poss, "kind": kinds,
            "m_off": offs, "surface": surfs})


def detect_mentions(spans: DataFrame) -> DataFrame:
    """spans(doc_id, pos, kind, text, ...) -> mentions(doc_id, pos, kind,
    m_off, surface). One Arrow crossing; everything before and after stays
    JVM-side."""
    pruned = spans.filter(F.col("kind").isin(*NER_KINDS)) \
                  .select("doc_id", "pos", "kind", "text")
    return pruned.mapInPandas(_ner_batches, schema=MENTION_SCHEMA)


# --- NegEx-lite negation scoping -------------------------------------------

# trigger phrases: a mention is negated when one of these precedes it
# with at most one intervening word (Chapman et al.'s NegEx, reduced to
# its pre-UMLS core: trigger + bounded forward scope). The reference
# extracts mentions without polarity (find_terms_by_name
# models.py:2849); negation scoping is the assertion-status QC a KG
# built from scientific text needs before trusting a triple.
NEG_TRIGGERS = ("absence of", "lacking", "no", "without")


def negation_pattern() -> str:
    """Trigger→scope→surface regex shared verbatim with the DuckDB
    oracle: a trigger word, at most one intervening word, then a
    gazetteer surface (capture group 1). Alternation order matters for
    neither engine here — triggers are prefix-free and surfaces are
    longest-first via alternation()."""
    trig = "|".join(NEG_TRIGGERS)
    return (r"\b(?:" + trig + r")\s+(?:\w+\s+)?("
            + alternation(surfaces()) + r")\b")


def negation_flags(texts: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, surface, negated): every distinct
    gazetteer mention in the text, flagged negated when ANY of its
    occurrences in the document sits in a trigger's scope (standard
    NegEx aggregation: negation is per assertion, a doc asserting both
    gets the negated flag for QC review).

    Pure JVM codegen — two regexp_extract_all passes over the same
    scan (no Arrow crossing, unlike the automaton NER path: polarity
    needs only the mention SET, not offsets), one map-side-combinable
    distinct, one broadcast-sized left join per doc-surface key. Scales
    as the mention table does; no window, no collect."""
    men = (texts.select("doc_id", F.explode(
               F.regexp_extract_all(F.lower("text"),
                                    F.lit(ner_pattern()), 1))
           .alias("surface")).distinct())
    neg = (texts.select("doc_id", F.explode(
               F.regexp_extract_all(F.lower("text"),
                                    F.lit(negation_pattern()), 1))
           .alias("surface")).distinct()
           .withColumn("negated", F.lit(True)))
    return (men.join(neg, ["doc_id", "surface"], "left")
            .select("doc_id", "surface",
                    F.coalesce("negated", F.lit(False)).alias("negated")))
