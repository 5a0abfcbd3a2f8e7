"""DuckDB oracle SQL builders.

Every queries() entry in __spark_entry__.py pairs with an ANSI-SQL string
produced here. The SQL reconstructs the same deterministic inputs (spans
corpus via corpus.corpus_ctes(); gazetteer/terms/relationships as VALUES
CTEs from ontology_data) and re-derives the operator's semantics
independently of the Spark implementation.
"""

from __future__ import annotations

from . import ontology_data as OD
from .corpus import corpus_ctes
from .operators import textops as TX
from .operators.ner import ner_pattern


# single shared SQL-escaping implementation (corpus.py) — see
# corpus.sql_values docstring for why there must be exactly one
from .corpus import sql_quote as _q  # noqa: E402
from .corpus import sql_values as _values  # noqa: E402


def gaz_cte() -> str:
    rows = [
        (_q(g["surface"]), _q(g["term_id"]), _q(g["match_kind"]),
         _q(g["namespace"]), _q(g["ontology_id"]),
         str(OD.MATCH_KIND_RANK[g["match_kind"]]))
        for g in OD.gazetteer()
    ]
    return _values(rows, "gaz",
                   ["surface", "term_id", "match_kind", "namespace",
                    "ontology_id", "rank"])


def terms_cte() -> str:
    rows = [
        (_q(t["id"]), _q(t["name"]), _q(t["namespace"]),
         "TRUE" if t["is_obsolete"] else "FALSE", _q(t["replaced_by"]),
         _q(t["parents"][0]) if t["parents"] else "NULL",
         _q(t["ontology_id"]))
        for t in OD.terms()
    ]
    return _values(rows, "terms_d",
                   ["id", "name", "namespace", "is_obsolete", "replaced_by",
                    "parent", "ontology_id"])


def rels_cte() -> str:
    rows = [
        (_q(r["id"]), _q(r["subject"]), _q(r["predicate"]), _q(r["object"]),
         f"CAST({r['confidence']} AS DOUBLE)", _q(r["ontology_id"]))
        for r in OD.relationships()
    ]
    return _values(rows, "rels_d",
                   ["id", "subject", "predicate", "object", "confidence",
                    "ontology_id"])


def terms_full_cte() -> str:
    """terms_f with synonyms/xrefs as ';'-joined strings — the reference's
    own CSV-export encoding (ontology_manager.py:1213-1233) — so the SQL
    side re-derives exploded keys independently via string_split."""
    rows = [
        (_q(t["id"]), _q(t["name"]), _q(t["definition"]),
         _q(";".join(t["synonyms"])), _q(";".join(t["xrefs"])),
         _q(t["namespace"]), "TRUE" if t["is_obsolete"] else "FALSE",
         _q(t["replaced_by"]), _q(t["ontology_id"]))
        for t in OD.terms()
    ]
    return _values(rows, "terms_f",
                   ["id", "name", "definition", "synonyms", "xrefs",
                    "namespace", "is_obsolete", "replaced_by", "ontology_id"])


def terms_rdf_cte() -> str:
    """terms_r with the exact fields the full-grammar RDF document
    synthesis consumes (rdf_full.turtle_full_docs / rdfxml_full_docs):
    first-xref / first-alt scalars and ';'-joined synonyms, so the SQL
    side re-derives the expected triples independently of the
    serializer + parser under test."""
    rows = [
        (_q(t["id"]), _q(t["name"]), _q(t["definition"]),
         _q(t["namespace"]),
         "TRUE" if t["is_obsolete"] else "FALSE",
         _q(t["parents"][0]) if t["parents"] else "NULL",
         _q(";".join(t["synonyms"])),
         _q(t["xrefs"][0]) if t["xrefs"] else "NULL",
         _q(t["alt_ids"][0]) if t["alt_ids"] else "NULL",
         _q(t["ontology_id"]))
        for t in OD.terms()
    ]
    return _values(rows, "terms_r",
                   ["id", "name", "definition", "namespace",
                    "is_obsolete", "parent", "syns", "xref1", "alt1",
                    "ontology_id"])


def cc_ctes() -> str:
    """Equivalence edges + connected components (recursive reachability,
    min-id label). Requires terms_f; the statement must open with
    WITH RECURSIVE. Independent re-derivation of operators/canonicalize.py:
    same edge semantics, different algorithm (transitive closure vs
    iterative label propagation)."""
    return """
surf_k AS (
  SELECT lower(trim(name)) AS k, id FROM terms_f WHERE NOT is_obsolete
  UNION ALL
  SELECT lower(trim(u.x)) AS k, id
  FROM terms_f, unnest(string_split(synonyms, ';')) AS u(x)
  WHERE NOT is_obsolete AND synonyms <> ''
),
xr_k AS (
  SELECT u.x AS k, id FROM terms_f, unnest(string_split(xrefs, ';')) AS u(x)
  WHERE xrefs <> ''
),
eq_edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT least(a.id, b.id) AS src, greatest(a.id, b.id) AS dst
    FROM surf_k a JOIN surf_k b ON a.k = b.k AND a.id < b.id
    UNION
    SELECT least(a.id, b.id), greatest(a.id, b.id)
    FROM xr_k a JOIN xr_k b ON a.k = b.k AND a.id < b.id
    UNION
    SELECT least(id, replaced_by), greatest(id, replaced_by)
    FROM terms_f WHERE is_obsolete AND replaced_by IS NOT NULL
  ) e
),
eq_sym AS (
  SELECT src AS a, dst AS b FROM eq_edges
  UNION SELECT dst, src FROM eq_edges
),
reach(a, b) AS (
  SELECT id, id FROM terms_f
  UNION
  SELECT r.a, s.b FROM reach r JOIN eq_sym s ON s.a = r.b
),
canon AS (
  SELECT a AS id, min(b) AS canonical_id FROM reach GROUP BY a
)""".strip()


def link_cte() -> str:
    """Per-surface winning candidate: argmax(rank), tie -> min term_id —
    the disambiguation rule shared with operators/linking.py."""
    return """
link AS (
  SELECT surface, term_id, match_kind FROM (
    SELECT g.*, row_number() OVER (
      PARTITION BY surface ORDER BY rank DESC, term_id ASC) AS rn
    FROM gaz g) t
  WHERE rn = 1
)""".strip()


def phrase_pred_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {_q(ph)} THEN {_q(pred)}" for ph, pred in OD.PREDICATE_PHRASES)
    return f"CASE {col} {whens} END"


def triples_cte() -> str:
    """Triples re-derived from the generative closed form (aug2): the
    injected sentence is '<subj> <phrase> <obj>.', captions contain no
    phrase, the base corpus contains no surfaces or phrases — so
    extraction == closed form (asserted by the pytest P/R harness)."""
    return f"""
triples AS (
  SELECT a.doc AS doc_id, 1 AS pos,
         s.term_id AS subject,
         {phrase_pred_case('a.phrase')} AS predicate,
         o.term_id AS object,
         'uri' AS subject_type, 'uri' AS object_type,
         CAST(NULL AS VARCHAR) AS object_datatype,
         CAST(NULL AS VARCHAR) AS object_language,
         CASE WHEN s.match_kind = 'name' AND o.match_kind = 'name'
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.9 AS DOUBLE)
         END AS confidence,
         a.sentence AS evidence
  FROM aug2 a
  JOIN link s ON s.surface = a.subj
  JOIN link o ON o.surface = a.obj
  WHERE s.term_id <> o.term_id
)""".strip()


def corpus_prefix(*extra: str) -> str:
    parts = [corpus_ctes()] + [e for e in extra if e]
    return "WITH " + ",\n".join(parts)


def recursive_prefix(*parts: str) -> str:
    """WITH RECURSIVE prefix for statements using cc_ctes (no corpus)."""
    return "WITH RECURSIVE " + ",\n".join(p for p in parts if p)


def corpus_prefix_recursive(*extra: str) -> str:
    parts = [corpus_ctes()] + [e for e in extra if e]
    return "WITH RECURSIVE " + ",\n".join(parts)


# ---------------------------------------------------------------------------
# textops CTE builders (tokenization / shingling rules mirrored from
# operators/textops.py — same md5 + lexicographic-min hashing)
# ---------------------------------------------------------------------------

ADOC_CTE = """
adoc AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' near duplicate copy'
  FROM documents WHERE doc_id % 10 = 5
)""".strip()

# decorations.containment_docs twin: documents + snippet docs whose
# text is the source's first 25 lowercased tokens
CDOC_CTE = """
cdoc AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000,
         array_to_string(list_slice(
             list_filter(regexp_split_to_array(lower(trim(text)),
                                               '\\s+'), t -> t <> ''),
             1, 25), ' ')
  FROM documents WHERE doc_id % 13 = 3
)""".strip()


def tok_cte(src: str, name: str = "tok") -> str:
    return f"""
{name} AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM {src}
)""".strip()


def _sh_expr(w: int) -> str:
    return (f"CASE WHEN len(toks) >= {w} THEN "
            f"list_transform(generate_series(1, len(toks) - {w - 1}), "
            f"i -> array_to_string(toks[i:i + {w - 1}], ' ')) "
            f"ELSE [array_to_string(toks, ' ')] END")


def _quality_expr() -> str:
    """The combined quality score over (text, toks) — textually identical
    to the doc_quality oracle's quality_score column (textops.
    quality_score_col is the Spark twin)."""
    stops = ",".join(_q(s) for s in TX.STOPWORDS_EN)
    return (
        "round(0.4 * least(len(toks) / 100.0, 1.0)"
        " + 0.3 * (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))"
        " / length(text))"
        f" + 0.3 * (len(list_filter(toks, t -> list_contains([{stops}], t)))"
        " / len(toks)), 6)")


def _minhash_pair_ctes() -> str:
    """Reusable CTE chain adoc -> tok -> sg -> shx -> sig -> bands ->
    cand -> sets_ -> pairs(a, b, jaccard): the verified MinHash-LSH
    near-dup pairs over the augmented corpus (same one-md5
    permuted-alphabet family as textops.minhash_signatures: base =
    md5(shingle); mh_i = min(translate(base, hex, perm_i)))."""
    r = TX.MINHASH_K // TX.MINHASH_BANDS
    mh_exprs = ",".join(
        f"min(translate(h, '{TX.HEX_DIGITS}', '{TX.MINHASH_PERMS[i]}'))"
        f" AS mh{i}"
        for i in range(TX.MINHASH_K))
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, "
        f"md5({' || '.join(f'mh{b * r + j}' for j in range(r))})"
        f" AS band_key FROM sig"
        for b in range(TX.MINHASH_BANDS))
    return (
        f"{ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, {_sh_expr(TX.SHINGLE_W)} AS sh FROM tok),\n"
        f"shx AS (SELECT doc_id, md5(unnest(list_distinct(sh))) AS h"
        f" FROM sg),\n"
        f"sig AS (SELECT doc_id, {mh_exprs} FROM shx GROUP BY doc_id),\n"
        f"bands AS (\n{band_selects}\n),\n"
        """cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id),
sets_ AS (SELECT doc_id, list_distinct(sh) AS s FROM sg),
pairs AS (SELECT a, b, jaccard FROM (
  SELECT a, b,
         round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))),
               6) AS jaccard
  FROM cand JOIN sets_ sa ON sa.doc_id = a JOIN sets_ sb ON sb.doc_id = b
) v WHERE jaccard >= """ + str(TX.NEAR_DUP_THRESHOLD) + ")")


def _textops_sqls() -> dict[str, str]:
    sqls = {}

    sqls["doc_exact_dedup"] = f"WITH {ADOC_CTE}" + """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM adoc GROUP BY 1 HAVING count(*) > 1"""

    sqls["doc_minhash_lsh"] = (
        f"WITH {_minhash_pair_ctes()}\n"
        "SELECT a, b, jaccard FROM pairs")

    # incremental == full: the oracle recomputes ALL pairs from scratch
    # and keeps those touching a delta doc (doc_id%10 < 3) — parity
    # proves the engine's delta x corpus band join reproduces the full
    # recompute restricted to added pairs
    sqls["doc_minhash_delta"] = (
        f"WITH {_minhash_pair_ctes()}\n"
        "SELECT a, b, jaccard FROM pairs "
        "WHERE a % 10 < 3 OR b % 10 < 3")

    # store-backed delta: IDENTICAL expected output — incremental over
    # the published bucketed store must equal the full recompute
    # restricted to delta-touching pairs, same as the recompute path
    sqls["doc_minhash_delta_store"] = sqls["doc_minhash_delta"]

    # minhash calibration: estimate (component-collision fraction) vs
    # true jaccard over the UNthresholded candidate set, 2-SE verdict
    est_expr = ("(" + " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(TX.MINHASH_K)) +
        f") / CAST({TX.MINHASH_K} AS DOUBLE)")
    sqls["doc_minhash_calibration"] = (
        f"WITH {_minhash_pair_ctes()},\n"
        f"""cal AS (
  SELECT {est_expr} AS est,
         CAST(len(list_intersect(xa.s, xb.s)) AS DOUBLE)
           / (len(xa.s) + len(xb.s) - len(list_intersect(xa.s, xb.s)))
           AS tj
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.a
  JOIN sig sb ON sb.doc_id = cand.b
  JOIN sets_ xa ON xa.doc_id = cand.a
  JOIN sets_ xb ON xb.doc_id = cand.b)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(tj), 6) AS mean_true,
       round(avg(est), 6) AS mean_est,
       round(avg(abs(est - tj)), 6) AS mean_abs_err,
       round(max(abs(est - tj)), 6) AS max_abs_err,
       round(avg(CASE WHEN abs(est - tj)
                      <= 2.0 * sqrt(tj * (1.0 - tj)
                                    / {TX.MINHASH_K}) + 1e-9
                 THEN 1.0 ELSE 0.0 END), 6) AS within_2se_frac
FROM cal""")

    # doc_ngram_jaccard: inverted-index candidates over sub-cap
    # shingles, exact jaccard over the full distinct-shingle sets —
    # independent re-derivation of textops.ngram_jaccard_pairs
    sqls["doc_ngram_jaccard"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, list_distinct({_sh_expr(TX.SHINGLE_W)})"
        f" AS sh FROM tok),\n"
        "inv AS (SELECT doc_id, unnest(sh) AS s FROM sg),\n"
        f"rare AS (SELECT s FROM inv GROUP BY s"
        f" HAVING count(*) <= {TX.NGRAM_DF_CAP}),\n"
        "capped AS (SELECT i.doc_id, i.s FROM inv i"
        " JOIN rare r ON r.s = i.s),\n"
        """cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id)
SELECT a, b, jaccard FROM (
  SELECT a, b,
         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh)
                  - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
  FROM cand JOIN sg sa ON sa.doc_id = a JOIN sg sb ON sb.doc_id = b
) v WHERE jaccard >= """ + str(TX.NEAR_DUP_THRESHOLD))

    # doc_ngram_containment: asymmetric |A∩B|/|A| over the snippet-
    # planted corpus — candidates from the same sub-cap inverted index,
    # verdicts on both directions (textops.ngram_containment_pairs)
    th = str(TX.CONTAINMENT_THRESHOLD)
    sqls["doc_ngram_containment"] = (
        f"WITH {CDOC_CTE},\n{tok_cte('cdoc')},\n"
        f"sg AS (SELECT doc_id, list_distinct({_sh_expr(TX.SHINGLE_W)})"
        f" AS sh FROM tok),\n"
        "inv AS (SELECT doc_id, unnest(sh) AS s FROM sg),\n"
        f"rare AS (SELECT s FROM inv GROUP BY s"
        f" HAVING count(*) <= {TX.NGRAM_DF_CAP}),\n"
        "capped AS (SELECT i.doc_id, i.s FROM inv i"
        " JOIN rare r ON r.s = i.s),\n"
        f"""cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id),
v AS (
  SELECT a, b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / len(sa.sh) AS cont_ab,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / len(sb.sh) AS cont_ba
  FROM cand JOIN sg sa ON sa.doc_id = a JOIN sg sb ON sb.doc_id = b)
SELECT a, b, round(cont_ab, 6) AS cont_ab, round(cont_ba, 6) AS cont_ba,
       CASE WHEN cont_ab >= {th} AND cont_ba >= {th} THEN 'both'
            WHEN cont_ab >= {th} THEN 'a_in_b'
            ELSE 'b_in_a' END AS direction
FROM v WHERE greatest(cont_ab, cont_ba) >= {th}""")

    sqls["doc_dedup_eval"] = (
        f"WITH {_minhash_pair_ctes()},\n"
        """truth AS (
  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
  WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 10 = 5),
counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_planted,
         (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pred,
         (SELECT CAST(count(*) AS BIGINT)
          FROM truth t JOIN pairs p ON p.a = t.a AND p.b = t.b)
           AS n_overlap)
SELECT n_planted, n_pred, n_overlap,
       round(CAST(n_overlap AS DOUBLE) / n_planted, 6)
         AS planted_recall,
       round(CAST(n_overlap AS DOUBLE) / n_pred, 6)
         AS pred_planted_frac
FROM counts""")

    from .operators.textops import CDC_MASK, CDC_W
    sqls["doc_cdc_chunks"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, {_sh_expr(CDC_W)} AS sh FROM tok),\n"
        "g AS (SELECT doc_id, unnest(sh) AS gram,\n"
        "             unnest(range(0, len(sh))) AS pos FROM sg),\n"
        "mk AS (SELECT doc_id, pos, gram,\n"
        "              CASE WHEN CAST(concat('0x', substr(md5(gram),"
        f" 1, 8)) AS BIGINT) % {CDC_MASK + 1} = 0"
        " THEN 1 ELSE 0 END AS brk FROM g),\n"
        """cidd AS (
  SELECT doc_id, pos, gram,
         coalesce(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM mk),
chunks AS (
  SELECT doc_id, chunk_id,
         md5(string_agg(gram, ' ' ORDER BY pos)) AS chash
  FROM cidd GROUP BY 1, 2),
dfq AS (SELECT chash, count(DISTINCT doc_id) AS cdf
        FROM chunks GROUP BY 1)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN cdf > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_chunks,
       round(CAST(sum(CASE WHEN cdf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS shared_frac
FROM chunks c JOIN dfq USING (chash)
GROUP BY 1""")

    from .operators.textops import PREFIX_KS
    _probe = """
SELECT CAST({k} AS INT) AS k,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_prefixes,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
         AS n_shared_docs,
       round(CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                  AS DOUBLE) / sum(cnt), 6) AS shared_frac,
       CAST(sum(cnt - 1) * {k} AS BIGINT) AS est_saved_tokens
FROM (SELECT md5(array_to_string(toks[1:{k}], ' ')) AS p,
             count(*) AS cnt
      FROM tok WHERE len(toks) >= {k} GROUP BY 1) g"""
    sqls["doc_prefix_cache"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')}\n"
        + "\nUNION ALL\n".join(_probe.format(k=k).strip()
                               for k in PREFIX_KS))

    from .decorations import license_docs_sql
    from .operators.textops import COPYLEFT, LICENSE_RULES
    _lic_case = ("CASE "
                 + " ".join(f"WHEN contains(lower(text), '{pat}') "
                            f"THEN '{name}'"
                            for name, pat in LICENSE_RULES)
                 + " ELSE 'none' END")
    _cl_in = ", ".join(f"'{c}'" for c in COPYLEFT)
    sqls["doc_license_detect"] = f"""
WITH {license_docs_sql()}
SELECT doc_id, {_lic_case} AS license,
       ({_lic_case}) IN ({_cl_in}) AS copyleft
FROM licd""".strip()

    from .operators.textops import MIX_BUDGET, MIX_ETA
    sqls["doc_mixture_reweight"] = f"""
WITH tokc AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents),
tok2 AS (SELECT source, unnest(toks) AS t FROM tokc),
counts AS (SELECT t, count(*) AS tf FROM tok2 GROUP BY 1),
total AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM counts),
lp AS (SELECT source, ln(tf / total.total) AS lp
       FROM tok2 JOIN counts USING (t), total),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
               -avg(lp) AS h_src
        FROM lp GROUP BY 1),
hall AS (SELECT -avg(lp) AS h_all FROM lp),
ex AS (SELECT source, n_tokens, h_src, h_src - h_all AS excess,
              exp({MIX_ETA} * (h_src - h_all)) AS w_raw
       FROM per, hall),
z AS (SELECT sum(w_raw) AS z FROM ex)
SELECT source, n_tokens, round(h_src, 6) AS h_source,
       round(excess, 6) AS excess,
       round(w_raw / z.z, 6) AS weight,
       CAST(floor({float(MIX_BUDGET)} * w_raw / z.z) AS BIGINT)
         AS alloc_docs
FROM ex, z""".strip()

    from .operators.textops import (READ_DIFFICULT, READ_EASY,
                                    READ_STANDARD)
    _rease = ("round(206.835"
              " - 1.015 * (CAST(len(toks) AS DOUBLE)"
              " / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))"
              " - 84.6 * (CAST(len(regexp_extract_all(lower(text),"
              " '[aeiouy]+')) AS DOUBLE) / len(toks)), 6)")
    sqls["doc_reading_ease"] = f"WITH {tok_cte('documents')}" + f"""
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
            AS BIGINT) AS n_sentences,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
            AS BIGINT) AS n_syllables,
       {_rease} AS ease,
       CASE WHEN {_rease} >= {READ_EASY} THEN 'easy'
            WHEN {_rease} >= {READ_STANDARD} THEN 'standard'
            WHEN {_rease} >= {READ_DIFFICULT} THEN 'difficult'
            ELSE 'very_difficult' END AS bucket
FROM tok"""

    from .operators.textops import NOVELTY_W
    sqls["doc_ngram_novelty"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, list_distinct({_sh_expr(NOVELTY_W)})"
        " AS sh FROM tok),\n"
        "g AS (SELECT doc_id, unnest(sh) AS s FROM sg),\n"
        "dfq AS (SELECT s, count(*) AS df FROM g GROUP BY 1)\n"
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,\n"
        "       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_unique,\n"
        "       round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)"
        " AS DOUBLE) / count(*), 6) AS novelty\n"
        "FROM g JOIN dfq USING (s) GROUP BY 1")

    # doc_winnowing: MOSS winnowing fingerprints — per-window min-hash
    # selection (rightmost on ties, mirrored by ORDER BY h ASC, pos
    # DESC), df-capped inverted-index pair join (textops.winnowing_pairs)
    from .operators.textops import (WINNOW_DF_CAP, WINNOW_K,
                                    WINNOW_MIN_SHARED, WINNOW_W)
    sqls["doc_winnowing"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, {_sh_expr(WINNOW_K)} AS sh FROM tok),\n"
        "g AS (SELECT doc_id, len(sh) AS ng, unnest(sh) AS gram,\n"
        "             unnest(range(0, len(sh))) AS pos FROM sg),\n"
        "hh AS (SELECT doc_id, ng, pos,\n"
        "              CAST(concat('0x', substr(md5(gram), 1, 8))\n"
        "                   AS BIGINT) AS h FROM g),\n"
        f"""wins AS (
  SELECT doc_id, pos, h,
         unnest(generate_series(greatest(pos - {WINNOW_W - 1}, 0),
                least(pos, greatest(ng - {WINNOW_W}, 0)))) AS s
  FROM hh),
sel AS (SELECT doc_id, s, h, row_number() OVER (
          PARTITION BY doc_id, s ORDER BY h ASC, pos DESC) AS rn
        FROM wins),
fps AS (SELECT DISTINCT doc_id, h FROM sel WHERE rn = 1),
hot AS (SELECT h FROM fps GROUP BY h
        HAVING count(*) > {WINNOW_DF_CAP}),
kept AS (SELECT doc_id, h FROM fps
         WHERE h NOT IN (SELECT h FROM hot))
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM kept x JOIN kept y ON y.h = x.h AND x.doc_id < y.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}""")

    # doc_dup_spans: ExactSubstr-style per-doc duplicated-span stats —
    # w-grams with global count >= 2 mark [pos, pos+w); gaps-and-islands
    # merge (break when pos > lag(pos) + w, identical to the Spark
    # aggregate's merge rule in textops.dup_span_excision)
    wd = TX.FP_SHINGLE_W
    sqls["doc_dup_spans"] = (
        f"WITH {CDOC_CTE},\n{tok_cte('cdoc')},\n"
        f"sg AS (SELECT doc_id, toks, {_sh_expr(wd)} AS sh FROM tok),\n"
        "g AS (SELECT doc_id, unnest(sh) AS s,\n"
        "             unnest(range(0, len(sh))) AS pos FROM sg),\n"
        "dup AS (SELECT s FROM g GROUP BY s HAVING count(*) >= 2),\n"
        "h AS (SELECT doc_id, pos FROM g JOIN dup USING (s)),\n"
        f"""isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                   OR pos > lag(pos) OVER w + {wd} THEN 1 ELSE 0 END AS brk
  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
grp AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        FROM isl),
spans AS (SELECT doc_id, gid, max(pos) - min(pos) + {wd} AS cov
          FROM grp GROUP BY doc_id, gid),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
               CAST(sum(cov) AS BIGINT) AS cov
        FROM spans GROUP BY doc_id)
SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       coalesce(n_dup_spans, 0) AS n_dup_spans,
       least(coalesce(cov, 0), len(toks)) AS dup_tokens,
       round(least(coalesce(cov, 0), len(toks))
             / CAST(len(toks) AS DOUBLE), 6) AS dup_frac
FROM tok t LEFT JOIN per ON per.doc_id = t.doc_id""")

    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(td, t -> CASE WHEN "
        f"substring(md5(t), {k + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << k} ELSE 0 END)"
        for k in range(16))
    sqls["doc_simhash_clusters"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sh AS (SELECT doc_id, CAST({bits} AS INT) AS simhash "
        f"FROM (SELECT doc_id, list_distinct(toks) AS td FROM tok) d)\n"
        """SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc
FROM sh GROUP BY 1 HAVING count(*) > 1""")

    # 64-bit simhash: same 2-bits-per-md5-hex-digit rule as
    # textops._bit_test, independent recursion-free re-derivation
    def bit64(k: int) -> str:
        i = k // 2 + 1
        if k % 2 == 0:
            return f"substring(h, {i}, 1) >= '8'"
        return (f"substring(h, {i}, 1) IN "
                f"('4','5','6','7','c','d','e','f')")

    c_exprs = ",\n  ".join(
        f"sum(CASE WHEN {bit64(k)} THEN 1 ELSE -1 END) AS c{k}"
        for k in range(64))
    band_exprs = ",\n  ".join(
        "CAST(" + " + ".join(
            f"(CASE WHEN coalesce(c{b * 16 + j}, 0) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(16)) + f" AS INT) AS band{b}"
        for b in range(TX.SIMHASH64_BANDS))
    bx_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, band{b} AS band_val FROM bands"
        for b in range(TX.SIMHASH64_BANDS))
    ham = " + ".join(
        f"bit_count(xor(ba.band{i}, bb.band{i}))"
        for i in range(TX.SIMHASH64_BANDS))
    sqls["doc_simhash_neardup"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        "tokh AS (SELECT doc_id, md5(unnest(list_distinct(toks))) AS h"
        " FROM tok),\n"
        f"contrib AS (SELECT doc_id,\n  {c_exprs}\nFROM tokh"
        " GROUP BY doc_id),\n"
        f"bands AS (SELECT t.doc_id,\n  {band_exprs}\n"
        "FROM (SELECT DISTINCT doc_id FROM tok) t"
        " LEFT JOIN contrib USING (doc_id)),\n"
        f"bx AS (\n{bx_selects}\n),\n"
        """cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bx a JOIN bx b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT a, b, CAST(""" + ham + f""" AS INT) AS hamming
FROM cand JOIN bands ba ON ba.doc_id = a JOIN bands bb ON bb.doc_id = b
WHERE {ham} <= {TX.HAMMING_MAX}""")

    sqls["doc_bpe_merge_pairs"] = f"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words
       WHERE length(w) >= 2 GROUP BY 1),
grams AS (SELECT freq,
                 unnest(list_transform(range(1, length(w)),
                        i -> substr(w, CAST(i AS INT), 2))) AS pair
          FROM wc)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM grams GROUP BY 1
HAVING sum(freq) >= {TX.BPE_PAIR_MIN}"""

    sqls["doc_bpe_tokens"] = f"WITH {tok_cte('documents')}" + f"""
SELECT doc_id, CAST(len(toks) AS INT) AS n_words,
       CAST(len(regexp_extract_all(lower(text), '{TX.BPE_ISH_PATTERN}'))
            AS INT) AS n_subtokens,
       round(CAST(len(regexp_extract_all(lower(text),
                                         '{TX.BPE_ISH_PATTERN}'))
                  AS DOUBLE) / len(toks), 6) AS subtoken_ratio
FROM tok"""

    sqls["doc_token_stats"] = f"WITH {tok_cte('documents')}" + """
SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars,
       round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
             / len(toks), 6) AS avg_token_len
FROM tok"""

    from .operators.textops import (BM25_B, BM25_K1, BM25_QUERY,
                                    BM25_TOP_K)
    q_in = ", ".join(_q(t) for t in BM25_QUERY)
    sqls["doc_bm25_search"] = f"WITH {tok_cte('documents')}" + f""",
tok2 AS (SELECT doc_id, unnest(toks) AS t FROM tok),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok2
       WHERE t IN ({q_in}) GROUP BY 1, 2),
dfreq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln((nd.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * (tf.tf * {BM25_K1 + 1.0})
           / (tf.tf + {BM25_K1}
              * ({1.0 - BM25_B} + {BM25_B} * dl.dl / avgdl.avgdl))
         ), 6) AS score
  FROM tf JOIN dfreq USING (t) JOIN dl ON dl.doc_id = tf.doc_id,
       avgdl, nd
  GROUP BY 1)
SELECT CAST(row_number()
            OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, score
FROM (SELECT * FROM scored
      ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOP_K})"""

    sqls["doc_unigram_logloss"] = f"WITH {tok_cte('documents')}" + """,
tok2 AS (SELECT doc_id, unnest(toks) AS t FROM tok),
counts AS (SELECT t, count(*) AS tf FROM tok2 GROUP BY 1),
total AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM counts)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(-avg(ln(counts.tf / total.total)), 6) AS cross_entropy
FROM tok2 JOIN counts USING (t), total
GROUP BY doc_id"""

    from .operators.textops import CTFIDF_TOP_N
    sqls["doc_ctfidf_topics"] = f"""
WITH tokc AS (
  SELECT source AS cls,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents),
tok2 AS (SELECT cls, unnest(toks) AS t FROM tokc),
tfc AS (SELECT cls, t, CAST(count(*) AS BIGINT) AS tf
        FROM tok2 GROUP BY 1, 2),
ft AS (SELECT t, CAST(sum(tf) AS BIGINT) AS f_t FROM tfc GROUP BY 1),
a AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT cls) AS act
      FROM tfc),
scored AS (
  SELECT cls, t, tf, round(tf * ln(1.0 + a.act / f_t), 6) AS score
  FROM tfc JOIN ft USING (t), a)
SELECT cls AS source, t AS term, tf, score, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY cls ORDER BY score DESC, t ASC) AS rank
      FROM scored) r
WHERE rank <= {CTFIDF_TOP_N}""".strip()

    from .operators.textops import VOCAB_TOP_N
    sqls["doc_vocabulary"] = f"WITH {tok_cte('documents')}" + f""",
tok2 AS (SELECT doc_id, unnest(toks) AS token FROM tok),
per_doc AS (SELECT doc_id, token, count(*) AS n FROM tok2 GROUP BY 1, 2),
stats AS (SELECT token, CAST(sum(n) AS BIGINT) AS tf,
                 CAST(count(*) AS BIGINT) AS df
          FROM per_doc GROUP BY 1),
total AS (SELECT CAST(sum(tf) AS DOUBLE) AS total_tf FROM stats),
top AS (SELECT token, tf, df FROM stats
        ORDER BY tf DESC, token ASC LIMIT {VOCAB_TOP_N})
SELECT CAST(row_number()
            OVER (ORDER BY tf DESC, token ASC) AS BIGINT) AS rank,
       token, tf, df,
       round(CAST(sum(tf) OVER (ORDER BY tf DESC, token ASC
                                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / (SELECT total_tf FROM total), 6) AS cum_frac
FROM top"""

    stops = ",".join(_q(s) for s in TX.STOPWORDS_EN)
    sqls["doc_quality"] = f"WITH {tok_cte('documents')}" + f"""
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
             / length(text), 6) AS punct_ratio,
       round(len(list_filter(toks, t -> list_contains([{stops}], t)))
             / len(toks), 6) AS stop_ratio,
       round(0.4 * least(len(toks) / 100.0, 1.0)
             + 0.3 * (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                          / length(text))
             + 0.3 * (len(list_filter(toks, t -> list_contains([{stops}], t)))
                      / len(toks)), 6) AS quality_score
FROM tok"""

    # hashed-BoW linear quality classifier: dyadic-rational weights and
    # capped integer counts make every term/sum EXACT in float64, so
    # margins are order-independent and engine-identical (textops
    # float-parity note on quality_classifier)
    sqls["doc_quality_classifier"] = f"WITH {tok_cte('documents')}" + f""",
ex AS (
  SELECT doc_id, unnest(toks) AS tok FROM tok),
bkt AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
           % {TX.N_HASH_FEATURES} AS b,
         count(*) AS cnt
  FROM ex GROUP BY 1, 2),
per AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         sum(((b * {TX.HASH_WEIGHT_MULT}) % 2048 - 1024) / 1024.0
             * least(cnt, {TX.FEATURE_COUNT_CAP})) AS margin
  FROM bkt GROUP BY 1)
SELECT doc_id, n_tokens, round(margin, 6) AS margin,
       margin >= 0 AS keep
FROM per"""

    # heavy hitters: the engine's Space-Saving pass only PRUNES (its
    # candidate set provably contains every token with count > N/k and
    # sketch counts are discarded), so the exact-recompute oracle is
    # the full contract, not an approximation allowance
    sqls["doc_heavy_hitters"] = f"WITH {tok_cte('documents')}" + f""",
ex AS (SELECT unnest(toks) AS tok FROM tok),
tot AS (SELECT count(*) AS n FROM ex),
cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY 1)
SELECT tok AS token, cnt,
       round(cnt / (SELECT CAST(n AS DOUBLE) FROM tot), 6) AS freq
FROM cnts WHERE cnt * {TX.HH_K} > (SELECT n FROM tot)"""

    # lexicon safety filter over planted hits (decorations.safety_docs)
    sl_case = "CASE doc_id % 33 " + " ".join(
        f"WHEN {i * 11} THEN {_q(f' warning: {w} residue detected.')}"
        for i, w in enumerate(TX.SAFETY_LEXICON)) + " END"
    sl_list = ", ".join(_q(w) for w in TX.SAFETY_LEXICON)
    sqls["doc_safety_filter"] = f"""
WITH sdoc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN text || {sl_case}
              ELSE text END AS text
  FROM documents),
{tok_cte('sdoc')}
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, t -> list_contains([{sl_list}], t)))
            AS BIGINT) AS n_flagged,
       round(CAST(len(list_filter(toks,
                t -> list_contains([{sl_list}], t))) AS DOUBLE)
             / len(toks), 6) AS flagged_frac,
       CAST(CASE WHEN len(list_filter(toks,
              t -> list_contains([{sl_list}], t))) = 0
            THEN 1 ELSE 0 END AS INT) AS keep
FROM tok"""

    # Schwartz-Hearst abbreviation extraction over planted definition
    # sites (decorations.abbrev_docs): trailing-|SHORT|-words acronym
    # validation, (abbr, long_form) dictionary rollup
    from . import decorations as _DC
    from .operators import textmeta as _TM
    _ab_mod = 9 * len(_DC.ABBREV_SNIPPETS)
    snip_case = f"CASE doc_id % {_ab_mod} " + " ".join(
        f"WHEN {i * 9} THEN {_q(f' {lf} ({sf}) assay.')}"
        for i, (lf, sf) in enumerate(_DC.ABBREV_SNIPPETS)) + " END"
    ab_chain = f"""abdoc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN text || {snip_case}
              ELSE text END AS text
  FROM documents),
absites AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{_TM.ABBREV_PAT}')) AS site
  FROM abdoc),
abp AS (
  SELECT doc_id, regexp_extract(site, '\\(([A-Z]+)\\)', 1) AS abbr,
         string_split(trim(string_split(site, ' (')[1]), ' ') AS words
  FROM absites),
abv AS (
  SELECT doc_id, abbr,
         array_to_string(words[len(words) - length(abbr) + 1
                               : len(words)], ' ') AS long_form,
         upper(array_to_string(list_transform(
           words[len(words) - length(abbr) + 1 : len(words)],
           w -> substring(w, 1, 1)), '')) AS acro,
         len(words) AS nw, length(abbr) AS k
  FROM abp),
abd AS (
  SELECT abbr, long_form,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM abv WHERE nw >= k AND acro = abbr GROUP BY 1, 2)"""
    sqls["doc_abbreviations"] = (f"WITH {ab_chain}\n"
                                 "SELECT abbr, long_form, n_docs FROM abd")

    # gazetteer expansion from the abbreviation dictionary
    # (gazetteer.gazetteer_expansion): pairs whose long form is a known
    # surface donate lower(abbr) as a new surface for the winning term
    sqls["gazetteer_expansion"] = f"WITH {gaz_cte()},\n{ab_chain}" + """,
gw AS (
  SELECT surface, term_id FROM (
    SELECT surface, term_id, row_number() OVER (
      PARTITION BY surface ORDER BY rank DESC, term_id ASC) AS rn
    FROM gaz) x WHERE rn = 1)
SELECT lower(a.abbr) AS surface, w.term_id, a.long_form, a.n_docs
FROM abd a JOIN gw w ON w.surface = a.long_form
WHERE lower(a.abbr) NOT IN (SELECT surface FROM gaz)"""

    # mojibake QC: planted corruption (decorations.mojibake_docs) +
    # exact literal marker-count arithmetic per doc
    _mk = TX.MOJIBAKE_MARKERS
    moji_n = " + ".join(
        f"CAST((length(text) - length(replace(text, {_q(mk)}, '')))"
        f" / {len(mk)} AS BIGINT)" for mk in _mk)
    sqls["doc_mojibake"] = f"""
WITH mdoc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN t1 || ' ' || {_q(_mk[3])}
              ELSE t1 END AS text
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0
                THEN replace(text, 'e', {_q(_mk[1])})
                ELSE text END AS t1
    FROM documents) i)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       ({moji_n}) AS n_mojibake,
       CAST(CASE WHEN ({moji_n}) > 0 THEN 1 ELSE 0 END AS INT)
         AS is_corrupt
FROM mdoc"""

    # Count-Min sketch rebuilt in full: md5-nibble bucket per hash row,
    # D x W counter table, est = min over rows — estimates themselves
    # hash-match (textops.cms_probe)
    def _cms_b(d: int) -> str:
        h = f"md5('{d}:' || tok)"

        def nib(pos: int) -> str:
            return (f"(strpos('0123456789abcdef', "
                    f"substring({h}, {pos}, 1)) - 1)")

        return (f"(({nib(1)} * 256 + {nib(2)} * 16 + {nib(3)})"
                f" % {TX.CMS_W})")

    cbuk = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_b(d)} AS b, cnt FROM ccnt"
        for d in range(TX.CMS_D))
    pbuk = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_b(d)} AS b, tok, cnt FROM probe"
        for d in range(TX.CMS_D))
    sqls["doc_cms_probe"] = f"WITH {tok_cte('documents')}" + f""",
cex AS (SELECT unnest(toks) AS tok FROM tok),
ccnt AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM cex GROUP BY 1),
ctot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM ccnt),
ctr AS MATERIALIZED (
  SELECT d, b, sum(cnt) AS c FROM ({cbuk}) GROUP BY 1, 2),
probe AS MATERIALIZED (
  SELECT tok, cnt FROM ccnt ORDER BY cnt DESC, tok ASC
  LIMIT {TX.CMS_PROBE_K}),
cest AS (
  SELECT p.tok, p.cnt, min(t.c) AS est
  FROM ({pbuk}) p JOIN ctr t USING (d, b) GROUP BY 1, 2)
SELECT tok AS token, cnt AS exact, CAST(est AS BIGINT) AS est,
       CAST(est - cnt AS BIGINT) AS overcount,
       CAST(CASE WHEN (est - cnt) <=
              2.718281828459045 / {TX.CMS_W} * (SELECT n FROM ctot)
            THEN 1 ELSE 0 END AS INT) AS within_bound
FROM cest"""

    langs = sorted(TX.LANG_WORDLISTS)
    hit_exprs = ",\n       ".join(
        f"CAST(len(list_filter(toks, t -> list_contains("
        f"[{','.join(_q(w) for w in TX.LANG_WORDLISTS[la])}], t))) AS INT)"
        f" AS h_{la}"
        for la in langs)
    best = "greatest(" + ", ".join(f"h_{la}" for la in langs) + ")"
    pred_whens = " ".join(
        f"WHEN h_{la} = {best} THEN '{la}'" for la in langs)
    sqls["doc_lang_id"] = (
        f"WITH {tok_cte('documents')},\n"
        f"h AS (SELECT doc_id,\n       {hit_exprs}\nFROM tok)\n"
        f"SELECT doc_id,\n"
        f"       CASE WHEN {best} < 2 THEN 'und' {pred_whens} END"
        f" AS lang_pred,\n"
        f"       {', '.join(f'h_{la}' for la in langs)}\nFROM h")

    sqls["lang_confusion"] = (
        f"WITH {tok_cte('documents')},\n"
        f"h AS (SELECT doc_id,\n       {hit_exprs}\nFROM tok),\n"
        f"conf AS (SELECT d.lang,\n"
        f"  CASE WHEN {best} < 2 THEN 'und' {pred_whens} END AS lang_pred\n"
        f"  FROM h JOIN documents d USING (doc_id)),\n"
        f"m AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n\n"
        f"      FROM conf GROUP BY 1, 2),\n"
        f"tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM m)\n"
        f"SELECT lang, lang_pred, n,\n"
        f"       round(CAST(n AS DOUBLE) / total, 6) AS share,\n"
        f"       lang = lang_pred AS agree\nFROM m, tot")

    sqls["doc_fingerprint"] = (
        f"WITH {tok_cte('documents')},\n"
        f"sg AS (SELECT doc_id, {_sh_expr(TX.FP_SHINGLE_W)} AS sh FROM tok)\n"
        "SELECT doc_id, list_min(list_transform(sh, s -> md5(s)))"
        " AS fingerprint\nFROM sg")

    # sequence packing: same per-bucket running-sum window re-derived in
    # SQL (next-fit with boundary overflow; pack = floor(start/budget))
    _pack_base = f"""
a AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
             CAST(doc_id % {TX.PACK_BUCKETS} AS INT) AS bucket
      FROM tok),
b AS (SELECT doc_id, n_tokens, bucket,
             CAST(COALESCE(sum(n_tokens) OVER (
                    PARTITION BY bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS start_offset
      FROM a),
c AS (SELECT doc_id, n_tokens, bucket, start_offset,
             CAST(FLOOR(start_offset / {TX.PACK_BUDGET}) AS INT)
               AS pack_id
      FROM b)""".strip()
    sqls["doc_token_pack"] = (
        f"WITH {tok_cte('documents')},\n{_pack_base}\n"
        "SELECT doc_id, n_tokens, bucket, start_offset, pack_id FROM c")
    sqls["pack_fill_stats"] = (
        f"WITH {tok_cte('documents')},\n{_pack_base}\n"
        f"SELECT bucket, pack_id, CAST(count(*) AS INT) AS n_docs,\n"
        f"       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,\n"
        f"       round(CAST(sum(n_tokens) AS BIGINT)"
        f" / {TX.PACK_BUDGET}, 6) AS fill_ratio\n"
        f"FROM c GROUP BY bucket, pack_id")

    # interleaved pack: span-text tokens + fixed vision budget per
    # media span, then the same per-bucket next-fit running sum
    # (textops.interleaved_pack_assignments)
    sqls["interleaved_token_pack"] = corpus_prefix() + f""",
per AS (
  SELECT doc_id,
         CAST(sum(len(list_filter(
             regexp_split_to_array(lower(trim(text)), '\\s+'),
             t -> t <> ''))) AS BIGINT) AS n_text_tokens,
         CAST(sum(CASE WHEN kind IN ('figure', 'table')
                       THEN 1 ELSE 0 END) AS INT) AS n_media
  FROM spans GROUP BY 1),
c AS (
  SELECT doc_id, n_text_tokens, n_media,
         CAST(n_text_tokens
              + {TX.MEDIA_TOKEN_COST} * n_media AS BIGINT) AS cost,
         CAST(CAST(substr(doc_id, 5) AS BIGINT)
              % {TX.PACK_BUCKETS} AS INT) AS bucket
  FROM per),
o AS (
  SELECT doc_id, n_text_tokens, n_media, cost, bucket,
         CAST(coalesce(sum(cost) OVER (
             PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS BIGINT) AS start_offset
  FROM c)
SELECT doc_id, n_text_tokens, n_media, cost, bucket, start_offset,
       CAST(floor(start_offset / {TX.PACK_BUDGET}) AS INT) AS pack_id
FROM o"""

    # hash-stratified sample: identical md5 threshold rule (Spark and
    # DuckDB md5 agree byte-for-byte on the same string input)
    whens = " ".join(
        f"WHEN '{la}' THEN '{TX._rate_to_hex(r)}'"
        for la, r in sorted(TX.SAMPLE_RATES.items()))
    sqls["doc_hash_sample"] = f"""
WITH s AS (
  SELECT doc_id, lang,
         substring(md5(CAST(doc_id AS VARCHAR) || '{TX.SAMPLE_SEED}'),
                   1, 4) AS h4,
         CASE lang {whens} END AS thr
  FROM documents)
SELECT doc_id, lang, h4 FROM s WHERE h4 < thr"""

    # PII redaction over the deterministically decorated corpus
    # (decorations.pii_decorated_docs); patterns are the shared
    # Java-regex/RE2-compatible subset in operators/pii.py
    from .operators import pii as PI
    em, ip, ph = (PI.PII_PATTERNS["email"], PI.PII_PATTERNS["ipv4"],
                  PI.PII_PATTERNS["phone"])
    sqls["doc_pii_redact"] = f"""
WITH pdoc AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
                 || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' from 10.'
                 || CAST(doc_id % 250 AS VARCHAR) || '.0.1'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 3 THEN ' call 555-010-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         text, '{em}', '[EMAIL]', 'g'), '{ip}', '[IP]', 'g'),
         '{ph}', '[PHONE]', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{ip}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{ph}')) AS BIGINT) AS n_phone
FROM pdoc"""

    # decontamination: benchmark = the original docs whose exact copies
    # were planted by ADOC (doc_id%17==0), so every planted copy shares
    # all its 8-grams and must be flagged
    bench_pred = "doc_id % 17 = 0 AND doc_id < 1000000"
    sqls["doc_decontaminate"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, list_distinct({_sh_expr(PI.DECON_W)})"
        f" AS sh FROM tok),\n"
        f"bench AS (SELECT DISTINCT unnest(sh) AS s FROM sg"
        f" WHERE {bench_pred}),\n"
        f"corp AS (SELECT doc_id, unnest(sh) AS s FROM sg"
        f" WHERE NOT ({bench_pred}))\n"
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits\n"
        "FROM corp JOIN bench USING (s) GROUP BY doc_id")

    # bloom_decontaminate: the oracle can recompute the EXACT anchors
    # (n_docs, n_exact_contaminated) and asserts the filter-theoretic
    # guarantees (no false negatives, bounded false positives) as the
    # constants they must be for a correct sketch — the same honest
    # contract as event_approx_distinct
    sqls["doc_bloom_decontaminate"] = (
        f"WITH {ADOC_CTE},\n{tok_cte('adoc')},\n"
        f"sg AS (SELECT doc_id, list_distinct({_sh_expr(PI.DECON_W)})"
        f" AS sh FROM tok),\n"
        f"bench AS (SELECT DISTINCT unnest(sh) AS s FROM sg"
        f" WHERE {bench_pred}),\n"
        f"corp AS (SELECT doc_id, unnest(sh) AS s FROM sg"
        f" WHERE NOT ({bench_pred})),\n"
        "hits AS (SELECT DISTINCT doc_id FROM corp JOIN bench USING (s))\n"
        "SELECT (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM corp)"
        " AS n_docs,\n"
        "       (SELECT CAST(count(*) AS BIGINT) FROM hits)"
        " AS n_exact_contaminated,\n"
        "       CAST(0 AS BIGINT) AS n_missed,\n"
        "       TRUE AS caught_all,\n"
        "       TRUE AS fp_within_bound")

    # boilerplate stripping over the decorated corpus
    # (decorations.boilerplate_docs); list_filter preserves original
    # segment order = Spark's sort_array(struct(pos, seg)) rebuild
    from . import decorations as DC
    s0, s1, s2 = (_q(s) for s in DC.BOILERPLATE_SEGMENTS)
    sqls["doc_boilerplate_strip"] = f"""
WITH bdoc AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN {s0} || ' | ' ELSE '' END)
         || text
         || (CASE WHEN doc_id % 7 = 0 THEN ' | ' ||
               (CASE doc_id % 3 WHEN 0 THEN {s0} WHEN 1 THEN {s1}
                ELSE {s2} END)
             ELSE '' END) AS text
  FROM documents),
segs AS (SELECT doc_id, string_split(text, ' | ') AS segs FROM bdoc),
ex AS (SELECT DISTINCT doc_id, unnest(segs) AS seg FROM segs),
freq AS (SELECT seg FROM (SELECT seg, count(*) AS df FROM ex GROUP BY seg)
         WHERE df > {TX.BOILER_DF_CAP}),
fl AS (SELECT coalesce(list(seg), []) AS bps FROM freq),
cl AS (SELECT doc_id, segs,
              list_filter(segs, s -> NOT list_contains(bps, s)) AS kept
       FROM segs, fl)
SELECT doc_id, array_to_string(kept, ' | ') AS clean_text,
       CAST(len(kept) AS INT) AS n_kept,
       CAST(len(segs) - len(kept) AS INT) AS n_stripped
FROM cl"""

    return sqls


# ---------------------------------------------------------------------------
# curation-composition oracles (operators/curation.py): near-dup
# resolution = pairs -> recursive reachability (min-id label) -> quality
# argmax; funnel = per-row gates + md5 lineage + bench shingle join
# ---------------------------------------------------------------------------


def _curation_sqls() -> dict[str, str]:
    from .operators import curation as CU
    from .operators import pii as PI

    sqls = {}

    sqls["doc_neardup_resolve"] = (
        "WITH RECURSIVE " + _minhash_pair_ctes() + ",\n"
        "psym AS (SELECT a AS x, b AS y FROM pairs"
        " UNION SELECT b, a FROM pairs),\n"
        "pn AS (SELECT DISTINCT x AS id FROM psym),\n"
        "reach(ra, rb) AS (SELECT id, id FROM pn\n"
        "  UNION SELECT r.ra, s.y FROM reach r JOIN psym s ON s.x = r.rb),\n"
        "canon AS (SELECT ra AS id, min(rb) AS cid FROM reach GROUP BY ra),\n"
        f"qual AS (SELECT doc_id, {_quality_expr()} AS quality_score"
        " FROM tok),\n"
        "lab AS (SELECT q.doc_id, coalesce(c.cid, q.doc_id) AS cluster_id,"
        " q.quality_score FROM qual q LEFT JOIN canon c ON c.id = q.doc_id)\n"
        "SELECT doc_id, cluster_id, cluster_size, quality_score,\n"
        "       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep\n"
        "FROM (SELECT lab.*,\n"
        "        row_number() OVER (PARTITION BY cluster_id\n"
        "          ORDER BY coalesce(quality_score, -1) DESC, doc_id ASC)"
        " AS rn,\n"
        "        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)"
        " AS cluster_size\n"
        "      FROM lab) t")

    # leakage-safe split: same pair->CC cluster labels, assignment
    # hashes the CLUSTER id so near-dup pairs never straddle splits
    sqls["doc_leakage_split"] = (
        "WITH RECURSIVE " + _minhash_pair_ctes() + ",\n"
        "psym AS (SELECT a AS x, b AS y FROM pairs"
        " UNION SELECT b, a FROM pairs),\n"
        "pn AS (SELECT DISTINCT x AS id FROM psym),\n"
        "reach(ra, rb) AS (SELECT id, id FROM pn\n"
        "  UNION SELECT r.ra, s.y FROM reach r JOIN psym s ON s.x = r.rb),\n"
        "canon AS (SELECT ra AS id, min(rb) AS cid FROM reach GROUP BY ra),\n"
        "lab AS (SELECT t.doc_id, coalesce(c.cid, t.doc_id) AS cluster_id\n"
        "        FROM tok t LEFT JOIN canon c ON c.id = t.doc_id),\n"
        "sz AS (SELECT lab.*, CAST(count(*) OVER (PARTITION BY cluster_id)"
        " AS BIGINT) AS cluster_size FROM lab)\n"
        "SELECT doc_id, cluster_id, cluster_size,\n"
        "  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)"
        f" < '{CU.SPLIT_TRAIN_MAX_HEX}' THEN 'train'\n"
        "       WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 1)"
        f" < '{CU.SPLIT_VAL_MAX_HEX}' THEN 'val'\n"
        "       ELSE 'test' END AS split\nFROM sz")

    bench_pred = "doc_id % 17 = 0 AND doc_id < 1000000"
    langs = sorted(TX.LANG_WORDLISTS)
    hit_exprs = ",\n       ".join(
        f"CAST(len(list_filter(toks, t -> list_contains("
        f"[{','.join(_q(w) for w in TX.LANG_WORDLISTS[la])}], t))) AS INT)"
        f" AS h_{la}" for la in langs)
    best = "greatest(" + ", ".join(f"h_{la}" for la in langs) + ")"
    pred_whens = " ".join(
        f"WHEN h_{la} = {best} THEN '{la}'" for la in langs)
    lang_pred = f"CASE WHEN {best} < 2 THEN 'und' {pred_whens} END"
    w = PI.DECON_W
    funnel = (
        f"WITH {ADOC_CTE},\n"
        f"corp AS (SELECT doc_id, text FROM adoc"
        f" WHERE NOT ({bench_pred})),\n"
        f"{tok_cte('corp')},\n"
        f"hh AS (SELECT doc_id, text, toks,\n       {hit_exprs}\n"
        f"FROM tok),\n"
        f"f AS (SELECT doc_id, md5(text) AS th,\n"
        f"        CASE WHEN ({lang_pred}) = 'en' THEN 1 ELSE 0 END"
        f" AS lang_ok,\n"
        f"        CASE WHEN coalesce({_quality_expr()} >="
        f" {CU.QUALITY_MIN}, FALSE) THEN 1 ELSE 0 END AS quality_ok\n"
        f"      FROM hh),\n"
        f"k AS (SELECT th, min(doc_id) AS keep_id FROM f GROUP BY th),\n"
        f"{tok_cte(f'(SELECT doc_id, text FROM adoc WHERE {bench_pred}) bs', 'btok')},\n"
        f"bsh AS (SELECT DISTINCT unnest(list_distinct({_sh_expr(w)}))"
        f" AS s FROM btok),\n"
        f"csh AS (SELECT doc_id, unnest(list_distinct({_sh_expr(w)}))"
        f" AS s FROM tok),\n"
        f"ch AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh USING (s))\n"
        "SELECT f.doc_id,\n"
        "       CAST(lang_ok AS INT) AS lang_ok,\n"
        "       CAST(quality_ok AS INT) AS quality_ok,\n"
        "       CAST(CASE WHEN f.doc_id <> k.keep_id THEN 1 ELSE 0 END"
        " AS INT) AS dup_loser,\n"
        "       CAST(CASE WHEN ch.doc_id IS NOT NULL THEN 1 ELSE 0 END"
        " AS INT) AS contaminated,\n"
        "       CAST(CASE WHEN lang_ok = 1 AND quality_ok = 1"
        " AND f.doc_id = k.keep_id AND ch.doc_id IS NULL"
        " THEN 1 ELSE 0 END AS INT) AS kept\n"
        "FROM f JOIN k ON k.th = f.th"
        " LEFT JOIN ch ON ch.doc_id = f.doc_id")
    sqls["doc_curation_funnel"] = funnel
    sqls["doc_curation_stats"] = (
        f"WITH fl AS ({funnel})\n"
        "SELECT CAST(count(*) AS BIGINT) AS n_docs,\n"
        "       CAST(sum(lang_ok) AS BIGINT) AS n_lang_ok,\n"
        "       CAST(sum(quality_ok) AS BIGINT) AS n_quality_ok,\n"
        "       CAST(sum(dup_loser) AS BIGINT) AS n_dup_losers,\n"
        "       CAST(sum(contaminated) AS BIGINT) AS n_contaminated,\n"
        "       CAST(sum(kept) AS BIGINT) AS n_kept\n"
        "FROM fl")
    return sqls


# ---------------------------------------------------------------------------
# embedding similarity oracles (explicit left-assoc expressions — see
# operators/similarity.py float-parity note)
# ---------------------------------------------------------------------------


def _ann_sqls() -> dict[str, str]:
    from .operators import similarity as SIM

    def el(t: str, i: int) -> str:
        return f"CAST({t}.embedding[{i + 1}] AS DOUBLE)"

    def el_q(i: int) -> str:
        return f"CAST(q.q_emb[{i + 1}] AS DOUBLE)"

    n2 = " + ".join(f"{el('e', i)} * {el('e', i)}" for i in range(SIM.DIM))
    dot = " + ".join(f"{el_q(i)} * {el('v', i)}" for i in range(SIM.DIM))

    def bucket(t: str) -> str:
        signs = SIM.plane_signs()
        bits = []
        for p in range(SIM.N_PLANES):
            terms = " + ".join(
                (el(t, i) if s > 0 else f"(-{el(t, i)})")
                for i, s in enumerate(signs[p]))
            bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p} "
                        f"ELSE 0 END)")
        return " + ".join(bits)

    rank_tail = f"""
SELECT q_id, neighbor_id, round(cosine, 6) AS score,
       CAST(rank AS INT) AS rank
FROM (
  SELECT q_id, neighbor_id, cosine, row_number() OVER (
    PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored) r
WHERE rank <= {SIM.TOP_K}""".strip()

    dot_ab = " + ".join(
        f"CAST(a.embedding[{i + 1}] AS DOUBLE) "
        f"* CAST(b.embedding[{i + 1}] AS DOUBLE)"
        for i in range(SIM.DIM))
    sqls = {}
    sqls["doc_embedding_neardup"] = f"""
WITH aemb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 25 = 0),
vn AS (
  SELECT e.vec_id, e.embedding, ({n2}) AS n2, ({bucket('e')}) AS bucket
  FROM aemb e)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(({dot_ab}) / sqrt(a.n2 * b.n2), 6) AS score
FROM vn a JOIN vn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ({dot_ab}) / sqrt(a.n2 * b.n2) >= {SIM.NEARDUP_COS}"""

    sqls["ann_topk"] = f"""
WITH vn AS (
  SELECT e.vec_id, e.embedding, ({n2}) AS n2 FROM embeddings e),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, n2 AS qn2
  FROM vn WHERE vec_id < {SIM.N_QUERIES}),
pairs AS (
  SELECT q.q_id, v.vec_id AS neighbor_id, ({dot}) AS dot,
         q.qn2, v.n2 AS vn2
  FROM vn v JOIN q ON v.vec_id <> q.q_id),
scored AS (
  SELECT q_id, neighbor_id, dot / sqrt(qn2 * vn2) AS cosine FROM pairs)
{rank_tail}""".strip()

    # doc_rrf_search: RRF fusion of the BM25 chain (doc_bm25_search
    # twin at leg depth) and the single-query dense chain (ann_topk
    # twin filtered to RRF_QUERY_VEC) — fusion runs on integer ranks,
    # so it is float-exact across engines by construction
    from .operators.textops import BM25_B, BM25_K1, BM25_QUERY
    _rq = ", ".join(_q(t) for t in BM25_QUERY)
    sqls["doc_rrf_search"] = f"WITH {tok_cte('documents')}" + f""",
tok2 AS (SELECT doc_id, unnest(toks) AS t FROM tok),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok2
       WHERE t IN ({_rq}) GROUP BY 1, 2),
dfreq AS (SELECT t, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
bsc AS (
  SELECT tf.doc_id,
         round(sum(
           ln((nd.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * (tf.tf * {BM25_K1 + 1.0})
           / (tf.tf + {BM25_K1}
              * ({1.0 - BM25_B} + {BM25_B} * dl.dl / avgdl.avgdl))
         ), 6) AS score
  FROM tf JOIN dfreq USING (t) JOIN dl ON dl.doc_id = tf.doc_id,
       avgdl, nd
  GROUP BY 1),
lex AS (
  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
              AS INT) AS bm25_rank, doc_id
  FROM (SELECT * FROM bsc
        ORDER BY score DESC, doc_id ASC LIMIT {SIM.RRF_LEG_K})),
vn AS (SELECT e.vec_id, e.embedding, ({n2}) AS n2 FROM embeddings e),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, n2 AS qn2
      FROM vn WHERE vec_id = {SIM.RRF_QUERY_VEC}),
dpairs AS (
  SELECT v.vec_id AS neighbor_id, ({dot}) AS dot, q.qn2, v.n2 AS vn2
  FROM vn v JOIN q ON v.vec_id <> q.q_id),
dsc AS (SELECT neighbor_id, dot / sqrt(qn2 * vn2) AS cosine
        FROM dpairs),
dense AS (
  SELECT CAST(rnk AS INT) AS dense_rank, neighbor_id AS doc_id
  FROM (SELECT neighbor_id, row_number() OVER (
          ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM dsc) r
  WHERE rnk <= {SIM.RRF_LEG_K}),
fused AS (
  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
         coalesce(bm25_rank, 0) AS bm25_rank,
         coalesce(dense_rank, 0) AS dense_rank
  FROM lex FULL OUTER JOIN dense ON dense.doc_id = lex.doc_id),
rsc AS (
  SELECT doc_id, bm25_rank, dense_rank,
         round(CASE WHEN bm25_rank > 0
                    THEN 1.0 / ({SIM.RRF_K} + bm25_rank)
                    ELSE 0.0 END
             + CASE WHEN dense_rank > 0
                    THEN 1.0 / ({SIM.RRF_K} + dense_rank)
                    ELSE 0.0 END, 6) AS rrf_score
  FROM fused)
SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC)
            AS BIGINT) AS rank,
       doc_id, rrf_score, bm25_rank, dense_rank
FROM (SELECT * FROM rsc
      ORDER BY rrf_score DESC, doc_id ASC LIMIT {SIM.RRF_TOP_K})"""

    sqls["embedding_drift_psi"] = f"""
WITH ex AS (
  SELECT vec_id % 2 = 0 AS is_ref,
         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
binned AS (
  SELECT is_ref, d AS dim,
         least(greatest(floor(
           ((CASE WHEN NOT is_ref AND d = 0
                  THEN x + {SIM.PSI_SHIFT} ELSE x END)
            + {SIM.PSI_RANGE}) / {2 * SIM.PSI_RANGE}
           * {SIM.PSI_BINS}), 0), {SIM.PSI_BINS - 1}) AS b
  FROM ex WHERE d < {SIM.PSI_DIMS}),
cnt AS (
  SELECT dim, b,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cn
  FROM binned GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS nr,
         CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS nn
  FROM embeddings),
terms AS (
  SELECT dim,
         ((cn + 1) / (nn + {SIM.PSI_BINS})
          - (cr + 1) / (nr + {SIM.PSI_BINS}))
         * ln(((cn + 1) / (nn + {SIM.PSI_BINS}))
              / ((cr + 1) / (nr + {SIM.PSI_BINS}))) AS term
  FROM cnt, tot),
psi AS (SELECT dim, sum(term) AS psi_raw FROM terms GROUP BY 1)
SELECT dim, round(psi_raw, 6) AS psi,
       psi_raw > {SIM.PSI_DRIFT} AS drift
FROM psi"""

    # maxsim: 4x16 sub-vector late interaction; every fold is written
    # 0.0-seeded left-assoc to match the Spark aggregate() exactly
    _sd = SIM.MAXSIM_SUBDIM

    def _qe(i: int, k: int) -> str:
        return f"CAST(q.q_emb[{i * _sd + k + 1}] AS DOUBLE)"

    def _de(j: int, k: int) -> str:
        return f"CAST(e.embedding[{j * _sd + k + 1}] AS DOUBLE)"

    def _cos_ij(i: int, j: int) -> str:
        dot = " + ".join(f"{_qe(i, k)} * {_de(j, k)}"
                         for k in range(_sd))
        qn = " + ".join(f"{_qe(i, k)} * {_qe(i, k)}"
                        for k in range(_sd))
        dn = " + ".join(f"{_de(j, k)} * {_de(j, k)}"
                        for k in range(_sd))
        return (f"((0.0 + {dot}) / sqrt((0.0 + {qn})"
                f" * (0.0 + {dn})))")

    _best = [("greatest(" + ", ".join(_cos_ij(i, j)
                                      for j in range(SIM.MAXSIM_SUB))
              + ")")
             for i in range(SIM.MAXSIM_SUB)]
    _maxsim = " + ".join(_best)
    sqls["ann_maxsim_topk"] = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings
           WHERE vec_id = {SIM.MAXSIM_QUERY_VEC}),
scored AS (
  SELECT e.vec_id, round({_maxsim}, 6) AS score
  FROM embeddings e, q WHERE e.vec_id <> {SIM.MAXSIM_QUERY_VEC})
SELECT CAST(row_number() OVER (ORDER BY score DESC, vec_id ASC)
            AS BIGINT) AS rank, vec_id, score
FROM (SELECT * FROM scored
      ORDER BY score DESC, vec_id ASC LIMIT {SIM.MAXSIM_TOP_K})"""

    _p2 = " + ".join(f"{el('e', i)} * {el('e', i)}"
                     for i in range(SIM.MRL_DIM))
    sqls["embedding_mrl_error"] = f"""
SELECT vec_id, label,
       round(sqrt((0.0 + {_p2}) / (0.0 + {n2})), 6) AS cos_prefix,
       sqrt((0.0 + {_p2}) / (0.0 + {n2})) >= {SIM.MRL_COS_MIN} AS ok
FROM embeddings e"""

    sqls["ann_lsh_topk"] = f"""
WITH vn AS (
  SELECT e.vec_id, e.embedding, ({n2}) AS n2, ({bucket('e')}) AS bucket
  FROM embeddings e),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, n2 AS qn2, bucket
  FROM vn WHERE vec_id < {SIM.N_QUERIES}),
pairs AS (
  SELECT q.q_id, v.vec_id AS neighbor_id, ({dot}) AS dot,
         q.qn2, v.n2 AS vn2
  FROM vn v JOIN q ON v.bucket = q.bucket AND v.vec_id <> q.q_id),
scored AS (
  SELECT q_id, neighbor_id, dot / sqrt(qn2 * vn2) AS cosine FROM pairs)
{rank_tail}""".strip()

    sqls["ann_recall_eval"] = f"""
WITH ex AS (SELECT q_id, neighbor_id FROM ({sqls['ann_topk']})),
ap AS (SELECT q_id, neighbor_id FROM ({sqls['ann_lsh_topk']})),
per AS (
  SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         CAST(count(ap.neighbor_id) AS BIGINT) AS n_hit
  FROM ex LEFT JOIN ap USING (q_id, neighbor_id) GROUP BY 1),
nap AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_approx
        FROM ap GROUP BY 1)
SELECT per.q_id, n_exact, coalesce(n_approx, 0) AS n_approx, n_hit,
       round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
FROM per LEFT JOIN nap USING (q_id)""".strip()

    # IVF: nearest-centroid assignment (argmax as row_number over the
    # tiny vec x centroid cross product — oracle-side only; the engine
    # assigns in one Arrow pass), top-N_PROBE probed lists per query,
    # exact re-rank inside the probed lists
    dot_vc = " + ".join(f"{el('v', i)} * CAST(c.c_emb[{i + 1}] AS DOUBLE)"
                        for i in range(SIM.DIM))
    dot_qc = " + ".join(f"{el_q(i)} * CAST(c.c_emb[{i + 1}] AS DOUBLE)"
                        for i in range(SIM.DIM))
    sqls["ann_ivf_topk"] = f"""
WITH vn AS (
  SELECT e.vec_id, e.embedding, ({n2}) AS n2 FROM embeddings e),
cents AS (
  SELECT vec_id AS c_id, embedding AS c_emb, n2 AS cn2
  FROM vn WHERE vec_id >= {SIM.IVF_C_BASE}
    AND vec_id < {SIM.IVF_C_BASE + SIM.N_CENTROIDS}),
asg AS (
  SELECT vec_id, c_id AS list_id FROM (
    SELECT v.vec_id, c.c_id, row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY ({dot_vc}) / sqrt(c.cn2 * v.n2) DESC, c.c_id ASC) AS rn
    FROM vn v CROSS JOIN cents c) a
  WHERE rn = 1),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, n2 AS qn2
  FROM vn WHERE vec_id < {SIM.N_QUERIES}),
probe AS (
  SELECT q_id, c_id AS list_id FROM (
    SELECT q.q_id, c.c_id, row_number() OVER (
      PARTITION BY q.q_id
      ORDER BY ({dot_qc}) / sqrt(c.cn2 * q.qn2) DESC, c.c_id ASC) AS rn
    FROM q CROSS JOIN cents c) p
  WHERE rn <= {SIM.N_PROBE}),
pairs AS (
  SELECT q.q_id, v.vec_id AS neighbor_id, ({dot}) AS dot,
         q.qn2, v.n2 AS vn2
  FROM q
  JOIN probe p ON p.q_id = q.q_id
  JOIN asg a ON a.list_id = p.list_id
  JOIN vn v ON v.vec_id = a.vec_id AND v.vec_id <> q.q_id),
scored AS (
  SELECT q_id, neighbor_id, dot / sqrt(qn2 * vn2) AS cosine FROM pairs)
{rank_tail}""".strip()

    # per-label cluster quality: centroid per (label, dim), one dot per
    # member row; left-assoc sums match the engine's aggregate() fold
    cent_cols = ",\n         ".join(
        f"avg({el('e', i)}) AS c{i}" for i in range(SIM.DIM))
    dot_ec = " + ".join(f"{el('e', i)} * c.c{i}" for i in range(SIM.DIM))
    cn_sum = " + ".join(f"c.c{i} * c.c{i}" for i in range(SIM.DIM))
    sqls["embedding_label_stats"] = f"""
WITH cent AS (
  SELECT label,
         {cent_cols}
  FROM embeddings e GROUP BY label),
scored AS (
  SELECT e.label,
         ({dot_ec}) AS dot,
         ({n2}) AS en,
         ({cn_sum}) AS cn
  FROM embeddings e JOIN cent c USING (label))
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       round(min(sqrt(cn)), 6) AS centroid_norm,
       round(avg(dot / sqrt(en * cn)), 6) AS mean_cos
FROM scored GROUP BY label""".strip()

    # int8 scalar quantization: identical double arithmetic and
    # operation order as similarity.int8_quantization_stats, so codes
    # are bit-exact; only the error sums see order noise (round 6)
    sqls["embedding_quantize"] = """
WITH flat AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings),
rng AS (SELECT dim, min(val) AS lo, max(val) AS hi FROM flat GROUP BY 1),
scored AS (
  SELECT f.vec_id,
         abs(f.val - (r.lo + (CASE WHEN r.hi > r.lo THEN
                CAST(floor((f.val - r.lo) / (r.hi - r.lo) * 255 + 0.5)
                     AS BIGINT) ELSE 0 END) * (r.hi - r.lo) / 255))
           AS err
  FROM flat f JOIN rng r USING (dim))
SELECT vec_id, round(avg(err), 6) AS mean_abs_err,
       round(max(err), 6) AS max_abs_err,
       round(sqrt(avg(err * err)), 6) AS rmse
FROM scored GROUP BY vec_id""".strip()

    # fixed-iteration Lloyd's k-means: unrolled iterations, squared-L2
    # left-assoc dist, argmin as row_number (dist ASC, c_id ASC) — the
    # oracle-side cross join is k rows per vector, engine-side it's a
    # broadcast numpy kernel (similarity.embedding_kmeans)
    sq = " + ".join(
        f"({el('e', i)} - c.c{i}) * ({el('e', i)} - c.c{i})"
        for i in range(SIM.DIM))
    init_cols = ", ".join(f"{el('e', i)} AS c{i}" for i in range(SIM.DIM))
    avg_cols = ", ".join(f"avg({el('e', i)}) AS c{i}"
                         for i in range(SIM.DIM))
    cnorm = " + ".join(f"c.c{i} * c.c{i}" for i in range(SIM.DIM))
    def km_chain(tbl: str) -> tuple[str, str]:
        """Unrolled Lloyd's CTE chain over `tbl` (cols vec_id,
        embedding), through the final assignment `af(vec_id, c_id, d)`.
        Returns (chain_without_WITH, last_centroid_cte_name)."""
        chain = (f"c0 AS (SELECT vec_id AS c_id, {init_cols} "
                 f"FROM {tbl} e WHERE vec_id < {SIM.K_CLUSTERS})")
        prev = "c0"
        for t in range(1, SIM.KMEANS_ITERS + 1):
            chain += f""",
a{t} AS (SELECT vec_id, c_id FROM (
  SELECT e.vec_id, c.c_id, row_number() OVER (
    PARTITION BY e.vec_id ORDER BY ({sq}) ASC, c.c_id ASC) AS rn
  FROM {tbl} e CROSS JOIN {prev} c) x WHERE rn = 1),
c{t} AS (SELECT a.c_id, {avg_cols}
  FROM a{t} a JOIN {tbl} e USING (vec_id) GROUP BY a.c_id)"""
            prev = f"c{t}"
        chain += f""",
af AS (SELECT vec_id, c_id, d FROM (
  SELECT e.vec_id, c.c_id, ({sq}) AS d, row_number() OVER (
    PARTITION BY e.vec_id ORDER BY ({sq}) ASC, c.c_id ASC) AS rn
  FROM {tbl} e CROSS JOIN {prev} c) x WHERE rn = 1)"""
        return chain, prev

    chain, last_c = km_chain("embeddings")
    sqls["embedding_kmeans"] = f"""WITH {chain},
norms AS (SELECT c_id, round(sqrt({cnorm}), 6) AS centroid_norm
  FROM {last_c} c)
SELECT a.c_id, CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(a.d), 6) AS mean_sq_dist,
       min(n.centroid_norm) AS centroid_norm
FROM af a JOIN norms n USING (c_id)
GROUP BY a.c_id"""

    # SemDeDup: same fit chain over the 1.25-rescaled-twin augmented
    # set, within-cluster pair scope (equi-join on c_id), exact cosine
    # >= threshold, loser = the member CLOSER to its centroid (tie ->
    # higher vec_id loses, keeping the lowest id)
    sd_chain, _ = km_chain("aemb")
    sqls["doc_semdedup"] = f"""WITH aemb AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.25)
  FROM embeddings WHERE vec_id % 25 = 0),
{sd_chain},
vn AS MATERIALIZED (
  SELECT f.vec_id, f.c_id, f.d, e.embedding, ({n2}) AS n2
  FROM af f JOIN aemb e USING (vec_id)),
p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.d AS da, b.d AS db
  FROM vn a JOIN vn b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
  WHERE ({dot_ab}) / sqrt(a.n2 * b.n2) >= {SIM.SEMDEDUP_COS}),
losers AS (
  SELECT DISTINCT CASE WHEN da < db THEN va ELSE vb END AS vec_id
  FROM p)
SELECT f.vec_id, f.c_id, round(f.d, 6) AS cent_sq_dist,
       CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
FROM af f LEFT JOIN losers l USING (vec_id)"""

    # IVF-PQ: per-subspace argmin codes (row_number d ASC, code ASC over
    # the tiny vec x codebook cross product — engine encodes in one
    # Arrow pass), per-query ADC tables as q x codebook cross joins,
    # approximate distance = left-assoc sum of PQ_M lookups, rank by
    # (adc ASC, neighbor ASC). MATERIALIZED on every multiply-referenced
    # CTE (DuckDB inlines CTEs per reference — the kg_hits 2^(2k) trap).
    def pq_sq(ta: str, ca: str, m: int) -> str:
        return " + ".join(
            f"(CAST({ta}.{ca}[{m * SIM.PQ_SUB + j + 1}] AS DOUBLE)"
            f" - CAST(c.embedding[{m * SIM.PQ_SUB + j + 1}] AS DOUBLE))"
            f" * (CAST({ta}.{ca}[{m * SIM.PQ_SUB + j + 1}] AS DOUBLE)"
            f" - CAST(c.embedding[{m * SIM.PQ_SUB + j + 1}] AS DOUBLE))"
            for j in range(SIM.PQ_SUB))

    cd_ctes = ",\n".join(f"""
cd{m} AS MATERIALIZED (
  SELECT vec_id, code AS k{m} FROM (
    SELECT v.vec_id, c.code, row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY ({pq_sq('v', 'embedding', m)}) ASC, c.code ASC) AS rn
    FROM embeddings v CROSS JOIN cb c) x WHERE rn = 1)""".strip()
        for m in range(SIM.PQ_M))
    qt_ctes = ",\n".join(f"""
qt{m} AS MATERIALIZED (
  SELECT q.q_id, c.code, ({pq_sq('q', 'q_emb', m)}) AS d
  FROM q CROSS JOIN cb c)""".strip() for m in range(SIM.PQ_M))
    cd_joins = "\n  ".join(
        f"JOIN cd{m} ON cd{m}.vec_id = cd0.vec_id" for m in range(1, SIM.PQ_M))
    qt_joins = "\n  ".join(
        f"JOIN qt{m} ON qt{m}.q_id = cand.q_id AND qt{m}.code = cd{m}.k{m}"
        for m in range(SIM.PQ_M))
    adc_sum = " + ".join(f"qt{m}.d" for m in range(SIM.PQ_M))
    sqls["ann_ivfpq_topk"] = f"""
WITH vn AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, ({n2}) AS n2 FROM embeddings e),
cents AS MATERIALIZED (
  SELECT vec_id AS c_id, embedding AS c_emb, n2 AS cn2
  FROM vn WHERE vec_id >= {SIM.IVF_C_BASE}
    AND vec_id < {SIM.IVF_C_BASE + SIM.N_CENTROIDS}),
asg AS MATERIALIZED (
  SELECT vec_id, c_id AS list_id FROM (
    SELECT v.vec_id, c.c_id, row_number() OVER (
      PARTITION BY v.vec_id
      ORDER BY ({dot_vc}) / sqrt(c.cn2 * v.n2) DESC, c.c_id ASC) AS rn
    FROM vn v CROSS JOIN cents c) a
  WHERE rn = 1),
q AS MATERIALIZED (
  SELECT vec_id AS q_id, embedding AS q_emb, n2 AS qn2
  FROM vn WHERE vec_id < {SIM.N_QUERIES}),
probe AS MATERIALIZED (
  SELECT q_id, c_id AS list_id FROM (
    SELECT q.q_id, c.c_id, row_number() OVER (
      PARTITION BY q.q_id
      ORDER BY ({dot_qc}) / sqrt(c.cn2 * q.qn2) DESC, c.c_id ASC) AS rn
    FROM q CROSS JOIN cents c) p
  WHERE rn <= {SIM.N_PROBE}),
cb AS MATERIALIZED (
  SELECT vec_id - {SIM.PQ_C_BASE} AS code, embedding FROM embeddings
  WHERE vec_id >= {SIM.PQ_C_BASE}
    AND vec_id < {SIM.PQ_C_BASE + SIM.PQ_K}),
{cd_ctes},
{qt_ctes},
cand AS MATERIALIZED (
  SELECT q.q_id, a.vec_id AS neighbor_id
  FROM q
  JOIN probe p ON p.q_id = q.q_id
  JOIN asg a ON a.list_id = p.list_id
  WHERE a.vec_id <> q.q_id),
adc AS (
  SELECT cand.q_id, cand.neighbor_id, ({adc_sum}) AS adc
  FROM cand
  JOIN cd0 ON cd0.vec_id = cand.neighbor_id
  {cd_joins}
  {qt_joins})
SELECT q_id, neighbor_id, round(adc, 6) AS adc_dist,
       CAST(rank AS INT) AS rank
FROM (
  SELECT q_id, neighbor_id, adc, row_number() OVER (
    PARTITION BY q_id ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM adc) r
WHERE rank <= {SIM.TOP_K}""".strip()

    # bitext_margin_mine: same bucket/dot fragments; margin = cosine
    # over the mean of both sides' candidate k-NN cosines (ratio
    # variant), best target per source above the threshold
    sqls["bitext_margin_mine"] = f"""
WITH dv AS (
  SELECT e.vec_id, d.lang, e.embedding, ({n2}) AS n2,
         ({bucket('e')}) AS bucket
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
p AS (
  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id, b.lang AS tgt_lang,
         ({dot_ab}) / sqrt(a.n2 * b.n2) AS cosine
  FROM dv a JOIN dv b ON a.bucket = b.bucket
  WHERE a.lang = '{SIM.BITEXT_SRC_LANG}'
    AND b.lang <> '{SIM.BITEXT_SRC_LANG}'),
ks AS (
  SELECT src_id, avg(cosine) AS knn_s FROM (
    SELECT *, row_number() OVER (
      PARTITION BY src_id ORDER BY cosine DESC, tgt_id ASC) AS r
    FROM p) x WHERE r <= {SIM.BITEXT_K} GROUP BY 1),
kt AS (
  SELECT tgt_id, avg(cosine) AS knn_t FROM (
    SELECT *, row_number() OVER (
      PARTITION BY tgt_id ORDER BY cosine DESC, src_id ASC) AS r
    FROM p) x WHERE r <= {SIM.BITEXT_K} GROUP BY 1),
m AS (
  SELECT p.src_id, p.tgt_id, p.tgt_lang, p.cosine,
         p.cosine / ((ks.knn_s + kt.knn_t) / 2) AS margin
  FROM p JOIN ks USING (src_id) JOIN kt USING (tgt_id))
SELECT src_id, tgt_id, tgt_lang, round(cosine, 6) AS cosine,
       round(margin, 6) AS margin
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS rb
  FROM m) r
WHERE rb = 1 AND margin >= {SIM.BITEXT_MARGIN_T}""".strip()
    return sqls


# ---------------------------------------------------------------------------
# full oracle statements, keyed like queries()
# ---------------------------------------------------------------------------

def _meta_sqls() -> dict[str, str]:
    """Oracles for textmeta / content_stats / merge_selective /
    quarantine (operators/textmeta.py, content_stats.py,
    ontology_algebra.py)."""
    from .operators import content_stats as CS
    from .operators import ontology_algebra as OA
    from .operators import textmeta as TM

    sqls = {}
    P = TM.CIT_PATTERNS
    sqls["citation_fields"] = corpus_prefix() + f"""
SELECT doc_id,
       regexp_extract(text, '{P["authors"]}', 1) AS authors,
       regexp_extract(text, '{P["doi"]}', 1) AS doi,
       TRY_CAST(regexp_extract(text, '{P["year"]}', 1) AS INT) AS year,
       TRY_CAST(regexp_extract(text, '{P["volume"]}', 1) AS INT) AS volume,
       TRY_CAST(regexp_extract(text, '{P["issue"]}', 1) AS INT) AS issue,
       TRY_CAST(regexp_extract(text, '{P["page_start"]}', 1) AS INT)
         AS page_start,
       TRY_CAST(regexp_extract(text, '{P["page_end"]}', 1) AS INT)
         AS page_end
FROM spans WHERE kind = 'reference'"""

    cap_case = " ".join(
        f"WHEN contains(lower(text), {_q(kw)}) THEN {_q(label)}"
        for kw, label in TM.CAPTION_TYPES)
    sqls["caption_types"] = corpus_prefix() + f"""
SELECT doc_id, kind, media_ref,
       CASE {cap_case} ELSE 'other' END AS media_type
FROM spans WHERE kind IN ('figure', 'table')"""

    ctok = ("list_filter(regexp_split_to_array(regexp_replace(lower(trim("
            "text)), '[.,()]', '', 'g'), '\\s+'), t -> t <> '')")
    stops = ",".join(_q(s) for s in TX.STOPWORDS_EN)
    kw_cte = f"""
kw AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({ctok})) AS keyword
  FROM spans)
""".strip()
    sqls["doc_keywords"] = corpus_prefix(kw_cte) + f"""
SELECT keyword, CAST(count(*) AS BIGINT) AS n_docs
FROM kw WHERE keyword NOT IN ({stops})
GROUP BY keyword"""

    sqls["doc_domains"] = corpus_prefix(gaz_cte(), kw_cte) + f"""
SELECT doc_id, namespace AS domain,
       CAST(count(DISTINCT keyword) AS BIGINT) AS n_hits
FROM kw JOIN (SELECT DISTINCT surface AS keyword, namespace FROM gaz
              WHERE surface NOT LIKE '% %') v USING (keyword)
GROUP BY doc_id, namespace
HAVING count(DISTINCT keyword) >= {TM.MIN_DOMAIN_HITS}"""

    sqls["cross_references"] = corpus_prefix() + r"""
, labels AS (
  SELECT doc_id, kind, media_ref, label FROM (
    SELECT doc_id, kind, media_ref,
           regexp_extract(text, '^((figure|table) \d+)', 1) AS label
    FROM spans WHERE kind IN ('figure', 'table')) x
  WHERE label <> ''),
texts AS (
  SELECT doc_id,
         CASE WHEN CAST(regexp_extract(doc_id, '(\d+)$', 1) AS BIGINT)
                   % 6 = 0
              THEN text || ' (see figure 1)' ELSE text END AS text
  FROM spans WHERE kind = 'text')
SELECT l.doc_id, l.kind, l.media_ref, l.label,
       CAST(sum(CASE WHEN contains(lower(t.text), l.label)
                       OR contains(lower(t.text),
                                   regexp_replace(l.label, '^figure',
                                                  'fig.'))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mentions
FROM texts t JOIN labels l USING (doc_id)
GROUP BY 1, 2, 3, 4
HAVING sum(CASE WHEN contains(lower(t.text), l.label)
                  OR contains(lower(t.text),
                              regexp_replace(l.label, '^figure', 'fig.'))
                THEN 1 ELSE 0 END) > 0"""

    from . import decorations as DE
    from .operators import sections as SE
    sqls["doc_sections"] = ("WITH " + DE.sections_synth_sql() + ",\n"
                            + SE.sections_oracle_tail())
    sqls["citation_format_detect"] = ("WITH " + DE.citation_synth_sql()
                                      + ",\n" + SE.citation_oracle_tail())

    sqls["format_detect"] = """
WITH content_s AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 4 = 0 THEN
             '{"@context": {"ex": "http://example.org/"}, "@id": "ex:'
             || CAST(doc_id AS VARCHAR) || '"}'
           WHEN doc_id % 4 = 1 THEN
             '<?xml version="1.0"?><rdf:RDF><owl:Class rdf:about='
             || '"http://example.org/' || CAST(doc_id AS VARCHAR)
             || '"/></rdf:RDF>'
           WHEN doc_id % 4 = 2 THEN
             '@prefix ex: <http://example.org/> . ex:'
             || CAST(doc_id AS VARCHAR) || ' a ex:Thing .'
           ELSE '<http://example.org/s/' || CAST(doc_id AS VARCHAR)
             || '> <http://example.org/p> "o" .'
         END AS content
  FROM documents)
SELECT doc_id,
       CASE
         WHEN starts_with(content, '{') AND contains(content, '@context')
           THEN 'json-ld'
         WHEN starts_with(content, '<?xml') AND contains(content, 'owl:')
           THEN 'owl'
         WHEN starts_with(content, '<?xml') THEN 'rdf-xml'
         WHEN starts_with(content, '@prefix') THEN 'turtle'
         WHEN regexp_matches(content, '^<[^>]+> <[^>]+> ')
           THEN 'ntriples'
         ELSE 'unknown'
       END AS fmt
FROM content_s"""

    melt = "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, CAST({c} AS DOUBLE) AS v FROM lineitem"
        for c in CS.TABLE_QUALITY_COLS)
    sqls["table_quality"] = f"""
WITH melted AS (
{melt})
SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(v) AS BIGINT) AS n_present,
       round(CAST(count(v) AS DOUBLE) / count(*), 6) AS completeness,
       round(avg(v), 6) AS mean_v,
       round(min(v), 6) AS min_v,
       round(max(v), 6) AS max_v
FROM melted GROUP BY col_name"""

    # rank-picked quartiles — the reference's exact convention
    # (content_utils.py:143-146: q1 = sorted[n // 4], q3 =
    # sorted[3n // 4], NULL below 4 values); quantile_cont would
    # interpolate a DIFFERENT number (caught by the in-process parity
    # harness)
    _rankq = """
rk AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
qs AS (
  SELECT event_type, max(n) AS n,
         max(CASE WHEN r = n // 4 + 1 AND n >= 4 THEN value END) AS q1,
         max(CASE WHEN r = (3 * n) // 4 + 1 AND n >= 4 THEN value END)
           AS q3
  FROM rk GROUP BY 1)"""
    sqls["event_value_stats"] = f"""
WITH {_rankq}
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
       round(avg(e.value), 6) AS mean_v,
       round(stddev_samp(e.value), 6) AS stddev_v,
       round(min(e.value), 6) AS min_v,
       round(max(e.value), 6) AS max_v,
       round(max(q.q1), 6) AS q1,
       round(quantile_cont(e.value, 0.5), 6) AS median_v,
       round(max(q.q3), 6) AS q3
FROM events e JOIN qs q USING (event_type)
GROUP BY e.event_type"""

    sqls["event_outliers"] = f"""
WITH {_rankq},
fences AS (
  SELECT event_type,
         q1 - {CS.IQR_FACTOR} * (q3 - q1) AS lo,
         q3 + {CS.IQR_FACTOR} * (q3 - q1) AS hi
  FROM qs WHERE n >= 4)
SELECT e.event_id, e.event_type, e.value
FROM events e JOIN fences f USING (event_type)
WHERE e.value < f.lo OR e.value > f.hi"""

    sqls["event_correlation"] = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(corr(value,
                  TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)),
             6) AS pearson_r
FROM events GROUP BY event_type"""

    # event_windows: epoch-aligned tumbling buckets recomputed from raw
    # epoch arithmetic (make_timestamp keeps the naive-timestamp type,
    # matching Spark's window struct fields)
    from .streaming import pipeline as SP
    tumble_s = 6 * 3600
    assert SP.TUMBLE_DUR == "6 hours"
    sqls["event_windows"] = f"""
WITH w AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / {tumble_s}) * {tumble_s}
                             AS BIGINT) * 1000000) AS window_start,
         event_type, value
  FROM events)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       strftime(window_start + INTERVAL {tumble_s} SECOND,
                '%Y-%m-%d %H:%M:%S.%f') AS window_end,
       event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM w GROUP BY 1, 2, 3"""

    # event_hopping_windows: each event expands to width/slide = 2
    # slide-aligned windows, re-derived from raw epoch arithmetic
    hop_w, hop_s = 6 * 3600, 3 * 3600
    assert SP.HOP_DUR == "6 hours" and SP.HOP_SLIDE == "3 hours"
    sqls["event_hopping_windows"] = f"""
WITH w AS (
  SELECT make_timestamp((CAST(floor(epoch(ts) / {hop_s}) AS BIGINT)
                         - k.k) * {hop_s} * 1000000) AS window_start,
         event_type, value
  FROM events, UNNEST(generate_series(0, {hop_w // hop_s - 1})) AS k(k))
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
       strftime(window_start + INTERVAL {hop_w} SECOND,
                '%Y-%m-%d %H:%M:%S.%f') AS window_end,
       event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM w GROUP BY 1, 2, 3"""

    # event_attribution: click->purchase pairs within the 2h horizon
    assert SP.ATTR_HORIZON == "2 hours"
    sqls["event_attribution"] = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       round(p.value, 6) AS value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 2 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'""".strip()

    # event_running_total: per-user sequential accumulation, total
    # order pinned by (ts, event_id)
    sqls["event_running_total"] = """
SELECT event_id, user_id,
       CAST(row_number() OVER w AS BIGINT) AS seq,
       round(sum(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 6)
         AS running_value,
       round(max(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 6)
         AS running_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".strip()

    # doc_zipf_slope: least-squares fit over the deterministic
    # (freq desc, token asc) top-1000 head
    sqls["doc_zipf_slope"] = f"WITH {tok_cte('documents')}" + """,
u AS (SELECT t.tok FROM tok, UNNEST(toks) AS t(tok)),
c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
head AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rank
  FROM c ORDER BY c DESC, tok ASC LIMIT 1000),
fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fit,
         round(regr_slope(log2(c), log2(rank)), 6) AS zipf_slope,
         round(regr_intercept(log2(c), log2(rank)), 6) AS zipf_intercept
  FROM head)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_vocab,
       n_fit, zipf_slope, zipf_intercept
FROM fit""".strip()

    # event_sessions: gap-merged sessions re-derived independently via
    # the islands technique — a new session starts when the gap to the
    # previous event is >= the session gap (session windows are
    # [start, last + gap), so an event landing exactly at the window
    # end opens a new session)
    gap_s = 8 * 3600
    assert SP.SESSION_GAP == "8 hours"
    sqls["event_sessions"] = f"""
WITH e AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL {gap_s} SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM events),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM e)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL {gap_s} SECOND,
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM s GROUP BY user_id, sid"""

    # event_range_join: the oracle re-derives containment with a plain
    # BETWEEN theta-join (fine at oracle scale); the Spark side is the
    # bucketed equi-join
    sqls["event_range_join"] = """
WITH w AS (
  SELECT event_id AS window_id, ts AS ws, ts + INTERVAL 4 HOUR AS we
  FROM events WHERE event_type = 'purchase' AND event_id % 37 = 0)
SELECT window_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 6) AS total_value
FROM events e JOIN w ON e.ts >= w.ws AND e.ts < w.we
GROUP BY window_id"""

    # event_rollup: GROUP BY ROLLUP with '(all)' labels (events carry
    # no null event_type, so coalesce marks only the subtotal rows)
    sqls["event_rollup"] = """
WITH e AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
           FROM events)
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(day, '(all)') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM e GROUP BY ROLLUP(event_type, day)"""

    # event_pivot: conditional aggregation, one column per declared
    # event type (same value list as the Spark pivot)
    pivot_cols = ",\n       ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT)"
        f" AS n_{t}"
        for t in ["click", "error", "purchase", "signup", "view"])
    sqls["event_pivot"] = f"""
SELECT user_id,
       {pivot_cols}
FROM events GROUP BY user_id"""

    # event_asof: DuckDB's native ASOF LEFT JOIN is the independent
    # re-derivation of the union-tag carry-forward window. Right side
    # deduped to one row per (user, ts) in both engines so exact-ts
    # ties cannot diverge.
    sqls["event_asof"] = """
WITH p AS (
  SELECT user_id, ts, max(event_id) AS purchase_event_id,
         arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
l AS (SELECT * FROM events WHERE event_type <> 'purchase')
SELECT l.event_id, l.user_id, l.event_type,
       p.purchase_event_id AS last_purchase_event_id,
       round(p.purchase_value, 6) AS last_purchase_value
FROM l ASOF LEFT JOIN p ON l.user_id = p.user_id AND l.ts >= p.ts"""

    from .operators import serde as SR
    sqls["sales_star_rollup"] = """
SELECT r.r_name, year(o.o_orderdate) AS o_year,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4))
                         - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY 1, 2""".strip()

    # tpch_q1/q3: DuckDB mirrors the Spark decimal discipline — all
    # money math in DECIMAL(18,4) (exact, order-independent sums),
    # cast to DOUBLE then round once, same order as the Spark side.
    d = "DECIMAL(18,4)"
    sqls["tpch_q1_pricing"] = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS {d})) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS {d})) AS DOUBLE)
         AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS {d})
                      * (CAST(1 AS {d}) - CAST(l_discount AS {d})))
                  AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice AS {d})
                      * (CAST(1 AS {d}) - CAST(l_discount AS {d}))
                      * (CAST(1 AS {d}) + CAST(l_tax AS {d})))
                  AS DOUBLE), 4) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS {d})) AS DOUBLE)
             / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS {d})) AS DOUBLE)
             / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS {d})) AS DOUBLE)
             / count(*), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY 1, 2""".strip()

    sqls["tpch_q3_top_orders"] = f"""
SELECT l.l_orderkey AS orderkey,
       round(CAST(sum(CAST(l.l_extendedprice AS {d})
                      * (CAST(1 AS {d})
                         - CAST(l.l_discount AS {d}))) AS DOUBLE), 4)
         AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15'
  AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, orderkey ASC
LIMIT 10""".strip()

    sqls["order_reconciliation"] = f"""
WITH per_order AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice AS {d})
             * (CAST(1 AS {d}) - CAST(l_discount AS {d}))
             * (CAST(1 AS {d}) + CAST(l_tax AS {d}))) AS computed
  FROM lineitem GROUP BY 1),
j AS (
  SELECT CAST(o.o_totalprice AS {d}) AS header,
         coalesce(p.computed, CAST(0 AS {d})) AS computed
  FROM orders o LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey),
di AS (SELECT abs(header - computed) AS diff FROM j)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN diff <= CAST('0.01' AS {d})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
       CAST(sum(CASE WHEN diff > CAST('0.01' AS {d})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       round(CAST(max(diff) AS DOUBLE), 4) AS max_abs_diff,
       round(CAST(sum(diff) AS DOUBLE) / count(*), 4) AS mean_abs_diff
FROM di""".strip()

    sqls["bitemporal_snapshot"] = """
WITH ch AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE) AS valid_ts,
         CAST(o_orderdate AS DATE)
           + INTERVAL 1 DAY * ((o_orderkey % 5) * 7) AS tx_ts,
         o_orderpriority, o_orderkey
  FROM orders),
vis AS (SELECT * FROM ch WHERE tx_ts <= DATE '1997-06-01'),
belief AS (
  SELECT o_custkey, valid_ts,
         arg_max(o_orderpriority,
                 date_diff('day', DATE '1970-01-01', tx_ts)
                 * 100000000 + o_orderkey) AS attr
  FROM vis GROUP BY 1, 2)
SELECT o_custkey,
       arg_max(attr, valid_ts) AS o_orderpriority,
       strftime(max(valid_ts), '%Y-%m-%d') AS valid_from
FROM belief WHERE valid_ts <= DATE '1996-06-01'
GROUP BY 1""".strip()

    sqls["tpch_q10_returned_items"] = f"""
SELECT c.c_custkey AS custkey, c.c_name,
       round(CAST(sum(CAST(l.l_extendedprice AS {d})
                      * (CAST(1 AS {d})
                         - CAST(l.l_discount AS {d}))) AS DOUBLE), 4)
         AS revenue,
       round(c.c_acctbal, 6) AS c_acctbal, n.n_name
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1995-10-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, custkey ASC
LIMIT 20""".strip()

    sqls["tpch_q14_promo_effect"] = f"""
WITH j AS (
  SELECT CAST(l.l_extendedprice AS {d})
         * (CAST(1 AS {d}) - CAST(l.l_discount AS {d})) AS rev,
         p.p_type
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-09-01'
    AND CAST(l.l_shipdate AS DATE) < DATE '1995-10-01')
SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                   THEN rev ELSE CAST(0 AS {d}) END)
                     AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS promo_revenue_pct,
       round(CAST(sum(CASE WHEN p_type = 'PROMO'
                           THEN rev ELSE CAST(0 AS {d}) END)
                  AS DOUBLE), 4) AS promo_revenue,
       round(CAST(sum(rev) AS DOUBLE), 4) AS total_revenue
FROM j""".strip()

    sqls["tpch_q18_large_orders"] = f"""
WITH big AS (
  SELECT l_orderkey,
         sum(CAST(l_quantity AS {d})) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS {d})) > CAST(150.0 AS {d}))
SELECT c.c_name, c.c_custkey AS custkey,
       o.o_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o.o_totalprice, 6) AS o_totalprice,
       CAST(big.sum_qty AS DOUBLE) AS sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice DESC, orderkey ASC
LIMIT 100""".strip()

    sqls["fk_orphan_audit"] = """
SELECT 'orders->customer' AS relation,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey NOT IN
               (SELECT c_custkey FROM customer)) AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey NOT IN
               (SELECT o_orderkey FROM orders)) AS BIGINT)
UNION ALL
SELECT 'customer->nation',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer c
             WHERE c.c_nationkey NOT IN
               (SELECT n_nationkey FROM nation)) AS BIGINT)
UNION ALL
SELECT 'supplier->nation',
       CAST((SELECT count(*) FROM supplier) AS BIGINT),
       CAST((SELECT count(*) FROM supplier s
             WHERE s.s_nationkey NOT IN
               (SELECT n_nationkey FROM nation)) AS BIGINT)
UNION ALL
SELECT 'nation->region',
       CAST((SELECT count(*) FROM nation) AS BIGINT),
       CAST((SELECT count(*) FROM nation n
             WHERE n.n_regionkey NOT IN
               (SELECT r_regionkey FROM region)) AS BIGINT)""".strip()

    # customer_scd2: dedup to one change per (custkey, day) via
    # arg_max, collapse consecutive equal values, half-open intervals
    # via lead() — mirrors operators/relational.scd2_dimension
    sqls["customer_scd2"] = """
WITH ch AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         arg_max(o_orderpriority, o_orderkey) AS attr
  FROM orders GROUP BY 1, 2),
seq AS (
  SELECT o_custkey, d, attr,
         lag(attr) OVER (PARTITION BY o_custkey ORDER BY d) AS prev
  FROM ch),
chg AS (
  SELECT o_custkey, d, attr FROM seq
  WHERE prev IS NULL OR attr <> prev),
v AS (
  SELECT o_custkey, attr,
         row_number() OVER w AS version,
         strftime(d, '%Y-%m-%d') AS valid_from,
         lead(strftime(d, '%Y-%m-%d')) OVER w AS valid_to
  FROM chg WINDOW w AS (PARTITION BY o_custkey ORDER BY d))
SELECT o_custkey, CAST(version AS BIGINT) AS version,
       attr AS o_orderpriority, valid_from,
       coalesce(valid_to, '9999-12-31') AS valid_to,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current
FROM v""".strip()

    # customer_scd2_incremental: the oracle is the FULL REBUILD over
    # all orders — the Spark side builds pre-split then applies the
    # post-split batch incrementally; hash equality IS the incremental-
    # view-maintenance contract
    sqls["customer_scd2_incremental"] = sqls["customer_scd2"]

    # event_cube: full grouping-set lattice; gid built explicitly from
    # GROUPING() bits so both engines agree by construction
    sqls["event_cube"] = """
WITH e AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value
           FROM events)
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(day, '(all)') AS day,
       CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM e GROUP BY CUBE(event_type, day)""".strip()

    # event_k_anonymity: quasi-identifier cells below k=5
    sqls["event_k_anonymity"] = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(user_id % 10 AS BIGINT) AS u_bucket,
       CAST(count(*) AS BIGINT) AS n_rows
FROM events GROUP BY 1, 2, 3
HAVING count(*) < 5""".strip()

    # embedding_covariance: population covariance over unnested
    # (vec, dim) rows; agreement at round(6) (summed-double contract)
    sqls["embedding_covariance"] = """
WITH e AS (
  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
         CAST(embedding[t.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i))
SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.i - 1 AS BIGINT) AS j,
       round((sum(a.x * b.x) - sum(a.x) * sum(b.x) / count(*))
             / count(*), 6) AS cov
FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2""".strip()

    # doc_token_entropy: H = log2(n) - sum(c*log2(c))/n per doc
    sqls["doc_token_entropy"] = f"WITH {tok_cte('documents')}" + """,
u AS (SELECT doc_id, t.tok FROM tok, UNNEST(toks) AS t(tok)),
c AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
FROM c GROUP BY doc_id""".strip()

    sqls["jsonl_parse"] = """
WITH jl AS (
  SELECT doc_id,
         '{"id":' || doc_id || ',"lang":"' || lang || '","nc":'
           || n_chars || '}' AS j
  FROM documents),
lines AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 3
              THEN substring(j, 1, length(j) - 2) ELSE j END AS line
  FROM jl)
SELECT doc_id,
       CASE WHEN json_valid(line)
            THEN CAST(json_extract(line, '$.id') AS BIGINT) END AS id,
       CASE WHEN json_valid(line)
            THEN json_extract_string(line, '$.lang') END AS lang,
       CASE WHEN json_valid(line)
            THEN CAST(json_extract(line, '$.nc') AS BIGINT) END AS nc,
       json_valid(line) AS parse_ok
FROM lines""".strip()

    sqls["csv_roundtrip"] = "WITH " + terms_full_cte() + """
SELECT id, name, definition, synonyms,
       CASE WHEN synonyms = '' THEN 0
            ELSE CAST(len(string_split(synonyms, ';')) AS INT)
       END AS n_synonyms,
       namespace, is_obsolete
FROM terms_f"""

    sqls["jsonld_expand"] = "WITH " + terms_full_cte() + f"""
SELECT id, name, '{SR.OBO_BASE}' || replace(id, ':', '_') AS uri
FROM terms_f"""

    planted_all = ",".join(
        f"({_q(s)}, {_q(d)})"
        for s, d in OA.PLANTED_CYCLE + OA.PLANTED_CHAINS)
    sqls["cycle_chains"] = "WITH RECURSIVE " + rels_cte() + f""",
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT subject AS src, object AS dst FROM rels_d
    WHERE predicate = 'is_a'
    UNION ALL
    SELECT * FROM (VALUES {planted_all}) v(src, dst)) e),
walk(start, cur, path) AS (
  SELECT src, dst, [src, dst] FROM edges WHERE dst > src
  UNION ALL
  SELECT w.start, e.dst, list_append(w.path, e.dst)
  FROM walk w JOIN edges e ON e.src = w.cur
  WHERE e.dst > w.start AND NOT list_contains(w.path, e.dst)
    AND len(w.path) < 6)
SELECT array_to_string(w.path, '->') AS chain,
       CAST(len(w.path) AS INT) AS cycle_len
FROM walk w JOIN edges e ON e.src = w.cur AND e.dst = w.start"""

    _disj_planted = ",".join(
        f"({_q(s)}, {_q(d)})" for s, d in OA.PLANTED_DISJOINT)
    _disj_decls = ",".join(
        f"({_q(a)}, {_q(b)})" for a, b in OA.DISJOINT_ROOT_DECLS)
    sqls["kg_disjointness"] = "WITH RECURSIVE " + rels_cte() + f""",
e AS (
  SELECT DISTINCT src AS child, dst AS parent FROM (
    SELECT subject AS src, object AS dst FROM rels_d
    WHERE predicate = 'is_a'
    UNION ALL
    SELECT * FROM (VALUES {_disj_planted}) v(src, dst)) u),
nodes AS (
  SELECT DISTINCT child AS node FROM e
  UNION
  SELECT DISTINCT parent FROM e),
anc(node, anc) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT a.node, e.parent FROM anc a JOIN e ON e.child = a.anc),
decls(root_a, root_b) AS (VALUES {_disj_decls})
SELECT DISTINCT x.node, d.root_a, d.root_b
FROM anc x
JOIN decls d ON d.root_a = x.anc
JOIN anc y ON y.node = x.node AND y.anc = d.root_b"""

    # kg_scc: pairwise-reachability re-derivation — scc_id(v) = min of
    # {v} ∪ {u : v reaches u AND u reaches v}; independent of the
    # Spark side's coloring algorithm.
    sqls["kg_scc"] = "WITH RECURSIVE " + rels_cte() + f""",
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT subject AS src, object AS dst FROM rels_d
    WHERE predicate = 'is_a'
    UNION ALL
    SELECT * FROM (VALUES {planted_all}) v(src, dst)) e),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src),
scc AS (
  SELECT n.node,
         least(n.node, coalesce(min(m.v), n.node)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
  GROUP BY n.node),
sized AS (SELECT scc_id, count(*) AS n FROM scc GROUP BY 1)
SELECT s.node, s.scc_id, CAST(z.n AS BIGINT) AS scc_size
FROM scc s JOIN sized z USING (scc_id)"""

    sqls["event_bandit"] = """
WITH a AS (
  SELECT event_type AS arm, count(*) AS n,
         sum(CASE WHEN value >= 40.0 THEN 1 ELSE 0 END) AS s
  FROM events GROUP BY 1),
t AS (SELECT count(*) AS t FROM events)
SELECT arm, CAST(n AS BIGINT) AS n_pulls,
       CAST(s AS BIGINT) AS n_successes,
       round((1.0 + s) / (2.0 + n), 6) AS posterior_mean,
       round(s / n + sqrt(2.0 * ln(t.t) / n), 6) AS ucb1
FROM a, t""".strip()

    # bt_ratings: Hunter MM unrolled, same 12-dp renormalized rounds
    from .operators.content_stats import BT_ITER
    _bt_iters = []
    for _i in range(1, BT_ITER + 1):
        _bt_iters.append(f""",
btd{_i} AS MATERIALIZED (
  SELECT s.u, sum(s.nij / (pu.r + po.r)) AS d
  FROM btsym s
  JOIN btp{_i - 1} pu ON pu.u = s.u
  JOIN btp{_i - 1} po ON po.u = s.o
  GROUP BY 1),
btr{_i} AS MATERIALIZED (
  SELECT p.u, p.w / d.d AS r FROM btply p JOIN btd{_i} d USING (u)),
btp{_i} AS MATERIALIZED (
  SELECT u, round(r * (SELECT n FROM btnp)
                  / (SELECT sum(r) FROM btr{_i}), 12) AS r
  FROM btr{_i})""")
    sqls["bt_ratings"] = f"""
WITH btm AS MATERIALIZED (
  SELECT CASE WHEN v1 > v2 OR (v1 = v2 AND u1 < u2)
              THEN u1 ELSE u2 END AS winner,
         CASE WHEN v1 > v2 OR (v1 = v2 AND u1 < u2)
              THEN u2 ELSE u1 END AS loser
  FROM (SELECT event_id AS m, user_id AS u1, value AS v1 FROM events) a
  JOIN (SELECT event_id - 1 AS m, user_id AS u2, value AS v2
        FROM events) b USING (m)
  WHERE u1 <> u2),
btprs AS MATERIALIZED (
  SELECT least(winner, loser) AS i, greatest(winner, loser) AS j,
         count(*) AS nij
  FROM btm GROUP BY 1, 2),
btwns AS (SELECT winner AS u, count(*) AS w FROM btm GROUP BY 1),
btpld AS (
  SELECT u, count(*) AS n_matches FROM (
    SELECT winner AS u FROM btm
    UNION ALL SELECT loser FROM btm) x GROUP BY 1),
btply AS MATERIALIZED (
  SELECT p.u, coalesce(w.w, 0) AS w, p.n_matches
  FROM btpld p LEFT JOIN btwns w USING (u)),
btnp AS MATERIALIZED (SELECT count(*) AS n FROM btply),
btsym AS MATERIALIZED (
  SELECT i AS u, j AS o, nij FROM btprs
  UNION ALL SELECT j, i, nij FROM btprs),
btp0 AS MATERIALIZED (SELECT u, 1.0 AS r FROM btply){"".join(_bt_iters)}
SELECT p.u AS user_id, round(f.r, 6) AS rating,
       CAST(p.w AS BIGINT) AS wins,
       CAST(p.n_matches AS BIGINT) AS n_matches
FROM btply p JOIN btp{BT_ITER} f USING (u)""".strip()

    # eval_pass_at_k: same left-associative factor chain per k
    from .operators.content_stats import PASSK_KS, PASSK_THRESHOLD
    _pk_legs = []
    for _k in PASSK_KS:
        _prod = "1.0" + "".join(
            f" * (CAST(n - c - {i} AS DOUBLE) / (n - {i}))"
            for i in range(_k))
        _pk_legs.append(f"""
SELECT CAST({_k} AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_tasks,
       round(avg(1.0 - {_prod}), 6) AS pass_at_k
FROM pt WHERE n >= {_k}""")
    sqls["eval_pass_at_k"] = f"""
WITH pt AS (
  SELECT user_id, count(*) AS n,
         sum(CASE WHEN value >= {PASSK_THRESHOLD} THEN 1 ELSE 0 END)
           AS c
  FROM events GROUP BY 1)
{chr(10).join("UNION ALL" + leg if i else leg
              for i, leg in enumerate(_pk_legs))}""".strip()

    sqls["partition_evolution"] = """
WITH f AS (
  SELECT CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
              THEN 1 ELSE 0 END AS spec,
         CAST(ts AS DATE) AS day,
         CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
              THEN event_type END AS part_type,
         count(*) AS n_rows,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS n_match
  FROM events GROUP BY 1, 2, 3),
g AS (
  SELECT spec,
         day >= DATE '2024-01-08' AND day < DATE '2024-01-24'
           AS in_range,
         (day >= DATE '2024-01-08' AND day < DATE '2024-01-24')
           AND (spec = 0 OR part_type = 'purchase') AS is_read,
         n_rows, n_match
  FROM f),
a AS (
  SELECT spec, CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN is_read THEN 1 ELSE 0 END) AS BIGINT)
           AS n_files_read,
         CAST(sum(CASE WHEN is_read THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_scanned,
         CAST(sum(CASE WHEN in_range THEN n_match ELSE 0 END)
              AS BIGINT) AS rows_matched
  FROM g GROUP BY 1)
SELECT *, round(CAST(rows_scanned AS DOUBLE)
                / greatest(rows_matched, 1), 6) AS read_amplification
FROM a""".strip()

    sqls["event_trailing_window"] = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS spend
  FROM events GROUP BY 1, 2)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       round(sum(spend) OVER w, 6) AS trailing_sum,
       round(avg(spend) OVER w, 6) AS trailing_avg,
       CAST(count(*) OVER w AS INT) AS n_active_days
FROM daily
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY date_diff('day', DATE '1970-01-01', day)
  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".strip()

    sqls["event_sequence_match"] = """
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS journey
  FROM events GROUP BY 1)
SELECT user_id, journey,
       CAST(len(regexp_extract_all(journey, 'vc*p')) AS INT)
         AS n_conversion_paths,
       CAST(len(regexp_extract_all(journey, 'ee+')) AS INT)
         AS n_error_bursts,
       CAST(length(journey) AS INT) AS n_events
FROM j""".strip()

    sqls["user_erasure_audit"] = """
WITH req AS (
  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
ho AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT k FROM req))
SELECT 'customer' AS relation,
       CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_total,
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey IN (SELECT k FROM req)) AS BIGINT)
         AS n_erased,
       round(CAST((SELECT count(*) FROM customer
                   WHERE c_custkey IN (SELECT k FROM req)) AS DOUBLE)
             / (SELECT count(*) FROM customer), 6) AS erased_pct
UNION ALL
SELECT 'orders',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders
             WHERE o_custkey IN (SELECT k FROM req)) AS BIGINT),
       round(CAST((SELECT count(*) FROM orders
                   WHERE o_custkey IN (SELECT k FROM req)) AS DOUBLE)
             / (SELECT count(*) FROM orders), 6)
UNION ALL
SELECT 'lineitem',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM ho)) AS BIGINT),
       round(CAST((SELECT count(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM ho))
                  AS DOUBLE)
             / (SELECT count(*) FROM lineitem), 6)
UNION ALL
SELECT 'events',
       CAST((SELECT count(*) FROM events) AS BIGINT),
       CAST((SELECT count(*) FROM events
             WHERE user_id IN (SELECT k FROM req)) AS BIGINT),
       round(CAST((SELECT count(*) FROM events
                   WHERE user_id IN (SELECT k FROM req)) AS DOUBLE)
             / (SELECT count(*) FROM events), 6)""".strip()

    sqls["kg_property_path"] = "WITH RECURSIVE " + rels_cte() + """,
e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM rels_d
  WHERE predicate IN ('is_a', 'part_of')),
seeds AS (
  SELECT DISTINCT subject AS start FROM rels_d
  WHERE predicate IN ('is_a', 'part_of') AND subject LIKE '%0'),
walk(start, node, dist) AS (
  SELECT start, start, 0 FROM seeds
  UNION
  SELECT w.start, e.dst, w.dist + 1
  FROM walk w JOIN e ON e.src = w.node WHERE w.dist < 8)
SELECT start, node, CAST(min(dist) AS INT) AS dist
FROM walk WHERE dist >= 1 GROUP BY 1, 2"""

    # kg_condensation: same reachability-derived scc mapping, edges
    # contracted through it (self-loops dropped)
    sqls["kg_condensation"] = "WITH RECURSIVE " + rels_cte() + f""",
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT subject AS src, object AS dst FROM rels_d
    WHERE predicate = 'is_a'
    UNION ALL
    SELECT * FROM (VALUES {planted_all}) v(src, dst)) e),
nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst FROM edges),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst),
mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src),
scc AS (
  SELECT n.node,
         least(n.node, coalesce(min(m.v), n.node)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
  GROUP BY n.node)
SELECT s1.scc_id AS c_src, s2.scc_id AS c_dst,
       CAST(count(*) AS BIGINT) AS n_edges
FROM edges e
JOIN scc s1 ON s1.node = e.src
JOIN scc s2 ON s2.node = e.dst
WHERE s1.scc_id <> s2.scc_id
GROUP BY 1, 2"""

    # kg_topo_layers: longest root->v path via recursive CTE max —
    # the Spark side reaches the same fixpoint by max-relaxation.
    sqls["kg_topo_layers"] = "WITH RECURSIVE " + rels_cte() + """,
e AS (
  SELECT DISTINCT subject AS child, object AS parent FROM rels_d
  WHERE predicate = 'is_a'),
nodes AS (
  SELECT DISTINCT child AS node FROM e
  UNION
  SELECT DISTINCT parent FROM e),
lp(node, lvl) AS (
  SELECT node, 0 FROM nodes
  WHERE node NOT IN (SELECT child FROM e)
  UNION
  SELECT e.child, lp.lvl + 1 FROM lp JOIN e ON e.parent = lp.node)
SELECT node, CAST(max(lvl) AS INT) AS layer FROM lp GROUP BY 1"""

    planted = ",".join(f"({_q(s)}, {_q(d)})" for s, d in OA.PLANTED_CYCLE)
    sqls["cycle_triads"] = "WITH " + rels_cte() + f""",
edges AS (
  SELECT subject AS src, object AS dst FROM rels_d WHERE predicate = 'is_a'
  UNION ALL
  SELECT * FROM (VALUES {planted}) v(src, dst))
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM edges e1
JOIN edges e2 ON e2.src = e1.dst
JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
WHERE e1.src < e1.dst AND e1.src < e2.dst"""

    shortcuts = ",".join(f"({_q(s)}, {_q(d)})" for s, d in OA.PLANTED_SHORTCUTS)
    sqls["hierarchy_redundant_edges"] = (
        "WITH RECURSIVE " + rels_cte() + f""",
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT subject AS src, object AS dst FROM rels_d
    WHERE predicate = 'is_a'
    UNION ALL
    SELECT * FROM (VALUES {shortcuts}) v(src, dst)) u),
reach(src, dst) AS (
  SELECT a.src, b.dst FROM e a JOIN e b ON b.src = a.dst
  UNION
  SELECT r.src, b.dst FROM reach r JOIN e b ON b.src = r.dst)
SELECT e.src, e.dst,
       EXISTS (SELECT 1 FROM reach r
               WHERE r.src = e.src AND r.dst = e.dst) AS redundant
FROM e""")

    # ntriples_parse / turtle_parse must invert their serializers, so the
    # oracle is the pre-serialization triple set itself (independent of
    # the parse regexes)
    sqls["ntriples_parse"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte()) + """
SELECT subject, predicate, object, object_type
FROM triples
GROUP BY 1,2,3,4"""

    sqls["turtle_parse"] = sqls["ntriples_parse"]

    # format_route: the registry dispatch must recover, per format tag,
    # exactly what each serializer was fed — triples for .nt/.ttl, the
    # terms-derived label/is_a rows for the sniffed RDF/XML docs
    # (planted garbage lines parse to empty subjects and are filtered)
    _parsed = """
parsed AS (
  SELECT subject, predicate, object, object_type
  FROM triples GROUP BY 1,2,3,4)""".strip()
    sqls["format_route"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte(), terms_cte(), _parsed) + """
SELECT 'ntriples' AS fmt, subject, predicate, object, object_type
FROM parsed
UNION ALL
SELECT 'turtle', subject, predicate, object, object_type FROM parsed
UNION ALL
SELECT 'rdfxml', id, 'label', name, 'literal' FROM terms_d
UNION ALL
SELECT 'rdfxml', id, 'is_a', parent, 'uri' FROM terms_d
WHERE parent IS NOT NULL"""

    # parse_stats: expected per-format totals derived from the known
    # synthesis — line formats carry one planted garbage line per
    # seq%10==0 term; rdfxml contributes one label per term + one is_a
    # per parented term and cannot fail silently
    sqls["parse_stats"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte(), terms_cte(), _parsed) + """,
nt AS (SELECT count(*) AS n FROM parsed),
bad AS (SELECT count(*) AS n FROM terms_d
        WHERE CAST(regexp_extract(id, '(\\d+)$', 1) AS BIGINT) % 10 = 0),
tno AS (SELECT count(*) AS n FROM terms_d),
tpar AS (SELECT count(*) AS n FROM terms_d WHERE parent IS NOT NULL)
SELECT 'ntriples' AS fmt, nt.n + bad.n AS n_inputs, nt.n AS n_triples,
       bad.n AS n_failed,
       round(1 - CAST(bad.n AS DOUBLE) / (nt.n + bad.n), 6) AS success_rate
FROM nt, bad
UNION ALL
SELECT 'turtle', nt.n + bad.n, nt.n, bad.n,
       round(1 - CAST(bad.n AS DOUBLE) / (nt.n + bad.n), 6)
FROM nt, bad
UNION ALL
SELECT 'rdfxml', tno.n, tno.n + tpar.n, CAST(0 AS BIGINT),
       CAST(1.0 AS DOUBLE)
FROM tno, tpar"""

    # url_route: the three URL-addressed serializations of one KG run
    # (decorations.url_format_files) — scheme + format + payload count
    # recomputed from the known synthesis (nt/ttl carry one line per
    # dedup'd triple; the extension-less s3 key carries one RDF/XML doc
    # per term and resolves via content sniff)
    sqls["url_route"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte(), terms_cte(), _parsed) + """,
np AS (SELECT count(*) AS n FROM parsed),
nt AS (SELECT count(*) AS n FROM terms_d)
SELECT 'https://onto.example.org/dump.nt?v=2' AS url, 'https' AS scheme,
       'ntriples' AS fmt, CAST(np.n AS INT) AS n_payloads FROM np
UNION ALL
SELECT 'file:///data/exports/dump.ttl#part1', 'file', 'turtle',
       CAST(np.n AS INT) FROM np
UNION ALL
SELECT 's3://kg-bucket/export_terms', 's3', 'rdfxml',
       CAST(nt.n AS INT) FROM nt"""

    # url_parse: the registry dispatch over the URL corpus recovers
    # exactly what each serializer was fed (no planted garbage here,
    # unlike format_route)
    sqls["url_parse"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte(), terms_cte(), _parsed) + """
SELECT 'ntriples' AS fmt, subject, predicate, object, object_type
FROM parsed
UNION ALL
SELECT 'turtle', subject, predicate, object, object_type FROM parsed
UNION ALL
SELECT 'rdfxml', id, 'label', name, 'literal' FROM terms_d
UNION ALL
SELECT 'rdfxml', id, 'is_a', parent, 'uri' FROM terms_d
WHERE parent IS NOT NULL"""

    # jats_parse: the expected element rows re-derived from the
    # decorations.jats_docs synthesis spec — title = first 3 lowered
    # tokens, abstract first 6, intro section carries the raw text,
    # methods (tokens 2-5) when doc_id%2=0, a figure caption when
    # doc_id%3=0; doc_id%23=7 drops closing tags and must surface as a
    # parse_error row; doc_id%5=0 wraps in <pmc-articleset> -> 'pmc'
    sqls["jats_parse"] = f"WITH {tok_cte('documents')}" + """,
base AS (
  SELECT doc_id, text, toks, doc_id % 23 = 7 AS malformed,
         CASE WHEN doc_id % 5 = 0 THEN 'pmc' ELSE 'jats' END AS sch
  FROM tok)
SELECT doc_id, 'unknown' AS xml_schema, 'parse_error' AS elem,
       CAST(NULL AS VARCHAR) AS sec_type, CAST(NULL AS VARCHAR) AS content,
       CAST(-1 AS INT) AS pos
FROM base WHERE malformed
UNION ALL
SELECT doc_id, sch, 'title', NULL, array_to_string(toks[1:3], ' '),
       CAST(0 AS INT)
FROM base WHERE NOT malformed
UNION ALL
SELECT doc_id, sch, 'abstract', NULL, array_to_string(toks[1:6], ' '),
       CAST(1 AS INT)
FROM base WHERE NOT malformed
UNION ALL
SELECT doc_id, sch, 'section', 'intro', text, CAST(2 AS INT)
FROM base WHERE NOT malformed
UNION ALL
SELECT doc_id, sch, 'section', 'methods',
       array_to_string(toks[2:5], ' '), CAST(3 AS INT)
FROM base WHERE NOT malformed AND doc_id % 2 = 0
UNION ALL
SELECT doc_id, sch, 'figure', NULL, 'figure of ' || toks[1],
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS INT)
FROM base WHERE NOT malformed AND doc_id % 3 = 0"""

    # content_guards: expected byte counts / encodings recomputed from
    # the decorations.encoded_payloads spec (text is pure ASCII so byte
    # arithmetic is exact: BOM +3, UTF-16LE 2+2n, trailing 0xFF +1,
    # 100x repeat 100n); the guard itself reads real bytes
    from . import decorations as DEC
    sqls["content_guards"] = f"""
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS len, doc_id % 6 AS m
  FROM documents),
c AS (
  SELECT doc_id,
         CAST(CASE m WHEN 1 THEN len + 3 WHEN 2 THEN 2 + 2 * len
                     WHEN 3 THEN len + 1 WHEN 4 THEN 100 * len
                     ELSE len END AS INT) AS n_bytes,
         CASE m WHEN 1 THEN 'utf-8-bom' WHEN 2 THEN 'utf-16le'
                WHEN 3 THEN 'invalid' ELSE 'utf-8' END AS encoding
  FROM b)
SELECT doc_id, n_bytes, encoding,
       CASE WHEN n_bytes > {DEC.GUARD_MAX_BYTES} THEN 'oversized'
            WHEN encoding = 'invalid' THEN 'rejected'
            ELSE 'ok' END AS status
FROM c"""

    # owl_export: every sink block re-derived from the dimension CTEs —
    # definitions/namespaces are always present in the synthetic terms,
    # so the optional comment/isDefinedBy lines always appear; string
    # literals carry real newlines (block-per-row document form)
    from .operators import sinks as SK
    sqls["owl_export"] = "WITH " + terms_full_cte() + ",\n" + rels_cte() + f"""
SELECT 0 AS sect, '' AS part_key, {_q(SK.OWL_PREAMBLE)} AS block
UNION ALL
SELECT 1, 'PLANT_MERGED',
       '  <owl:Ontology rdf:about="#PLANT_MERGED">' || chr(10) ||
       '    <rdfs:label>merged plant ontology</rdfs:label>' || chr(10) ||
       '  </owl:Ontology>'
UNION ALL
SELECT 2, id,
       '  <owl:Class rdf:about="#' || id || '">' || chr(10) ||
       '    <rdfs:label>' || name || '</rdfs:label>' ||
       CASE WHEN definition <> '' THEN chr(10) ||
            '    <rdfs:comment>' || definition || '</rdfs:comment>'
            ELSE '' END ||
       CASE WHEN namespace <> '' THEN chr(10) ||
            '    <rdfs:isDefinedBy>' || namespace || '</rdfs:isDefinedBy>'
            ELSE '' END ||
       chr(10) || '  </owl:Class>'
FROM terms_f
UNION ALL
SELECT 3, id,
       '  <owl:ObjectProperty rdf:about="#' || predicate || '">'
       || chr(10) ||
       '    <rdfs:domain rdf:resource="#' || subject || '"/>'
       || chr(10) ||
       '    <rdfs:range rdf:resource="#' || object || '"/>'
       || chr(10) || '  </owl:ObjectProperty>'
FROM rels_d
UNION ALL
SELECT 4, '', '</rdf:RDF>'"""

    # conversion_filter: class/property/individual groups re-derived
    # from the dimension CTEs, same include flags + name regexes as the
    # query (class names ^[a-m], properties is_a|part_of)
    sqls["conversion_filter"] = "WITH " + ",\n".join([
        terms_cte(), rels_cte(), """
tseq AS (
  SELECT id, name, parent,
         CAST(regexp_extract(id, '(\\d+)$', 1) AS BIGINT) AS seq
  FROM terms_d),
conv AS (
  SELECT id AS subject, 'rdf:type' AS predicate, 'owl:Class' AS object,
         'class' AS entity_kind, name AS entity_name FROM terms_d
  UNION ALL
  SELECT id, 'rdfs:label', name, 'class', name FROM terms_d
  UNION ALL
  SELECT id, 'rdfs:subClassOf', parent, 'class', name FROM terms_d
  WHERE parent IS NOT NULL
  UNION ALL
  SELECT predicate, 'rdf:type', 'owl:ObjectProperty', 'property',
         predicate
  FROM (SELECT DISTINCT predicate FROM rels_d) p
  UNION ALL
  SELECT 'IND:' || CAST(seq AS VARCHAR), 'rdf:type', id, 'individual',
         name || ' specimen'
  FROM tseq WHERE seq % 5 = 0
  UNION ALL
  SELECT 'IND:' || CAST(seq AS VARCHAR), 'rdfs:label',
         name || ' specimen', 'individual', name || ' specimen'
  FROM tseq WHERE seq % 5 = 0)""".strip()]) + """
SELECT subject, predicate, object, entity_kind, entity_name
FROM conv
WHERE (entity_kind <> 'class' OR regexp_matches(entity_name, '^[a-m]'))
  AND (entity_kind <> 'property'
       OR regexp_matches(entity_name, '^(is_a|part_of)$'))"""

    # custom_filter: the registered named predicate, re-stated literally
    sqls["custom_filter"] = "WITH " + terms_cte() + """
SELECT id, name, namespace
FROM terms_d
WHERE namespace = 'chemical' AND NOT is_obsolete AND length(name) >= 8"""

    # rdfxml_parse: expected triples derived directly from the terms
    # dimension (label literal per term; subClassOf -> is_a per parent),
    # independent of the XML serialization + etree parse under test
    sqls["rdfxml_parse"] = "WITH " + terms_cte() + """
SELECT id AS subject, 'label' AS predicate, name AS object,
       'literal' AS object_type
FROM terms_d
UNION ALL
SELECT id, 'is_a', parent, 'uri' FROM terms_d WHERE parent IS NOT NULL"""

    sqls["jsonld_compact"] = "WITH " + terms_full_cte() + """
SELECT id, name, 'obo:' || replace(id, ':', '_') AS curie FROM terms_f"""

    sqls["jsonld_flatten"] = "WITH " + terms_full_cte() + """
SELECT ontology_id, id AS node_id, name FROM terms_f"""

    sqls["text_normalize"] = """
WITH deco AS (
  SELECT doc_id,
         text || ' over-' || chr(10) || '  spaced   cafe' || chr(769)
              || ' ~end' AS t
  FROM documents),
norm AS (
  SELECT doc_id,
         nfc_normalize(trim(regexp_replace(regexp_replace(regexp_replace(
             t, '-\\n\\s*', '', 'g'), '[~^|]', '', 'g'), '\\s+', ' ', 'g')))
           AS text_norm
  FROM deco)
SELECT doc_id, text_norm, CAST(length(text_norm) AS INT) AS n_chars_norm
FROM norm"""

    alt_rows = [
        (_q(a), _q(t["id"]), _q(t["name"]))
        for t in OD.terms() for a in t["alt_ids"]
    ]
    sqls["alt_id_lookup"] = ("WITH " + _values(
        alt_rows, "alt_d", ["alt_id", "term_id", "name"]) + r"""
SELECT alt_id, term_id, name FROM alt_d
WHERE CAST(regexp_extract(alt_id, '(\d+)$', 1) AS BIGINT) % 3 = 0""")

    sqls["uri_lang_validation"] = "WITH " + terms_cte() + r""",
deco AS (
  SELECT id,
         CASE WHEN CAST(regexp_extract(id, '(\d+)$', 1) AS BIGINT) % 6 = 2
              THEN 'urn:ont bad:' || id ELSE 'urn:ont:' || id END AS uri,
         CASE CAST(regexp_extract(id, '(\d+)$', 1) AS BIGINT) % 8
              WHEN 0 THEN 'en' WHEN 1 THEN 'EN-us-' ELSE NULL END AS lang
  FROM terms_d)
SELECT id AS term_id, 'invalid_uri' AS rule FROM deco
WHERE NOT regexp_matches(uri, '^[a-z][a-z0-9+.-]*:\S+$')
UNION ALL
SELECT id, 'invalid_lang_tag' FROM deco
WHERE lang IS NOT NULL
  AND NOT regexp_matches(lang, '^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$')"""

    tf = terms_full_cte()
    merge_src = """
src_a AS (
  SELECT id, name, namespace, ontology_id FROM terms_f
  WHERE ontology_id IN ('CHEBI', 'GO')),
src_b AS (
  SELECT id, name, namespace, ontology_id FROM terms_f
  WHERE ontology_id IN ('GO', 'PO'))
""".strip()
    sqls["merge_selective"] = "WITH " + ",\n".join([tf, merge_src]) + """
SELECT id, name, namespace, ontology_id, src FROM (
  SELECT u.*, row_number() OVER (
    PARTITION BY id ORDER BY priority DESC, src ASC) AS rn
  FROM (
    SELECT *, 1 AS priority, 'A' AS src FROM src_a
    WHERE namespace IN ('chemical', 'biological_process')
    UNION ALL
    SELECT *, 2 AS priority, 'B' AS src FROM src_b
    WHERE namespace IN ('chemical', 'biological_process')
  ) u
) t WHERE rn = 1"""

    sqls["set_difference"] = "WITH " + ",\n".join([tf, merge_src]) + """
SELECT id, name, namespace, ontology_id, 'A' AS src FROM src_a
WHERE id NOT IN (SELECT id FROM src_b)
UNION ALL
SELECT id, name, namespace, ontology_id, 'B' FROM src_b
WHERE id NOT IN (SELECT id FROM src_a)"""

    sqls["merge_stats"] = "WITH " + ",\n".join([tf, merge_src]) + """
, ia AS (SELECT DISTINCT id FROM src_a),
ib AS (SELECT DISTINCT id FROM src_b)
SELECT CAST(count(ia.id) AS BIGINT) AS n_a,
       CAST(count(ib.id) AS BIGINT) AS n_b,
       CAST(sum(CASE WHEN ia.id IS NOT NULL AND ib.id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_conflicts,
       CAST(sum(CASE WHEN ib.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_a,
       CAST(sum(CASE WHEN ia.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_b,
       CAST(count(*) AS BIGINT) AS n_union
FROM ia FULL OUTER JOIN ib ON ia.id = ib.id"""

    ns = ",".join(_q(n) for n in OA.KNOWN_NAMESPACES)
    sqls["term_quarantine"] = "WITH " + terms_cte() + f""",
corrupted AS (
  SELECT CASE WHEN CAST(regexp_extract(id, '(\\d+)$', 1) AS BIGINT) % 7 = 3
              THEN lower(id) ELSE id END AS id,
         CASE WHEN CAST(regexp_extract(id, '(\\d+)$', 1) AS BIGINT) % 11 = 5
              THEN '' ELSE name END AS name,
         CASE WHEN CAST(regexp_extract(id, '(\\d+)$', 1) AS BIGINT) % 13 = 8
              THEN 'ns_unknown' ELSE namespace END AS namespace
  FROM terms_d)
SELECT id AS term_id, 'id_format' AS rule FROM corrupted
WHERE NOT regexp_matches(id, '^[A-Z]+:\\d+$')
UNION ALL
SELECT id, 'empty_name' FROM corrupted WHERE trim(name) = ''
UNION ALL
SELECT id, 'unknown_namespace' FROM corrupted
WHERE namespace NOT IN ({ns})"""
    return sqls


def _media_sqls() -> dict[str, str]:
    """Oracles for operators/media.py (dedup-merge, caption cleanup,
    scientific notation)."""
    from .operators import media as MD

    sqls = {}
    clean = ("trim(regexp_replace(regexp_replace(regexp_replace("
             "trim(text), '\\s+', ' ', 'g'), '^[:\\-.\\s]+', ''), "
             "'[:\\-.\\s]+$', ''))")
    ind = " OR ".join(
        f"contains(lower(caption), '{i}')" for i in MD.QUALITY_INDICATORS)
    conf = (
        "least(1.0, greatest(0.1, 0.7"
        " + (CASE WHEN length(caption) > 50 THEN 0.1"
        " WHEN length(caption) < 10 THEN -0.2 ELSE 0.0 END)"
        " + (CASE WHEN regexp_matches(number, '^\\d+$') THEN 0.1"
        " WHEN regexp_matches(number, '^\\d+[a-z]$') THEN 0.05"
        " ELSE 0.0 END)"
        f" + (CASE WHEN {ind} THEN 0.05 ELSE 0.0 END)))")
    sqls["media_context"] = corpus_prefix() + """,
mc AS (
  SELECT doc_id, pos, kind, text, media_ref, "offset",
         last_value(CASE WHEN kind = 'text' THEN text END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS context_text,
         last_value(CASE WHEN kind = 'text' THEN "offset" END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS context_off
  FROM spans)
SELECT doc_id, media_ref, kind, text AS caption, context_text,
       CAST("offset" - context_off AS INT) AS context_gap
FROM mc WHERE kind IN ('figure', 'table')"""

    sqls["media_dedup_merge"] = corpus_prefix() + f"""
, mbase AS (
  SELECT doc_id, kind,
         regexp_extract(text, '{MD.NUMBER_PATTERN}', 1) AS number,
         {clean} AS caption, 'library' AS method
  FROM spans WHERE kind IN ('figure', 'table')
    AND regexp_extract(text, '{MD.NUMBER_PATTERN}', 1) <> ''),
mcand AS (
  SELECT * FROM mbase
  UNION ALL
  SELECT doc_id, kind, number, substring(caption, 1, 9), 'pattern'
  FROM mbase
  WHERE kind = 'figure'
    AND CAST(regexp_extract(doc_id, '(\\d+)$', 1) AS BIGINT) % 6 = 0),
scored AS (SELECT mcand.*, {conf} AS confidence FROM mcand),
best AS (
  SELECT doc_id, kind, number, caption, row_number() OVER (
    PARTITION BY doc_id, kind, number
    ORDER BY length(caption) DESC, caption DESC) AS rn
  FROM scored)
SELECT s.doc_id, s.kind, s.number, b.caption,
       round(avg(s.confidence), 6) AS confidence,
       CAST(count(*) AS BIGINT) AS n_candidates
FROM scored s
JOIN best b ON b.doc_id = s.doc_id AND b.kind = s.kind
 AND b.number = s.number AND b.rn = 1
GROUP BY 1, 2, 3, 4"""

    # roman synthesis (CASE map) + general parse (char-value zip-shift)
    romans = ["i", "ii", "iii", "iv", "v", "vi", "vii", "viii", "ix",
              "x", "xi", "xii"]
    rsel = "CASE seq % 12 " + " ".join(
        f"WHEN {i} THEN '{r}'" for i, r in enumerate(romans)) + " END"

    def rv(pos: str) -> str:
        whens = " ".join(f"WHEN '{ch}' THEN {v}"
                         for ch, v in MD.ROMAN_VALUES)
        return f"(CASE substring(label, {pos}, 1) {whens} ELSE 0 END)"

    roman_sum = (
        "list_sum(list_transform(range(1, length(label) + 1), p -> "
        f"CASE WHEN {rv('p')} < {rv('p + 1')} THEN -{rv('p')} "
        f"ELSE {rv('p')} END))")
    sqls["caption_cleanup"] = corpus_prefix() + f"""
, mdeco AS (
  SELECT doc_id, kind, media_ref,
         CASE WHEN seq % 2 = 1
              THEN regexp_extract(text, '^(figure|table)', 1) || ' '
                   || {rsel}
                   || regexp_replace(text, '^(figure|table) \\d+', '')
              ELSE text END AS text
  FROM (SELECT s.*, CAST(regexp_extract(doc_id, '(\\d+)$', 1) AS BIGINT)
               AS seq
        FROM spans s WHERE kind IN ('figure', 'table')) d),
lbl AS (
  SELECT doc_id, kind, media_ref, text,
         regexp_extract(text, '{MD.LABEL_PATTERN}', 1) AS label
  FROM mdeco)
SELECT doc_id, kind, media_ref,
       CAST(CASE WHEN regexp_matches(label, '^\\d+$')
                 THEN CAST(label AS INT)
                 ELSE {roman_sum} END AS INT) AS number_int,
       {clean} AS clean_caption
FROM lbl"""

    sqls["scientific_notation"] = corpus_prefix() + f"""
, stext AS (
  SELECT doc_id, pos,
         CASE WHEN seq % 9 = 0
              THEN text || ' measured 1.5e-3 mol against '
                   || CAST(seq % 7 + 2 AS VARCHAR) || '.25 controls'
              ELSE text END AS text
  FROM (SELECT s.*, CAST(regexp_extract(doc_id, '(\\d+)$', 1) AS BIGINT)
               AS seq
        FROM spans s WHERE kind = 'text') d)
SELECT doc_id, pos, raw, round(TRY_CAST(raw AS DOUBLE), 6) AS value
FROM (
  SELECT doc_id, pos,
         unnest(regexp_extract_all(text, '{MD.SCI_PATTERN}')) AS raw
  FROM stext) u"""
    return sqls


def oracle_sql() -> dict[str, str]:
    pat = ner_pattern()
    sqls: dict[str, str] = {}

    sqls["interleaved_documents"] = (
        corpus_prefix()
        + '\nSELECT doc_id, pos, kind, text, media_ref, "offset" FROM spans')

    sqls["span_integrity"] = corpus_prefix() + """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN kind='text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       CAST(sum(CASE WHEN kind IN ('figure','table') THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       CAST(max("offset") AS INT) AS max_offset,
       CAST(min("offset") AS INT) AS min_offset
FROM spans GROUP BY doc_id"""

    sqls["ner_mentions"] = corpus_prefix() + f"""
SELECT DISTINCT doc_id, kind, surface FROM (
  SELECT doc_id, kind,
         unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
  FROM spans WHERE kind IN ('text','figure','table')) t"""

    sqls["entity_linking"] = corpus_prefix(gaz_cte(), link_cte()) + f"""
SELECT DISTINCT m.doc_id, m.surface, l.term_id, l.match_kind
FROM (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
  FROM spans WHERE kind IN ('text','figure','table')) m
JOIN link l ON l.surface = m.surface"""

    # collective coherence disambiguation: gaz2 = gazetteer + planted
    # homonyms (decorations.homonym_gazetteer ring CHEBI->GO->PO->CHEBI,
    # local id divisible by 5 folded into the target's live range);
    # winner per ambiguous (doc, surface) = max coherence (distinct
    # ontology-edge-adjacent anchors in the doc), then rank, then id
    def _ring(tp: str, base: int, size: int) -> str:
        return (f"'{tp}:' || CAST({base} + ((CAST(split_part(term_id, "
                f"':', 2) AS INT) % 10000 - 1) % {size}) + 1 AS VARCHAR)")

    dis_ctes = f""",
gaz2 AS (
  SELECT surface, term_id, rank FROM gaz
  UNION
  SELECT surface,
         CASE split_part(term_id, ':', 1)
           WHEN 'CHEBI' THEN {_ring('GO', 20000, 120)}
           WHEN 'GO' THEN {_ring('PO', 30000, 125)}
           WHEN 'PO' THEN {_ring('CHEBI', 10000, 150)}
         END AS term_id,
         rank
  FROM gaz
  WHERE match_kind = 'name'
    AND split_part(term_id, ':', 1) IN ('CHEBI', 'GO', 'PO')
    AND (CAST(split_part(term_id, ':', 2) AS INT) % 10000) % 5 = 0),
ds AS MATERIALIZED (
  SELECT DISTINCT doc_id, surface FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m),
surfc AS MATERIALIZED (
  SELECT surface, count(DISTINCT term_id) AS n_cands
  FROM gaz2 GROUP BY 1),
anchors AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, g.term_id AS nb
  FROM ds d JOIN surfc s USING (surface) JOIN gaz2 g USING (surface)
  WHERE s.n_cands = 1),
amb AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, d.surface, g.term_id, g.rank, s.n_cands
  FROM ds d JOIN surfc s USING (surface) JOIN gaz2 g USING (surface)
  WHERE s.n_cands > 1),
sym_edges AS (
  SELECT DISTINCT subject AS a, object AS b FROM rels_d
  UNION SELECT DISTINCT object, subject FROM rels_d
  UNION SELECT DISTINCT r1.subject, r2.subject
        FROM rels_d r1 JOIN rels_d r2
          ON r1.predicate = 'is_a' AND r2.predicate = 'is_a'
         AND r1.object = r2.object AND r1.subject <> r2.subject),
ecoh AS (
  SELECT m.doc_id, m.surface, m.term_id,
         count(DISTINCT an.nb) AS edge_coh
  FROM amb m JOIN sym_edges e ON e.a = m.term_id
  JOIN anchors an ON an.doc_id = m.doc_id AND an.nb = e.b
  GROUP BY 1, 2, 3),
tcoh AS (
  SELECT m.doc_id, m.surface, m.term_id,
         count(DISTINCT an.nb) AS type_coh
  FROM amb m JOIN anchors an ON an.doc_id = m.doc_id
   AND split_part(an.nb, ':', 1) = split_part(m.term_id, ':', 1)
  GROUP BY 1, 2, 3),
dis_scored AS (
  SELECT m.doc_id, m.surface, m.term_id, m.rank, m.n_cands,
         coalesce(e.edge_coh, 0) AS edge_coh,
         coalesce(t.type_coh, 0) AS type_coh
  FROM amb m
  LEFT JOIN ecoh e ON e.doc_id = m.doc_id
    AND e.surface = m.surface AND e.term_id = m.term_id
  LEFT JOIN tcoh t ON t.doc_id = m.doc_id
    AND t.surface = m.surface AND t.term_id = m.term_id)"""
    sqls["entity_disambiguation"] = corpus_prefix(
        gaz_cte(), rels_cte()) + dis_ctes + """
SELECT doc_id, surface, term_id, CAST(edge_coh AS BIGINT) AS edge_coh,
       CAST(type_coh AS BIGINT) AS type_coh,
       CAST(n_cands AS BIGINT) AS n_cands
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, surface
    ORDER BY edge_coh DESC, type_coh DESC, rank DESC, term_id ASC) AS rn
  FROM dis_scored) x
WHERE rn = 1"""

    sqls["linking_review_queue"] = corpus_prefix(
        gaz_cte(), rels_cte()) + dis_ctes + """,
rankd AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, surface
    ORDER BY edge_coh DESC, type_coh DESC, rank DESC, term_id ASC) AS rn
  FROM dis_scored)
SELECT w.doc_id, w.surface, CAST(w.n_cands AS BIGINT) AS n_cands,
       w.term_id AS winner, r.term_id AS runner_up,
       CAST(w.edge_coh - r.edge_coh AS BIGINT) AS edge_gap,
       CAST(w.type_coh - r.type_coh AS BIGINT) AS type_gap,
       (w.edge_coh = r.edge_coh AND w.type_coh = r.type_coh)
         AS needs_review
FROM (SELECT * FROM rankd WHERE rn = 1) w
JOIN (SELECT * FROM rankd WHERE rn = 2) r
  ON r.doc_id = w.doc_id AND r.surface = w.surface"""

    # release-migration relink delta (linking.relink_delta): v2 terms
    # under the release-diff mutation (bucket '0' removed, '1' renamed,
    # '2' obsolete-flipped, synonyms untouched); winners per surface
    # from the derived gazetteers (name rank 3, synonym rank 2)
    relgaz = """
  SELECT lower(trim(name)) AS surface, id AS term_id, 3 AS rank
  FROM {src} WHERE NOT is_obsolete
  UNION ALL
  SELECT lower(trim(s)), id, 2 FROM (
    SELECT id, unnest(string_split(synonyms, ';')) AS s
    FROM {src} WHERE NOT is_obsolete) u
  WHERE trim(s) <> ''"""
    relw = """
  SELECT surface, term_id FROM (
    SELECT surface, term_id, row_number() OVER (
      PARTITION BY surface ORDER BY rank DESC, term_id ASC) AS rn
    FROM {g}) x WHERE rn = 1"""
    def _abs_ring(tp: str, base: int, size: int) -> str:
        return (f"'{tp}:' || CAST({base} + (CAST(split_part(id, ':', 2) "
                f"AS INT) % 10000) % {size} + 1 AS VARCHAR)")

    sqls["relink_delta"] = corpus_prefix(terms_full_cte()) + f""",
relabs AS (
  SELECT CASE split_part(id, ':', 1)
           WHEN 'CHEBI' THEN {_abs_ring('CHEBI', 10000, 150)}
           WHEN 'GO' THEN {_abs_ring('GO', 20000, 120)}
           WHEN 'PO' THEN {_abs_ring('PO', 30000, 125)}
           WHEN 'TAXON' THEN {_abs_ring('TAXON', 40000, 25)}
         END AS aid, name
  FROM terms_f WHERE substring(md5(id), 1, 1) = '0'),
relex AS (
  SELECT aid, string_agg(name, ';' ORDER BY name) AS extra
  FROM relabs GROUP BY 1),
relv2 AS (
  SELECT t.id,
         CASE WHEN substring(md5(t.id), 1, 1) = '1'
              THEN t.name || ' (rev)' ELSE t.name END AS name,
         CASE WHEN e.extra IS NULL THEN t.synonyms
              WHEN t.synonyms = '' THEN e.extra
              ELSE t.synonyms || ';' || e.extra END AS synonyms,
         CASE WHEN substring(md5(t.id), 1, 1) = '2'
              THEN NOT t.is_obsolete ELSE t.is_obsolete END AS is_obsolete
  FROM terms_f t LEFT JOIN relex e ON e.aid = t.id
  WHERE substring(md5(t.id), 1, 1) <> '0'),
relg1 AS ({relgaz.format(src='terms_f')}),
relg2 AS ({relgaz.format(src='relv2')}),
relw1 AS ({relw.format(g='relg1')}),
relw2 AS ({relw.format(g='relg2')}),
relds AS (
  SELECT DISTINCT doc_id, surface FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m)
SELECT d.doc_id, d.surface, w1.term_id AS term_v1,
       w2.term_id AS term_v2,
       CASE WHEN w2.term_id IS NULL THEN 'dropped'
            WHEN w2.term_id <> w1.term_id THEN 'relinked'
            ELSE 'stable' END AS status
FROM relds d
JOIN relw1 w1 USING (surface)
LEFT JOIN relw2 w2 USING (surface)"""

    from .operators.linking import DRIFT_SEED
    sqls["entity_drift"] = corpus_prefix(gaz_cte(), link_cte()) + f""",
lm AS (
  SELECT DISTINCT m.doc_id, l.term_id
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m
  JOIN link l ON l.surface = m.surface),
tagged AS (
  SELECT term_id,
         substring(md5(CAST(doc_id AS VARCHAR) || '{DRIFT_SEED}'),
                   1, 4) < '8000' AS in_a
  FROM lm),
per AS (
  SELECT term_id,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM tagged GROUP BY 1),
tot AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
               CAST(sum(n_b) AS DOUBLE) AS tb FROM per)
SELECT term_id, n_a, n_b,
       round(ln((n_a + 1.0) / (ta + 1.0))
             - ln((n_b + 1.0) / (tb + 1.0)), 6) AS log_odds
FROM per, tot"""

    sqls["gazetteer_coverage"] = (
        corpus_prefix(gaz_cte(), link_cte(), terms_cte()) + f""",
used AS (
  SELECT DISTINCT l.term_id
  FROM (
    SELECT unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m
  JOIN link l ON l.surface = m.surface)
SELECT t.namespace, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CASE WHEN u.term_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_used,
       round(CAST(sum(CASE WHEN u.term_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS coverage
FROM (SELECT DISTINCT id, namespace FROM terms_d) t
LEFT JOIN used u ON u.term_id = t.id
GROUP BY 1""")

    sqls["triples"] = corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """
SELECT doc_id, subject, predicate, object, subject_type, object_type,
       confidence, evidence,
       'TRP:' || md5(doc_id || '|' || CAST(pos AS VARCHAR) || '|' || subject
                     || '|' || predicate || '|' || object) AS triple_id
FROM triples"""

    sqls["triples_dedup"] = corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """
SELECT subject, predicate, object, subject_type, object_type,
       object_datatype, object_language,
       max(confidence) AS confidence,
       CAST(count(*) AS BIGINT) AS support
FROM triples
GROUP BY 1,2,3,4,5,6,7"""

    sqls["predicate_counts"] = corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """
SELECT predicate, CAST(count(*) AS BIGINT) AS n
FROM triples GROUP BY predicate"""

    sqls["entity_equivalence_edges"] = recursive_prefix(
        terms_full_cte(), cc_ctes()) + """
SELECT src, dst FROM eq_edges"""

    sqls["canonical_entities"] = recursive_prefix(
        terms_full_cte(), cc_ctes()) + """
SELECT id, canonical_id FROM canon"""

    # canonical_entities_delta: the engine maintains the mapping
    # incrementally (contracted delta CC + relabel); the oracle
    # recomputes the whole thing from scratch — parity proves the
    # incremental result equals the full run
    sqls["canonical_entities_delta"] = sqls["canonical_entities"]

    # canonical_entities_retract: the engine re-solves ONLY the
    # components that contained a retracted term; the oracle recomputes
    # the full mapping over the surviving terms — parity proves
    # decremental == full (including splits and re-rooted labels)
    sqls["canonical_entities_retract"] = recursive_prefix(
        terms_full_cte().replace("terms_f", "terms_all", 1),
        "terms_f AS (SELECT * FROM terms_all "
        "WHERE md5(id) NOT LIKE 'f%')",
        cc_ctes()) + """
SELECT id, canonical_id FROM canon"""

    sqls["canonical_component_sizes"] = recursive_prefix(
        terms_full_cte(), cc_ctes()) + """
SELECT component_size, CAST(count(*) AS BIGINT) AS n_components
FROM (SELECT canonical_id, count(*) AS component_size
      FROM canon GROUP BY 1)
GROUP BY 1"""

    sqls["canonical_triples"] = corpus_prefix_recursive(
        gaz_cte(), link_cte(), triples_cte(), terms_full_cte(), cc_ctes()) + """
SELECT subject, predicate, object, subject_type, object_type,
       object_datatype, object_language,
       max(confidence) AS confidence,
       CAST(sum(support) AS BIGINT) AS support
FROM (
  SELECT coalesce(cs.canonical_id, d.subject) AS subject,
         d.predicate,
         coalesce(co.canonical_id, d.object) AS object,
         d.subject_type, d.object_type, d.object_datatype,
         d.object_language, d.confidence, d.support
  FROM (
    SELECT subject, predicate, object, subject_type, object_type,
           object_datatype, object_language,
           max(confidence) AS confidence, count(*) AS support
    FROM triples GROUP BY 1,2,3,4,5,6,7
  ) d
  LEFT JOIN canon cs ON cs.id = d.subject
  LEFT JOIN canon co ON co.id = d.object
) r
WHERE subject <> object
GROUP BY 1,2,3,4,5,6,7"""

    sqls["fuzzy_linking"] = corpus_prefix(gaz_cte()) + f"""
, msurf AS (
  SELECT DISTINCT surface FROM (
    SELECT unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text','figure','table')) t),
cand AS (SELECT DISTINCT surface AS candidate, term_id FROM gaz),
pairs AS (
  SELECT m.surface, c.candidate, c.term_id,
         length(m.surface) AS mlen, length(c.candidate) AS clen
  FROM msurf m JOIN cand c
    ON substring(m.surface, 1, 1) = substring(c.candidate, 1, 1)
   AND abs(length(m.surface) - length(c.candidate)) <= 2),
strs AS (SELECT surface AS s FROM msurf UNION SELECT candidate FROM cand),
idx AS (SELECT CAST(t.i AS INT) AS i FROM generate_series(1, 64) t(i)),
tg AS (
  SELECT DISTINCT s,
         CASE WHEN length(s) >= 3 THEN substring(s, i, 3) ELSE s END AS g
  FROM strs JOIN idx ON i <= greatest(length(s) - 2, 1)),
tcnt AS (SELECT s, count(*) AS n FROM tg GROUP BY s),
inter AS (
  SELECT a.s AS sa, b.s AS sb, count(*) AS i
  FROM tg a JOIN tg b ON a.g = b.g GROUP BY 1, 2),
scored AS (
  SELECT p.surface, p.candidate, p.term_id,
    round(((1 - CAST(levenshtein(p.surface, p.candidate) AS DOUBLE)
                / greatest(mlen, clen))
           + (CAST(coalesce(i.i, 0) AS DOUBLE)
              / (ca.n + cb.n - coalesce(i.i, 0)))) / 2, 6) AS score
  FROM pairs p
  JOIN tcnt ca ON ca.s = p.surface
  JOIN tcnt cb ON cb.s = p.candidate
  LEFT JOIN inter i ON i.sa = p.surface AND i.sb = p.candidate)
SELECT surface, candidate, term_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT scored.*, row_number() OVER (
    PARTITION BY surface ORDER BY score DESC, term_id ASC, candidate ASC
  ) AS rank FROM scored) r
WHERE rank <= 3"""

    from .operators import fuzzy as FZ
    sqls["ontology_alignment"] = "WITH " + terms_full_cte() + f""",
sa AS (
  SELECT id AS id_a, name AS name_a, lower(s) AS surf_a,
         substring(lower(s), 1, 1) AS blk
  FROM (SELECT id, name, unnest(
          CASE WHEN synonyms = '' THEN [name]
               ELSE list_prepend(name, string_split(synonyms, ';'))
          END) AS s
        FROM terms_f WHERE id LIKE '{FZ.ALIGN_NS_A}:%') t),
sb AS (
  SELECT id AS id_b, name AS name_b, lower(s) AS surf_b,
         substring(lower(s), 1, 1) AS blk
  FROM (SELECT id, name, unnest(
          CASE WHEN synonyms = '' THEN [name]
               ELSE list_prepend(name, string_split(synonyms, ';'))
          END) AS s
        FROM terms_f WHERE id LIKE '{FZ.ALIGN_NS_B}:%') t),
ap AS (
  SELECT sa.id_a, sa.name_a, sa.surf_a, sb.id_b, sb.name_b, sb.surf_b
  FROM sa JOIN sb USING (blk)
  WHERE abs(length(sa.surf_a) - length(sb.surf_b))
        <= {FZ.ALIGN_LENGTH_BAND}),
astr AS (SELECT surf_a AS s FROM sa UNION SELECT surf_b FROM sb),
aidx AS (SELECT CAST(t.i AS INT) AS i FROM generate_series(1, 64) t(i)),
atg AS (
  SELECT DISTINCT s,
         CASE WHEN length(s) >= 3 THEN substring(s, i, 3) ELSE s END AS g
  FROM astr JOIN aidx ON i <= greatest(length(s) - 2, 1)),
atcnt AS (SELECT s, count(*) AS n FROM atg GROUP BY s),
ainter AS (
  SELECT a.s AS x, b.s AS y, count(*) AS i
  FROM atg a JOIN atg b ON a.g = b.g GROUP BY 1, 2),
ascored AS (
  SELECT p.id_a, p.id_b, p.name_a, p.name_b,
    round(((1 - CAST(levenshtein(p.surf_a, p.surf_b) AS DOUBLE)
                / greatest(length(p.surf_a), length(p.surf_b)))
           + (CAST(coalesce(i.i, 0) AS DOUBLE)
              / (ca.n + cb.n - coalesce(i.i, 0)))) / 2, 6) AS score
  FROM ap p
  JOIN atcnt ca ON ca.s = p.surf_a
  JOIN atcnt cb ON cb.s = p.surf_b
  LEFT JOIN ainter i ON i.x = p.surf_a AND i.y = p.surf_b),
agm AS (
  SELECT id_a, id_b, name_a, name_b, max(score) AS score
  FROM ascored GROUP BY 1, 2, 3, 4),
aranked AS (
  SELECT agm.*,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY score DESC, id_b ASC) AS ra,
         row_number() OVER (PARTITION BY id_b
                            ORDER BY score DESC, id_a ASC) AS rb
  FROM agm)
SELECT id_a AS term_a, id_b AS term_b, name_a, name_b, score,
       CAST(CASE WHEN rb = 1 THEN 1 ELSE 0 END AS INT) AS mutual_best
FROM aranked
WHERE ra = 1 AND score >= {FZ.ALIGN_THRESHOLD}"""

    sqls["tfidf_linking"] = corpus_prefix(gaz_cte()) + f"""
, msurf AS (
  SELECT DISTINCT surface FROM (
    SELECT unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text','figure','table')) t),
cand AS (SELECT DISTINCT surface AS candidate, term_id FROM gaz),
cdist AS (SELECT DISTINCT candidate FROM cand),
ctok AS (
  SELECT candidate,
         unnest(list_distinct(string_split(candidate, ' '))) AS tok
  FROM cdist),
idf AS (
  SELECT tok, ln((SELECT count(*) FROM cdist) * 1.0
                 / count(DISTINCT candidate)) AS w
  FROM ctok GROUP BY tok),
pairs AS (
  SELECT m.surface, c.candidate, c.term_id
  FROM msurf m JOIN cand c
    ON substring(m.surface, 1, 1) = substring(c.candidate, 1, 1)
   AND abs(length(m.surface) - length(c.candidate)) <= 4),
ptok AS (
  SELECT surface, candidate, term_id,
         unnest(list_distinct(string_split(surface, ' ')
                              || string_split(candidate, ' '))) AS tok
  FROM pairs),
pscore AS (
  SELECT surface, candidate, term_id,
         round(sum(CASE WHEN list_contains(string_split(surface, ' '), tok)
                         AND list_contains(string_split(candidate, ' '),
                                           tok)
                   THEN w ELSE 0 END)
               / sum(w), 6) AS score
  FROM (SELECT pt.*,
               coalesce(i.w, ln((SELECT count(*) FROM cdist))) AS w
        FROM ptok pt LEFT JOIN idf i USING (tok)) x
  GROUP BY 1, 2, 3)
SELECT surface, candidate, term_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT pscore.*, row_number() OVER (
    PARTITION BY surface ORDER BY score DESC, term_id ASC, candidate ASC
  ) AS rank FROM pscore) r
WHERE rank <= 3 AND score > 0"""

    # --- ontology algebra --------------------------------------------------
    tf, rd = terms_full_cte(), rels_cte()

    sqls["ontology_stats"] = "WITH " + ",\n".join([tf, rd]) + """
, endp AS (SELECT subject AS id FROM rels_d UNION SELECT object FROM rels_d),
tc AS (
  SELECT ontology_id, count(*) AS term_count,
         sum(CASE WHEN is_obsolete THEN 1 ELSE 0 END) AS obsolete_count
  FROM terms_f GROUP BY ontology_id),
rc AS (
  SELECT split_part(subject, ':', 1) AS ontology_id, count(*) AS rel_count
  FROM rels_d GROUP BY 1),
orph AS (
  SELECT ontology_id, count(*) AS orphans FROM terms_f
  WHERE id NOT IN (SELECT id FROM endp) GROUP BY ontology_id)
SELECT tc.ontology_id,
       CAST(term_count AS BIGINT) AS term_count,
       CAST(obsolete_count AS BIGINT) AS obsolete_count,
       CAST(coalesce(rel_count, 0) AS BIGINT) AS rel_count,
       CAST(coalesce(orphans, 0) AS BIGINT) AS orphans,
       round(CAST(coalesce(rel_count, 0) AS DOUBLE) / term_count, 6)
         AS rels_per_term
FROM tc LEFT JOIN rc USING (ontology_id) LEFT JOIN orph USING (ontology_id)"""

    sqls["predicate_distribution"] = "WITH " + rd + """
SELECT predicate, CAST(count(*) AS BIGINT) AS n FROM rels_d GROUP BY 1"""

    sqls["ontology_overlap"] = "WITH " + tf + """
, s AS (
  SELECT DISTINCT u.x AS surface, ontology_id
  FROM terms_f, unnest(string_split(xrefs, ';')) AS u(x) WHERE xrefs <> ''),
sz AS (SELECT ontology_id, count(*) AS n FROM s GROUP BY 1),
sh AS (
  SELECT a.ontology_id AS ont_a, b.ontology_id AS ont_b, count(*) AS shared
  FROM s a JOIN s b ON a.surface = b.surface AND a.ontology_id < b.ontology_id
  GROUP BY 1, 2)
SELECT ont_a, ont_b, CAST(shared AS BIGINT) AS shared,
       round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 6) AS jaccard
FROM sh JOIN sz na ON na.ontology_id = ont_a
        JOIN sz nb ON nb.ontology_id = ont_b"""

    sqls["dangling_refs"] = "WITH " + ",\n".join([tf, rd]) + """
SELECT id, subject, predicate, object, 'subject' AS dangling_side
FROM rels_d WHERE subject NOT IN (SELECT id FROM terms_f)
UNION ALL
SELECT id, subject, predicate, object, 'object' AS dangling_side
FROM rels_d WHERE object NOT IN (SELECT id FROM terms_f)"""

    sqls["duplicate_relationships"] = "WITH " + rd + """
SELECT subject, predicate, object, CAST(count(*) AS BIGINT) AS n
FROM rels_d GROUP BY 1, 2, 3 HAVING count(*) > 1"""

    sqls["mutual_edges"] = "WITH " + rd + """
, e AS (SELECT DISTINCT subject, predicate, object FROM rels_d)
SELECT a.subject AS a, a.predicate, a.object AS b
FROM e a JOIN e b
  ON a.subject = b.object AND a.object = b.subject
 AND a.predicate = b.predicate
WHERE a.subject < a.object"""

    sqls["confidence_trim"] = "WITH " + ",\n".join([tf, rd]) + """
SELECT r.id, r.subject, r.predicate, r.object, r.confidence, r.ontology_id
FROM rels_d r
WHERE r.confidence >= 0.5
  AND r.subject IN (SELECT id FROM terms_f)
  AND r.object  IN (SELECT id FROM terms_f)"""

    sqls["namespace_chemical"] = "WITH " + tf + """
SELECT id, name, namespace, ontology_id FROM terms_f
WHERE namespace = 'chemical' AND NOT is_obsolete"""

    roots_cte = """
roots AS (
  SELECT id, name, ontology_id FROM terms_f
  WHERE id NOT IN (SELECT subject FROM rels_d WHERE predicate = 'is_a'))
""".strip()

    sqls["hierarchy_roots"] = "WITH " + ",\n".join([tf, rd, roots_cte]) + """
SELECT id, name, ontology_id FROM roots"""

    walk_cte = """
walk(id, depth) AS (
  SELECT id, 0 FROM roots
  UNION
  SELECT r.subject, w.depth + 1
  FROM walk w JOIN rels_d r ON r.predicate = 'is_a' AND r.object = w.id
),
depths AS (SELECT id, CAST(min(depth) AS INT) AS depth FROM walk GROUP BY id)
""".strip()

    sqls["term_depths"] = ("WITH RECURSIVE "
                           + ",\n".join([tf, rd, roots_cte, walk_cte])
                           + "\nSELECT id, depth FROM depths")

    sqls["ontology_max_depth"] = ("WITH RECURSIVE "
                                  + ",\n".join([tf, rd, roots_cte, walk_cte])
                                  + """
SELECT split_part(id, ':', 1) AS ontology_id,
       CAST(max(depth) AS INT) AS max_depth
FROM depths GROUP BY 1""")

    # shortest-path counts: UNION ALL keeps one row per distinct
    # shortest path (each step is pinned to the child's min depth, so
    # the walk is finite even through planted cycles)
    sp_cte = """
sp(id, depth) AS (
  SELECT id, 0 FROM roots
  UNION ALL
  SELECT r.subject, w.depth + 1
  FROM sp w
  JOIN rels_d r ON r.predicate = 'is_a' AND r.object = w.id
  JOIN depths dc ON dc.id = r.subject AND dc.depth = w.depth + 1
)""".strip()
    sqls["hierarchy_path_counts"] = (
        "WITH RECURSIVE "
        + ",\n".join([tf, rd, roots_cte, walk_cte, sp_cte])
        + """
SELECT id, CAST(depth AS INT) AS depth,
       CAST(count(*) AS BIGINT) AS n_paths
FROM sp GROUP BY 1, 2""")

    sim_pairs = ",".join(f"({_q(a)}, {_q(b)})" for a, b in OD.SIM_PAIRS)
    sqls["term_similarity"] = ("WITH RECURSIVE "
                               + ",\n".join([tf, rd, roots_cte, walk_cte])
                               + f""",
anc(id, anc) AS (
  SELECT id, id FROM terms_f
  UNION
  SELECT a.id, r.object
  FROM anc a JOIN rels_d r ON r.predicate = 'is_a' AND r.subject = a.anc),
pairs(a, b) AS (SELECT * FROM (VALUES {sim_pairs})),
lca AS (
  SELECT p.a, p.b, CAST(max(d.depth) AS INT) AS lca_depth
  FROM pairs p
  JOIN anc x ON x.id = p.a
  JOIN anc y ON y.id = p.b AND y.anc = x.anc
  JOIN depths d ON d.id = x.anc
  GROUP BY 1, 2)
SELECT l.a, l.b, l.lca_depth,
       da.depth AS depth_a, db.depth AS depth_b,
       round(2.0 * (l.lca_depth + 1) / (da.depth + db.depth + 2), 6)
         AS similarity
FROM lca l JOIN depths da ON da.id = l.a JOIN depths db ON db.id = l.b""")

    sqls["term_ic_similarity"] = ("WITH RECURSIVE "
                                  + ",\n".join([tf, rd])
                                  + f""",
anc(id, anc) AS (
  SELECT id, id FROM terms_f
  UNION
  SELECT a.id, r.object
  FROM anc a JOIN rels_d r ON r.predicate = 'is_a' AND r.subject = a.anc),
ep AS (SELECT subject AS id FROM rels_d
       UNION ALL SELECT object FROM rels_d),
usage AS (
  SELECT id, count(*) AS u FROM ep
  WHERE id IN (SELECT id FROM terms_f) GROUP BY id),
tot AS (SELECT sum(u) AS tot FROM usage),
freq AS (
  SELECT a.anc AS id, sum(u.u) AS f
  FROM anc a JOIN usage u ON u.id = a.id GROUP BY 1),
ic AS (
  SELECT f.id, -ln(CAST(f.f AS DOUBLE) / t.tot) AS ic FROM freq f, tot t),
pairs(a, b) AS (SELECT * FROM (VALUES {sim_pairs})),
mica AS (
  SELECT p.a, p.b, max(i.ic) AS mica_ic
  FROM pairs p
  JOIN anc x ON x.id = p.a
  JOIN anc y ON y.id = p.b AND y.anc = x.anc
  JOIN ic i ON i.id = x.anc
  GROUP BY 1, 2)
SELECT m.a, m.b,
       round(m.mica_ic, 6) AS resnik_ic,
       round(ia.ic, 6) AS ic_a,
       round(ib.ic, 6) AS ic_b,
       round(2.0 * m.mica_ic / (ia.ic + ib.ic), 6) AS lin_sim
FROM mica m JOIN ic ia ON ia.id = m.a JOIN ic ib ON ib.id = m.b
WHERE ia.ic + ib.ic > 0""")

    sqls["ontology_release_diff"] = "WITH " + tf + """,
v1 AS (SELECT id, name, namespace, is_obsolete, replaced_by FROM terms_f),
h AS (SELECT *, substr(md5(id), 1, 1) AS b FROM v1),
v2 AS (
  SELECT id,
         CASE WHEN b = '1' THEN name || ' (rev)' ELSE name END AS name,
         namespace,
         CASE WHEN b = '2' THEN NOT is_obsolete
              ELSE is_obsolete END AS is_obsolete,
         replaced_by
  FROM h WHERE b <> '0'
  UNION ALL
  SELECT id || ':NEW', name, namespace, is_obsolete, replaced_by
  FROM h WHERE b = '3'),
j AS (
  SELECT coalesce(o.id, n.id) AS id,
         o.id IS NOT NULL AS in_old, n.id IS NOT NULL AS in_new,
         concat_ws(',',
           CASE WHEN o.is_obsolete IS DISTINCT FROM n.is_obsolete
                THEN 'is_obsolete' END,
           CASE WHEN o.name IS DISTINCT FROM n.name THEN 'name' END,
           CASE WHEN o.namespace IS DISTINCT FROM n.namespace
                THEN 'namespace' END,
           CASE WHEN o.replaced_by IS DISTINCT FROM n.replaced_by
                THEN 'replaced_by' END) AS cf
  FROM v1 o FULL OUTER JOIN v2 n ON n.id = o.id)
SELECT id,
       CASE WHEN NOT in_new THEN 'removed'
            WHEN NOT in_old THEN 'added'
            WHEN cf <> '' THEN 'changed' END AS change,
       CASE WHEN in_old AND in_new AND cf <> '' THEN cf
            ELSE '' END AS changed_fields
FROM j
WHERE (NOT in_new) OR (NOT in_old) OR cf <> ''"""

    seeds_values = ",".join(f"({_q(s)})" for s in OD.CLOSURE_SEEDS)
    sqls["dependency_closure"] = ("WITH RECURSIVE " + rd + f"""
, seeds(id) AS (SELECT * FROM (VALUES {seeds_values})),
anc(id) AS (
  SELECT id FROM seeds
  UNION
  SELECT r.object
  FROM anc a JOIN rels_d r ON r.predicate = 'is_a' AND r.subject = a.id
)
SELECT id FROM anc""")

    # reference-exact trimmer extraction: bidirectional all-predicate
    # edges, traversal only THROUGH nodes that are terms, obsolete seeds
    # dropped but obsolete dependency terms kept
    bidir_edges = """
edges AS (
  SELECT DISTINCT subject AS src, object AS dst FROM rels_d
  UNION
  SELECT DISTINCT object AS src, subject AS dst FROM rels_d)
""".strip()
    reach_cte = f"""
seeds(id) AS (SELECT * FROM (VALUES {seeds_values})),
reach(id) AS (
  SELECT s.id FROM seeds s
  JOIN terms_f t ON t.id = s.id AND NOT t.is_obsolete
  UNION
  SELECT e.dst
  FROM reach r
  JOIN edges e ON e.src = r.id
  JOIN terms_f t ON t.id = e.dst)
""".strip()
    sqls["trimmer_term_list"] = (
        "WITH RECURSIVE " + ",\n".join([tf, rd, bidir_edges, reach_cte])
        + """
SELECT t.id, t.name, t.namespace,
       t.id IN (SELECT id FROM seeds) AS is_seed
FROM terms_f t JOIN reach r ON r.id = t.id""")

    sqls["trimmer_term_list_rels"] = (
        "WITH RECURSIVE " + ",\n".join([tf, rd, bidir_edges, reach_cte])
        + """
SELECT id, subject, predicate, object, confidence
FROM rels_d
WHERE subject IN (SELECT id FROM reach)
  AND object IN (SELECT id FROM reach)
  AND confidence >= 0.8""")

    # validation_pipeline: the three validators' counters replayed from
    # the dimension + the deterministic damage rules; has_cycles via a
    # recursive closure (exists x ->* x); total_errors counts the
    # reference's one-message-per-nonzero-category convention
    def _vp_blocks(label: str, tname: str, rname: str) -> str:
        return f"""
{label}_t AS (
  SELECT count(*) AS terms_count,
         sum(CASE WHEN coalesce(name, '') = '' THEN 1 ELSE 0 END)
           AS empty_names_count,
         sum(CASE WHEN coalesce(definition, '') = '' THEN 1 ELSE 0 END)
           AS empty_definitions_count,
         sum(CASE WHEN is_obsolete THEN 1 ELSE 0 END)
           AS obsolete_terms_count
  FROM {tname}),
{label}_r AS (
  SELECT count(*) AS relationships_count,
         sum(CASE WHEN subject = '' THEN 1 ELSE 0 END)
           AS missing_subjects_count,
         sum(CASE WHEN object = '' THEN 1 ELSE 0 END)
           AS missing_objects_count,
         sum(CASE WHEN predicate = '' THEN 1 ELSE 0 END)
           AS missing_predicates_count,
         sum(CASE WHEN confidence IS NOT NULL AND confidence < 0.5
             THEN 1 ELSE 0 END) AS low_confidence_count
  FROM {rname}),
{label}_o AS (
  SELECT (SELECT count(*) FROM {rname} r
          WHERE r.subject NOT IN (SELECT id FROM {tname}))
       + (SELECT count(*) FROM {rname} r
          WHERE r.object NOT IN (SELECT id FROM {tname}))
         AS orphaned_references),
{label}_reach(src, dst) AS (
  SELECT subject, object FROM {rname}
  UNION
  SELECT w.src, r.object FROM {label}_reach w
  JOIN {rname} r ON r.subject = w.dst),
{label}_c AS (
  SELECT CASE WHEN EXISTS (SELECT 1 FROM {label}_reach WHERE src = dst)
         THEN 1 ELSE 0 END AS has_cycles),
{label}_p AS (
  SELECT (CASE WHEN missing_subjects_count > 0 THEN 1 ELSE 0 END
        + CASE WHEN missing_objects_count > 0 THEN 1 ELSE 0 END
        + CASE WHEN missing_predicates_count > 0 THEN 1 ELSE 0 END)
         AS total_errors
  FROM {label}_r)
""".strip()

    def _vp_rows(label: str) -> str:
        rows = [
            ("structural", "terms_count", f"{label}_t"),
            ("structural", "relationships_count", f"{label}_r"),
            ("consistency", "orphaned_references", f"{label}_o"),
            ("consistency", "has_cycles", f"{label}_c"),
            ("integrity", "empty_names_count", f"{label}_t"),
            ("integrity", "empty_definitions_count", f"{label}_t"),
            ("integrity", "obsolete_terms_count", f"{label}_t"),
            ("integrity", "missing_subjects_count", f"{label}_r"),
            ("integrity", "missing_objects_count", f"{label}_r"),
            ("integrity", "missing_predicates_count", f"{label}_r"),
            ("integrity", "low_confidence_count", f"{label}_r"),
            ("pipeline", "passed_validators",
             f"(SELECT 3 - CASE WHEN total_errors > 0 THEN 1 ELSE 0 END"
             f" AS passed_validators FROM {label}_p) pp"),
            ("pipeline", "failed_validators",
             f"(SELECT CASE WHEN total_errors > 0 THEN 1 ELSE 0 END"
             f" AS failed_validators FROM {label}_p) pf"),
            ("pipeline", "total_errors", f"{label}_p"),
        ]
        return "\nUNION ALL\n".join(
            f"SELECT '{label}' AS ontology, '{v}' AS validator, "
            f"'{m}' AS metric, CAST({m} AS BIGINT) AS value FROM {src}"
            for v, m, src in rows)

    dirty_frames = """
dirty_terms AS (
  SELECT id,
         CASE WHEN substring(md5(id), 1, 1) = 'a' THEN ''
              ELSE name END AS name,
         CASE WHEN substring(md5(id), 1, 1) IN ('b', 'c') THEN NULL
              ELSE definition END AS definition,
         is_obsolete
  FROM terms_f),
dirty_rels AS (
  SELECT id, subject, predicate, object, confidence FROM rels_d
  UNION ALL
  SELECT 'REL:88000' || CAST(i AS VARCHAR), '', 'is_a',
         'CHEBI:10001', 1.0 FROM range(5) t(i)
  UNION ALL
  SELECT 'REL:89000' || CAST(i AS VARCHAR), 'CHEBI:10001', 'is_a',
         '', 1.0 FROM range(3) t(i)
  UNION ALL
  SELECT 'REL:87000' || CAST(i AS VARCHAR), 'CHEBI:10001', '',
         'CHEBI:10002', 1.0 FROM range(2) t(i))
""".strip()
    sqls["validation_pipeline"] = (
        "WITH RECURSIVE " + ",\n".join(
            [tf, rd, dirty_frames,
             _vp_blocks("clean", "terms_f", "rels_d"),
             _vp_blocks("dirty", "dirty_terms", "dirty_rels")])
        + "\n" + _vp_rows("clean") + "\nUNION ALL\n" + _vp_rows("dirty"))

    # depth-limited: min-distance BFS from the 4-predicate-rule roots
    # over the bidirectional graph, depth <= 2; obsolete excluded from
    # output but traversed through
    sqls["trimmer_depth_extract"] = (
        "WITH RECURSIVE " + ",\n".join([tf, rd, bidir_edges]) + """,
hp_roots AS (
  SELECT id FROM terms_f
  WHERE id NOT IN (
    SELECT subject FROM rels_d
    WHERE predicate IN ('is_a', 'part_of', 'subclass_of', 'child_of'))),
walk(id, depth) AS (
  SELECT id, 0 FROM hp_roots
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w
  JOIN edges e ON e.src = w.id
  JOIN terms_f t ON t.id = e.dst
  WHERE w.depth < 2),
dmin AS (SELECT id, CAST(min(depth) AS INT) AS depth
         FROM walk GROUP BY id)
SELECT t.id, t.name, t.namespace, d.depth
FROM terms_f t JOIN dmin d ON d.id = t.id
WHERE NOT t.is_obsolete""")

    sqls["term_search"] = "WITH " + tf + """
SELECT id, name,
       CASE WHEN lower(name) LIKE '%gluc%' THEN 'name'
            WHEN lower(coalesce(definition, '')) LIKE '%gluc%'
              THEN 'definition'
            ELSE 'synonym' END AS matched_in
FROM terms_f
WHERE lower(name) LIKE '%gluc%'
   OR lower(coalesce(definition, '')) LIKE '%gluc%'
   OR EXISTS (SELECT 1 FROM unnest(string_split(synonyms, ';')) AS u(x)
              WHERE synonyms <> '' AND lower(u.x) LIKE '%gluc%')"""

    merge_src = """
src_a AS (
  SELECT id, name, namespace, ontology_id FROM terms_f
  WHERE ontology_id IN ('CHEBI', 'GO')),
src_b AS (
  SELECT id, name, namespace, ontology_id FROM terms_f
  WHERE ontology_id IN ('GO', 'PO'))
""".strip()

    sqls["merge_union"] = "WITH " + ",\n".join([tf, merge_src]) + """
SELECT id, name, namespace, ontology_id, src FROM (
  SELECT u.*, row_number() OVER (
    PARTITION BY id ORDER BY priority DESC, src ASC) AS rn
  FROM (
    SELECT *, 1 AS priority, 'A' AS src FROM src_a
    UNION ALL
    SELECT *, 2 AS priority, 'B' AS src FROM src_b
  ) u
) t WHERE rn = 1"""

    sqls["merge_intersection"] = "WITH " + ",\n".join([tf, merge_src]) + """
SELECT a.id, a.name, a.namespace, a.ontology_id, 'A' AS src
FROM src_a a WHERE a.id IN (SELECT id FROM src_b)"""

    inv_case = " ".join(
        f"WHEN {_q(k)} THEN {_q(v)}"
        for k, v in sorted(OD.INVERSE_PREDICATES.items()))
    sqls["inverse_edges"] = "WITH " + rd + f"""
SELECT id, subject, predicate, object, confidence FROM rels_d
UNION ALL
SELECT 'INV' || id AS id, object AS subject,
       CASE predicate {inv_case} END AS predicate,
       subject AS object, confidence
FROM rels_d
WHERE CASE predicate {inv_case} END IS NOT NULL"""

    sqls["ntriples"] = corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """
, dedup AS (
  SELECT subject, predicate, object, subject_type, object_type,
         object_datatype, object_language
  FROM triples
  GROUP BY 1,2,3,4,5,6,7)
SELECT
  (CASE WHEN subject_type = 'uri' THEN '<urn:ont:' || subject || '>'
        WHEN subject_type = 'bnode' THEN '_:' || subject
        ELSE '"' || subject || '"' END)
  || ' ' || '<urn:pred:' || predicate || '>'
  || ' ' ||
  (CASE WHEN object_type = 'uri' THEN '<urn:ont:' || object || '>'
        WHEN object_type = 'bnode' THEN '_:' || object
        ELSE '"' || object || '"'
             || CASE WHEN object_language IS NOT NULL
                       THEN '@' || object_language
                     WHEN object_datatype IS NOT NULL
                       THEN '^^<' || object_datatype || '>'
                     ELSE '' END
   END)
  || ' .' AS line
FROM dedup"""

    sqls["terms_csv"] = "WITH " + terms_full_cte() + """
SELECT id, name, definition, synonyms, namespace, is_obsolete
FROM terms_f"""

    def hv(pos: int) -> str:
        return f"(strpos('0123456789abcdef', substring(h, {pos}, 1)) - 1)"

    def hb(i: int) -> str:
        """byte i (0-based) of the md5 hex column h."""
        return f"({hv(2 * i + 1)} * 16 + {hv(2 * i + 2)})"

    from .operators.multimodal import (FIG_GROUP, GRAY_MOD, TAB_GROUP)
    # the synthesized-image model (multimodal._image_params): geometry
    # seeded by the md5 of the CANONICAL group ref, per-doc brightness
    # delta; pixel g(x,y) = (a*x + b*y + c0) % GRAY_MOD + delta
    _img_dims = corpus_prefix() + rf"""
, mf AS (
  SELECT doc_id, pos, kind, media_ref,
         CAST(regexp_extract(media_ref, 'DOC(\d+)', 1) AS INT) AS d,
         CASE WHEN kind = 'figure' THEN {FIG_GROUP}
              ELSE {TAB_GROUP} END AS grp,
         CASE WHEN kind = 'figure' THEN 'fig1.png'
              ELSE 'tab1.parquet' END AS sfx
  FROM spans WHERE kind IN ('figure', 'table') AND media_ref <> ''),
cm AS (
  SELECT doc_id, pos, kind, media_ref, d % grp AS delta,
         md5('media/DOC' || (d - d % grp) || '/' || sfx) AS h
  FROM mf),
dims AS (
  SELECT doc_id, pos, kind, media_ref, delta,
         16 + {hb(0)} % 17 AS w, 16 + {hb(1)} % 17 AS ht,
         1 + {hb(2)} % 7 AS ca, 1 + {hb(3)} % 5 AS cb, {hb(4)} AS c0
  FROM cm)"""

    sqls["media_features"] = _img_dims + f""",
px AS (
  SELECT doc_id, pos, kind, media_ref, w, ht,
         (ca * x * x + cb * y * y + 3 * x * y + c0) % {GRAY_MOD} + delta AS g
  FROM dims, LATERAL unnest(range(0, w)) AS tx(x),
             LATERAL unnest(range(0, ht)) AS ty(y))
SELECT doc_id, pos, kind, media_ref,
       CAST(w AS INT) AS width, CAST(ht AS INT) AS height,
       CAST(1 AS INT) AS n_channels, CAST(8 AS INT) AS bit_depth,
       CAST(w * ht AS INT) AS raw_len,
       CAST(sum(g) AS BIGINT) AS px_sum,
       CAST(min(g) AS INT) AS px_min, CAST(max(g) AS INT) AS px_max,
       CAST(sum(g) // (w * ht) AS INT) AS mean_gray
FROM px GROUP BY doc_id, pos, kind, media_ref, w, ht"""

    # blob digest = md5 over base64(content): the one canonical
    # byte->text encoding both engines share (DuckDB md5 is
    # VARCHAR-only); content itself is unhex(md5(media_ref))
    sqls["media_content_dedup"] = corpus_prefix() + """
, mc AS (
  SELECT doc_id, media_ref,
         md5(to_base64(unhex(md5(media_ref)))) AS content_hash
  FROM spans
  WHERE kind IN ('figure', 'table') AND media_ref <> '')
SELECT content_hash, CAST(count(*) AS BIGINT) AS n_refs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(media_ref) AS keeper_ref
FROM mc GROUP BY 1"""

    sqls["media_inventory"] = corpus_prefix() + """
SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM spans WHERE kind IN ('figure', 'table') AND media_ref <> ''
GROUP BY kind"""

    from .operators import multimodal as MM
    # resize: REAL decoded dims (the synthesized-image model above);
    # target box is pure integer arithmetic ((w * max_dim) // longer
    # edge), mirrored here with DuckDB's // integer division
    sqls["media_resize"] = _img_dims + f"""
SELECT doc_id, pos, kind, media_ref,
       CAST(w AS INT) AS width, CAST(ht AS INT) AS height,
       CAST(CASE WHEN greatest(w, ht) > {MM.RESIZE_DEMO_DIM}
            THEN (w * {MM.RESIZE_DEMO_DIM}) // greatest(w, ht)
            ELSE w END AS INT) AS out_width,
       CAST(CASE WHEN greatest(w, ht) > {MM.RESIZE_DEMO_DIM}
            THEN (ht * {MM.RESIZE_DEMO_DIM}) // greatest(w, ht)
            ELSE ht END AS INT) AS out_height
FROM dims"""

    # frame sampling: n_frames = 8 + byte3 % 56 (hex digits 7-8 of the
    # payload md5), stride = ceil(n / max), frames 0, stride, 2*stride..
    # replay the GIF synthesis in closed form: frame f is constant at
    # v_f = (base + 7f) % 240 with a +x gradient across row 0, so the
    # decoded mean is v_f + (sum 0..W-1)/(W*H) = v_f + 120/192; the
    # Spark side computes the same number from ACTUAL gif_decode pixels
    gif_row0 = MM.GIF_W * (MM.GIF_W - 1) // 2
    gif_px = MM.GIF_W * MM.GIF_H
    sqls["media_frame_sample"] = corpus_prefix() + f"""
, mf AS (
  SELECT doc_id, pos, media_ref, md5(media_ref) AS h
  FROM spans WHERE kind IN ('figure', 'table') AND media_ref <> ''),
vids AS (
  SELECT doc_id, pos, media_ref,
         CAST(8 + ({hv(7)} * 16 + {hv(8)}) % 56 AS INT) AS n_frames,
         ({hv(9)} * 16 + {hv(10)}) % {MM.GIF_SEED_MOD} AS base
  FROM mf)
SELECT doc_id, pos, media_ref, n_frames,
       CAST(fi AS INT) AS frame_idx,
       CAST(fi * {MM.FRAME_MS} AS INT) AS ts_ms,
       round((base + {MM.GIF_FRAME_STEP} * fi) % {MM.GIF_SEED_MOD}
             + {gif_row0}.0 / {gif_px}, 6) AS mean_gray
FROM vids, LATERAL unnest(range(0, n_frames,
    CAST(ceil(n_frames / {float(MM.FRAME_SAMPLE_MAX)}) AS INT))) AS t(fi)"""

    # audio VAD segmentation: clip length and per-frame voicing replay
    # the stub decode nibble-for-nibble (multimodal.vad_segments);
    # islands via the fi - row_number() gaps trick
    from .operators.multimodal import AUDIO_FRAME_MS
    _voiced = ("CASE ((fi + 1) % 16) "
               + " ".join(f"WHEN {j} THEN ({hv(2 * j + 1)} >= 8)"
                          for j in range(16))
               + " END")
    sqls["media_vad_segments"] = corpus_prefix() + f"""
, af AS (
  SELECT doc_id, pos, media_ref, md5(media_ref) AS h
  FROM spans WHERE kind IN ('figure', 'table') AND media_ref <> ''),
clips AS (
  SELECT doc_id, pos, media_ref, h,
         CAST(20 + ({hv(1)} * 16 + {hv(2)}) % 30 AS INT) AS n_frames
  FROM af),
frames AS (
  SELECT doc_id, pos, media_ref, n_frames, CAST(fi AS INT) AS fi,
         ({_voiced}) AS voiced
  FROM clips, LATERAL unnest(range(0, n_frames)) AS t(fi)),
v AS (
  SELECT *, fi - row_number() OVER (
      PARTITION BY doc_id, pos, media_ref ORDER BY fi) AS grp
  FROM frames WHERE voiced),
segs AS (
  SELECT doc_id, pos, media_ref, n_frames, grp,
         min(fi) AS sf, max(fi) + 1 AS ef
  FROM v GROUP BY doc_id, pos, media_ref, n_frames, grp)
SELECT doc_id, pos, media_ref, n_frames,
       CAST(row_number() OVER (PARTITION BY doc_id, pos, media_ref
                               ORDER BY sf) AS INT) AS seg_idx,
       CAST(sf AS INT) AS start_frame, CAST(ef AS INT) AS end_frame,
       CAST(sf * {AUDIO_FRAME_MS} AS INT) AS start_ms,
       CAST((ef - sf) * {AUDIO_FRAME_MS} AS INT) AS dur_ms
FROM segs"""

    # perceptual aHash near-dup over the REAL decoded pixels: 8x8
    # point samples (x_i = i*w // 8), integer-exact threshold bit
    # k = j*8 + i set iff 64*g > sum; phash assembled into a signed
    # BIGINT via two's complement (bit 63 contributes -(2^63));
    # candidates via the 8-bit band equi-match on the NON-NEGATIVE
    # per-band sums (same pair set as the engine's shift+mask bands),
    # verify bit_count(xor) <= max. Brightness-shifted group twins
    # hash identically (the mean-relative threshold cancels delta).
    sqls["media_phash_neardup"] = _img_dims + f""",
refs AS (
  SELECT DISTINCT media_ref, w, ht, ca, cb, c0, delta FROM dims),
sm AS (
  SELECT media_ref, i, j,
         (ca * ((i * w) // 8) * ((i * w) // 8)
           + cb * ((j * ht) // 8) * ((j * ht) // 8)
           + 3 * ((i * w) // 8) * ((j * ht) // 8) + c0)
           % {GRAY_MOD} + delta AS g
  FROM refs, LATERAL unnest(range(0, 8)) AS t1(i),
             LATERAL unnest(range(0, 8)) AS t2(j)),
ssum AS (SELECT media_ref, sum(g) AS s FROM sm GROUP BY 1),
bits AS (
  SELECT sm.media_ref, i, j,
         CASE WHEN 64 * g > s THEN 1 ELSE 0 END AS b
  FROM sm JOIN ssum USING (media_ref)),
bands AS MATERIALIZED (
  SELECT media_ref, j,
         CAST(sum(b * (CAST(1 AS BIGINT) << i)) AS INT) AS band
  FROM bits GROUP BY 1, 2),
ph AS MATERIALIZED (
  SELECT media_ref,
         CAST(sum(CASE WHEN j * 8 + i = 63
                       THEN b * (-9223372036854775807 - 1)
                       ELSE b * (CAST(1 AS BIGINT) << (j * 8 + i))
                  END) AS BIGINT) AS phash
  FROM bits GROUP BY 1)
SELECT DISTINCT cand.a, cand.b,
       CAST(bit_count(xor(pa.phash, pb.phash)) AS INT) AS hamming
FROM (SELECT DISTINCT x.media_ref AS a, y.media_ref AS b
      FROM bands x JOIN bands y
        ON x.j = y.j AND x.band = y.band
       AND x.media_ref < y.media_ref) cand
JOIN ph pa ON pa.media_ref = cand.a
JOIN ph pb ON pb.media_ref = cand.b
WHERE bit_count(xor(pa.phash, pb.phash)) <= {MM.PHASH_HAMMING_MAX}"""

    sqls.update(_textops_sqls())
    sqls.update(_curation_sqls())
    sqls.update(_ann_sqls())
    sqls.update(_meta_sqls())
    sqls.update(_media_sqls())
    sqls.update(_round3_sqls())
    sqls.update(_er_sqls())
    sqls.update(_round3b_sqls())
    # the split variant must be row-identical to the unsplit as-of join
    sqls["event_asof_split"] = sqls["event_asof"]

    return sqls


def _round3_sqls() -> dict[str, str]:
    from . import decorations as DE
    from .operators import content_stats as CS
    from .operators import sections as SE
    from .operators import serde as SR
    sqls: dict[str, str] = {}

    sqls["citation_fields_by_format"] = ("WITH " + DE.citation_synth_sql()
                                         + ",\n"
                                         + SE.citation_fields_oracle_tail())

    # the cross-engine contract for an approximate sketch: exact count
    # + the engine's own tolerance verdict (DuckDB's approx sketch
    # differs register-for-register, so TRUE is the assertion that
    # Spark's HLL++ landed inside the documented envelope)
    sqls["event_approx_distinct"] = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS approx_ok
FROM events GROUP BY 1""".strip()

    sqls["event_approx_quantiles"] = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50_exact,
       round(quantile_cont(value, 0.9), 6) AS p90_exact,
       round(quantile_cont(value, 0.99), 6) AS p99_exact,
       TRUE AS approx_ok
FROM events GROUP BY 1""".strip()

    from .operators.olap import FUNNEL_STEPS
    _f1, _f2, _f3 = FUNNEL_STEPS
    sqls["event_funnel"] = f"""
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = '{_f1}' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = '{_f2}' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = '{_f3}' AND e.ts > s2.t GROUP BY 1),
counts AS (
  SELECT 1 AS step_idx, '{_f1}' AS step,
         CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL SELECT 2, '{_f2}', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL SELECT 3, '{_f3}', CAST(count(*) AS BIGINT) FROM s3)
SELECT CAST(step_idx AS INT) AS step_idx, step, n_users,
       round(CAST(n_users AS DOUBLE)
             / coalesce(lag(n_users) OVER (ORDER BY step_idx),
                        n_users), 6) AS conv_from_prev,
       round(CAST(n_users AS DOUBLE)
             / first_value(n_users) OVER (ORDER BY step_idx),
             6) AS conv_from_first
FROM counts""".strip()

    from .operators.content_stats import CHI2_CRIT_6DOF
    sqls["event_seasonality"] = f"""
WITH per AS (
  SELECT event_type, dayofweek(ts) AS dow,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
        FROM per GROUP BY 1),
sc AS (
  SELECT p.event_type, min(t.n_total) AS n_total,
         round(sum((p.n - CAST(t.n_total AS DOUBLE) / 7)
                   * (p.n - CAST(t.n_total AS DOUBLE) / 7)
                   / (CAST(t.n_total AS DOUBLE) / 7)), 6) AS chi2
  FROM per p JOIN tot t USING (event_type) GROUP BY 1)
SELECT event_type, n_total, chi2,
       chi2 < {CHI2_CRIT_6DOF} AS is_uniform
FROM sc""".strip()

    from .operators.content_stats import KS_ALPHA_C, KS_SHIFT_SRC
    sqls["doc_source_ks"] = f"""
WITH vals AS (
  SELECT source,
         CASE WHEN source = '{KS_SHIFT_SRC}'
              THEN CAST(floor(n_chars * 3 / 2) AS BIGINT)
              ELSE n_chars END AS v
  FROM documents),
cnt AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
        FROM vals GROUP BY 1, 2),
marg AS (SELECT v, CAST(sum(c) AS BIGINT) AS cm FROM cnt GROUP BY 1),
grid AS (
  SELECT s.source, m.v, m.cm, coalesce(c.c, 0) AS c
  FROM (SELECT DISTINCT source FROM cnt) s
  CROSS JOIN marg m
  LEFT JOIN cnt c ON c.source = s.source AND c.v = m.v),
cum AS (
  SELECT source, v, cm, c,
         sum(c) OVER (PARTITION BY source ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cs,
         sum(cm) OVER (PARTITION BY source ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ct
  FROM grid),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src
        FROM cnt GROUP BY 1),
nall AS (SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM cnt),
scored AS (
  SELECT cum.source, tot.n_src, nall.n_all - tot.n_src AS n_rest,
         abs(cs / CAST(tot.n_src AS DOUBLE)
             - (ct - cs) / (nall.n_all - tot.n_src)) AS diff
  FROM cum JOIN tot USING (source), nall)
SELECT source, min(n_src) AS n_src, round(max(diff), 6) AS ks,
       round({KS_ALPHA_C} * sqrt((min(n_src) + min(n_rest))
             / (min(n_src) * min(n_rest))), 6) AS ks_crit,
       round(max(diff), 6)
         > round({KS_ALPHA_C} * sqrt((min(n_src) + min(n_rest))
                 / (min(n_src) * min(n_rest))), 6) AS reject
FROM scored GROUP BY 1""".strip()

    sqls["event_gap_audit"] = """
WITH ev AS (SELECT * FROM events
            WHERE CAST(date_part('day', ts) AS BIGINT) % 11 <> 5),
span AS (
  SELECT event_type, min(CAST(ts AS DATE)) AS d0,
         max(CAST(ts AS DATE)) AS d1
  FROM ev GROUP BY 1),
cal AS (
  SELECT event_type, CAST(unnest(generate_series(d0, d1,
         INTERVAL 1 DAY)) AS DATE) AS day
  FROM span),
seen AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day
         FROM ev)
SELECT c.event_type, strftime(c.day, '%Y-%m-%d') AS missing_day
FROM cal c LEFT JOIN seen s
  ON s.event_type = c.event_type AND s.day = c.day
WHERE s.day IS NULL""".strip()

    from .operators.olap import ZORDER_BITS
    _zn = 1 << ZORDER_BITS
    _zterms = " + ".join(
        f"(((ub >> {b}) & 1) << {2 * b})"
        f" + (((vb >> {b}) & 1) << {2 * b + 1})"
        for b in range(ZORDER_BITS))
    sqls["event_zorder"] = f"""
WITH bk AS (
  SELECT event_id,
         CAST(user_id % {_zn} AS BIGINT) AS ub,
         CAST(least(floor(value / 500.0 * {_zn}), {_zn - 1})
              AS BIGINT) AS vb
  FROM events)
SELECT event_id, ub AS u_bucket, vb AS v_bucket,
       CAST({_zterms} AS BIGINT) AS zkey
FROM bk""".strip()

    from .operators.olap import (
        PRUNE_BOX_U, PRUNE_BOX_V, PRUNE_FILE_BITS,
    )
    _ulo, _uhi = PRUNE_BOX_U
    _vlo, _vhi = PRUNE_BOX_V
    _zshift = 2 * ZORDER_BITS - PRUNE_FILE_BITS
    _lshift = ZORDER_BITS - PRUNE_FILE_BITS
    _prune_leg = """
  SELECT '{name}' AS layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
           AS n_files_scanned,
         CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)
           AS n_rows_scanned,
         round(sum(CASE WHEN scanned THEN 1.0 ELSE 0.0 END)
               / count(*), 6) AS frac_files_scanned
  FROM (
    SELECT count(*) AS n_rows,
           NOT (max(ub) < {ulo} OR min(ub) > {uhi}
                OR max(vb) < {vlo} OR min(vb) > {vhi}) AS scanned
    FROM zk GROUP BY {file_expr}) f"""
    sqls["event_zorder_prune"] = f"""
WITH bk AS (
  SELECT event_id,
         CAST(user_id % {_zn} AS BIGINT) AS ub,
         CAST(least(floor(value / 500.0 * {_zn}), {_zn - 1})
              AS BIGINT) AS vb
  FROM events),
zk AS (SELECT ub, vb, CAST({_zterms} AS BIGINT) AS zkey FROM bk)
{_prune_leg.format(name='zorder', file_expr=f'zkey >> {_zshift}',
                   ulo=_ulo, uhi=_uhi, vlo=_vlo, vhi=_vhi)}
UNION ALL
{_prune_leg.format(name='linear', file_expr=f'ub >> {_lshift}',
                   ulo=_ulo, uhi=_uhi, vlo=_vlo, vhi=_vhi)}""".strip()

    sqls["event_transitions"] = """
WITH seq AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
mat AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
rw AS (SELECT prev_type, CAST(sum(n) AS DOUBLE) AS row_n
       FROM mat GROUP BY 1)
SELECT m.prev_type, m.next_type, m.n, round(m.n / rw.row_n, 6) AS p
FROM mat m JOIN rw USING (prev_type)""".strip()

    from .operators.content_stats import AB_CHI2_CRIT
    _exp = "(CAST(n_a + n_b AS DOUBLE) / 2)"
    _chi2 = (f"((n_a - {_exp}) * (n_a - {_exp})"
             f" + (n_b - {_exp}) * (n_b - {_exp})) / {_exp}")
    sqls["event_ab_srm"] = f"""
WITH assigned AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 = 0 AS is_a
  FROM events),
per AS (
  SELECT coalesce(event_type, '(all)') AS event_type,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM assigned GROUP BY ROLLUP(event_type))
SELECT event_type, n_a, n_b, round({_chi2}, 6) AS chi2,
       {_chi2} > {AB_CHI2_CRIT} AS srm
FROM per""".strip()

    from .operators.content_stats import ANOM_TRAIL, ANOM_Z
    _var = "(ss - s * s / c) / (c - 1)"
    _sd = f"CASE WHEN {_var} > 0 THEN sqrt({_var}) END"
    _z = f"(n - s / c) / ({_sd})"
    sqls["event_anomaly_days"] = f"""
WITH per AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
wv AS (
  SELECT event_type, day, n,
         CAST(sum(n) OVER w AS DOUBLE) AS s,
         CAST(sum(n * n) OVER w AS DOUBLE) AS ss,
         CAST(count(n) OVER w AS DOUBLE) AS c
  FROM per
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {ANOM_TRAIL} PRECEDING
                        AND 1 PRECEDING))
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       CASE WHEN c >= 2 THEN round(s / c, 6) END AS base_mean,
       CASE WHEN c >= 2 THEN round({_sd}, 6) END AS base_sd,
       CASE WHEN c >= 2 THEN round({_z}, 6) END AS z,
       coalesce(abs({_z}) >= {ANOM_Z}, FALSE) AS is_anomaly
FROM wv""".strip()

    sqls["event_retention"] = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cw
  FROM events GROUP BY 1),
act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS ew FROM events),
per AS (
  SELECT f.cw,
         CAST(floor(date_diff('day', f.cw, a.ew) / 7) AS INT)
           AS weeks_since,
         CAST(count(*) AS BIGINT) AS n_active
  FROM act a JOIN firsts f USING (user_id)
  GROUP BY 1, 2),
sizes AS (
  SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY 1)
SELECT strftime(p.cw, '%Y-%m-%d') AS cohort_week,
       p.weeks_since, p.n_active, s.cohort_size,
       round(CAST(p.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
FROM per p JOIN sizes s USING (cw)""".strip()

    sqls["event_outliers_zscore"] = f"""
WITH stats AS (
  SELECT event_type, avg(value) AS mean_v, stddev_samp(value) AS std_v
  FROM events GROUP BY event_type
  HAVING count(*) >= {CS.ZSCORE_MIN_N} AND stddev_samp(value) > 0)
SELECT e.event_id, e.event_type, e.value
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.mean_v) / s.std_v) > {CS.ZSCORE_SIGMA}"""

    # expected prefix->IRI rows derived directly from the terms
    # dimension (the rdfxml_parse pattern): the planted non-IRI
    # @context aliases are exactly what the operator's filter drops
    sqls["jsonld_namespaces"] = "WITH " + terms_cte() + f"""
SELECT DISTINCT ontology_id,
       lower(string_split(id, ':')[1]) AS prefix,
       '{SR.OBO_BASE}' || string_split(id, ':')[1] || '_' AS uri
FROM terms_d"""

    # jsonld_context_namespaces: expected rows derived from the
    # dimension + the fixture's planted traps, never by re-parsing the
    # JSON — per ontology doc: its own prefix entry, the https xref
    # @id-dict entry, CHEBI's owl override, then the four defaults
    # except where a SURVIVING context entry binds the prefix (GO's
    # dropped non-URI rdf does not block the rdf default)
    dflt = " UNION ALL ".join(
        f"SELECT {_q(p)} AS prefix, {_q(u)} AS uri"
        for p, u in sorted(SR.JSONLD_DEFAULT_NAMESPACES.items()))
    sqls["jsonld_context_namespaces"] = "WITH " + terms_cte() + f"""
, docs AS (SELECT DISTINCT ontology_id AS doc_id FROM terms_d),
kept AS (
  SELECT doc_id, lower(doc_id) AS prefix,
         '{SR.OBO_BASE}' || doc_id || '_' AS uri,
         'context' AS source
  FROM docs
  UNION ALL
  SELECT doc_id, 'xref',
         'https://example.org/xref/' || doc_id || '#', 'context'
  FROM docs
  UNION ALL
  SELECT 'CHEBI', 'owl', 'http://example.org/owl-override#', 'context'),
defaults(prefix, uri) AS ({dflt})
SELECT doc_id, prefix, uri, source FROM kept
UNION ALL
SELECT d.doc_id, f.prefix, f.uri, 'default' AS source
FROM docs d, defaults f
WHERE NOT EXISTS (SELECT 1 FROM kept k
                  WHERE k.doc_id = d.doc_id AND k.prefix = f.prefix)"""

    # csv_dialect: independent twin — re-synthesize the seven battery
    # payloads from terms_f, then score delimiters by the MANUAL
    # consistency algorithm (_manual_dialect_detection :5342: per-line
    # field-count uniformity x occurrence rate, first-candidate wins
    # ties), quote chars by quoted-field regex hits, and headers by the
    # numeric-shape rule (first row has no numeric field, data rows
    # do). The Spark operator goes through stdlib csv.Sniffer first —
    # on this battery both roads must reach the same dialect, which is
    # exactly the cross-check; confidence/method are deliberately NOT
    # oracle-facing (sniffer and manual confidences differ by
    # construction) and are pinned by the in-process parity suite.
    sqls["csv_dialect"] = "WITH " + terms_full_cte() + """
, base AS (
  SELECT id, name,
         CAST(regexp_extract(id, '(\\d+)$', 1) AS BIGINT) AS seq
  FROM terms_f WHERE ontology_id = 'CHEBI' ORDER BY id LIMIT 8),
docs(path, payload) AS (
  SELECT 'comma_quoted.csv',
         'term_id,description,seq' || chr(10) ||
         string_agg(id || ',"' || name || ', annotated ""x""'
                    || '",' || seq, chr(10) ORDER BY id)
  FROM base
  UNION ALL
  SELECT 'tab.tsv',
         'term_id' || chr(9) || 'description' || chr(9) || 'seq'
         || chr(10) ||
         string_agg(id || chr(9) || name || chr(9) || seq,
                    chr(10) ORDER BY id)
  FROM base
  UNION ALL
  SELECT 'semicolon.csv',
         'term_id;description;seq' || chr(10) ||
         string_agg(id || ';' || name || ';' || seq,
                    chr(10) ORDER BY id)
  FROM base
  UNION ALL
  SELECT 'pipe.csv',
         'term_id|description|seq' || chr(10) ||
         string_agg(id || '|' || name || '|' || seq,
                    chr(10) ORDER BY id)
  FROM base
  UNION ALL
  SELECT 'single_quote.csv',
         'term_id,description,seq' || chr(10) ||
         string_agg(id || ',''' || name || ', annotated'',' || seq,
                    chr(10) ORDER BY id)
  FROM base
  UNION ALL
  SELECT 'no_header.csv',
         string_agg(seq || ',' || (seq % 10) || ',' || (seq * 2),
                    chr(10) ORDER BY id)
  FROM base
  UNION ALL
  SELECT 'one_line.csv', 'term_id,description,seq'),
lines AS (
  SELECT d.path, ls[r.i + 1] AS line, r.i AS idx
  FROM (SELECT path, string_split(payload, chr(10)) AS ls FROM docs) d,
       range(10) r(i)
  WHERE r.i < len(d.ls)),
nl AS (SELECT path, count(*) AS n FROM lines GROUP BY 1),
cands(d, ord) AS (VALUES (',', 1), (chr(9), 2), ('|', 3), (';', 4)),
cnt AS (
  SELECT l.path, c.d, c.ord,
         length(l.line) - length(replace(l.line, c.d, '')) AS occ
  FROM lines l, cands c
  WHERE trim(l.line) <> ''),
scored AS (
  SELECT path, d, ord, sum(occ) AS total,
         CASE WHEN count(DISTINCT occ + 1) = 1 AND min(occ + 1) > 1
              THEN 1.0
              ELSE greatest(0.0, 1.0 - var_pop(occ + 1) / avg(occ + 1))
         END AS consistency
  FROM cnt GROUP BY 1, 2, 3),
best AS (
  SELECT s.path, s.d, row_number() OVER (
    PARTITION BY s.path
    ORDER BY s.consistency * (CAST(s.total AS DOUBLE) / nl.n) DESC,
             s.ord ASC) AS rn
  FROM scored s JOIN nl USING (path) WHERE s.total > 0),
delim AS (
  SELECT nl.path,
         CASE WHEN nl.n < 2 THEN ',' ELSE b.d END AS delimiter
  FROM nl LEFT JOIN best b ON b.path = nl.path AND b.rn = 1),
quotes(qc, re, ord) AS (VALUES
  ('"', '"[^"]*"', 1), ('''', '''[^'']*''', 2), ('`', '`[^`]*`', 3)),
qhits AS (
  SELECT l.path, q.qc, q.ord,
         sum(CASE WHEN regexp_matches(l.line, q.re) THEN 1 ELSE 0 END)
           AS hits
  FROM lines l, quotes q GROUP BY 1, 2, 3),
qbest AS (
  SELECT path, qc, row_number() OVER (
    PARTITION BY path ORDER BY hits DESC, ord ASC) AS rn
  FROM qhits),
fields AS (
  SELECT l.path, l.idx, unnest(string_split(l.line, dl.delimiter)) AS fv
  FROM lines l JOIN delim dl USING (path)),
numc AS (
  SELECT path, idx,
         sum(CASE WHEN try_cast(fv AS DOUBLE) IS NOT NULL
             THEN 1 ELSE 0 END) AS nn
  FROM fields GROUP BY 1, 2),
hh AS (
  SELECT n.path,
         CASE WHEN nl.n < 2 THEN TRUE
              ELSE max(CASE WHEN n.idx = 0 THEN n.nn END) = 0
                   AND sum(CASE WHEN n.idx > 0 THEN n.nn ELSE 0 END) > 0
         END AS has_header
  FROM numc n JOIN nl USING (path) GROUP BY n.path, nl.n),
fmtc AS (
  SELECT path,
         CASE WHEN length(payload) - length(replace(payload, chr(9), ''))
                   > length(payload) - length(replace(payload, ',', ''))
               AND length(payload) - length(replace(payload, chr(9), ''))
                   > length(payload) - length(replace(payload, '|', ''))
              THEN 'tsv' ELSE 'csv' END AS fmt
  FROM docs)
SELECT d.path, f.fmt, d.delimiter, q.qc AS quotechar, h.has_header
FROM delim d
JOIN fmtc f USING (path)
JOIN (SELECT path, qc FROM qbest WHERE rn = 1) q USING (path)
JOIN hh h USING (path)"""

    # csv_infer: expected (path, col_name, inferred_type) — the same
    # full-scan inference rules applied to the dimension columns the
    # CSV document serializes (values are comma-free by construction,
    # so the split round-trip is lossless)
    curie, bools = SR.CSV_CURIE_RE, ", ".join(
        f"'{b}'" for b in SR.CSV_BOOLEAN_VALUES)

    def _infer(col_name: str, vals: str) -> str:
        name = col_name.lower()
        return f"""
  SELECT 'terms.csv' AS path, '{col_name}' AS col_name,
    CASE
      WHEN count(*) = 0 THEN 'string'
      WHEN {int('id' in name)} = 1
           AND min(CASE WHEN regexp_matches(v, '{curie}')
                   THEN 1 ELSE 0 END) = 1 THEN 'ontology_id'
      WHEN {int('synonym' in name or 'alias' in name)} = 1 THEN 'list'
      WHEN {int('categor' in name or 'type' in name)} = 1 THEN 'category'
      WHEN avg(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
               THEN 1.0 ELSE 0.0 END) > {SR.CSV_NUMERIC_FRAC} THEN
        CASE WHEN min(CASE WHEN contains(v, '.') THEN 0 ELSE 1 END) = 1
             THEN 'integer' ELSE 'float' END
      WHEN min(CASE WHEN lower(v) IN ({bools}) THEN 1 ELSE 0 END) = 1
           THEN 'boolean'
      ELSE 'string'
    END AS inferred_type
  FROM (SELECT trim({vals}) AS v FROM terms_f) WHERE trim(v) <> ''"""

    seq = "regexp_extract(id, '(\\d+)$', 1)"
    cols = [
        ("term_id", "id"), ("name", "name"), ("synonyms", "synonyms"),
        ("category", "namespace"), ("seq", seq),
        ("score", f"{seq} || '.' || CAST(CAST({seq} AS BIGINT) % 10 "
                  "AS VARCHAR)"),
        ("is_obsolete", "CASE WHEN is_obsolete THEN 'true' ELSE 'false' "
                        "END"),
    ]
    sqls["csv_infer"] = ("WITH " + terms_full_cte()
                         + "\nUNION ALL".join(_infer(c, v)
                                              for c, v in cols))

    # corpus-level duplicated-shingle coverage (per-doc distinct
    # shingles -> document frequency -> one summary row)
    sqls["doc_dup_ngram_coverage"] = f"""
WITH {ADOC_CTE},
{tok_cte('adoc')},
sg AS (SELECT doc_id, list_distinct({_sh_expr(TX.SHINGLE_W)}) AS sh
       FROM tok),
inv AS (SELECT doc_id, unnest(sh) AS s FROM sg),
per AS (SELECT s, count(*) AS df FROM inv GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_shingles,
       round(avg(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END), 6)
         AS dup_shingle_frac,
       CAST(sum(df) AS BIGINT) AS occ_total,
       CAST(sum(CASE WHEN df > 1 THEN df ELSE 0 END) AS BIGINT)
         AS occ_dup,
       round(CAST(sum(CASE WHEN df > 1 THEN df ELSE 0 END) AS DOUBLE)
             / sum(df), 6) AS dup_occ_frac
FROM per"""

    # Gopher-style repetition metrics over the planted-repetition corpus
    # (same tokenization + shingle rules as the dedup family)
    sqls["doc_repetition"] = f"""
WITH {DE.repetitive_docs_sql()},
{tok_cte('rdoc')},
base AS (
  SELECT doc_id, toks, len(toks) AS n_words,
         {_sh_expr(3)} AS g3, {_sh_expr(2)} AS g2
  FROM tok),
perrow AS (
  SELECT doc_id, CAST(n_words AS INT) AS n_words,
         round(1 - CAST(len(list_distinct(toks)) AS DOUBLE)
               / greatest(n_words, 1), 6) AS dup_word_frac,
         round(1 - CAST(len(list_distinct(g3)) AS DOUBLE)
               / greatest(len(g3), 1), 6) AS dup_3gram_frac
  FROM base),
ex2 AS (SELECT doc_id, unnest(g2) AS g FROM base),
cnt AS (SELECT doc_id, g, count(*) AS c FROM ex2 GROUP BY 1, 2),
top AS (
  SELECT doc_id, g AS top_2gram,
         round(CAST(c AS DOUBLE) / n2, 6) AS top_2gram_share
  FROM (
    SELECT doc_id, g, c, sum(c) OVER (PARTITION BY doc_id) AS n2,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, g DESC) AS rn
    FROM cnt) t WHERE rn = 1)
SELECT p.doc_id, p.n_words, p.dup_word_frac, p.dup_3gram_frac,
       t.top_2gram, t.top_2gram_share,
       CASE WHEN p.dup_word_frac <= {TX.REP_DUP_WORD_MAX}
             AND p.dup_3gram_frac <= {TX.REP_DUP_3GRAM_MAX}
             AND t.top_2gram_share <= {TX.REP_TOP_2GRAM_MAX}
            THEN 'keep' ELSE 'drop' END AS verdict
FROM perrow p JOIN top t USING (doc_id)"""

    # temperature-scaled (alpha = 0.5) language-mixture sampling
    sqls["doc_mixture_sample"] = f"""
WITH by_l AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_l) AS BIGINT) AS n_total,
               sum(sqrt(n_l)) AS s_sqrt FROM by_l),
dims AS (
  SELECT lang,
         round(least(1.0, {TX.MIX_TARGET_FRAC} * n_total * sqrt(n_l)
                          / (s_sqrt * n_l)), 6) AS rate
  FROM by_l, tot),
dims2 AS (
  SELECT lang,
         printf('%04x', CAST(least(65535, floor(rate * 65536)) AS INT))
         AS thr_hex
  FROM dims)
SELECT d.doc_id, d.lang,
       substring(md5(CAST(d.doc_id AS VARCHAR) || '{TX.MIX_SEED}'),
                 1, 4) AS h4,
       thr_hex
FROM documents d JOIN dims2 USING (lang)
WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || '{TX.MIX_SEED}'),
                1, 4) < thr_hex"""

    # document-level entity co-occurrence with PMI weights
    from .operators.linking import COOC_MIN_SUPPORT
    pat = ner_pattern()
    sqls["entity_cooccurrence"] = (
        corpus_prefix(gaz_cte(), link_cte()) + f""",
ment AS (
  SELECT DISTINCT m.doc_id, l.term_id
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM spans WHERE kind IN ('text', 'figure', 'table')) m
  JOIN link l ON l.surface = m.surface),
marg AS (SELECT term_id, CAST(count(*) AS BIGINT) AS n
         FROM ment GROUP BY term_id),
tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM ment),
pairs AS (
  SELECT a.term_id AS term_a, b.term_id AS term_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM ment a JOIN ment b
    ON a.doc_id = b.doc_id AND a.term_id < b.term_id
  GROUP BY 1, 2 HAVING count(*) >= {COOC_MIN_SUPPORT})
SELECT term_a, term_b, n_ab, ma.n AS n_a, mb.n AS n_b,
       round(ln(CAST(n_ab AS DOUBLE) * n_docs / (ma.n * mb.n)), 6) AS pmi
FROM pairs
JOIN marg ma ON ma.term_id = term_a
JOIN marg mb ON mb.term_id = term_b, tot""")

    # shuffle-key skew probe over the deduplicated triple store
    sqls["triple_subject_skew"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
dt AS (
  SELECT subject, predicate, object, subject_type, object_type,
         object_datatype, object_language,
         max(confidence) AS confidence, count(*) AS support
  FROM triples GROUP BY 1, 2, 3, 4, 5, 6, 7),
cnts AS (SELECT CAST(subject AS VARCHAR) AS key_value,
                CAST(count(*) AS BIGINT) AS n
         FROM dt GROUP BY 1),
summ AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         round(avg(n), 6) AS mean_n,
         round(stddev_samp(n), 6) AS stddev_n,
         CAST(max(n) AS BIGINT) AS max_n
  FROM cnts),
top AS (SELECT key_value, n FROM cnts
        ORDER BY n DESC, key_value ASC LIMIT {CS.SKEW_TOP_K})
SELECT key_value, n, round(CAST(n AS DOUBLE) / total_rows, 6) AS share,
       total_rows, n_keys, mean_n, stddev_n, max_n,
       round(max_n / mean_n, 6) AS skew_ratio
FROM top, summ""")

    # re-crawl MERGE INTO over the canonical triple store
    key7 = ("subject, predicate, object, subject_type, object_type, "
            "object_datatype, object_language")
    dedup = (f"SELECT {key7}, max(confidence) AS confidence, "
             f"CAST(count(*) AS BIGINT) AS support FROM {{src}} "
             f"GROUP BY {key7}")
    nsd = " AND ".join(
        f"e.{c} IS NOT DISTINCT FROM i.{c}"
        for c in ("subject", "predicate", "object", "subject_type",
                  "object_type", "object_datatype", "object_language"))
    keyc = ", ".join(
        f"coalesce(e.{c}, i.{c}) AS {c}"
        for c in ("subject", "predicate", "object", "subject_type",
                  "object_type", "object_datatype", "object_language"))
    sqls["triple_merge_upsert"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
tr_even AS (SELECT * FROM triples
            WHERE CAST(substring(doc_id, 5) AS INT) % 2 = 0),
tr_in AS (SELECT * FROM triples
          UNION ALL
          SELECT * FROM triples
          WHERE CAST(substring(doc_id, 5) AS INT) % 10 = 0),
de AS ({dedup.format(src='tr_even')}),
di AS ({dedup.format(src='tr_in')})
SELECT {keyc},
       greatest(coalesce(e.confidence, 0.0), coalesce(i.confidence, 0.0))
         AS confidence,
       CAST(greatest(coalesce(e.support, 0), coalesce(i.support, 0))
            AS BIGINT) AS support,
       CASE WHEN e.support IS NULL THEN 'insert'
            WHEN i.support IS NULL THEN 'unchanged'
            WHEN i.support <> e.support OR i.confidence > e.confidence
              THEN 'update'
            ELSE 'unchanged' END AS action
FROM de e FULL OUTER JOIN di i ON {nsd}""")

    # deterministic tail-corruption negative sampling
    from .operators.relations import NEG_SAMPLES_K, NEG_SEED

    def _hv(pos: int) -> str:
        return (f"(strpos('0123456789abcdef', substring(h, {pos}, 1))"
                f" - 1)")

    idxs = " UNION ALL ".join(f"SELECT {i} AS sample_idx"
                              for i in range(NEG_SAMPLES_K))
    sqls["kg_negative_samples"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte(), terms_cte())
        + f""",
dt AS (SELECT DISTINCT subject, predicate, object FROM triples),
vocab AS (
  SELECT id, row_number() OVER (ORDER BY id) - 1 AS term_seq
  FROM (SELECT DISTINCT id FROM terms_d) v),
nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vocab),
cand AS (
  SELECT subject, predicate, object, sample_idx,
         md5(subject || '|' || predicate || '|' || object || '|'
             || CAST(sample_idx AS VARCHAR) || '|' || '{NEG_SEED}') AS h
  FROM dt, ({idxs}) s),
picked AS (
  SELECT subject, predicate, object, sample_idx,
         ({_hv(1)} * 4096 + {_hv(2)} * 256 + {_hv(3)} * 16 + {_hv(4)})
           % (SELECT n FROM nv) AS pick_seq
  FROM cand),
neg AS (
  SELECT p.subject, p.predicate, p.object, p.sample_idx,
         v.id AS neg_object
  FROM picked p JOIN vocab v ON v.term_seq = p.pick_seq
  WHERE v.id <> p.object AND v.id <> p.subject)
SELECT n.subject, n.predicate, n.object, n.sample_idx, n.neg_object
FROM neg n
ANTI JOIN dt t
  ON t.subject = n.subject AND t.predicate = n.predicate
 AND t.object = n.neg_object""")

    sqls["doc_extraction_yield"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
toks AS (
  SELECT doc_id,
         CAST(sum(len(list_filter(
             regexp_split_to_array(lower(trim(text)), '\\s+'),
             t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM spans WHERE kind = 'text' GROUP BY 1),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triples
        FROM triples GROUP BY 1)
SELECT t.doc_id, t.n_tokens,
       CAST(coalesce(p.n_triples, 0) AS BIGINT) AS n_triples,
       round(CASE WHEN t.n_tokens > 0 THEN
               coalesce(p.n_triples, 0) * 1000.0 / t.n_tokens
             ELSE 0.0 END, 6) AS yield_per_kt
FROM toks t LEFT JOIN per p ON p.doc_id = t.doc_id""")

    from .operators.relations import HARD_NEG_SEED
    sqls["kg_hard_negatives"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte(), terms_cte())
        + f""",
dt AS (SELECT DISTINCT subject, predicate, object FROM triples),
vocab AS (
  SELECT id, split_part(id, ':', 1) AS ns,
         row_number() OVER (PARTITION BY split_part(id, ':', 1)
                            ORDER BY id) - 1 AS ns_seq
  FROM (SELECT DISTINCT id FROM terms_d) v),
nsz AS (SELECT ns, CAST(count(*) AS BIGINT) AS ns_n
        FROM vocab GROUP BY 1),
cand AS (
  SELECT split_part(dt.object, ':', 1) AS ns, nsz.ns_n,
         subject, predicate, object, sample_idx,
         md5(subject || '|' || predicate || '|' || object || '|'
             || CAST(sample_idx AS VARCHAR) || '|' || '{HARD_NEG_SEED}')
           AS h
  FROM dt JOIN nsz ON nsz.ns = split_part(dt.object, ':', 1),
       ({idxs}) s),
picked AS (
  SELECT ns, subject, predicate, object, sample_idx,
         ({_hv(1)} * 4096 + {_hv(2)} * 256 + {_hv(3)} * 16 + {_hv(4)})
           % ns_n AS pick_seq
  FROM cand),
neg AS (
  SELECT p.subject, p.predicate, p.object, p.sample_idx,
         v.id AS neg_object
  FROM picked p
  JOIN vocab v ON v.ns = p.ns AND v.ns_seq = p.pick_seq
  WHERE v.id <> p.object AND v.id <> p.subject)
SELECT n.subject, n.predicate, n.object, n.sample_idx, n.neg_object
FROM neg n
ANTI JOIN dt t
  ON t.subject = n.subject AND t.predicate = n.predicate
 AND t.object = n.neg_object""")

    # --- graph analytics over the entity graph ------------------------------
    # undirected distinct entity edges (src < dst), uri-only, no loops —
    # the oracle lists triangles by id order (x < y < z); the Spark side
    # uses degree-ordered orientation, which finds the identical set.
    und_ctes = """,
und AS (SELECT DISTINCT least(subject, object) AS src,
               greatest(subject, object) AS dst
        FROM triples
        WHERE subject_type = 'uri' AND object_type = 'uri'
          AND subject <> object),
sym AS (SELECT src, dst FROM und
        UNION ALL SELECT dst, src FROM und)"""

    sqls["kg_triangles"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes + """,
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM sym GROUP BY 1),
tri AS (SELECT a.src AS x, a.dst AS y, c.dst AS z
        FROM und a
        JOIN und c ON c.src = a.src AND c.dst > a.dst
        JOIN und e ON e.src = a.dst AND e.dst = c.dst),
pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM (SELECT x AS node FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
       GROUP BY 1)
SELECT d.node, d.degree,
       CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * coalesce(pn.n_triangles, 0)
                       / (d.degree * (d.degree - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN pn USING (node)""")

    from .operators.relations import (SNAPSHOT_DAY, VALID_SPAN_BASE,
                                      VALID_SPAN_MOD)
    sqls["kg_snapshot_asof"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
spo AS (SELECT DISTINCT subject, predicate, object FROM triples),
tv AS (
  SELECT predicate,
         CAST(concat('0x', substring(md5(subject || '|' || predicate
              || '|' || object), 1, 2)) AS BIGINT) % 30 AS valid_from,
         CASE WHEN CAST(concat('0x', substring(md5(subject || '|'
                   || predicate || '|' || object), 3, 2)) AS BIGINT)
                   % 5 <> 0
              THEN CAST(concat('0x', substring(md5(subject || '|'
                   || predicate || '|' || object), 1, 2)) AS BIGINT)
                   % 30 + {VALID_SPAN_BASE}
                   + CAST(concat('0x', substring(md5(subject || '|'
                     || predicate || '|' || object), 3, 2)) AS BIGINT)
                     % {VALID_SPAN_MOD}
         END AS valid_to
  FROM spo)
SELECT predicate,
       CAST(sum(CASE WHEN valid_from <= {SNAPSHOT_DAY}
                      AND (valid_to IS NULL
                           OR valid_to > {SNAPSHOT_DAY})
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN valid_to <= {SNAPSHOT_DAY} THEN 1 ELSE 0
                END) AS BIGINT) AS n_expired,
       CAST(sum(CASE WHEN valid_from > {SNAPSHOT_DAY} THEN 1 ELSE 0
                END) AS BIGINT) AS n_future,
       CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_open
FROM tv GROUP BY 1""")

    sqls["kg_key_candidates"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
e AS (SELECT DISTINCT subject, predicate, object FROM triples),
so AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_subjects,
              CAST(sum(CASE WHEN fan = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS subj_single
       FROM (SELECT predicate, subject, count(*) AS fan
             FROM e GROUP BY 1, 2) s GROUP BY 1),
os_ AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_objects,
               CAST(sum(CASE WHEN fan = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS obj_single
        FROM (SELECT predicate, object, count(*) AS fan
              FROM e GROUP BY 1, 2) o GROUP BY 1)
SELECT so.predicate, n_subjects, n_objects,
       round(CAST(subj_single AS DOUBLE) / n_subjects, 6) AS func_frac,
       round(CAST(obj_single AS DOUBLE) / n_objects, 6)
         AS invfunc_frac,
       subj_single = n_subjects AS functional,
       obj_single = n_objects AS inverse_functional
FROM so JOIN os_ USING (predicate)""")

    sqls["kg_ffl_motifs"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
e AS (SELECT DISTINCT subject AS s, predicate AS p, object AS o
      FROM triples
      WHERE subject_type = 'uri' AND object_type = 'uri'
        AND subject <> object)
SELECT ab.p AS p_ab, bc.p AS p_bc, ac.p AS p_ac,
       CAST(count(*) AS BIGINT) AS n_motifs
FROM e ab
JOIN e bc ON bc.s = ab.o
JOIN e ac ON ac.s = ab.s AND ac.o = bc.o AND ac.o <> ab.s
GROUP BY 1, 2, 3""")

    sqls["kg_two_hop"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes + """,
hop2 AS (SELECT a.src AS src, b.dst AS dst
         FROM sym a JOIN sym b ON b.src = a.dst
         WHERE a.src <> b.dst),
reach AS (SELECT DISTINCT src, dst
          FROM (SELECT * FROM sym UNION ALL SELECT * FROM hop2)),
one AS (SELECT src, CAST(count(*) AS BIGINT) AS n_1hop
        FROM sym GROUP BY 1),
two AS (SELECT src, CAST(count(*) AS BIGINT) AS n_2hop
        FROM reach GROUP BY 1)
SELECT one.src AS node, n_1hop, n_2hop
FROM one JOIN two USING (src)""")

    from .operators.graphops import BFS_SEED_PREFIX, PR_DAMPING, PR_ITER
    pr_iters = ""
    for i in range(1, PR_ITER + 1):
        pr_iters += f""",
pr{i} AS (
  SELECT nodes.n,
         (CAST(1.0 AS DOUBLE) - CAST({PR_DAMPING} AS DOUBLE))
           / (SELECT cnt FROM nn)
         + CAST({PR_DAMPING} AS DOUBLE)
           * coalesce(sum(p.pr / od.odeg), CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes
  LEFT JOIN ed ON ed.o = nodes.n
  LEFT JOIN pr{i - 1} p ON p.n = ed.s
  LEFT JOIN od ON od.s = ed.s
  GROUP BY nodes.n)"""
    sqls["kg_pagerank"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
ed AS (SELECT DISTINCT subject AS s, object AS o FROM triples
       WHERE subject_type = 'uri' AND object_type = 'uri'
         AND subject <> object),
nodes AS (SELECT DISTINCT n
          FROM (SELECT s AS n FROM ed UNION ALL SELECT o FROM ed)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes),
od AS (SELECT s, CAST(count(*) AS BIGINT) AS odeg FROM ed GROUP BY 1),
pr0 AS (SELECT n, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM nn) AS pr
        FROM nodes){pr_iters}
SELECT n AS node, round(pr, 6) AS pagerank FROM pr{PR_ITER}""")

    # personalized variant: teleport restricted to the seed namespace
    ppr_seed = f"nodes.n LIKE '{BFS_SEED_PREFIX}%'"
    ppr_iters = ""
    for i in range(1, PR_ITER + 1):
        ppr_iters += f""",
ppr{i} AS (
  SELECT nodes.n,
         CASE WHEN {ppr_seed}
              THEN (CAST(1.0 AS DOUBLE) - CAST({PR_DAMPING} AS DOUBLE))
                   / (SELECT cnt FROM sn)
              ELSE CAST(0.0 AS DOUBLE) END
         + CAST({PR_DAMPING} AS DOUBLE)
           * coalesce(sum(p.pr / od.odeg), CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes
  LEFT JOIN ed ON ed.o = nodes.n
  LEFT JOIN ppr{i - 1} p ON p.n = ed.s
  LEFT JOIN od ON od.s = ed.s
  GROUP BY nodes.n)"""
    sqls["kg_personalized_pagerank"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
ed AS (SELECT DISTINCT subject AS s, object AS o FROM triples
       WHERE subject_type = 'uri' AND object_type = 'uri'
         AND subject <> object),
nodes AS (SELECT DISTINCT n
          FROM (SELECT s AS n FROM ed UNION ALL SELECT o FROM ed)),
sn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes
       WHERE n LIKE '{BFS_SEED_PREFIX}%'),
od AS (SELECT s, CAST(count(*) AS BIGINT) AS odeg FROM ed GROUP BY 1),
ppr0 AS (SELECT n,
                CASE WHEN n LIKE '{BFS_SEED_PREFIX}%'
                     THEN CAST(1.0 AS DOUBLE) / (SELECT cnt FROM sn)
                     ELSE CAST(0.0 AS DOUBLE) END AS pr
         FROM nodes){ppr_iters}
SELECT n AS node, round(pr, 6) AS ppr FROM ppr{PR_ITER}""")

    # HITS: identical unrolled recurrence; normalization constants are
    # scalar subqueries (the engine's driver-scalar aggregates). Every
    # per-iteration CTE is MATERIALIZED: each ar{i}/hr{i} is referenced
    # TWICE (equi-join + scalar-sum normalizer), so DuckDB's default
    # inlining would re-evaluate the whole upstream chain 2x per
    # reference — 2^(2*HITS_ITER) copies of the full corpus pipeline.
    from .operators.graphops import HITS_ITER
    hits_iters = ""
    for i in range(1, HITS_ITER + 1):
        hits_iters += f""",
ar{i} AS MATERIALIZED (SELECT ed.o AS n, sum(p.h) AS v
          FROM ed JOIN h{i - 1} p ON p.n = ed.s GROUP BY ed.o),
a{i} AS MATERIALIZED (SELECT nodes.n,
                coalesce(ar.v, CAST(0.0 AS DOUBLE))
                  / (SELECT sum(v) FROM ar{i}) AS a
         FROM nodes LEFT JOIN ar{i} ar ON ar.n = nodes.n),
hr{i} AS MATERIALIZED (SELECT ed.s AS n, sum(q.a) AS v
          FROM ed JOIN a{i} q ON q.n = ed.o GROUP BY ed.s),
h{i} AS MATERIALIZED (SELECT nodes.n,
                coalesce(hr.v, CAST(0.0 AS DOUBLE))
                  / (SELECT sum(v) FROM hr{i}) AS h
         FROM nodes LEFT JOIN hr{i} hr ON hr.n = nodes.n)"""
    sqls["kg_hits"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
ed AS MATERIALIZED (SELECT DISTINCT subject AS s, object AS o FROM triples
       WHERE subject_type = 'uri' AND object_type = 'uri'
         AND subject <> object),
nodes AS MATERIALIZED (SELECT DISTINCT n
          FROM (SELECT s AS n FROM ed UNION ALL SELECT o FROM ed)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes),
h0 AS (SELECT n, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM nn) AS h
       FROM nodes){hits_iters}
SELECT h.n AS node, round(h.h, 6) AS hub, round(a.a, 6) AS authority
FROM h{HITS_ITER} h JOIN a{HITS_ITER} a ON a.n = h.n""")

    # random walks: unrolled hash-seeded recurrence — at step k the walk
    # moves to the out-neighbor minimizing md5(start:k:node:v), the
    # comparator suffixed with v so distinct candidates never tie
    # (identical semantics to the engine's min_by key).
    from .operators.graphops import RW_STEPS
    rw_iters = ""
    for i in range(1, RW_STEPS + 1):
        rw_iters += f""",
w{i} AS (SELECT start,
                arg_min(o, md5(start || ':{i}:' || node || ':' || o) || o)
                  AS node
         FROM w{i - 1} JOIN ed ON ed.s = w{i - 1}.node
         GROUP BY start)"""
    rw_steps_union = "\nUNION ALL ".join(
        f"SELECT start, CAST({i} AS INTEGER) AS step, node FROM w{i}"
        for i in range(RW_STEPS + 1))
    sqls["kg_random_walks"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
ed AS (SELECT DISTINCT subject AS s, object AS o FROM triples
       WHERE subject_type = 'uri' AND object_type = 'uri'
         AND subject <> object),
w0 AS (SELECT DISTINCT s AS start, s AS node FROM ed){rw_iters}
{rw_steps_union}""")

    # doc_textrank: sentence graph + fixed-round weighted pagerank,
    # the iteration unrolled; jaccard weights are exact rationals
    from .operators import textops as TX2
    _tr_iters = []
    for _i in range(1, TX2.TEXTRANK_ITER + 1):
        _tr_iters.append(f""",
trc{_i} AS MATERIALIZED (
  SELECT e.doc_id, e.dst AS idx, sum(e.w / wo.wout * p.pr) AS c
  FROM tredge e
  JOIN trwout wo ON wo.doc_id = e.doc_id AND wo.src = e.src
  JOIN trpr{_i - 1} p ON p.doc_id = e.doc_id AND p.idx = e.src
  GROUP BY 1, 2),
trpr{_i} AS MATERIALIZED (
  SELECT s.doc_id, s.idx,
         (1 - {TX2.TEXTRANK_D}) / k.k
         + {TX2.TEXTRANK_D} * coalesce(c.c, 0) AS pr
  FROM trsent s
  JOIN trk k ON k.doc_id = s.doc_id
  LEFT JOIN trc{_i} c ON c.doc_id = s.doc_id AND c.idx = s.idx)""")
    sqls["doc_textrank"] = (corpus_prefix() + f""",
trsent AS MATERIALIZED (
  SELECT doc_id, pos AS idx, text AS sentence
  FROM spans WHERE kind = 'text'),
trwd AS MATERIALIZED (
  SELECT DISTINCT doc_id, idx, w FROM (
    SELECT doc_id, idx,
           unnest(string_split(regexp_replace(lower(sentence),
                                              '[^a-z ]', '', 'g'),
                  ' ')) AS w
    FROM trsent) x WHERE w <> ''),
trsz AS MATERIALIZED (SELECT doc_id, idx, count(*) AS nw FROM trwd GROUP BY 1, 2),
trint AS MATERIALIZED (
  SELECT a.doc_id, a.idx AS i, b.idx AS j, count(*) AS ni
  FROM trwd a JOIN trwd b
    ON b.doc_id = a.doc_id AND a.idx < b.idx AND a.w = b.w
  GROUP BY 1, 2, 3),
trjac AS MATERIALIZED (
  SELECT t.doc_id, t.i, t.j,
         t.ni / (sa.nw + sb.nw - t.ni) AS w
  FROM trint t
  JOIN trsz sa ON sa.doc_id = t.doc_id AND sa.idx = t.i
  JOIN trsz sb ON sb.doc_id = t.doc_id AND sb.idx = t.j
  WHERE t.ni / (sa.nw + sb.nw - t.ni) > 0),
tredge AS MATERIALIZED (
  SELECT doc_id, i AS src, j AS dst, w FROM trjac
  UNION ALL
  SELECT doc_id, j, i, w FROM trjac),
trwout AS MATERIALIZED (
  SELECT doc_id, src, sum(w) AS wout FROM tredge GROUP BY 1, 2),
trk AS MATERIALIZED (SELECT doc_id, count(*) AS k FROM trsent GROUP BY 1),
trpr0 AS MATERIALIZED (
  SELECT s.doc_id, s.idx, 1.0 / k.k AS pr
  FROM trsent s JOIN trk k ON k.doc_id = s.doc_id)"""
        + "".join(_tr_iters) + f"""
SELECT p.doc_id, CAST(p.idx AS INT) AS idx, s.sentence,
       round(p.pr, 6) AS score, CAST(p.rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY pr DESC, idx ASC) AS rnk
  FROM trpr{TX2.TEXTRANK_ITER}) p
JOIN trsent s ON s.doc_id = p.doc_id AND s.idx = p.idx
WHERE p.rnk <= {TX2.TEXTRANK_TOP}""")

    # kg_explain_paths: unroll the BFS witness-path recurrence with
    # the SAME per-round (dist, path) collapse as the Spark side —
    # the twins pin the recurrence, not a global path min
    from .operators import graphops as GO2
    _ex_rounds = []
    for _i in range(1, GO2.EXPLAIN_ROUNDS + 1):
        _ex_rounds.append(f""",
xpe{_i} AS (
  SELECT node, dist, path FROM xpd{_i - 1}
  UNION ALL
  SELECT s.b, d.dist + 1,
         d.path || ' -' || s.predicate || '-> ' || s.b
  FROM xpd{_i - 1} d JOIN symx s ON s.a = d.node),
xpd{_i} AS (
  SELECT node, dist, path FROM (
    SELECT xpe{_i}.*, row_number() OVER (
      PARTITION BY node ORDER BY dist, path) AS rn FROM xpe{_i}) x
  WHERE rn = 1)""")
    sqls["kg_explain_paths"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
edx AS (SELECT DISTINCT subject AS a, predicate, object AS b
        FROM triples
        WHERE subject_type = 'uri' AND object_type = 'uri'
          AND subject <> object),
symx AS (SELECT a, predicate, b FROM edx
         UNION ALL SELECT b, '^' || predicate, a FROM edx),
xpd0 AS (SELECT '{GO2.EXPLAIN_SRC}' AS node, 0 AS dist,
              '{GO2.EXPLAIN_SRC}' AS path)"""
        + "".join(_ex_rounds) + f"""
SELECT node, CAST(dist AS INT) AS dist, path
FROM xpd{GO2.EXPLAIN_ROUNDS} WHERE dist >= 1""")

    # kg_bisimulation: unroll the signature recurrence — same
    # separator, sort order (byte-wise on ASCII), and md5 as Spark
    sqls["kg_bisimulation"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
e AS (SELECT DISTINCT subject AS src, predicate, object AS dst
      FROM triples
      WHERE subject_type = 'uri' AND object_type = 'uri'),
nd AS (SELECT DISTINCT src AS node FROM e
       UNION SELECT DISTINCT dst FROM e),
s0 AS (SELECT node, split_part(node, ':', 1) AS sig FROM nd),
n1 AS (SELECT e.src,
              array_to_string(list_sort(
                list(DISTINCT e.predicate || '|' || s.sig)), ',') AS arr
       FROM e JOIN s0 s ON s.node = e.dst GROUP BY 1),
s1 AS (SELECT s0.node,
              md5(s0.sig || '#' || coalesce(n1.arr, '')) AS sig
       FROM s0 LEFT JOIN n1 ON n1.src = s0.node),
n2 AS (SELECT e.src,
              array_to_string(list_sort(
                list(DISTINCT e.predicate || '|' || s.sig)), ',') AS arr
       FROM e JOIN s1 s ON s.node = e.dst GROUP BY 1),
s2 AS (SELECT s1.node,
              md5(s1.sig || '#' || coalesce(n2.arr, '')) AS sig
       FROM s1 LEFT JOIN n2 ON n2.src = s1.node),
sz AS (SELECT sig, CAST(count(*) AS BIGINT) AS block_size
       FROM s2 GROUP BY 1)
SELECT s2.node, s2.sig AS block, sz.block_size
FROM s2 JOIN sz USING (sig)""")

    sqls["kg_schema_graph"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
e AS (SELECT DISTINCT subject, predicate, object FROM triples
      WHERE subject_type = 'uri' AND object_type = 'uri')
SELECT split_part(subject, ':', 1) AS src_ns, predicate,
       split_part(object, ':', 1) AS dst_ns,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(count(DISTINCT subject) AS BIGINT) AS n_src,
       CAST(count(DISTINCT object) AS BIGINT) AS n_dst
FROM e GROUP BY 1, 2, 3""")

    # node2vec walks: same unrolled recurrence with Efraimidis-Spirakis
    # weighted choice — scores {u*u, u, sqrt(u)} use only IEEE-exact
    # multiply/sqrt, so the argmax replays bit-for-bit; uniform deviate
    # u = first-12-hex(md5(start:k:node:cand)) / 16^12 on both engines
    from .operators.graphops import N2V_SCALE, N2V_STEPS
    n2v_iters = ""
    for i in range(1, N2V_STEPS + 1):
        n2v_iters += f""",
n2v{i} AS (
  SELECT start, prev, node FROM (
    SELECT s0.start, s0.node AS prev, s0.o AS node,
           row_number() OVER (PARTITION BY s0.start ORDER BY
             CASE WHEN s0.o = s0.prev0 THEN s0.u * s0.u
                  WHEN s0.adj THEN s0.u
                  ELSE sqrt(s0.u) END DESC, s0.o DESC) AS r
    FROM (
      SELECT w.start, w.node, w.prev AS prev0, c.o,
             (a.s IS NOT NULL) AS adj,
             ('0x' || substr(md5(w.start || ':{i}:' || w.node || ':'
                                 || c.o), 1, 12))::BIGINT
               / {N2V_SCALE!r} AS u
      FROM n2v{i - 1} w
      JOIN ed c ON c.s = w.node
      LEFT JOIN ed a ON a.s = w.prev AND a.o = c.o
    ) s0
  ) z WHERE r = 1)"""
    n2v_union = "\nUNION ALL ".join(
        f"SELECT start, CAST({i} AS INTEGER) AS step, node FROM n2v{i}"
        for i in range(N2V_STEPS + 1))
    sqls["kg_node2vec_walks"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
ed AS (SELECT DISTINCT subject AS s, object AS o FROM triples
       WHERE subject_type = 'uri' AND object_type = 'uri'
         AND subject <> object),
n2v0 AS (SELECT DISTINCT s AS start, s AS prev, s AS node
         FROM ed){n2v_iters}
{n2v_union}""")

    # skip-gram pairs over the identical walk corpus (MATERIALIZED so
    # the nested walk pipeline is evaluated once, not per join side)
    from .operators.graphops import SKIPGRAM_WINDOW
    sqls["kg_walk_skipgrams"] = f"""
WITH walks AS MATERIALIZED ({sqls["kg_random_walks"]})
SELECT a.node AS center, b.node AS context,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM walks a JOIN walks b
  ON b.start = a.start AND b.step <> a.step
WHERE abs(b.step - a.step) <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2"""

    sqls["kg_predicate_paths"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
pe AS (SELECT DISTINCT subject, predicate, object FROM triples
       WHERE subject_type = 'uri' AND object_type = 'uri'
         AND subject <> object)
SELECT a.predicate AS p1, b.predicate AS p2,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT a.subject || '|' || b.object) AS BIGINT)
         AS n_endpoint_pairs,
       CAST(count(DISTINCT a.object) AS BIGINT) AS n_mids
FROM pe a JOIN pe b ON b.subject = a.object
WHERE a.subject <> b.object
GROUP BY 1, 2""")

    from .decorations import (URL_BLOCKED_DOMAINS, url_decorated_docs_sql)
    blocked_in = ", ".join(f"'{d}'" for d in URL_BLOCKED_DOMAINS)
    # parts+canon chain shared by url_curation and url_frontier_plan
    # (urlops.canonicalize_urls twin)
    url_canon_ctes = f"""{url_decorated_docs_sql()},
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
           AS scheme,
         lower(regexp_replace(
             regexp_extract(url, '^[^:]+://([^/?#]+)', 1),
             ':[0-9]+$', '')) AS host,
         regexp_extract(regexp_extract(url, '^[^:]+://([^/?#]+)', 1),
                        ':([0-9]+)$', 1) AS port,
         regexp_extract(url, '^[^:]+://[^/?#]+([^?#]*)', 1) AS raw_path,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM urld),
canon AS (
  SELECT doc_id, url, host,
         scheme || '://' || host
         || (CASE WHEN port <> ''
                   AND NOT (scheme = 'https' AND port = '443')
                   AND NOT (scheme = 'http' AND port = '80')
                  THEN ':' || port ELSE '' END)
         || (CASE WHEN raw_path = '' OR raw_path = '/' THEN '/'
                  ELSE regexp_replace(raw_path, '/$', '') END)
         || (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS canon_url,
         regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS registered_domain
  FROM (SELECT *,
               array_to_string(
                 list_filter(string_split(q, '&'),
                             x -> NOT (starts_with(x, 'utm_')
                                       OR starts_with(x, 'fbclid')
                                       OR starts_with(x, 'gclid'))),
                 '&') AS cq
        FROM parts))"""

    from .operators.urlops import HOST_RATE, N_CRAWLERS
    sqls["url_frontier_plan"] = f"""
WITH {url_canon_ctes},
cu AS (SELECT DISTINCT canon_url, host FROM canon),
seq AS (SELECT canon_url, host,
               row_number() OVER (PARTITION BY host
                                  ORDER BY canon_url) AS rn
        FROM cu)
SELECT canon_url, host,
       CAST(CAST(concat('0x', substr(md5(host), 1, 8)) AS BIGINT)
            % {N_CRAWLERS} AS INT) AS crawler_id,
       CAST(rn AS BIGINT) AS seq_in_host,
       CAST((rn - 1) // {HOST_RATE} AS BIGINT) AS fetch_slot
FROM seq"""

    from .decorations import link_edges_sql
    from .operators.urlops import ANCHOR_TOP_N
    sqls["web_anchor_profile"] = f"""
WITH {link_edges_sql()},
indeg AS (SELECT dst, CAST(count(DISTINCT src) AS BIGINT) AS in_degree
          FROM ledges GROUP BY 1),
cnt AS (SELECT dst, anchor, CAST(count(*) AS BIGINT) AS n
        FROM ledges GROUP BY 1, 2),
ranked AS (SELECT dst, anchor, n, row_number() OVER (
             PARTITION BY dst ORDER BY n DESC, anchor ASC) AS rank
           FROM cnt)
SELECT r.dst, i.in_degree, r.anchor, r.n, CAST(r.rank AS INT) AS rank
FROM ranked r JOIN indeg i USING (dst)
WHERE r.rank <= {ANCHOR_TOP_N}"""

    from .decorations import (
        html_docs_sql, sitemap_files_sql, warc_files_sql,
    )
    _title_re = "'<title>([^<]*)</title>'"
    sqls["html_extract"] = f"""
WITH {html_docs_sql()}
SELECT doc_id,
       regexp_extract(html, {_title_re}, 1) AS title,
       CAST((length(html) - length(replace(html, '<a href=', ''))) / 8
            AS BIGINT) AS n_links,
       CAST(length(trim(regexp_replace(regexp_replace(
              html, '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')))
            AS BIGINT) AS n_text_chars,
       contains(html, '<meta name="description"') AS has_meta_desc,
       CASE WHEN regexp_extract(html, {_title_re}, 1) = ''
            THEN 'quarantined_no_title' ELSE 'ok' END AS status
FROM hdocs"""

    sqls["sitemap_parse"] = f"""
WITH {sitemap_files_sql()},
ex AS (
  SELECT host,
         unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS block
  FROM smaps)
SELECT host,
       regexp_extract(block, '<loc>([^<]*)</loc>', 1) AS loc,
       regexp_extract(block, '<lastmod>([^<]*)</lastmod>', 1) AS lastmod,
       CAST(regexp_extract(block, '<priority>([^<]*)</priority>', 1)
            AS DOUBLE) AS priority,
       regexp_extract(regexp_extract(block, '<loc>([^<]*)</loc>', 1),
                      '^https?://([^/]+)', 1) = host AS host_ok
FROM ex"""

    sqls["warc_parse"] = f"""
WITH {warc_files_sql()},
rx AS (
  SELECT file_id, r AS rec FROM (
    SELECT file_id,
           unnest(string_split(payload, 'WARC/1.0' || chr(10))) AS r
    FROM wfiles) s
  WHERE r <> ''),
px AS (
  SELECT file_id, rec,
         CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1)
              AS BIGINT) AS content_length,
         CAST(length(rec) - strpos(rec, chr(10) || chr(10)) - 3
              AS BIGINT) AS body_chars
  FROM rx)
SELECT file_id,
       regexp_extract(rec, 'WARC-Target-URI: ([^ ' || chr(10)
                      || ']+)', 1) AS target_uri,
       regexp_extract(rec, 'WARC-Type: ([^ ' || chr(10) || ']+)', 1)
         AS rec_type,
       content_length, body_chars,
       CASE WHEN content_length = body_chars THEN 'ok'
            ELSE 'length_mismatch' END AS status
FROM px"""

    from .decorations import (
        file_manifest_sql, recrawl_round2_sql,
    )
    from .operators.maintenance import (
        COMPACT_TARGET_BYTES, SNAPSHOT_MAX, SNAPSHOT_RETAIN,
    )
    _tgt = COMPACT_TARGET_BYTES
    sqls["file_compaction_plan"] = f"""
WITH {file_manifest_sql()},
small AS (SELECT * FROM fmani WHERE size_bytes < {_tgt})
SELECT part, file_id, size_bytes, 'compact' AS action,
       CAST(floor(coalesce(sum(size_bytes) OVER (
              PARTITION BY part ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {_tgt}.0) AS BIGINT) AS group_id
FROM small
UNION ALL
SELECT part, file_id, size_bytes, 'keep', CAST(NULL AS BIGINT)
FROM fmani WHERE size_bytes >= {_tgt}"""

    _cut = SNAPSHOT_MAX - SNAPSHOT_RETAIN
    sqls["snapshot_expiry_orphans"] = f"""
WITH {file_manifest_sql()},
refs AS (
  SELECT file_id,
         unnest(generate_series(added_snap,
                coalesce(removed_snap - 1, {SNAPSHOT_MAX - 1}))) AS snap
  FROM fmani),
ret AS (SELECT DISTINCT file_id FROM refs WHERE snap >= {_cut}),
lastr AS (SELECT file_id, CAST(max(snap) AS BIGINT) AS last_snap
          FROM refs GROUP BY 1)
SELECT f.file_id, f.part, f.size_bytes, f.added_snap, f.removed_snap,
       l.last_snap,
       CASE WHEN r.file_id IS NULL THEN 'orphan'
            ELSE 'retained' END AS status
FROM fmani f JOIN lastr l USING (file_id)
LEFT JOIN ret r USING (file_id)"""

    sqls["doc_recrawl_diff"] = f"""
WITH {recrawl_round2_sql()},
d1 AS (SELECT doc_id, md5(text) AS digest_prev FROM documents),
d2 AS (SELECT doc_id, md5(text) AS digest_curr FROM r2)
SELECT coalesce(d1.doc_id, d2.doc_id) AS doc_id, digest_prev,
       digest_curr,
       CASE WHEN digest_prev IS NULL THEN 'new'
            WHEN digest_curr IS NULL THEN 'gone'
            WHEN digest_prev = digest_curr THEN 'unchanged'
            ELSE 'changed' END AS status
FROM d1 FULL OUTER JOIN d2 ON d1.doc_id = d2.doc_id"""

    from .decorations import robots_rules_sql
    sqls["url_robots"] = f"""
WITH {url_canon_ctes},
{robots_rules_sql()},
cu AS (SELECT DISTINCT canon_url, host,
              regexp_extract(canon_url,
                             '^[^:]+://[^/?#]+([^?#]*)', 1) AS path
       FROM canon),
hit AS (
  SELECT canon_url, host, path_prefix, verdict, row_number() OVER (
           PARTITION BY canon_url, host
           ORDER BY length(path_prefix) DESC) AS rn
  FROM cu JOIN rules USING (host)
  WHERE starts_with(path, path_prefix))
SELECT cu.canon_url, cu.host,
       coalesce(h.path_prefix, '') AS matched_prefix,
       coalesce(h.verdict, 'allow') AS verdict
FROM cu LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h
  ON h.canon_url = cu.canon_url AND h.host = cu.host"""

    sqls["url_curation"] = f"""
WITH {url_canon_ctes},
keepers AS (
  SELECT canon_url, min(doc_id) AS keeper
  FROM canon WHERE registered_domain NOT IN ({blocked_in})
  GROUP BY 1)
SELECT c.doc_id, c.url, c.canon_url, c.registered_domain,
       CASE WHEN c.registered_domain IN ({blocked_in}) THEN 'blocked'
            WHEN c.doc_id = k.keeper THEN 'kept'
            ELSE 'dup' END AS verdict
FROM canon c LEFT JOIN keepers k USING (canon_url)"""

    from .operators.textops import CHUNK_STRIDE, CHUNK_W
    sqls["doc_chunking"] = f"""
WITH {tok_cte('documents')},
st AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE}))
           AS start
  FROM tok WHERE len(toks) > 0)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(start AS INT) AS start,
       CAST(len(toks[start + 1:start + {CHUNK_W}]) AS INT) AS n_tokens,
       array_to_string(toks[start + 1:start + {CHUNK_W}], ' ')
         AS chunk_text
FROM st"""

    from .operators.textops import (SPLIT_SEED, SPLIT_TRAIN_HEX,
                                    SPLIT_VAL_HEX)
    sqls["doc_split"] = f"""
SELECT doc_id, h4,
       CASE WHEN h4 < '{SPLIT_TRAIN_HEX}' THEN 'train'
            WHEN h4 < '{SPLIT_VAL_HEX}' THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             substring(md5(CAST(doc_id AS VARCHAR) || '{SPLIT_SEED}'),
                       1, 4) AS h4
      FROM documents)"""

    from .operators.textops import COLLOC_MIN_N
    sqls["doc_collocations"] = f"""
WITH {tok_cte('documents')},
uni AS (SELECT unnest(toks) AS w FROM tok),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM uni),
sg AS (SELECT unnest({_sh_expr(2)}) AS sh FROM tok WHERE len(toks) >= 2),
bc AS (SELECT string_split(sh, ' ')[1] AS w1,
              string_split(sh, ' ')[2] AS w2,
              CAST(count(*) AS BIGINT) AS n_ab
       FROM sg GROUP BY 1, 2 HAVING count(*) >= {COLLOC_MIN_N})
SELECT w1, w2, n_ab, a.n AS n_a, b.n AS n_b,
       round(ln((CAST(n_ab AS DOUBLE) * t)
                / (CAST(a.n AS DOUBLE) * b.n)), 6) AS pmi
FROM bc JOIN uc a ON a.w = w1 JOIN uc b ON b.w = w2, tot"""

    sqls["gazetteer_ambiguity"] = "WITH " + gaz_cte() + """,
per AS (
  SELECT surface,
         CAST(count(DISTINCT term_id) AS BIGINT) AS n_terms,
         CAST(count(DISTINCT namespace) AS BIGINT) AS n_namespaces,
         min(rank) AS best_rank
  FROM gaz GROUP BY 1),
ties AS (
  SELECT g.surface, CAST(count(DISTINCT g.term_id) AS BIGINT) AS n_best
  FROM gaz g JOIN per p ON p.surface = g.surface
  WHERE g.rank = p.best_rank
  GROUP BY 1)
SELECT p.surface, n_terms, n_namespaces,
       CAST(best_rank AS INT) AS best_rank, n_best,
       n_best > 1 AS ambiguous
FROM per p JOIN ties USING (surface)
WHERE n_terms > 1"""

    sqls["triple_confidence_profile"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
dedup AS (
  SELECT subject, predicate, object, subject_type, object_type,
         object_datatype, object_language,
         max(confidence) AS confidence, count(*) AS support
  FROM triples GROUP BY 1,2,3,4,5,6,7)
SELECT predicate, CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(CASE WHEN confidence >= 1.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_full_conf,
       round(avg(confidence), 6) AS mean_conf,
       round(sum(confidence * support) / sum(support), 6) AS wmean_conf
FROM dedup GROUP BY 1""")

    sqls["triples_retract"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """
SELECT subject, predicate, object, subject_type, object_type,
       object_datatype, object_language,
       max(confidence) AS confidence,
       CAST(count(*) AS BIGINT) AS support
FROM triples
WHERE CAST(substring(doc_id, 5) AS INT) % 7 <> 3
GROUP BY 1, 2, 3, 4, 5, 6, 7""")

    sqls["triple_fusion"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
ev AS (SELECT subject, predicate, object, sum(confidence) AS w,
              count(DISTINCT doc_id) AS n_docs, count(*) AS n_mentions
       FROM triples GROUP BY 1, 2, 3),
rn AS (SELECT ev.*,
              row_number() OVER (PARTITION BY subject, predicate
                                 ORDER BY w DESC, n_docs DESC,
                                          object ASC) AS r,
              count(*) OVER (PARTITION BY subject, predicate)
                AS n_alternatives
       FROM ev)
SELECT subject, predicate, object, round(w, 6) AS evidence_weight,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_mentions AS BIGINT) AS n_mentions,
       CAST(n_alternatives AS BIGINT) AS n_alternatives
FROM rn WHERE r = 1""")

    sqls["triple_provenance"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """
SELECT d.source, t.predicate,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs
FROM triples t
JOIN documents d ON d.doc_id = CAST(substring(t.doc_id, 5) AS BIGINT)
GROUP BY 1, 2""")

    sqls["kg_degree_histogram"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
und AS (SELECT DISTINCT least(subject, object) AS src,
               greatest(subject, object) AS dst
        FROM triples
        WHERE subject_type = 'uri' AND object_type = 'uri'
          AND subject <> object),
sym AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1)
SELECT CAST(length(bin(deg)) - 1 AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(deg) AS BIGINT) AS min_degree,
       CAST(max(deg) AS BIGINT) AS max_degree
FROM deg GROUP BY 1""")

    # --- fixed-round k-core peeling: unroll the identical recurrence the
    # engine runs (graphops.kcore_peel) — per round, degrees over the
    # surviving subgraph, drop nodes with degree < k, trim edges.
    # MATERIALIZED on every multiply-referenced round frame: each keep{i}
    # is scanned twice and each e{i}/sym{i} feeds the next round AND the
    # final degree pass — inlined (DuckDB's default for plain CTEs) the
    # upstream extraction pipeline re-evaluates exponentially in the
    # round count (measured 120 s -> 0.2 s at sf0.01).
    from .operators.graphops import KCORE_K, KCORE_ROUNDS
    kcore_ctes = """,
e0 AS MATERIALIZED (SELECT src, dst FROM und),
sym0 AS MATERIALIZED (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
nodes0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym0)"""
    prev_keep = "nodes0"
    for i in range(1, KCORE_ROUNDS + 1):
        kcore_ctes += f""",
deg{i} AS (SELECT src AS node, count(*) AS d FROM sym{i - 1} GROUP BY 1),
sc{i} AS MATERIALIZED (
    SELECT n.node, coalesce(d.d, 0) AS d
    FROM {prev_keep} n LEFT JOIN deg{i} d USING (node)),
drop{i} AS (SELECT node, {i} AS peel_round FROM sc{i} WHERE d < {KCORE_K}),
keep{i} AS MATERIALIZED (SELECT node FROM sc{i} WHERE d >= {KCORE_K}),
e{i} AS MATERIALIZED (
    SELECT src, dst FROM e{i - 1}
    WHERE src IN (SELECT node FROM keep{i})
      AND dst IN (SELECT node FROM keep{i})),
sym{i} AS MATERIALIZED (
    SELECT src, dst FROM e{i} UNION ALL SELECT dst, src FROM e{i})"""
        prev_keep = f"keep{i}"
    drops = " UNION ALL ".join(
        f"SELECT * FROM drop{i}" for i in range(1, KCORE_ROUNDS + 1))
    sqls["kg_kcore"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + kcore_ctes + f""",
fdeg AS (SELECT src AS node, count(*) AS cd
         FROM sym{KCORE_ROUNDS} GROUP BY 1),
peeled AS ({drops})
SELECT n.node,
       CAST(coalesce(p.peel_round, 0) AS INT) AS peel_round,
       CAST(coalesce(f.cd, 0) AS BIGINT) AS core_degree
FROM nodes0 n
LEFT JOIN peeled p USING (node)
LEFT JOIN fdeg f USING (node)""")

    # --- synchronous label propagation: most-frequent neighbor label,
    # ties -> smallest label (graphops.label_propagation, unrolled).
    from .operators.graphops import LPA_ITER
    lpa_ctes = """,
lnodes AS (SELECT DISTINCT src AS node FROM sym),
lbl0 AS (SELECT node, node AS label FROM lnodes)"""
    for i in range(1, LPA_ITER + 1):
        lpa_ctes += f""",
g{i} AS (SELECT s.src AS node, l.label, count(*) AS c
         FROM sym s JOIN lbl{i - 1} l ON l.node = s.dst
         GROUP BY 1, 2),
lbl{i} AS (SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rn
    FROM g{i}) WHERE rn = 1)"""
    sqls["kg_communities"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + lpa_ctes + f"""
SELECT node, label AS community FROM lbl{LPA_ITER}""")

    # Newman modularity decomposition of the LPA partition
    # (graphops.community_modularity): contribution = e_c/m -
    # (d_c/(2m))^2 from integer aggregates, one fixed-order float
    # expression per community row. mlbl/mund MATERIALIZED: each is
    # referenced 2-3x and would otherwise re-evaluate the full LPA /
    # corpus chain per reference (the kg_hits inlining trap).
    sqls["kg_modularity"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + lpa_ctes + f""",
mlbl AS MATERIALIZED (SELECT node, label FROM lbl{LPA_ITER}),
mund AS MATERIALIZED (SELECT src, dst FROM und),
mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM mund),
mdeg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM sym GROUP BY 1),
mdsum AS (SELECT l.label AS community,
                 CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(d.deg) AS BIGINT) AS degree_sum
          FROM mlbl l JOIN mdeg d USING (node) GROUP BY 1),
mint AS (SELECT la.label AS community,
                CAST(count(*) AS BIGINT) AS internal_edges
         FROM mund e JOIN mlbl la ON la.node = e.src
         JOIN mlbl lb ON lb.node = e.dst
         WHERE la.label = lb.label GROUP BY 1)
SELECT s.community, s.n_nodes,
       coalesce(i.internal_edges, 0) AS internal_edges, s.degree_sum,
       round(CAST(coalesce(i.internal_edges, 0) AS DOUBLE) / mm.m
             - (CAST(s.degree_sum AS DOUBLE) / (2 * mm.m))
             * (CAST(s.degree_sum AS DOUBLE) / (2 * mm.m)), 6)
         AS contribution
FROM mdsum s LEFT JOIN mint i USING (community), mm""")

    # GraphML export lines (sinks.to_graphml_lines): nodes = distinct
    # endpoints, edges = the undirected edge list, XML-escaped ids
    def _xesc(c: str) -> str:
        return (f"replace(replace(replace({c}, '&', '&amp;'), "
                f"'<', '&lt;'), '>', '&gt;')")

    sqls["kg_graphml"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + f""",
gnodes AS (SELECT DISTINCT src AS id FROM sym)
SELECT 'node' AS kind, id AS sort_key,
       '    <node id="' || {_xesc('id')} || '"/>' AS line
FROM gnodes
UNION ALL
SELECT 'edge' AS kind, src || '|' || dst AS sort_key,
       '    <edge source="' || {_xesc('src')} || '" target="'
       || {_xesc('dst')} || '"/>' AS line
FROM und""")

    # --- structural-equivalence neighbor Jaccard: inverted index on the
    # shared neighbor, df-capped mids (graphops.neighbor_jaccard).
    from .operators.graphops import NJ_MID_CAP, NJ_MIN_SHARED
    sqls["kg_entity_similarity"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + f""",
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
inv AS (SELECT dst AS mid, src AS member FROM sym),
md AS (SELECT mid, count(*) AS n FROM inv GROUP BY 1),
inv2 AS (SELECT i.mid, i.member FROM inv i
         JOIN md ON md.mid = i.mid WHERE md.n <= {NJ_MID_CAP}),
pairs AS (SELECT x.member AS a, y.member AS b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM inv2 x JOIN inv2 y
            ON y.mid = x.mid AND x.member < y.member
          GROUP BY 1, 2
          HAVING count(*) >= {NJ_MIN_SHARED})
SELECT p.a, p.b, p.n_shared,
       CAST(da.deg + db.deg - p.n_shared AS BIGINT) AS n_union,
       round(CAST(p.n_shared AS DOUBLE)
             / (da.deg + db.deg - p.n_shared), 6) AS jaccard
FROM pairs p
JOIN deg da ON da.node = p.a
JOIN deg db ON db.node = p.b""")

    # BFS: unrolled fixed rounds; every d{i} is referenced twice (carry
    # + frontier hop), so MATERIALIZED (same inlining-blowup guard as
    # kg_hits)
    from .operators.graphops import BFS_ROUNDS, BFS_SEED_PREFIX
    bfs_steps = ""
    for i in range(1, BFS_ROUNDS + 1):
        bfs_steps += f""",
bfs{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM bfs{i - 1}
    UNION ALL
    SELECT sym.dst AS node, p.dist + 1 AS dist
    FROM bfs{i - 1} p JOIN sym ON sym.src = p.node
  ) GROUP BY 1)"""
    sqls["kg_bfs_distances"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + f""",
bfs0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, 0 AS dist FROM sym
  WHERE src LIKE '{BFS_SEED_PREFIX}%'){bfs_steps}
SELECT node, CAST(dist AS INT) AS dist FROM bfs{BFS_ROUNDS}""")

    # harmonic centrality: unrolled per-pivot BFS (every hc{i}
    # referenced twice -> MATERIALIZED); harmonic sum from per-distance
    # counts in the same left-assoc term order as the Spark expression
    from .operators.graphops import HC_ROUNDS, HC_PIVOT_HEX
    hc_hex = ", ".join(f"'{h}'" for h in HC_PIVOT_HEX)
    hc_steps = ""
    for i in range(1, HC_ROUNDS + 1):
        hc_steps += f""",
hc{i} AS MATERIALIZED (
  SELECT src, node, min(dist) AS dist FROM (
    SELECT src, node, dist FROM hc{i - 1}
    UNION ALL
    SELECT p.src, sym.dst AS node, p.dist + 1 AS dist
    FROM hc{i - 1} p JOIN sym ON sym.src = p.node
  ) GROUP BY 1, 2)"""
    hc_harm = " + ".join(
        f"CAST(sum(CASE WHEN dist = {k} THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / {k}.0" for k in range(1, HC_ROUNDS + 1))
    sqls["kg_closeness_centrality"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + f""",
piv AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM sym
  WHERE substr(md5(src), 1, 1) IN ({hc_hex})),
hc0 AS MATERIALIZED (SELECT node AS src, node, 0 AS dist FROM piv){hc_steps}
SELECT node, CAST(count(*) AS BIGINT) AS n_reached,
       round({hc_harm}, 6) AS harmonic
FROM hc{HC_ROUNDS} WHERE src <> node GROUP BY 1""")

    # min-plus weighted shortest paths: same unrolled-relaxation shape
    # as BFS, integer semantic weights (taxonomy 1, associative 2)
    from .operators.graphops import WSP_ROUNDS, WSP_HIER_PREDICATES
    wsp_hier = ", ".join(_q(p) for p in WSP_HIER_PREDICATES)
    wsp_steps = ""
    for i in range(1, WSP_ROUNDS + 1):
        wsp_steps += f""",
wd{i} AS MATERIALIZED (
  SELECT node, min(cost) AS cost FROM (
    SELECT node, cost FROM wd{i - 1}
    UNION ALL
    SELECT wsym.dst AS node, p.cost + wsym.w AS cost
    FROM wd{i - 1} p JOIN wsym ON wsym.src = p.node
  ) GROUP BY 1)"""
    sqls["kg_weighted_paths"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
wund AS (SELECT least(subject, object) AS src,
                greatest(subject, object) AS dst,
                min(CASE WHEN predicate IN ({wsp_hier})
                    THEN 1 ELSE 2 END) AS w
         FROM triples
         WHERE subject_type = 'uri' AND object_type = 'uri'
           AND subject <> object
         GROUP BY 1, 2),
wsym AS (SELECT src, dst, w FROM wund
         UNION ALL SELECT dst, src, w FROM wund),
wd0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, 0 AS cost FROM wsym
  WHERE src LIKE '{BFS_SEED_PREFIX}%'){wsp_steps}
SELECT node, CAST(cost AS INT) AS cost FROM wd{WSP_ROUNDS}""")

    # entity cards: rarity rank over integer predicate frequency
    from .operators.graphops import ES_TOPK
    sqls["kg_entity_summary"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
pe AS (SELECT DISTINCT subject, predicate, object FROM triples),
pf AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_pred
       FROM pe GROUP BY 1),
rk AS (SELECT pe.subject, pe.predicate, pe.object, pf.n_pred,
              row_number() OVER (PARTITION BY pe.subject
                ORDER BY pf.n_pred ASC, pe.predicate, pe.object) AS rnk
       FROM pe JOIN pf ON pf.predicate = pe.predicate)
SELECT subject, predicate, object, n_pred, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= {ES_TOPK}""")

    # GNN fanout sample: the oracle ranks the full adjacency list —
    # the engine's threshold preprune is provably exact, so plain
    # bottom-k here IS the parity check of that proof
    from .operators.graphops import NS_K
    sqls["kg_neighbor_sample"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + f""",
nh AS (SELECT src AS node, dst AS neighbor,
              md5(src || ':' || dst) AS h FROM sym),
nr AS (SELECT node, neighbor,
              row_number() OVER (PARTITION BY node ORDER BY h) AS rk
       FROM nh)
SELECT node, neighbor, CAST(rk AS INT) AS rank
FROM nr WHERE rk <= {NS_K}""")


    inv_rows = " UNION ALL ".join(
        f"SELECT {_q(k)} AS predicate, {_q(v)} AS inverse"
        for k, v in sorted(OD.INVERSE_PREDICATES.items()))
    sqls["kg_inverse_consistency"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
pe AS (SELECT DISTINCT subject, predicate, object FROM triples),
inv AS ({inv_rows}),
exp AS (SELECT pe.subject, pe.predicate, inv.inverse, pe.object
        FROM pe JOIN inv ON inv.predicate = pe.predicate),
hit AS (SELECT e.predicate, count(*) AS n_hit
        FROM exp e SEMI JOIN pe p
          ON p.subject = e.object AND p.predicate = e.inverse
         AND p.object = e.subject
        GROUP BY 1),
base AS (SELECT predicate, inverse,
                CAST(count(*) AS BIGINT) AS n_edges
         FROM exp GROUP BY 1, 2)
SELECT b.predicate, b.inverse, b.n_edges,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_with_inverse,
       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / b.n_edges, 6)
         AS consistency
FROM base b LEFT JOIN hit h ON h.predicate = b.predicate""")

    from .operators.graphops import BGP_P1, BGP_P2
    sqls["kg_bgp_query"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f"""
SELECT DISTINCT a.subject AS x, a.object AS y, b.object AS z
FROM triples a JOIN triples b ON b.subject = a.subject
WHERE a.predicate = '{BGP_P1}' AND b.predicate = '{BGP_P2}'""")

    from .operators.graphops import BGP_OPT_P, BGP_NEG_P
    sqls["kg_optional_query"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f"""
SELECT DISTINCT a.subject AS x, a.object AS y, b.object AS z
FROM triples a
LEFT JOIN triples b
  ON b.subject = a.subject AND b.predicate = '{BGP_OPT_P}'
WHERE a.predicate = '{BGP_P1}'
  AND NOT EXISTS (SELECT 1 FROM triples c
                  WHERE c.subject = a.subject
                    AND c.predicate = '{BGP_NEG_P}')""")

    # joint fixpoint: each transitive family (p, inverse q) closes the
    # canonical direction (p union reversed q) once, then re-emits both
    # directions — mirrors graphops.kg_entailment's saturation argument
    from .operators.graphops import TRANSITIVE_PREDICATES
    fam_ctes, fam_emits = [], []
    for p in TRANSITIVE_PREDICATES:
        qp = OD.INVERSE_PREDICATES.get(p)
        canon = (f"SELECT subject, object FROM pe"
                 f" WHERE predicate = {_q(p)}")
        if qp is not None:
            canon += (f" UNION SELECT object, subject FROM pe"
                      f" WHERE predicate = {_q(qp)}")
        fam_ctes.append(f"""
canon_{p} AS MATERIALIZED ({canon}),
tc_{p}(subject, object) AS (
  SELECT subject, object FROM canon_{p}
  UNION
  SELECT t.subject, b.object
  FROM tc_{p} t JOIN canon_{p} b ON b.subject = t.object)""".strip())
        fam_emits.append(
            f"SELECT subject, {_q(p)} AS predicate, object,"
            f" 'transitive' AS rule FROM tc_{p}")
        if qp is not None:
            fam_emits.append(
                f"SELECT object, {_q(qp)} AS predicate, subject,"
                f" 'transitive' AS rule FROM tc_{p}")
    sqls["kg_entailment"] = (
        corpus_prefix_recursive(gaz_cte(), link_cte(), triples_cte())
        + f""",
pe AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object FROM triples),
invmap AS ({inv_rows}),
{",".join(fam_ctes)},
inferred AS (
  SELECT pe.object AS subject, m.inverse AS predicate,
         pe.subject AS object, 'inverse' AS rule
  FROM pe JOIN invmap m ON m.predicate = pe.predicate
  UNION ALL
  {" UNION ALL ".join(fam_emits)})
SELECT DISTINCT n.subject, n.predicate, n.object, n.rule
FROM inferred n
WHERE NOT EXISTS (SELECT 1 FROM pe
                  WHERE pe.subject = n.subject
                    AND pe.predicate = n.predicate
                    AND pe.object = n.object)""")

    # kg_entailment_retract: the oracle recomputes the saturation with
    # recursive SQL over the SURVIVING asserted edges
    # AMIE chain rules over the SATURATED uri-uri store (asserted +
    # inverse + transitive closure — the same tc_/invmap machinery as
    # kg_entailment, with pe restricted to uri endpoints): body
    # self-join on the hub-capped chain variable, distinct (p,q,x,z)
    # bindings, vocabulary-sized aggregates; confidence filtered on
    # the ROUNDED value, matching the Spark round-then-filter order
    from .operators.graphops import RM_MIN_SUPPORT, RM_MIN_CONF, RM_MID_CAP
    sat_emits = []
    for p in TRANSITIVE_PREDICATES:
        qp = OD.INVERSE_PREDICATES.get(p)
        sat_emits.append(f"SELECT subject, {_q(p)} AS predicate,"
                         f" object FROM tc_{p}")
        if qp is not None:
            sat_emits.append(f"SELECT object, {_q(qp)} AS predicate,"
                             f" subject FROM tc_{p}")
    sqls["kg_rule_mining"] = (
        corpus_prefix_recursive(gaz_cte(), link_cte(), triples_cte())
        + f""",
pe AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object FROM triples
  WHERE subject_type = 'uri' AND object_type = 'uri'),
invmap AS ({inv_rows}),
{",".join(fam_ctes)},
sat AS MATERIALIZED (
  -- DuckDB 1.0 drops UNION dedup when a recursive CTE feeds the
  -- set-op chain more than once; the outer DISTINCT is load-bearing
  SELECT DISTINCT subject, predicate, object FROM (
  SELECT subject, predicate, object FROM pe
  UNION
  SELECT pe.object AS subject, m.inverse AS predicate,
         pe.subject AS object
  FROM pe JOIN invmap m ON m.predicate = pe.predicate
  UNION
  {" UNION ".join(sat_emits)})),
mids AS (SELECT node FROM (
    SELECT object AS node FROM sat
    UNION ALL SELECT subject AS node FROM sat)
  GROUP BY 1 HAVING count(*) <= {RM_MID_CAP}),
body AS MATERIALIZED (
  SELECT DISTINCT a.predicate AS p, b.predicate AS q,
         a.subject AS x, b.object AS z
  FROM sat a
  JOIN mids m ON m.node = a.object
  JOIN sat b ON b.subject = a.object
  WHERE a.subject <> b.object),
sup AS (SELECT body.p, body.q, h.predicate AS r,
               CAST(count(*) AS BIGINT) AS support
        FROM body JOIN sat h
          ON h.subject = body.x AND h.object = body.z
        GROUP BY 1, 2, 3),
nb AS (SELECT p, q, CAST(count(*) AS BIGINT) AS n_body
       FROM body GROUP BY 1, 2),
rx AS (SELECT DISTINCT subject AS x, predicate AS r FROM sat),
pca AS (SELECT body.p, body.q, rx.r,
               CAST(count(*) AS BIGINT) AS n_pca
        FROM body JOIN rx ON rx.x = body.x
        GROUP BY 1, 2, 3)
SELECT sup.p, sup.q, sup.r, sup.support, nb.n_body,
       round(CAST(sup.support AS DOUBLE) / nb.n_body, 6) AS confidence,
       pca.n_pca,
       round(CAST(sup.support AS DOUBLE) / pca.n_pca, 6)
         AS pca_confidence
FROM sup
JOIN nb ON nb.p = sup.p AND nb.q = sup.q
JOIN pca ON pca.p = sup.p AND pca.q = sup.q AND pca.r = sup.r
WHERE sup.support >= {RM_MIN_SUPPORT}
  AND round(CAST(sup.support AS DOUBLE) / nb.n_body, 6)
      >= {RM_MIN_CONF}""")

    sqls["kg_entailment_retract"] = sqls["kg_entailment"].replace(
        """pe AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object FROM triples),""",
        """pe AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object FROM triples
  WHERE md5(subject || '|' || predicate || '|' || object)
        NOT LIKE '0%'),""", 1)

    from .operators.graphops import CONSTRUCT_P, CONSTRUCT_OUT
    sqls["kg_construct_query"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
pv AS (SELECT DISTINCT subject, object FROM triples
       WHERE predicate = '{CONSTRUCT_P}')
SELECT DISTINCT a.subject AS subject,
       '{CONSTRUCT_OUT}' AS predicate,
       b.subject AS object
FROM pv a JOIN pv b ON b.object = a.object AND a.subject < b.subject""")

    sqls["kg_assortativity"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + """,
deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
stubs AS (
  SELECT CAST(ds.deg AS DOUBLE) AS ds, CAST(dd.deg AS DOUBLE) AS dd
  FROM sym s JOIN deg ds ON ds.node = s.src
             JOIN deg dd ON dd.node = s.dst)
SELECT CAST(count(*) AS BIGINT) AS n_stubs,
       round(avg(ds), 6) AS mean_src_deg,
       round(avg(dd), 6) AS mean_dst_deg,
       round(corr(ds, dd), 6) AS assortativity
FROM stubs""")

    # kg_entailment_delta oracle: saturates old and old+delta with
    # recursive SQL (two recursive closures per family) and subtracts
    fam2_ctes, eo_emits, ea_emits = [], [], []
    for p in TRANSITIVE_PREDICATES:
        qp = OD.INVERSE_PREDICATES.get(p)
        for tag, src in (("o", "tr_old"), ("a", "tr_all")):
            canon = (f"SELECT subject, object FROM {src}"
                     f" WHERE predicate = {_q(p)}")
            if qp is not None:
                canon += (f" UNION SELECT object, subject FROM {src}"
                          f" WHERE predicate = {_q(qp)}")
            fam2_ctes.append(f"""
c{tag}_{p} AS MATERIALIZED ({canon}),
t{tag}_{p}(subject, object) AS (
  SELECT subject, object FROM c{tag}_{p}
  UNION
  SELECT t.subject, b.object
  FROM t{tag}_{p} t JOIN c{tag}_{p} b ON b.subject = t.object)""".strip())
        eo_emits.append(f"SELECT subject, {_q(p)} AS predicate, object"
                        f" FROM to_{p}")
        ea_emits.append(f"SELECT subject, {_q(p)} AS predicate, object,"
                        f" 'transitive' AS rule FROM ta_{p}")
        if qp is not None:
            eo_emits.append(f"SELECT object, {_q(qp)} AS predicate,"
                            f" subject FROM to_{p}")
            ea_emits.append(f"SELECT object, {_q(qp)} AS predicate,"
                            f" subject, 'transitive' AS rule FROM ta_{p}")
    sqls["kg_entailment_delta"] = (
        corpus_prefix_recursive(gaz_cte(), link_cte(), triples_cte())
        + f""",
tr_old AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object FROM triples
  WHERE CAST(substring(doc_id, 5) AS INT) % 2 = 0),
tr_all AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object FROM triples),
invmap AS ({inv_rows}),
{",".join(fam2_ctes)},
eo AS (
  SELECT o.object AS subject, m.inverse AS predicate,
         o.subject AS object
  FROM tr_old o JOIN invmap m ON m.predicate = o.predicate
  UNION ALL
  {" UNION ALL ".join(eo_emits)}),
ea AS (
  SELECT a.object AS subject, m.inverse AS predicate,
         a.subject AS object, 'inverse' AS rule
  FROM tr_all a JOIN invmap m ON m.predicate = a.predicate
  UNION ALL
  {" UNION ALL ".join(ea_emits)})
SELECT DISTINCT n.subject, n.predicate, n.object, n.rule
FROM ea n
WHERE NOT EXISTS (SELECT 1 FROM tr_all t
                  WHERE t.subject = n.subject
                    AND t.predicate = n.predicate
                    AND t.object = n.object)
  AND NOT EXISTS (SELECT 1 FROM eo
                  WHERE eo.subject = n.subject
                    AND eo.predicate = n.predicate
                    AND eo.object = n.object)""")

    from .operators.relations import KG_SPLIT_SEED, KG_SPLIT_TEST_HEX
    sqls["kg_eval_split"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
tagged AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object,
         substring(md5(concat_ws('|', subject, predicate, object,
                                 '{KG_SPLIT_SEED}')), 1, 4) AS h4
  FROM triples),
ents AS MATERIALIZED (
  SELECT DISTINCT e FROM (
    SELECT subject AS e FROM tagged WHERE h4 >= '{KG_SPLIT_TEST_HEX}'
    UNION ALL
    SELECT object FROM tagged WHERE h4 >= '{KG_SPLIT_TEST_HEX}'))
SELECT t.subject, t.predicate, t.object,
       (es.e IS NOT NULL AND eo.e IS NOT NULL) AS transductive
FROM tagged t
LEFT JOIN ents es ON es.e = t.subject
LEFT JOIN ents eo ON eo.e = t.object
WHERE t.h4 < '{KG_SPLIT_TEST_HEX}'""")

    # filtered MRR/Hits@k link-prediction eval (relations.kg_ranking_eval):
    # same split hashing; candidates = full terms vocabulary minus known
    # (s, p, *) positives plus the true tail; integer shared-train-
    # neighbor score; rank = 1 + strictly-better count (ties -> lower id)
    sqls["kg_ranking_eval"] = (
        corpus_prefix(gaz_cte(), terms_cte(), link_cte(), triples_cte())
        + f""",
tagged AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object,
         substring(md5(concat_ws('|', subject, predicate, object,
                                 '{KG_SPLIT_SEED}')), 1, 4) AS h4
  FROM triples),
rbase AS MATERIALIZED (
  SELECT subject, predicate, object FROM tagged),
rtrain AS MATERIALIZED (
  SELECT subject, predicate, object FROM tagged
  WHERE h4 >= '{KG_SPLIT_TEST_HEX}'),
rents AS MATERIALIZED (
  SELECT DISTINCT e FROM (
    SELECT subject AS e FROM rtrain UNION ALL SELECT object FROM rtrain)),
rtest AS MATERIALIZED (
  SELECT subject, predicate, object FROM tagged
  WHERE h4 < '{KG_SPLIT_TEST_HEX}'
    AND subject IN (SELECT e FROM rents)
    AND object IN (SELECT e FROM rents)),
rund AS MATERIALIZED (
  SELECT DISTINCT least(subject, object) AS src,
         greatest(subject, object) AS dst
  FROM rtrain WHERE subject <> object),
rsym AS MATERIALIZED (
  SELECT src, dst FROM rund UNION ALL SELECT dst, src FROM rund),
rcands AS MATERIALIZED (
  SELECT t.subject, t.predicate, t.object, v.id AS cand
  FROM rtest t CROSS JOIN (SELECT DISTINCT id FROM terms_d) v
  WHERE NOT EXISTS (
    SELECT 1 FROM rbase b WHERE b.subject = t.subject
      AND b.predicate = t.predicate AND b.object = v.id)
  UNION ALL
  SELECT subject, predicate, object, object AS cand FROM rtest),
rcn AS (
  SELECT c.subject, c.predicate, c.object, c.cand,
         CAST(count(*) AS BIGINT) AS score
  FROM rcands c
  JOIN rsym s1 ON s1.src = c.subject
  JOIN rsym s2 ON s2.src = c.cand AND s2.dst = s1.dst
  GROUP BY 1, 2, 3, 4),
rscored AS MATERIALIZED (
  SELECT c.subject, c.predicate, c.object, c.cand,
         coalesce(n.score, 0) AS score
  FROM rcands c LEFT JOIN rcn n ON n.subject = c.subject
    AND n.predicate = c.predicate AND n.object = c.object
    AND n.cand = c.cand),
rst AS (
  SELECT subject, predicate, object, score AS s_true
  FROM rscored WHERE cand = object),
rranked AS (
  SELECT s.subject, s.predicate, s.object,
         CAST(1 + sum(CASE WHEN s.score > t.s_true
                        OR (s.score = t.s_true AND s.cand < s.object)
                      THEN 1 ELSE 0 END) AS BIGINT) AS rank
  FROM rscored s JOIN rst t ON t.subject = s.subject
    AND t.predicate = s.predicate AND t.object = s.object
  GROUP BY 1, 2, 3)
SELECT predicate, CAST(count(*) AS BIGINT) AS n_eval,
       round(avg(1.0 / rank), 6) AS mrr,
       round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6) AS hits1,
       round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS hits3,
       round(avg(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6) AS hits10
FROM rranked GROUP BY predicate""")

    sqls["kg_predicate_cardinality"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
pe AS (SELECT DISTINCT subject, predicate, object FROM triples),
outd AS (SELECT predicate, subject, count(*) AS od
         FROM pe GROUP BY 1, 2),
ind AS (SELECT predicate, object, count(*) AS idg
        FROM pe GROUP BY 1, 2),
o AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_subjects,
             CAST(sum(od) AS BIGINT) AS n_triples, max(od) AS max_od
      FROM outd GROUP BY 1),
i AS (SELECT predicate, CAST(count(*) AS BIGINT) AS n_objects,
             max(idg) AS max_id
      FROM ind GROUP BY 1)
SELECT o.predicate, o.n_triples, o.n_subjects, i.n_objects,
       round(CAST(o.n_triples AS DOUBLE) / o.n_subjects, 6)
         AS out_fanout,
       round(CAST(o.n_triples AS DOUBLE) / i.n_objects, 6) AS in_fanout,
       CASE WHEN o.max_od = 1 AND i.max_id = 1 THEN '1:1'
            WHEN o.max_od = 1 THEN 'N:1'
            WHEN i.max_id = 1 THEN '1:N'
            ELSE 'M:N' END AS cardinality_class
FROM o JOIN i ON i.predicate = o.predicate""")

    # Adamic-Adar link prediction: same inverted-index pair generation,
    # weighted 1/ln(deg(mid)), existing edges anti-joined away
    sqls["kg_link_prediction"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + und_ctes
        + f""",
inv AS (SELECT dst AS mid, src AS member FROM sym),
md AS (SELECT mid, count(*) AS n FROM inv GROUP BY 1),
inv2 AS (SELECT i.mid, i.member, md.n AS md FROM inv i
         JOIN md ON md.mid = i.mid WHERE md.n <= {NJ_MID_CAP}),
pairs AS (SELECT x.member AS a, y.member AS b,
                 CAST(count(*) AS BIGINT) AS n_shared,
                 sum(1.0 / ln(x.md)) AS aa
          FROM inv2 x JOIN inv2 y
            ON y.mid = x.mid AND x.member < y.member
          GROUP BY 1, 2
          HAVING count(*) >= {NJ_MIN_SHARED})
SELECT p.a, p.b, p.n_shared, round(p.aa, 6) AS aa_score
FROM pairs p
LEFT JOIN und ON und.src = p.a AND und.dst = p.b
WHERE und.src IS NULL""")

    # per-triple semantic + domain validation: same closed rule tables
    # as operators/ontology_algebra.triple_semantics_check, compiled to
    # IN lists (models.py:1107-1315 semantics, :1317-1452 domains)
    sem_defined = ", ".join(_q(p) for p in sorted(OD.SEMANTIC_RULES))
    sem_keys = ", ".join(
        _q(f"{p}|{s}|{o}") for p, pairs in sorted(OD.SEMANTIC_RULES.items())
        for s, o in pairs)
    dom_defined = ", ".join(
        _q(f"{s}|{p}") for s, p in sorted(OD.DOMAIN_RULES))
    dom_allowed = ", ".join(
        _q(f"{s}|{p}|{o}")
        for (s, p), objs in sorted(OD.DOMAIN_RULES.items()) for o in objs)
    empty = ("predicate IS NULL OR predicate = '' OR subject IS NULL "
             "OR subject = '' OR object IS NULL OR object = ''")
    sqls["triple_semantics"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte()) + f"""
SELECT doc_id, subject, predicate, object,
       CAST(CASE
         WHEN {empty} THEN 0
         WHEN predicate IN ({sem_defined}) THEN
           CASE WHEN predicate || '|' || sp || '|' || op
                IN ({sem_keys}) THEN 1 ELSE 0 END
         ELSE CASE WHEN sp <> '' AND op <> '' THEN 1 ELSE 0 END
       END AS INT) AS semantic_ok,
       CAST(CASE
         WHEN {empty} THEN 0
         WHEN sp || '|' || predicate IN ({dom_defined}) THEN
           CASE WHEN sp || '|' || predicate || '|' || op
                IN ({dom_allowed}) THEN 1 ELSE 0 END
         ELSE 1
       END AS INT) AS domain_ok
FROM (
  SELECT doc_id, subject, predicate, object,
         CASE WHEN subject LIKE '%:%'
              THEN split_part(subject, ':', 1) ELSE '' END AS sp,
         CASE WHEN object LIKE '%:%'
              THEN split_part(object, ':', 1) ELSE '' END AS op
  FROM triples) t"""

    # SHACL-core shapes: dedup the 7-tuple store (support = row count),
    # plant the literal 'needs_review' notes (decorations.shacl_triples),
    # then evaluate sh:maxCount / sh:minCount / sh:nodeKind per focus
    shape_rows = ", ".join(
        f"({_q(p)}, {mn}, {mx}, {_q(nk)})"
        for p, (mn, mx, nk) in sorted(OD.SHACL_SHAPES.items()))
    sqls["kg_shacl_validate"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte()) + f"""
, sh_dd AS (
  SELECT subject, predicate, object, subject_type, object_type,
         object_datatype, object_language,
         CAST(count(*) AS BIGINT) AS support
  FROM triples GROUP BY 1,2,3,4,5,6,7),
sh_aug AS (
  SELECT subject, predicate, object, object_type FROM sh_dd
  UNION ALL
  SELECT DISTINCT subject, predicate, 'needs_review', 'literal'
  FROM sh_dd WHERE predicate = 'affects'),
sh_base AS MATERIALIZED (
  SELECT DISTINCT subject, predicate, object, object_type FROM sh_aug),
sh_shapes AS (
  SELECT * FROM (VALUES {shape_rows})
  s(predicate, min_count, max_count, node_kind)),
sh_counts AS MATERIALIZED (
  SELECT subject, predicate, CAST(count(*) AS BIGINT) AS observed
  FROM sh_base GROUP BY 1, 2),
over_v AS (
  SELECT c.subject, c.predicate, 'maxCount' AS check_kind, c.observed,
         CAST(s.max_count AS BIGINT) AS allowed
  FROM sh_counts c JOIN sh_shapes s USING (predicate)
  WHERE c.observed > s.max_count),
under_v AS (
  SELECT f.subject, s.predicate, 'minCount' AS check_kind,
         coalesce(c.observed, 0) AS observed,
         CAST(s.min_count AS BIGINT) AS allowed
  FROM (SELECT DISTINCT subject FROM sh_base) f
  CROSS JOIN (SELECT * FROM sh_shapes WHERE min_count > 0) s
  LEFT JOIN sh_counts c ON c.subject = f.subject
                    AND c.predicate = s.predicate
  WHERE coalesce(c.observed, 0) < s.min_count),
bad_v AS (
  SELECT b.subject, b.predicate, 'nodeKind' AS check_kind,
         CAST(count(*) AS BIGINT) AS observed, CAST(0 AS BIGINT) AS allowed
  FROM sh_base b JOIN sh_shapes s USING (predicate)
  WHERE b.object_type <> s.node_kind GROUP BY 1, 2)
SELECT * FROM over_v UNION ALL SELECT * FROM under_v
UNION ALL SELECT * FROM bad_v"""

    sqls["crawl_admission"] = f"""
WITH {sitemap_files_sql()},
{robots_rules_sql()},
{url_canon_ctes},
ex AS (
  SELECT host,
         unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS block
  FROM smaps),
le AS (
  SELECT host,
         regexp_extract(block, '<loc>([^<]*)</loc>', 1) AS loc
  FROM ex),
le2 AS (
  SELECT host, loc,
         regexp_extract(loc, '^https?://([^/]+)', 1) = host AS host_ok,
         regexp_extract(loc, '^[^:]+://[^/?#]+([^?#]*)', 1) AS path
  FROM le),
hit AS (
  SELECT loc, verdict, row_number() OVER (
           PARTITION BY loc
           ORDER BY length(path_prefix) DESC, verdict) AS rn
  FROM le2 JOIN rules USING (host)
  WHERE starts_with(path, path_prefix)),
known AS (SELECT DISTINCT canon_url FROM canon)
SELECT le2.host, le2.loc,
       CASE WHEN NOT host_ok THEN 'rejected_cross_host'
            WHEN coalesce(h.verdict, 'allow') = 'deny'
              THEN 'rejected_robots'
            WHEN k.canon_url IS NOT NULL THEN 'skipped_known'
            ELSE 'admitted' END AS status
FROM le2
LEFT JOIN (SELECT loc, verdict FROM hit WHERE rn = 1) h USING (loc)
LEFT JOIN known k ON k.canon_url = le2.loc"""

    from .operators.gazetteer import MINE_MIN_SUPPORT
    _nerpat = ner_pattern()
    sqls["gazetteer_anchor_mining"] = corpus_prefix(
        gaz_cte(), link_cte(), link_edges_sql()) + f""",
lm AS (
  SELECT DISTINCT m.doc_id, m.surface, l.term_id
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(_nerpat)}, 1))
             AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m
  JOIN link l ON l.surface = m.surface),
cntc AS (SELECT doc_id, term_id, count(DISTINCT surface) AS n
         FROM lm GROUP BY 1, 2),
dom AS (
  SELECT doc_id, term_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY n DESC, term_id ASC) AS rn
    FROM cntc) t
  WHERE rn = 1),
anch AS (
  SELECT 'DOC:' || lpad(CAST(dst AS VARCHAR), 6, '0') AS doc_id,
         anchor,
         CAST(count(*) AS BIGINT) AS n_links,
         CAST(count(DISTINCT src) AS BIGINT) AS n_sources
  FROM ledges GROUP BY 1, 2),
cand AS (
  SELECT dom.term_id, anch.anchor AS candidate_label, n_links,
         n_sources
  FROM anch JOIN dom USING (doc_id)
  WHERE n_links >= {MINE_MIN_SUPPORT})
SELECT c.term_id, c.candidate_label, c.n_links, c.n_sources
FROM cand c
LEFT JOIN gaz g ON g.term_id = c.term_id
  AND g.surface = c.candidate_label
WHERE g.surface IS NULL"""

    from .decorations import WEB_HOSTS
    from .operators.webingest import RECRAWL_MAX_DAYS
    sqls["recrawl_schedule"] = f"""
WITH {recrawl_round2_sql()},
d1 AS (SELECT doc_id, md5(text) AS digest_prev FROM documents),
d2 AS (SELECT doc_id, md5(text) AS digest_curr FROM r2),
di AS (
  SELECT coalesce(d1.doc_id, d2.doc_id) AS doc_id,
         CASE WHEN digest_prev IS NULL THEN 'new'
              WHEN digest_curr IS NULL THEN 'gone'
              WHEN digest_prev = digest_curr THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM d1 FULL OUTER JOIN d2 ON d1.doc_id = d2.doc_id),
agg AS (
  SELECT 'www.site' || CAST(doc_id % {WEB_HOSTS} AS VARCHAR)
           || '.example.org' AS host,
         CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_gone,
         CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_changed,
         CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_unchanged
  FROM di GROUP BY 1)
SELECT host, n_new, n_gone, n_changed, n_unchanged,
       CAST(CASE WHEN n_changed = 0 THEN {RECRAWL_MAX_DAYS}
            ELSE least({RECRAWL_MAX_DAYS}, greatest(1, floor(
              (n_changed + n_unchanged) / n_changed))) END
         AS BIGINT) AS revisit_days
FROM agg"""

    from .operators.graphops import EDGECUT_KS
    _hb = ("CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT) "
           "% {k}")
    _cut_leg = """
  SELECT CAST({k} AS INT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
         (SELECT CAST(sum(CASE WHEN {ps} <> {pd} THEN 1 ELSE 0 END)
                      AS BIGINT) FROM und) AS n_cut,
         (SELECT round(sum(CASE WHEN {ps} <> {pd} THEN 1.0
                           ELSE 0.0 END) / count(*), 6)
          FROM und) AS cut_frac,
         (SELECT round(max(n) / CAST(sum(n) AS DOUBLE), 6) FROM (
            SELECT {pv} AS p, count(*) AS n FROM verts GROUP BY 1) b)
           AS max_vertex_share,
         (SELECT CAST(count(DISTINCT {pv}) AS BIGINT) FROM verts)
           AS n_parts_used"""
    _legs = "\nUNION ALL\n".join(
        _cut_leg.format(k=k, ps=_hb.format(x="src", k=k),
                        pd=_hb.format(x="dst", k=k),
                        pv=_hb.format(x="v", k=k))
        for k in EDGECUT_KS)
    sqls["kg_partition_edgecut"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte())
        + und_ctes + f""",
verts AS (SELECT src AS v FROM und UNION SELECT dst FROM und)
{_legs}""")

    from .operators.olap import L_DIV_BUCKETS, L_DIV_DEFAULT
    sqls["event_l_diversity"] = f"""
WITH pv AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(user_id % {L_DIV_BUCKETS} AS BIGINT) AS u_bucket,
         event_type AS sensitive, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3)
SELECT day, u_bucket,
       CAST(count(DISTINCT sensitive) AS BIGINT) AS n_distinct,
       CAST(sum(n) AS BIGINT) AS n_rows,
       round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS dominant_share
FROM pv GROUP BY 1, 2
HAVING count(DISTINCT sensitive) < {L_DIV_DEFAULT}"""

    from .operators.olap import PCTL_QS
    _pick = ", ".join(
        f"max(CASE WHEN r = least(n, CAST(ceil({q} * n) AS BIGINT)) "
        f"THEN value END) AS p{int(q * 100)}" for q in PCTL_QS)
    sqls["event_exact_percentiles"] = f"""
WITH rk AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type, CAST(max(n) AS BIGINT) AS n, {_pick}
FROM rk GROUP BY 1"""

    sqls["event_twap"] = """
WITH g AS (
  SELECT user_id, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS dt
  FROM events)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_weighted,
       CAST(sum(dt) AS BIGINT) AS span_us,
       round(sum(value * dt) / sum(dt), 6) AS twap
FROM g WHERE dt IS NOT NULL GROUP BY 1"""

    from .operators.content_stats import (
        EF_GAP_S, EXPECT_TYPES, EXPECT_VALUE_MAX, EXPECT_VALUE_MIN,
    )
    sqls["event_eventually_follows"] = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   >= {EF_GAP_S} * CAST(1000000 AS BIGINT)
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM e),
f AS (
  SELECT user_id, sid, event_type, us, event_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, sid, event_type
      ORDER BY us, event_id) AS rn
    FROM s) t
  WHERE rn = 1),
tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS t FROM (
    SELECT DISTINCT user_id, sid FROM s) d),
p AS (
  SELECT a.event_type AS antecedent, b.event_type AS consequent
  FROM f a JOIN f b
    ON a.user_id = b.user_id AND a.sid = b.sid
   AND a.event_type <> b.event_type
   AND (a.us, a.event_id) < (b.us, b.event_id))
SELECT antecedent, consequent,
       CAST(count(*) AS BIGINT) AS n_sessions,
       round(count(*) / tot.t, 6) AS support
FROM p, tot GROUP BY 1, 2, tot.t"""

    _enum_in = ", ".join(f"'{t}'" for t in EXPECT_TYPES)
    _enum_p = "|".join(EXPECT_TYPES)
    sqls["event_expectations"] = f"""
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS f_eid_null,
         CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
           AS f_eid_dup,
         CAST(sum(CASE WHEN value < {EXPECT_VALUE_MIN} THEN 1 ELSE 0
                  END) AS BIGINT) AS f_val_min,
         CAST(sum(CASE WHEN value > {EXPECT_VALUE_MAX} THEN 1 ELSE 0
                  END) AS BIGINT) AS f_val_max,
         CAST(sum(CASE WHEN event_type NOT IN ({_enum_in})
                  THEN 1 ELSE 0 END) AS BIGINT) AS f_type_enum,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS f_uid_null
  FROM events)
SELECT 'event_id' AS col_name, 'not_null' AS rule, '' AS param,
       n_rows, f_eid_null AS n_failed, f_eid_null = 0 AS passed FROM a
UNION ALL SELECT 'event_id', 'unique', '', n_rows, f_eid_dup,
       f_eid_dup = 0 FROM a
UNION ALL SELECT 'value', 'min', '{EXPECT_VALUE_MIN}', n_rows,
       f_val_min, f_val_min = 0 FROM a
UNION ALL SELECT 'value', 'max', '{EXPECT_VALUE_MAX}', n_rows,
       f_val_max, f_val_max = 0 FROM a
UNION ALL SELECT 'event_type', 'enum', '{_enum_p}', n_rows,
       f_type_enum, f_type_enum = 0 FROM a
UNION ALL SELECT 'user_id', 'not_null', '', n_rows, f_uid_null,
       f_uid_null = 0 FROM a"""

    from .operators.olap import FUNNEL_STEPS, LAG_QS
    _lagp = ", ".join(
        f"CAST(max(CASE WHEN r = least(n, CAST(ceil({q} * n) AS "
        f"BIGINT)) THEN lag_s END) AS BIGINT) AS p{int(q * 100)}_s"
        for q in LAG_QS)
    sqls["event_conversion_lag"] = f"""
WITH fs AS (
  SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1),
ls AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t1, min(fs.t0) AS t0
  FROM events e JOIN fs ON fs.user_id = e.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[-1]}'
    AND epoch_us(e.ts) > fs.t0
  GROUP BY 1),
lg AS (
  SELECT user_id,
         CAST(floor((t1 - t0) / 1000000.0) AS BIGINT) AS lag_s
  FROM ls),
rk AS (
  SELECT lag_s, row_number() OVER (ORDER BY lag_s, user_id) AS r,
         count(*) OVER () AS n
  FROM lg)
SELECT CAST(max(n) AS BIGINT) AS n_converted, {_lagp},
       CAST(max(lag_s) AS BIGINT) AS max_s
FROM rk"""

    from .operators.textmeta import KWIC_WIDTH
    sqls["mention_kwic"] = corpus_prefix() + f""",
mm AS (
  SELECT DISTINCT doc_id, pos, surface FROM (
    SELECT doc_id, pos,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1))
             AS surface
    FROM spans WHERE kind IN ('text','figure','table')) t),
fo AS (
  SELECT doc_id, surface, min(pos) AS pos FROM mm GROUP BY 1, 2),
jj AS (
  SELECT fo.doc_id, fo.surface, fo.pos, lower(s.text) AS low,
         strpos(lower(s.text), fo.surface) AS p
  FROM fo JOIN spans s ON s.doc_id = fo.doc_id AND s.pos = fo.pos)
SELECT doc_id, surface,
       substr(low, greatest(1, p - {KWIC_WIDTH}),
              p - greatest(1, p - {KWIC_WIDTH})) AS left_ctx,
       substr(low, p + length(surface), {KWIC_WIDTH}) AS right_ctx,
       CAST(pos AS BIGINT) AS span_pos,
       CAST(p AS BIGINT) AS char_pos
FROM jj WHERE p > 0"""

    from .operators.content_stats import ENC_COLS, HT_RATE_PCT
    _w = 100.0 / HT_RATE_PCT
    sqls["event_ht_estimate"] = f"""
WITH sm AS (
  SELECT *, (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
              1, 8)) AS BIGINT) % 100) < {HT_RATE_PCT} AS smp
  FROM events),
ag AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_exact,
         round(sum(value), 6) AS sum_exact,
         CAST(sum(CASE WHEN smp THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sampled,
         CAST(sum(CASE WHEN smp THEN 1 ELSE 0 END) * {_w} AS BIGINT)
           AS n_est,
         round(sum(CASE WHEN smp THEN value ELSE 0 END) * {_w}, 6)
           AS sum_est
  FROM sm GROUP BY 1)
SELECT event_type, n_exact, n_sampled, n_est, sum_exact, sum_est,
       round(abs(sum_est - sum_exact) / sum_exact, 6) AS rel_err
FROM ag"""

    _enc_leg = """
  SELECT '{c}' AS col_name, b.n_rows, b.ndv, b.plain_bytes,
         CAST(d.dict_val_bytes + ceil(b.n_rows
              * greatest(ceil(log2(b.ndv)), 1) / 8) AS BIGINT)
           AS dict_bytes,
         round((d.dict_val_bytes + ceil(b.n_rows
               * greatest(ceil(log2(b.ndv)), 1) / 8))
               / b.plain_bytes, 6) AS dict_ratio
  FROM (SELECT CAST(count(*) AS BIGINT) n_rows,
               CAST(count(DISTINCT {c}) AS BIGINT) ndv,
               CAST(sum(length({c})) AS BIGINT) plain_bytes
        FROM events) b,
       (SELECT CAST(sum(length(v)) AS BIGINT) dict_val_bytes
        FROM (SELECT DISTINCT {c} AS v FROM events) x) d"""
    sqls["encoding_benefit_audit"] = "\nUNION ALL\n".join(
        _enc_leg.format(c=c) for c in ENC_COLS)

    sqls["distant_supervision"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte()) + f""",
lm2 AS (
  SELECT DISTINCT m.doc_id, l.term_id
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1))
             AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m
  JOIN link l ON l.surface = m.surface),
prs AS (
  SELECT a.doc_id, a.term_id AS subject_term,
         b.term_id AS object_term
  FROM lm2 a JOIN lm2 b ON a.doc_id = b.doc_id
  WHERE a.term_id <> b.term_id),
kb AS (
  SELECT DISTINCT subject AS subject_term, object AS object_term,
         predicate
  FROM (
    SELECT subject, predicate, object, subject_type, object_type,
           object_datatype, object_language,
           max(confidence) AS confidence, count(*) AS support
    FROM triples GROUP BY 1,2,3,4,5,6,7) d)
SELECT p.doc_id, p.subject_term, p.object_term,
       coalesce(kb.predicate, 'NO_RELATION') AS label,
       kb.predicate IS NOT NULL AS in_kb
FROM prs p LEFT JOIN kb USING (subject_term, object_term)"""

    from .operators.relations import PATTERN_MAX_LEN
    sqls["relation_pattern_mining"] = corpus_prefix(
        gaz_cte(), link_cte(), triples_cte()) + f""",
lm3 AS (
  SELECT DISTINCT m.doc_id, m.surface, l.term_id
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1))
             AS surface
    FROM spans WHERE kind IN ('text','figure','table')) m
  JOIN link l ON l.surface = m.surface),
sp3 AS (
  SELECT doc_id, pos, lower(text) AS low FROM spans
  WHERE kind IN ('text','figure','table')),
oc3 AS (
  SELECT p.doc_id, p.ta, p.tb,
         trim(substr(low,
              CAST(strpos(low, sa) + length(sa) AS INT),
              CAST(strpos(low, sb) - strpos(low, sa) - length(sa)
                   AS INT))) AS between_phrase
  FROM (
    SELECT a.doc_id, a.surface AS sa, a.term_id AS ta,
           b.surface AS sb, b.term_id AS tb
    FROM lm3 a JOIN lm3 b
      ON a.doc_id = b.doc_id AND a.surface <> b.surface) p
  JOIN sp3 ON sp3.doc_id = p.doc_id
  WHERE strpos(low, sa) > 0 AND strpos(low, sb) > 0
    AND strpos(low, sa) + length(sa) < strpos(low, sb)),
ocf AS (
  SELECT * FROM oc3
  WHERE between_phrase <> ''
    AND length(between_phrase) <= {PATTERN_MAX_LEN}),
kbd AS (
  SELECT DISTINCT subject AS ta, object AS tb, predicate FROM (
    SELECT subject, predicate, object, subject_type, object_type,
           object_datatype, object_language,
           max(confidence) AS confidence, count(*) AS support
    FROM triples GROUP BY 1,2,3,4,5,6,7) d)
SELECT between_phrase,
       coalesce(kbd.predicate, 'NO_RELATION') AS label,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT ocf.doc_id) AS BIGINT) AS n_docs
FROM ocf LEFT JOIN kbd ON kbd.ta = ocf.ta AND kbd.tb = ocf.tb
GROUP BY 1, 2"""

    from .decorations import html_table_docs_sql
    sqls["html_table_extract"] = f"""
WITH {html_table_docs_sql()},
r AS (
  SELECT doc_id,
         regexp_extract_all(html, '<tr>(.*?)</tr>', 1) AS trows
  FROM htab),
rr AS (
  SELECT doc_id, trows,
         unnest(generate_series(1, len(trows))) AS row_idx
  FROM r),
re AS (
  SELECT doc_id, CAST(row_idx AS INT) AS row_idx,
         trows[row_idx] AS row_html
  FROM rr),
ce AS (
  SELECT doc_id, row_idx,
         starts_with(row_html, '<th>') AS is_header,
         regexp_extract_all(row_html,
                            '<t[hd]>(.*?)</t[hd]>', 1) AS cells
  FROM re),
cc AS (
  SELECT doc_id, row_idx, is_header, cells,
         unnest(generate_series(1, len(cells))) AS col_idx
  FROM ce)
SELECT doc_id, row_idx, CAST(col_idx AS INT) AS col_idx, is_header,
       cells[col_idx] AS cell
FROM cc"""

    from .decorations import chat_docs_sql
    sqls["chat_template_lint"] = f"""
WITH {chat_docs_sql()},
t AS (
  SELECT doc_id, chat, json_valid(chat) AS ok,
         CASE WHEN json_valid(chat) THEN json_array_length(chat)
              ELSE 0 END AS n
  FROM chatd),
ex AS (
  SELECT doc_id, chat,
         unnest(generate_series(0, CAST(n AS BIGINT) - 1)) AS i
  FROM t WHERE ok AND n > 0),
pr AS (
  SELECT doc_id, i,
         json_extract_string(chat, '$[' || i || '].role') AS role,
         json_extract_string(chat, '$[' || i || '].content') AS content
  FROM ex),
ag AS (
  SELECT doc_id,
         string_agg(CASE role WHEN 'system' THEN 's'
                    WHEN 'user' THEN 'u' WHEN 'assistant' THEN 'a'
                    ELSE 'x' END, '' ORDER BY i) AS role_sig,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN content IS NULL OR content = ''
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
  FROM pr GROUP BY 1)
SELECT t.doc_id, coalesce(a.role_sig, '') AS role_sig,
       CAST(coalesce(a.n_turns, 0) AS BIGINT) AS n_turns,
       CAST(coalesce(a.n_empty, 0) AS BIGINT) AS n_empty,
       CASE WHEN NOT t.ok THEN 'invalid_json'
            WHEN NOT regexp_matches(coalesce(a.role_sig, ''),
                                    '^s?(ua)+$') THEN 'bad_structure'
            WHEN a.n_empty > 0 THEN 'empty_content'
            ELSE 'ok' END AS status
FROM t LEFT JOIN ag a USING (doc_id)"""

    _card_leg = """
  SELECT '{name}' AS join_name,
         l.n_left, l.ndv_left, r.n_right, r.ndv_right,
         CAST(floor(l.n_left * r.n_right
                    / greatest(l.ndv_left, r.ndv_right)) AS BIGINT)
           AS est_rows,
         a.actual_rows,
         round(a.actual_rows / floor(l.n_left * r.n_right
               / greatest(l.ndv_left, r.ndv_right)), 6) AS est_ratio
  FROM ({l}) l, ({r}) r, ({a}) a"""
    sqls["join_cardinality_audit"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte(), terms_cte())
        + f""",
m AS (
  SELECT DISTINCT doc_id, kind, surface FROM (
    SELECT doc_id, kind,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1))
             AS surface
    FROM spans WHERE kind IN ('text','figure','table')) t),
dt AS (
  SELECT subject AS term FROM (
    SELECT subject, predicate, object, subject_type, object_type,
           object_datatype, object_language,
           max(confidence) AS confidence, count(*) AS support
    FROM triples GROUP BY 1,2,3,4,5,6,7) d)
{_card_leg.format(
    name='mention_gazetteer',
    l='SELECT CAST(count(*) AS BIGINT) n_left, CAST(count(DISTINCT '
      'surface) AS BIGINT) ndv_left FROM m',
    r='SELECT CAST(count(*) AS BIGINT) n_right, CAST(count(DISTINCT '
      'surface) AS BIGINT) ndv_right FROM gaz',
    a='SELECT CAST(count(*) AS BIGINT) actual_rows FROM m '
      'JOIN gaz USING (surface)')}
UNION ALL
{_card_leg.format(
    name='triple_terms',
    l='SELECT CAST(count(*) AS BIGINT) n_left, CAST(count(DISTINCT '
      'term) AS BIGINT) ndv_left FROM dt',
    r='SELECT CAST(count(*) AS BIGINT) n_right, CAST(count(DISTINCT '
      'id) AS BIGINT) ndv_right FROM terms_d',
    a='SELECT CAST(count(*) AS BIGINT) actual_rows FROM dt '
      'JOIN terms_d ON terms_d.id = dt.term')}""")

    return sqls


def _er_sqls() -> dict[str, str]:
    """DuckDB twins for the entity-resolution / experimentation /
    Gopher operators (operators/entity_resolution.py,
    content_stats.cuped_adjust / cusum_changepoints,
    textops.gopher_rules)."""
    from .operators import entity_resolution as ER
    from .operators import textops as TX
    from .operators.content_stats import CUPED_CUTOFF
    sqls: dict[str, str] = {}

    _sides = f"""
a AS (
  SELECT c_custkey AS key_a, c_name AS name_a, c_nationkey AS nat_a,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal_a,
         c_mktsegment AS seg_a
  FROM customer),
b AS (
  SELECT c_custkey AS key_b,
         CASE WHEN c_custkey % 5 = 0 THEN c_name || '~'
              ELSE c_name END AS name_b,
         CASE WHEN c_custkey % 11 = 0
              THEN (c_nationkey + 1) % {ER.N_NATIONS}
              ELSE c_nationkey END AS nat_b,
         CASE WHEN c_custkey % 2 = 0
              THEN round(CAST(c_acctbal AS DECIMAL(18,2)), 0)
              ELSE CAST(c_acctbal AS DECIMAL(18,2)) END AS bal_b,
         CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN'
              ELSE c_mktsegment END AS seg_b
  FROM customer)""".strip()

    (wa_n, wd_n) = ER.FS_W["name"]
    (wa_b, wd_b) = ER.FS_W["bal"]
    (wa_s, wd_s) = ER.FS_W["seg"]
    _score = (f"round(CASE WHEN agree_name THEN {wa_n} ELSE {wd_n} END"
              f" + CASE WHEN agree_bal THEN {wa_b} ELSE {wd_b} END"
              f" + CASE WHEN agree_seg THEN {wa_s} ELSE {wd_s} END, 6)")
    sqls["er_fellegi_sunter"] = f"""
WITH {_sides},
p AS (
  SELECT key_a, key_b,
         name_a = name_b AS agree_name,
         abs(bal_a - bal_b) < CAST('0.5' AS DECIMAL(18,2)) AS agree_bal,
         seg_a = seg_b AS agree_seg,
         key_a = key_b AS is_true
  FROM a JOIN b ON nat_a = nat_b),
sc AS (SELECT *, {_score} AS score FROM p)
SELECT key_a, key_b, agree_name, agree_bal, agree_seg, score, is_true,
       CASE WHEN score >= {ER.FS_MATCH_T} THEN 'match'
            ELSE 'possible' END AS decision
FROM sc WHERE score >= {ER.FS_POSSIBLE_T}""".strip()

    sqls["er_blocking_quality"] = f"""
WITH {_sides},
tot AS (
  SELECT CAST((SELECT count(*) FROM a) AS BIGINT)
         * CAST((SELECT count(*) FROM b) AS BIGINT) AS t,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_truth),
s1 AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS n_cand
  FROM (SELECT nat_a AS k, count(*) AS na FROM a GROUP BY 1) ca
  JOIN (SELECT nat_b AS k, count(*) AS nb FROM b GROUP BY 1) cb
  USING (k)),
f1 AS (
  SELECT CAST(count(*) AS BIGINT) AS found
  FROM a JOIN b ON key_a = key_b WHERE nat_a = nat_b),
s2 AS (
  SELECT CAST(sum(na * nb) AS BIGINT) AS n_cand
  FROM (SELECT nat_a AS k1, seg_a AS k2, count(*) AS na
        FROM a GROUP BY 1, 2) ca
  JOIN (SELECT nat_b AS k1, seg_b AS k2, count(*) AS nb
        FROM b GROUP BY 1, 2) cb
  USING (k1, k2)),
f2 AS (
  SELECT CAST(count(*) AS BIGINT) AS found
  FROM a JOIN b ON key_a = key_b
  WHERE nat_a = nat_b AND seg_a = seg_b)
SELECT 'nation' AS scheme, n_cand AS n_candidates, n_truth,
       found AS truth_found,
       round(CAST(found AS DOUBLE) / n_truth, 6) AS pairs_completeness,
       round(1.0 - CAST(n_cand AS DOUBLE) / CAST(t AS DOUBLE), 6)
         AS reduction_ratio
FROM s1, f1, tot
UNION ALL
SELECT 'nation_segment', n_cand, n_truth, found,
       round(CAST(found AS DOUBLE) / n_truth, 6),
       round(1.0 - CAST(n_cand AS DOUBLE) / CAST(t AS DOUBLE), 6)
FROM s2, f2, tot""".strip()

    # er_em_weights: the Spark side's EM recurrence unrolled one CTE
    # pair per iteration, multiplication order and 12-dp per-iteration
    # parameter rounding matched term-for-term so doubles track
    # bit-identically.
    _em_m0, _em_u0, _em_lam0 = ER.FS_EM_INIT
    _em_fields = ["name", "bal", "seg"]
    _em = f"""
pat AS (
  SELECT name_a = name_b AS g_name,
         abs(bal_a - bal_b) < CAST('0.5' AS DECIMAL(18,2)) AS g_bal,
         seg_a = seg_b AS g_seg,
         CAST(count(*) AS DOUBLE) AS n
  FROM a JOIN b ON nat_a = nat_b GROUP BY 1, 2, 3),
np AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs
  FROM a JOIN b ON nat_a = nat_b),
it0 AS (SELECT {_em_m0} AS m_name, {_em_m0} AS m_bal, {_em_m0} AS m_seg,
               {_em_u0} AS u_name, {_em_u0} AS u_bal, {_em_u0} AS u_seg,
               {_em_lam0} AS lam)"""
    for _i in range(1, ER.FS_EM_ITER + 1):
        _pm = "lam" + "".join(
            f" * (CASE WHEN g_{f} THEN m_{f} ELSE 1 - m_{f} END)"
            for f in _em_fields)
        _pu = "(1 - lam)" + "".join(
            f" * (CASE WHEN g_{f} THEN u_{f} ELSE 1 - u_{f} END)"
            for f in _em_fields)
        _upd = ", ".join(
            f"round(sum(CASE WHEN g_{f} THEN n * r ELSE 0 END)"
            f" / sum(n * r), 12) AS m_{f}" for f in _em_fields)
        _upd += ", " + ", ".join(
            f"round(sum(CASE WHEN g_{f} THEN n * (1 - r) ELSE 0 END)"
            f" / sum(n * (1 - r)), 12) AS u_{f}" for f in _em_fields)
        _em += f""",
r{_i} AS (
  SELECT p.*, {_pm} / ({_pm} + {_pu}) AS r
  FROM pat p, it{_i - 1}),
it{_i} AS (
  SELECT {_upd},
         round(sum(n * r) / sum(n), 12) AS lam
  FROM r{_i})"""
    # probability clamp before the log-odds (ER.FS_EM_EPS): EM can
    # legitimately round u to 0 at 6 dp on a large corpus
    _eps = ER.FS_EM_EPS

    def _clamp(x: str) -> str:
        return f"least(greatest({x}, {_eps}), 1 - {_eps})"

    _em_out = "\nUNION ALL\n".join(
        f"SELECT '{f}' AS field, round(m_{f}, 6) AS m,"
        f" round(u_{f}, 6) AS u,"
        f" round(log2({_clamp(f'round(m_{f}, 6)')}"
        f" / {_clamp(f'round(u_{f}, 6)')}), 6) AS w_agree,"
        f" round(log2((1 - {_clamp(f'round(m_{f}, 6)')})"
        f" / (1 - {_clamp(f'round(u_{f}, 6)')})), 6)"
        f" AS w_disagree,"
        f" round(lam, 6) AS lam, n_pairs"
        f" FROM it{ER.FS_EM_ITER}, np" for f in _em_fields)
    sqls["er_em_weights"] = f"WITH {_sides},{_em}\n{_em_out}"

    _arm = ("CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS "
            "VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END")
    sqls["event_cuped"] = f"""
WITH ev AS (
  SELECT user_id, {_arm} AS arm,
         CASE WHEN ts < TIMESTAMP '{CUPED_CUTOFF}'
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE 0 END AS xc,
         CASE WHEN ts < TIMESTAMP '{CUPED_CUTOFF}' THEN 0
              ELSE CAST(round(value * 100) AS BIGINT) END AS yc
  FROM events),
pu AS (
  SELECT user_id, arm, CAST(sum(xc) AS BIGINT) AS x,
         CAST(sum(yc) AS BIGINT) AS y
  FROM ev GROUP BY 1, 2),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pu),
pa AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
  FROM pu GROUP BY 1)
SELECT arm, n_users,
  round(CAST(ay AS DOUBLE) / n_users / 100.0, 6) AS mean_post,
  round(CAST(ay AS DOUBLE) / n_users / 100.0
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE))
          * (CAST(ax AS DOUBLE) / n_users / 100.0
             - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0), 6)
    AS mean_post_adj,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        * CAST(n * sxy - sx * sy AS DOUBLE)
        / (CAST(n * sxx - sx * sx AS DOUBLE)
           * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS var_reduction
FROM pa CROSS JOIN g""".strip()

    sqls["event_changepoint"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, day, n,
         CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(sum(n) OVER w AS BIGINT) AS prefix,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS d,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS s
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)),
dev AS (SELECT *, d * prefix - k * s AS dev FROM cum),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY abs(dev) DESC, day ASC) AS rn
  FROM dev)
SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
       round(CAST(dev AS DOUBLE) / CAST(d AS DOUBLE), 6) AS cusum,
       round(CAST(s AS DOUBLE) / CAST(d AS DOUBLE), 6) AS mean_daily,
       d AS n_days
FROM pick WHERE rn = 1""".strip()

    stops = ",".join(f"'{s}'" for s in TX.STOPWORDS_EN)
    g = dict(
        minw=TX.GOPHER_MIN_WORDS, maxw=TX.GOPHER_MAX_WORDS,
        wl_lo=TX.GOPHER_MEAN_WLEN[0], wl_hi=TX.GOPHER_MEAN_WLEN[1],
        sym=TX.GOPHER_SYMBOL_RATIO, bul=TX.GOPHER_BULLET_RATIO,
        ell=TX.GOPHER_ELLIPSIS_RATIO, alp=TX.GOPHER_ALPHA_RATIO,
        stp=TX.GOPHER_MIN_STOPWORDS)
    sqls["doc_gopher_rules"] = f"""
WITH d0 AS (SELECT doc_id, text FROM documents),
t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                x -> x <> '') AS toks,
    list_filter(regexp_split_to_array(text, '\\n'),
                ln -> trim(ln) <> '') AS lines,
    length(regexp_replace(regexp_replace(text, '\\.\\.\\.', '', 'g'),
                          '[^#]', '', 'g')) AS n_symbols
  FROM d0),
c AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
         AS BIGINT) AS sum_wlen,
    CAST(n_symbols AS BIGINT) AS n_symbols,
    CAST(len(list_filter(lines,
         ln -> regexp_matches(trim(ln), '^[-*]'))) AS BIGINT) AS n_bullet,
    CAST(len(list_filter(lines,
         ln -> regexp_matches(trim(ln), '\\.\\.\\.$'))) AS BIGINT)
      AS n_ellipsis,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
         AS BIGINT) AS n_alpha,
    CAST(len(list_filter(toks, x -> list_contains([{stops}], x)))
         AS BIGINT) AS n_stop,
    CAST(len(lines) AS BIGINT) AS n_lines
  FROM t),
fl AS (
  SELECT doc_id,
    n_words >= {g['minw']} AND n_words <= {g['maxw']} AS ok_words,
    CAST(sum_wlen AS DOUBLE) >= CAST({g['wl_lo']} AS DOUBLE) * n_words
      AND CAST(sum_wlen AS DOUBLE) <= CAST({g['wl_hi']} AS DOUBLE)
          * n_words AS ok_word_len,
    CAST(n_symbols AS DOUBLE) <= CAST({g['sym']} AS DOUBLE) * n_words
      AS ok_symbols,
    CAST(n_bullet AS DOUBLE) <= CAST({g['bul']} AS DOUBLE) * n_lines
      AS ok_bullets,
    CAST(n_ellipsis AS DOUBLE) <= CAST({g['ell']} AS DOUBLE) * n_lines
      AS ok_ellipsis,
    CAST(n_alpha AS DOUBLE) >= CAST({g['alp']} AS DOUBLE) * n_words
      AS ok_alpha,
    n_stop >= {g['stp']} AS ok_stopwords
  FROM c)
SELECT doc_id, ok_words, ok_word_len, ok_symbols, ok_bullets,
       ok_ellipsis, ok_alpha, ok_stopwords,
       CAST((CASE WHEN ok_words THEN 0 ELSE 1 END)
          + (CASE WHEN ok_word_len THEN 0 ELSE 1 END)
          + (CASE WHEN ok_symbols THEN 0 ELSE 1 END)
          + (CASE WHEN ok_bullets THEN 0 ELSE 1 END)
          + (CASE WHEN ok_ellipsis THEN 0 ELSE 1 END)
          + (CASE WHEN ok_alpha THEN 0 ELSE 1 END)
          + (CASE WHEN ok_stopwords THEN 0 ELSE 1 END) AS INT)
         AS n_rules_failed,
       ok_words AND ok_word_len AND ok_symbols AND ok_bullets
         AND ok_ellipsis AND ok_alpha AND ok_stopwords AS keep
FROM fl""".strip()


    from . import decorations as DC2
    s0, s1, s2 = (_q(s) for s in DC2.BOILERPLATE_SEGMENTS)
    _bdoc = f"""
bdoc AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 5 = 0 THEN {s0} || ' | ' ELSE '' END)
         || text
         || (CASE WHEN doc_id % 7 = 0 THEN ' | ' ||
               (CASE doc_id % 3 WHEN 0 THEN {s0} WHEN 1 THEN {s1}
                ELSE {s2} END)
             ELSE '' END) AS text
  FROM documents)""".strip()
    sqls["doc_line_dedup"] = f"""
WITH {_bdoc},
segs AS (SELECT doc_id, string_split(text, ' | ') AS segs FROM bdoc),
ex AS (SELECT doc_id, unnest(segs) AS seg,
              CAST(generate_subscripts(segs, 1) - 1 AS BIGINT) AS pos
       FROM segs),
win AS (SELECT seg, min(struct_pack(doc_id := doc_id, pos := pos)) AS w
        FROM ex GROUP BY seg),
kept AS (
  SELECT e.doc_id, e.pos, e.seg
  FROM ex e JOIN win ON e.seg = win.seg
  WHERE e.doc_id = win.w.doc_id AND e.pos = win.w.pos),
reb AS (
  SELECT doc_id,
         array_to_string(list(seg ORDER BY pos), ' | ') AS clean_text,
         CAST(count(*) AS INT) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
       coalesce(r.n_kept, 0) AS n_kept,
       CAST(len(s.segs) - coalesce(r.n_kept, 0) AS INT) AS n_removed
FROM segs s LEFT JOIN reb r ON s.doc_id = r.doc_id""".strip()

    sqls["kg_characteristic_sets"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + """,
pe AS (SELECT DISTINCT subject, predicate, object FROM triples),
per AS (
  SELECT subject,
         array_to_string(list_sort(list(DISTINCT predicate)), ',')
           AS char_set,
         CAST(count(*) AS BIGINT) AS n_triples
  FROM pe GROUP BY subject)
SELECT char_set, CAST(count(*) AS BIGINT) AS n_subjects,
       CAST(sum(n_triples) AS BIGINT) AS n_triples,
       round(CAST(sum(n_triples) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_fanout
FROM per GROUP BY char_set""")

    sqls["event_engagement"] = """
WITH ud AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
cover AS (
  SELECT DISTINCT CAST(unnest(generate_series(CAST(day AS TIMESTAMP), CAST(day + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
           AS day, user_id
  FROM ud),
wau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS wau FROM cover GROUP BY day)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
       round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6)
         AS stickiness
FROM dau d JOIN wau w ON d.day = w.day""".strip()

    from .operators.content_stats import RFM_BINS
    sqls["user_rfm_segments"] = f"""
WITH per AS (
  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id),
mx AS (SELECT max(last_day) AS max_day, CAST(count(*) AS BIGINT) AS n
       FROM per),
rec AS (
  SELECT user_id, frequency, cents,
         CAST(date_diff('day', last_day, max_day) AS BIGINT) AS recency,
         n
  FROM per CROSS JOIN mx),
rk AS (
  SELECT *,
    CAST(ceil({RFM_BINS} * row_number()
         OVER (ORDER BY recency ASC, user_id ASC) / n) AS INT) AS r_q,
    CAST(ceil({RFM_BINS} * row_number()
         OVER (ORDER BY frequency DESC, user_id ASC) / n) AS INT) AS f_q,
    CAST(ceil({RFM_BINS} * row_number()
         OVER (ORDER BY cents DESC, user_id ASC) / n) AS INT) AS m_q
  FROM rec)
SELECT user_id, recency, frequency,
       round(cents / 100.0, 2) AS monetary, r_q, f_q, m_q,
       CASE WHEN r_q <= 2 AND f_q <= 2 AND m_q <= 2 THEN 'champion'
            WHEN r_q <= 2 AND f_q <= 3 THEN 'loyal'
            WHEN r_q >= 4 AND f_q >= 4 THEN 'hibernating'
            WHEN r_q >= 4 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM rk""".strip()


    from .operators.curation import CONTRASTIVE_BUCKETS
    _b = CONTRASTIVE_BUCKETS
    _bk = ("CAST(concat('0x', substr(md5(CAST({x} AS VARCHAR)), 1, 8))"
           " AS BIGINT) % " + str(_b))
    sqls["doc_contrastive_pairs"] = (
        f"WITH {_minhash_pair_ctes()},\n" + f"""
dh AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx,
         {_bk.format(x='doc_id')} AS bucket
  FROM adoc),
cnd AS (
  SELECT bucket, list(doc_id ORDER BY hx, doc_id)[1:3] AS cands
  FROM dh GROUP BY bucket),
tb AS (
  SELECT a, b, jaccard,
         CAST(concat('0x', substr(md5(CAST(a AS VARCHAR) || ':' ||
              CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % {_b} AS bucket
  FROM pairs),
trip AS (
  SELECT a AS anchor, b AS positive,
         list_filter(cands, x -> x <> a AND x <> b)[1] AS negative,
         jaccard
  FROM tb JOIN cnd USING (bucket))
SELECT anchor, positive, negative, jaccard
FROM trip WHERE negative IS NOT NULL""".strip())

    from .ontology_data import SEMANTIC_RULES
    vrows = []
    for pred, prs in sorted(SEMANTIC_RULES.items()):
        for s_t in sorted({s for s, _ in prs}):
            vrows.append(f"('{pred}', 's', '{s_t}')")
        for o_t in sorted({o for _, o in prs}):
            vrows.append(f"('{pred}', 'o', '{o_t}')")
    _vdim = ", ".join(vrows)
    sqls["kg_type_inference"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
pe AS (SELECT subject, predicate, object FROM (
         SELECT DISTINCT subject, predicate, object, subject_type,
                object_type, object_datatype, object_language
         FROM triples)),
vdim AS (SELECT * FROM (VALUES {_vdim}) v(predicate, role, vtype)),
ends AS (
  SELECT DISTINCT entity, predicate, role FROM (
    SELECT subject AS entity, predicate, 's' AS role FROM pe
    UNION ALL
    SELECT object AS entity, predicate, 'o' AS role FROM pe)),
m AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_contexts
      FROM ends GROUP BY entity),
kk AS (
  SELECT entity, vtype, CAST(count(*) AS BIGINT) AS k
  FROM ends JOIN vdim USING (predicate, role)
  GROUP BY 1, 2),
bk AS (SELECT entity, max(k) AS k FROM kk GROUP BY entity),
inf AS (
  SELECT c.entity, min(c.vtype) AS inferred_type
  FROM kk c JOIN bk ON c.entity = bk.entity AND c.k = bk.k
  GROUP BY c.entity),
cand AS (
  SELECT kk.entity, CAST(count(*) AS BIGINT) AS n_candidates
  FROM kk JOIN m ON kk.entity = m.entity AND kk.k = m.n_contexts
  GROUP BY kk.entity)
SELECT i.entity, i.inferred_type, m.n_contexts,
       coalesce(cand.n_candidates, 0) AS n_candidates,
       split_part(i.entity, ':', 1) AS actual_prefix,
       i.inferred_type = split_part(i.entity, ':', 1) AS correct
FROM inf i JOIN m ON i.entity = m.entity
LEFT JOIN cand ON i.entity = cand.entity""")

    # Recursive-CTE fold (the holt pattern): s_1 = x_1,
    # s_t = (x_t + s_{t-1}) / 2 — the same IEEE sequence Spark's
    # aggregate() fold runs, with no BIGINT-shift magnitude limit
    # (the previous closed form overflowed past ~62 days per type).
    sqls["event_ses_forecast"] = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, day, n,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k
  FROM daily),
rec(event_type, k, s) AS (
  SELECT event_type, CAST(1 AS BIGINT), CAST(n AS DOUBLE)
  FROM idx WHERE k = 1
  UNION ALL
  SELECT r.event_type, r.k + 1, (CAST(i.n AS DOUBLE) + r.s) / 2.0
  FROM rec r JOIN idx i ON i.event_type = r.event_type
                       AND i.k = r.k + 1)
SELECT i.event_type, strftime(i.day, '%Y-%m-%d') AS day, i.n,
       round(r.s, 6) AS smoothed
FROM idx i JOIN rec r ON r.event_type = i.event_type AND r.k = i.k""".strip()

    from .operators.textops import (
        BIGRAM_LAMBDA, DSIR_BUCKETS, DSIR_TOP_K,
    )
    sqls["doc_dsir_select"] = f"""
WITH {tok_cte('documents')},
ex AS (
  SELECT doc_id,
         CAST(substr(source, 4) AS INT) % 5 = 0 AS tgt,
         unnest(toks) AS tok
  FROM (SELECT doc_id, source, toks FROM tok
        JOIN documents USING (doc_id, text))),
per AS (
  SELECT doc_id, tgt,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS b,
         count(*) AS cnt
  FROM ex GROUP BY 1, 2, 3),
dim AS (
  SELECT b, sum(cnt) AS braw,
         sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS btgt
  FROM per GROUP BY 1),
tot AS (
  SELECT CAST(sum(braw) AS DOUBLE) AS t_raw,
         CAST(sum(btgt) AS DOUBLE) AS t_tgt
  FROM dim),
scored AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         round(sum(cnt * (ln(btgt + 1.0) - ln(braw + 1.0)
                          + ln(t_raw + {DSIR_BUCKETS})
                          - ln(t_tgt + {DSIR_BUCKETS}))), 6) AS logratio
  FROM per JOIN dim USING (b), tot
  GROUP BY 1),
rk AS (
  SELECT *, CAST(row_number() OVER (ORDER BY logratio DESC, doc_id ASC)
                 AS BIGINT) AS rank
  FROM scored)
SELECT doc_id, n_tokens, logratio, rank,
       rank <= {DSIR_TOP_K} AS selected
FROM rk""".strip()

    sqls["doc_bigram_logloss"] = f"""
WITH {tok_cte('documents')},
bg AS (
  SELECT doc_id, unnest(toks[1:len(toks) - 1]) AS prev,
         unnest(toks[2:len(toks)]) AS cur
  FROM tok WHERE len(toks) >= 2),
bc AS (SELECT prev, cur, count(*) AS cbc FROM bg GROUP BY 1, 2),
cx AS (SELECT prev, count(*) AS cprev FROM bg GROUP BY 1),
ex AS (SELECT unnest(toks) AS t FROM tok),
uni AS (SELECT t, count(*) AS tf FROM ex GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM ex)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-avg(ln({BIGRAM_LAMBDA} * cbc / cprev
                     + {1.0 - BIGRAM_LAMBDA} * tf / n_total)),
             6) AS cross_entropy
FROM bg JOIN bc USING (prev, cur) JOIN cx USING (prev)
     JOIN uni ON uni.t = bg.cur, tot
GROUP BY 1""".strip()

    sqls["event_benford"] = """
WITH obs AS (
  SELECT event_type,
         CAST(substr(CAST(CAST(abs(round(value * 100)) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM events
  WHERE CAST(abs(round(value * 100)) AS BIGINT) > 0
  GROUP BY 1, 2),
grid AS (
  SELECT t.event_type, d.digit, coalesce(o.n_obs, 0) AS n_obs
  FROM (SELECT DISTINCT event_type FROM obs) t
  CROSS JOIN (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS digit) d
  LEFT JOIN obs o USING (event_type, digit)),
tot AS (
  SELECT event_type, CAST(sum(n_obs) AS DOUBLE) AS n_total
  FROM grid GROUP BY 1),
per AS (
  SELECT g.event_type, g.digit, g.n_obs, t.n_total,
         ln(1.0 + 1.0 / g.digit) / ln(10.0) AS exp_frac
  FROM grid g JOIN tot t USING (event_type)),
chi AS (
  SELECT event_type,
         round(sum(pow(n_obs - n_total * exp_frac, 2)
                   / (n_total * exp_frac)), 6) AS chi_square
  FROM per GROUP BY 1)
SELECT per.event_type, digit, n_obs,
       round(n_obs / n_total, 6) AS obs_frac,
       round(exp_frac, 6) AS exp_frac, chi_square
FROM per JOIN chi USING (event_type)""".strip()

    from .operators.olap import SALT_FACTOR, SALT_PARTITIONS
    _hp = ("CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT) % "
           + str(SALT_PARTITIONS))
    _hs = ("CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT) % "
           + str(SALT_FACTOR))
    _salt_leg = """
  SELECT '{name}' AS layout,
         CAST(count(*) AS BIGINT) AS n_parts_used,
         CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(max(n) AS BIGINT) AS max_rows,
         round(avg(n), 6) AS mean_rows,
         round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS max_share,
         round(max(n) / avg(n), 6) AS skew_ratio
  FROM (SELECT {part} AS part, count(*) AS n FROM keyed GROUP BY 1) p"""
    sqls["triple_salt_audit"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
pe AS (
  SELECT subject,
         subject || '|' || predicate || '|' || object AS rid
  FROM (
    SELECT subject, predicate, object, subject_type, object_type,
           object_datatype, object_language,
           max(confidence) AS confidence, count(*) AS support
    FROM triples GROUP BY 1,2,3,4,5,6,7) d),
keyed AS (
  SELECT subject,
         subject || ':' || CAST({_hs.format(x='rid')} AS VARCHAR)
           AS salted_key
  FROM pe)
{_salt_leg.format(name='unsalted', part=_hp.format(x='subject'))}
UNION ALL
{_salt_leg.format(name='salted', part=_hp.format(x='salted_key'))}""")

    sqls["doc_ccnet_buckets"] = """
WITH tokc AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents),
tok2 AS (SELECT doc_id, lang, unnest(toks) AS t FROM tokc),
counts AS (SELECT lang, t, count(*) AS tf FROM tok2 GROUP BY 1, 2),
totals AS (SELECT lang, CAST(sum(tf) AS DOUBLE) AS total
           FROM counts GROUP BY 1),
scored AS (
  SELECT doc_id, tok2.lang, CAST(count(*) AS BIGINT) AS n_tokens,
         round(-avg(ln(counts.tf / totals.total)), 6) AS cross_entropy
  FROM tok2 JOIN counts USING (lang, t) JOIN totals USING (lang)
  GROUP BY 1, 2),
tiled AS (
  SELECT *, ntile(3) OVER (
    PARTITION BY lang ORDER BY cross_entropy, doc_id) AS tier
  FROM scored)
SELECT doc_id, lang, n_tokens, cross_entropy, CAST(tier AS INT) AS tier,
       CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM tiled""".strip()

    from .decorations import delayed_arrivals_sql
    from .operators.olap import WATERMARK_LEVELS_S
    _wlo, _whi = WATERMARK_LEVELS_S
    sqls["event_watermark_audit"] = f"""
WITH {delayed_arrivals_sql()},
l AS (
  SELECT event_type, epoch_us(ts) AS us,
         max(epoch_us(ts)) OVER (
           ORDER BY arrival_seq, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
  FROM arr),
x AS (SELECT event_type,
             greatest(0, coalesce(hwm, -1) - us) AS late FROM l)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(sum(CASE WHEN late > {_wlo} * CAST(1000000 AS BIGINT) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_{_wlo}s,
       CAST(sum(CASE WHEN late > {_whi} * CAST(1000000 AS BIGINT) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_{_whi}s,
       CAST(floor(max(late) / 1000000.0) AS BIGINT) AS max_lateness_s
FROM x GROUP BY 1""".strip()

    from .operators.relations import PLAUS_MIN_N, PLAUS_SIGMA, TRANSE_DIMS

    def _emb(x: str, c: int) -> str:
        return (f"((CAST(concat('0x', substr(md5({x} || ':{c}'), 1, 8)) "
                f"AS BIGINT) % 2000) / 1000.0 - 1.0)")

    _energy = " + ".join(
        f"abs({_emb('subject', c)} + {_emb('predicate', c)} "
        f"- {_emb('object', c)})" for c in range(TRANSE_DIMS))
    sqls["kg_triple_plausibility"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f""",
pe AS (
  SELECT subject, predicate, object,
         round({_energy}, 6) AS energy
  FROM (
    SELECT subject, predicate, object, subject_type, object_type,
           object_datatype, object_language,
           max(confidence) AS confidence, count(*) AS support
    FROM triples GROUP BY 1,2,3,4,5,6,7) d),
st AS (
  SELECT predicate, count(*) AS n, avg(energy) AS mean_e,
         stddev_samp(energy) AS std_e
  FROM pe GROUP BY 1
  HAVING count(*) >= {PLAUS_MIN_N} AND stddev_samp(energy) > 0),
zz AS (
  SELECT pe.subject, pe.predicate, pe.object, pe.energy,
         round((pe.energy - st.mean_e) / st.std_e, 4) AS z
  FROM pe JOIN st USING (predicate))
SELECT subject, predicate, object, energy, z,
       abs(z) > {PLAUS_SIGMA} AS implausible
FROM zz""")

    return sqls


def _round3b_sqls() -> dict[str, str]:
    """DuckDB twins for the round-3 additions: NegEx-lite negation
    scoping (operators/ner.negation_flags), edit-distance typo
    blocking (entity_resolution.typo_candidate_pairs),
    difference-in-differences (content_stats.did_estimate) and the
    Efraimidis-Spirakis weighted reservoir sample
    (textops.weighted_reservoir_sample)."""
    from . import decorations as DE
    from .operators.content_stats import DID_CUTOVER_DAY
    from .operators.entity_resolution import TYPO_MAX_DIST, TYPO_PREFIX
    from .operators.ner import negation_pattern
    from .operators.textops import WS_K, WS_SEED
    sqls: dict[str, str] = {}

    pat = ner_pattern()
    sqls["ner_negation"] = (
        corpus_prefix() + ",\n" + DE.negation_decorated_sql() + f""",
men AS (
  SELECT DISTINCT doc_id, surface FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), {_q(pat)}, 1)) AS surface
    FROM ntexts) t),
neg AS (
  SELECT DISTINCT doc_id, surface FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text),
                                     {_q(negation_pattern())}, 1)) AS surface
    FROM ntexts) t)
SELECT m.doc_id, m.surface, (n.surface IS NOT NULL) AS negated
FROM men m
LEFT JOIN neg n ON n.doc_id = m.doc_id AND n.surface = m.surface""")

    sqls["er_typo_candidates"] = (
        "WITH " + terms_cte() + ",\n" + DE.typo_terms_sql() + f""",
n AS (SELECT id, lower(trim(name)) AS name FROM tn)
SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM n a JOIN n b
  ON substr(a.name, 1, {TYPO_PREFIX}) = substr(b.name, 1, {TYPO_PREFIX})
 AND a.name < b.name
WHERE abs(length(a.name) - length(b.name)) <= {TYPO_MAX_DIST}
  AND levenshtein(a.name, b.name) BETWEEN 1 AND {TYPO_MAX_DIST}""")

    def _cell(t: str, p: str) -> str:
        return (f"avg(CASE WHEN {t} t AND {p} p THEN value END)")

    _did = (f"({_cell('', '')} - {_cell('', 'NOT')})"
            f" - ({_cell('NOT', '')} - {_cell('NOT', 'NOT')})")
    sqls["event_did"] = f"""
WITH c AS (
  SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 = 0 AS t,
         date_part('day', ts) >= {DID_CUTOVER_DAY} AS p,
         value
  FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       round({_cell('NOT', 'NOT')}, 6) AS ctrl_pre,
       round({_cell('NOT', '')}, 6) AS ctrl_post,
       round({_cell('', 'NOT')}, 6) AS treat_pre,
       round({_cell('', '')}, 6) AS treat_post,
       round({_did}, 6) AS did
FROM c""".strip()

    sqls["doc_weighted_sample"] = f"""
WITH keyed AS (
  SELECT doc_id, lang,
         pow((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                                           || '{WS_SEED}'), 1, 6))
                   AS BIGINT) + 0.5) / 16777216.0,
             1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS k
  FROM documents),
r AS (
  SELECT doc_id, lang, k,
         row_number() OVER (PARTITION BY lang
                            ORDER BY k DESC, doc_id) AS rank
  FROM keyed)
SELECT doc_id, lang, CAST(rank AS INT) AS rank, round(k, 6) AS "key"
FROM r WHERE rank <= {WS_K}""".strip()

    from .operators.relational import (LATE_DAYS, Q4_FROM, Q4_TO, Q21_TOP_N)
    sqls["tpch_q4_priority_check"] = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS DATE) >= DATE '{Q4_FROM}'
  AND CAST(o_orderdate AS DATE) < DATE '{Q4_TO}'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE)
          > CAST(o.o_orderdate AS DATE) + {LATE_DAYS})
GROUP BY 1""".strip()

    sqls["tpch_q21_waiting_suppliers"] = f"""
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE)
         > CAST(o_orderdate AS DATE) + {LATE_DAYS} AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END)
         AS n_late_supp
  FROM l GROUP BY 1),
blamed AS (
  SELECT l_orderkey FROM per_order
  WHERE n_supp >= 2 AND n_late_supp = 1),
waits AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
  FROM (SELECT DISTINCT l_orderkey, l_suppkey
        FROM l JOIN blamed USING (l_orderkey) WHERE late) d
  GROUP BY 1)
SELECT CAST(l_suppkey AS BIGINT) AS suppkey, s_name, numwait
FROM waits JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, suppkey ASC
LIMIT {Q21_TOP_N}""".strip()

    from .operators.content_stats import HOLT_HORIZONS
    _fcs = ",\n       ".join(
        f"round(l + {h}.0 * b, 6) AS fc_{h}" for h in HOLT_HORIZONS)
    sqls["event_holt_forecast"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS k,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM daily),
rec(event_type, k, l, b) AS (
  SELECT event_type, 1, n, CAST(0.0 AS DOUBLE) FROM idx WHERE k = 1
  UNION ALL
  SELECT r.event_type, r.k + 1,
         (i.n + r.l + r.b) / 2.0,
         (((i.n + r.l + r.b) / 2.0) - r.l + r.b) / 2.0
  FROM rec r JOIN idx i ON i.event_type = r.event_type
                       AND i.k = r.k + 1)
SELECT r.event_type, CAST(d.nd AS INT) AS n_days,
       round(l, 6) AS level, round(b, 6) AS trend,
       {_fcs}
FROM rec r
JOIN (SELECT DISTINCT event_type, nd FROM idx) d
  ON d.event_type = r.event_type
WHERE r.k = d.nd""".strip()

    from .operators.graphops import DIA_ROUNDS
    _dund = """,
und AS (SELECT DISTINCT least(subject, object) AS src,
               greatest(subject, object) AS dst
        FROM triples
        WHERE subject_type = 'uri' AND object_type = 'uri'
          AND subject <> object),
sym AS (SELECT src, dst FROM und
        UNION ALL SELECT dst, src FROM und)"""

    def _dia_bfs(tag: str, rounds: int) -> str:
        out = ""
        for i in range(1, rounds + 1):
            out += f""",
{tag}{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {tag}{i - 1}
    UNION ALL
    SELECT sym.dst AS node, p.dist + 1 AS dist
    FROM {tag}{i - 1} p JOIN sym ON sym.src = p.node
  ) GROUP BY 1)"""
        return out

    sqls["kg_diameter"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + _dund + f""",
sd AS MATERIALIZED (SELECT node FROM (SELECT min(src) AS node FROM sym)
                    WHERE node IS NOT NULL),
a0 AS MATERIALIZED (SELECT node, 0 AS dist FROM sd){_dia_bfs('a', DIA_ROUNDS)},
f1 AS MATERIALIZED (
  SELECT min(node) AS node, max(dist) AS ecc FROM a{DIA_ROUNDS}
  WHERE dist = (SELECT max(dist) FROM a{DIA_ROUNDS})),
b0 AS MATERIALIZED (SELECT node, 0 AS dist FROM f1){_dia_bfs('b', DIA_ROUNDS)},
f2 AS MATERIALIZED (
  SELECT min(node) AS node, max(dist) AS ecc FROM b{DIA_ROUNDS}
  WHERE dist = (SELECT max(dist) FROM b{DIA_ROUNDS})),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_reached FROM b{DIA_ROUNDS})
SELECT sd.node AS seed, f1.node AS sweep1_far,
       CAST(f1.ecc AS INT) AS ecc_seed,
       f2.node AS sweep2_far, CAST(f2.ecc AS INT) AS diameter_lb,
       st.n_reached
FROM sd, f1, f2, st""")

    from .operators.graphops import DESCRIBE_PREFIX
    sqls["kg_describe"] = (
        corpus_prefix(gaz_cte(), link_cte(), triples_cte()) + f"""
SELECT DISTINCT subject AS resource, 'subject' AS role,
       subject, predicate, object
FROM triples WHERE subject LIKE '{DESCRIBE_PREFIX}%'
UNION
SELECT DISTINCT object AS resource, 'object' AS role,
       subject, predicate, object
FROM triples WHERE object LIKE '{DESCRIBE_PREFIX}%'""")

    from .operators.content_stats import (POWER_MDE_REL, POWER_Z_ALPHA,
                                          POWER_Z_BETA)
    _z2 = (POWER_Z_ALPHA + POWER_Z_BETA) ** 2
    _narm = (f"ceil(2.0 * {_z2!r} * var_samp(value)"
             f" / nullif(({POWER_MDE_REL!r} * avg(value))"
             f" * ({POWER_MDE_REL!r} * avg(value)), 0))")
    sqls["event_power_analysis"] = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_obs,
       round(avg(value), 6) AS mean_value,
       round(var_samp(value), 6) AS var_value,
       CAST({_narm} AS BIGINT) AS n_per_arm,
       CAST(ceil(2.0 * CAST({_narm} AS BIGINT)
                 / (count(*) / CAST(count(DISTINCT CAST(ts AS DATE))
                                    AS DOUBLE))) AS BIGINT)
       AS days_to_power
FROM events GROUP BY 1""".strip()

    from .operators.content_stats import WINSOR_HI, WINSOR_LO
    sqls["event_winsorized"] = f"""
WITH rk AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
th AS (
  SELECT event_type,
         max(CASE WHEN r = ceil({WINSOR_LO!r} * n) THEN value END)
         AS p_lo,
         max(CASE WHEN r = ceil({WINSOR_HI!r} * n) THEN value END)
         AS p_hi
  FROM rk GROUP BY 1)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(p_lo), 6) AS p_lo,
       round(max(p_hi), 6) AS p_hi,
       round(avg(e.value), 6) AS mean_raw,
       round(avg(greatest(least(e.value, p_hi), p_lo)), 6)
       AS mean_winsorized,
       CAST(sum(CASE WHEN e.value < p_lo THEN 1 ELSE 0 END) AS BIGINT)
       AS n_clipped_lo,
       CAST(sum(CASE WHEN e.value > p_hi THEN 1 ELSE 0 END) AS BIGINT)
       AS n_clipped_hi
FROM events e JOIN th USING (event_type)
GROUP BY 1""".strip()

    from .operators import similarity as SIM2

    def _rel(t: str, i: int) -> str:
        return f"CAST({t}.embedding[{i + 1}] AS DOUBLE)"

    _rn2 = " + ".join(f"{_rel('e', i)} * {_rel('e', i)}"
                      for i in range(SIM2.DIM))
    _rdot = " + ".join(
        f"CAST(q.q_emb[{i + 1}] AS DOUBLE) * {_rel('v', i)}"
        for i in range(SIM2.DIM))
    sqls["ann_range_search"] = f"""
WITH vn AS (
  SELECT e.vec_id, e.embedding, ({_rn2}) AS n2 FROM embeddings e),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb, n2 AS qn2
  FROM vn WHERE vec_id < {SIM2.N_QUERIES}),
pairs AS (
  SELECT q.q_id, v.vec_id AS neighbor_id, ({_rdot}) AS dot,
         q.qn2, v.n2 AS vn2
  FROM vn v JOIN q ON v.vec_id <> q.q_id)
SELECT q_id, neighbor_id, round(dot / sqrt(qn2 * vn2), 6) AS score
FROM pairs WHERE dot / sqrt(qn2 * vn2) >= {SIM2.RANGE_TAU}""".strip()

    # Shares event_ses_forecast's recursive fold (no BIGINT-shift
    # overflow past 62 days), then lags the rounded published series.
    sqls["event_ses_backtest"] = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT event_type, day, n,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k
  FROM daily),
rec(event_type, k, s) AS (
  SELECT event_type, CAST(1 AS BIGINT), CAST(n AS DOUBLE)
  FROM idx WHERE k = 1
  UNION ALL
  SELECT r.event_type, r.k + 1, (CAST(i.n AS DOUBLE) + r.s) / 2.0
  FROM rec r JOIN idx i ON i.event_type = r.event_type
                       AND i.k = r.k + 1),
sm AS (
  SELECT i.event_type, i.day, i.n AS n, round(r.s, 6) AS smoothed
  FROM idx i JOIN rec r ON r.event_type = i.event_type
                       AND r.k = i.k),
lg AS (
  SELECT event_type, n,
         lag(smoothed) OVER (PARTITION BY event_type ORDER BY day)
         AS fc,
         lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
  FROM sm)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
       round(avg(abs(n - fc)), 6) AS mae,
       round(sqrt(avg((n - fc) * (n - fc))), 6) AS rmse,
       round(avg(abs(CAST(n - prev_n AS DOUBLE))), 6) AS mae_naive,
       round(avg(abs(n - fc))
             / nullif(avg(abs(CAST(n - prev_n AS DOUBLE))), 0), 6)
       AS skill
FROM lg WHERE fc IS NOT NULL GROUP BY 1""".strip()

    from .operators.content_stats import (DP_EPSILON, DP_SEED, HIST_BINS)
    sqls["event_histogram"] = f"""
WITH rng AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM events GROUP BY 1),
binned AS (
  SELECT e.event_type, r.lo, r.hi,
         CASE WHEN r.hi = r.lo THEN 0
              ELSE least(CAST(floor((e.value - r.lo)
                               / ((r.hi - r.lo) / {float(HIST_BINS)}))
                         AS INT), {HIST_BINS - 1}) END AS bin
  FROM events e JOIN rng r ON r.event_type = e.event_type)
SELECT event_type, CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(min(lo) + bin * (min(hi) - min(lo)) / {float(HIST_BINS)},
             6) AS bin_lo
FROM binned GROUP BY event_type, bin""".strip()

    _udp = (f"((CAST(concat('0x', substr(md5(event_type || '{DP_SEED}'),"
            f" 1, 6)) AS BIGINT) + 0.5) / 16777216.0 - 0.5)")
    _noise = (f"(-1.0 / {DP_EPSILON!r}) * sign({_udp})"
              f" * ln(1.0 - 2.0 * abs({_udp}))")
    sqls["event_dp_counts"] = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS true_n,
       round({_noise}, 6) AS noise,
       round(count(*) + {_noise}, 6) AS released_n
FROM events GROUP BY 1""".strip()

    from .operators.textops import BPE_APPLY_K
    _mcols = ", ".join(
        f"max(CASE WHEN r = {i} THEN pair END) AS m{i}"
        for i in range(1, BPE_APPLY_K + 1))
    _sp = ("' ' || array_to_string(list_transform("
           "range(1, length(w) + 1), i -> substring(w, i, 1)), ' ')"
           " || ' '")
    for _i in range(1, BPE_APPLY_K + 1):
        _sp = (f"replace({_sp}, ' ' || substring(m{_i}, 1, 1) || ' '"
               f" || substring(m{_i}, 2, 1) || ' ',"
               f" ' ' || m{_i} || ' ')")
    sqls["doc_bpe_apply"] = f"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents),
wc AS (
  SELECT w, count(*) AS freq FROM words
  WHERE length(w) >= 2 GROUP BY 1),
grams AS (
  SELECT freq,
         unnest(list_transform(range(1, length(w)),
                               i -> substring(w, i, 2))) AS pair
  FROM wc),
pairs AS (SELECT pair, sum(freq) AS n FROM grams GROUP BY 1),
mr AS (
  SELECT pair, row_number() OVER (ORDER BY n DESC, pair ASC) AS r
  FROM pairs),
mdim AS (SELECT {_mcols} FROM mr WHERE r <= {BPE_APPLY_K}),
appl AS (SELECT freq, w, {_sp} AS sp FROM wc, mdim),
counted AS (
  SELECT freq, w,
         length(string_split_regex(trim(sp), ' +')) AS n_sym
  FROM appl)
SELECT CAST(sum(freq) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(freq * length(w)) AS BIGINT) AS syms_before,
       CAST(sum(freq * n_sym) AS BIGINT) AS syms_after,
       round(CAST(sum(freq * length(w)) AS DOUBLE)
             / sum(freq * n_sym), 6) AS compression,
       (SELECT string_agg(lpad(CAST(r AS VARCHAR), 2, '0')
                          || ':' || pair, ',' ORDER BY r)
        FROM mr WHERE r <= {BPE_APPLY_K}) AS merges
FROM counted""".strip()

    import math as _m
    from .operators.content_stats import (BANDIT_THRESHOLD, SPRT_ALPHA,
                                          SPRT_BETA, SPRT_P0, SPRT_P1)
    _ls = _m.log(SPRT_P1 / SPRT_P0)
    _lf = _m.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    _hi = _m.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    _lo = _m.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    sqls["event_sprt"] = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
         sum(CASE WHEN value >= {BANDIT_THRESHOLD!r} THEN 1 ELSE 0 END)
         AS s
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, day, n, s,
         sum(s * {_ls!r} + (n - s) * {_lf!r})
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS llr
  FROM daily)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       round(llr, 6) AS llr,
       CASE WHEN llr >= {_hi!r} THEN 'accept_h1'
            WHEN llr <= {_lo!r} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum""".strip()

    from .operators.content_stats import MAD_CONSISTENCY, MAD_SIGMA
    sqls["event_outliers_mad"] = f"""
WITH rk AS (
  SELECT event_type, value, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
med AS (
  SELECT event_type,
         max(CASE WHEN r = ceil(n / 2.0) THEN value END) AS med
  FROM rk GROUP BY 1),
dev AS (
  SELECT e.event_type, e.event_id, e.value, m.med,
         abs(e.value - m.med) AS ad
  FROM events e JOIN med m ON m.event_type = e.event_type),
rk2 AS (
  SELECT event_type, ad,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ad, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev),
mad AS (
  SELECT event_type,
         max(CASE WHEN r = ceil(n / 2.0) THEN ad END) AS mad
  FROM rk2 GROUP BY 1)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(d.med), 6) AS median,
       round(max(m.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.ad / nullif({MAD_CONSISTENCY!r} * m.mad, 0)
                          > {MAD_SIGMA!r} THEN 1 ELSE 0 END) AS BIGINT)
       AS n_outliers,
       round(max(d.ad / nullif({MAD_CONSISTENCY!r} * m.mad, 0)), 6)
       AS max_modified_z
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY 1""".strip()

    # ---- full-grammar RDF parse round-trips (rdf_full.py) ----------------
    # Expected 7-tuple triples re-derived relationally from the terms
    # dimension, independent of the serializer + parser under test.
    from .operators.rdf_full import OWL_NS, RDF_NS, RDFS_NS, XSD_NS
    _u = "'urn:graft#' || replace(id, ':', '_')"
    _pu = "'urn:graft#' || replace(parent, ':', '_')"
    _nv = "CAST(NULL AS VARCHAR)"
    _k0 = "CASE WHEN xref1 IS NOT NULL THEN 1 ELSE 0 END"

    def _t7(subj, pred, obj, st, ot, dt=_nv, lang=_nv, where=""):
        return (f"SELECT id AS src_id, {subj} AS subject,"
                f" {pred} AS predicate, {obj} AS object,"
                f" {st} AS subject_type, {ot} AS object_type,"
                f" {dt} AS object_datatype, {lang} AS object_language"
                f" FROM terms_r{(' WHERE ' + where) if where else ''}")

    _common_arms = [
        _t7(_u, f"'{RDF_NS}type'", f"'{OWL_NS}Class'", "'uri'", "'uri'"),
        _t7(_u, f"'{RDFS_NS}label'", "name", "'uri'", "'literal'",
            lang="'en'"),
        _t7(_u, "'urn:obo#idnum'", r"regexp_extract(id, '(\d+)$', 1)",
            "'uri'", "'literal'", dt=f"'{XSD_NS}integer'"),
        _t7(_u, f"'{RDFS_NS}subClassOf'", _pu, "'uri'", "'uri'",
            where="parent IS NOT NULL"),
        _t7(_u, "'urn:obo#xref'", "'_:' || id || '.g0'", "'uri'",
            "'bnode'", where="xref1 IS NOT NULL"),
        _t7("'_:' || id || '.g0'", "'urn:obo#src'", "xref1", "'bnode'",
            "'literal'", where="xref1 IS NOT NULL"),
    ]

    def _cell(off: str) -> str:
        return f"'_:' || id || '.g' || (({_k0}) + {off})"

    _ttl_arms = _common_arms + [
        _t7(_u, "'urn:obo#definition'",
            "regexp_replace(definition, '^synthetic ([a-z]+) term ',"
            " 'synthetic \\1' || chr(10) || 'term ')",
            "'uri'", "'literal'"),
        _t7(_u, "'urn:obo#obsolete'",
            "CASE WHEN is_obsolete THEN 'true' ELSE 'false' END",
            "'uri'", "'literal'", dt=f"'{XSD_NS}boolean'"),
        _t7(_u, "'urn:obo#note'", "'quote \" ok'", "'uri'", "'literal'"),
        # ',' object list -> one row per synonym
        "SELECT id AS src_id, " + _u + " AS subject,"
        " 'urn:obo#synonym' AS predicate, unnest(string_split(syns, ';'))"
        " AS object, 'uri' AS subject_type, 'literal' AS object_type,"
        f" {_nv} AS object_datatype, {_nv} AS object_language"
        " FROM terms_r WHERE syns <> ''",
        # keys collection: two cells
        _t7(_u, "'urn:obo#keys'", _cell("0"), "'uri'", "'bnode'"),
        _t7(_cell("0"), f"'{RDF_NS}first'", "id", "'bnode'", "'literal'"),
        _t7(_cell("0"), f"'{RDF_NS}rest'", _cell("1"), "'bnode'",
            "'bnode'"),
        _t7(_cell("1"), f"'{RDF_NS}first'", "namespace", "'bnode'",
            "'literal'"),
        _t7(_cell("1"), f"'{RDF_NS}rest'", f"'{RDF_NS}nil'", "'bnode'",
            "'uri'"),
        # alts collection: one cell or rdf:nil
        _t7(_u, "'urn:obo#alts'", _cell("2"), "'uri'", "'bnode'",
            where="alt1 IS NOT NULL"),
        _t7(_cell("2"), f"'{RDF_NS}first'", "alt1", "'bnode'",
            "'literal'", where="alt1 IS NOT NULL"),
        _t7(_cell("2"), f"'{RDF_NS}rest'", f"'{RDF_NS}nil'", "'bnode'",
            "'uri'", where="alt1 IS NOT NULL"),
        _t7(_u, "'urn:obo#alts'", f"'{RDF_NS}nil'", "'uri'", "'uri'",
            where="alt1 IS NULL"),
        # labeled bnode statement
        _t7("'_:' || id || '.meta'", "'urn:obo#for'", _u, "'bnode'",
            "'uri'"),
    ]
    sqls["turtle_full_parse"] = ("WITH " + terms_rdf_cte() + "\n"
                                 + "\nUNION ALL\n".join(_ttl_arms))
    # the serialize -> reassemble -> reparse identity must reproduce
    # the original parse exactly
    sqls["turtle_full_roundtrip"] = sqls["turtle_full_parse"]

    _xml_arms = _common_arms + [
        _t7(_u, "'urn:obo#ns'", "namespace", "'uri'", "'literal'"),
        # keys Collection: one cell pointing at the k_ node
        _t7(_u, "'urn:obo#keys'", _cell("0"), "'uri'", "'bnode'"),
        _t7(_cell("0"), f"'{RDF_NS}first'",
            "'urn:graft#k_' || replace(id, ':', '_')", "'bnode'",
            "'uri'"),
        _t7(_cell("0"), f"'{RDF_NS}rest'", f"'{RDF_NS}nil'", "'bnode'",
            "'uri'"),
        # nested rdf:Seq node with rdf:li children
        _t7(_cell("1"), f"'{RDF_NS}type'", f"'{RDF_NS}Seq'", "'bnode'",
            "'uri'"),
        _t7(_cell("1"), f"'{RDF_NS}_1'", "id", "'bnode'", "'literal'"),
        _t7(_cell("1"), f"'{RDF_NS}_2'", "namespace", "'bnode'",
            "'literal'"),
        _t7(_u, "'urn:obo#rels'", _cell("1"), "'uri'", "'bnode'"),
        # rdf:nodeID pair
        _t7(_u, "'urn:obo#peer'", "'_:' || id || '.meta'", "'uri'",
            "'bnode'"),
        _t7("'_:' || id || '.meta'", "'urn:obo#note'",
            "'peer of ' || id", "'bnode'", "'literal'"),
    ]
    sqls["rdfxml_full_parse"] = ("WITH " + terms_rdf_cte() + "\n"
                                 + "\nUNION ALL\n".join(_xml_arms))

    # model conversion of the full-grammar parse: fragment strip +
    # is_a rewrite (extract_relationships parsers/__init__.py:3686)
    sqls["rdf_model_relationships"] = "WITH " + terms_rdf_cte() + """
SELECT replace(id, ':', '_') AS subject, 'is_a' AS predicate,
       replace(parent, ':', '_') AS object,
       CAST(1.0 AS DOUBLE) AS confidence
FROM terms_r WHERE parent IS NOT NULL"""

    # ---- error-recovery taxonomy (recovery.py) ---------------------------
    from .operators import recovery as RC

    def _in(col, vals):
        return f"{col} IN ({', '.join(_q(v) for v in vals)})"

    def _like_any(col, words):
        return " OR ".join(f"{col} LIKE '%{w}%'" for w in words)

    _sev = f"""CASE
  WHEN {_in('error_type', RC.FATAL_TYPES)} THEN 'fatal'
  WHEN {_in('error_type', RC.RECOVERABLE_TYPES)} THEN 'recoverable'
  WHEN {_in('error_type', RC.WARNING_TYPES)} THEN 'warning'
  WHEN {_like_any('lower(error_message)', RC.FATAL_INDICATORS)}
    THEN 'fatal'
  WHEN {_like_any('lower(error_message)', RC.RECOVERABLE_INDICATORS)}
    THEN 'recoverable'
  WHEN {_like_any('lower(error_message)', RC.WARNING_INDICATORS)}
    THEN 'warning'
  ELSE 'recoverable' END"""
    _strat = """CASE
  WHEN severity = 'fatal' THEN 'abort'
  WHEN severity = 'warning' THEN 'continue'
  WHEN error_type IN ('SyntaxError', 'ValueError') THEN 'skip'
  WHEN error_type IN ('KeyError', 'AttributeError') THEN 'default'
  WHEN error_type IN ('TimeoutError', 'ConnectionError') THEN 'retry'
  ELSE 'skip' END"""
    _cls_rows = [(str(i + 1), _q(c[0]), _q(c[1]), _q(c[2]))
                 for i, c in enumerate(RC.FAILURE_CLASSES)]
    sqls["parse_recovery"] = ("WITH " + terms_rdf_cte() + ",\n"
                              + _values(_cls_rows, "classes",
                                        ["k", "location", "error_type",
                                         "error_message"]) + rf""",
planted AS (
  SELECT t.id AS src_id, c.location, c.error_type, c.error_message
  FROM terms_r t JOIN classes c
    ON c.k = CAST(regexp_extract(t.id, '(\d+)$', 1) AS INT)
             % {len(RC.FAILURE_CLASSES)} + 1),
sev AS (SELECT *, {_sev} AS severity FROM planted),
st AS (SELECT *, {_strat} AS strategy FROM sev)
SELECT src_id, location, error_type, severity, strategy,
  CASE WHEN strategy = 'default' AND location LIKE '%namespace%'
         THEN {_q(RC.DEFAULT_NAMESPACE[0])}
       WHEN strategy = 'default' AND location LIKE '%term%'
         THEN {_q(RC.DEFAULT_TERM[0])}
       WHEN strategy = 'default' AND location LIKE '%relationship%'
         THEN {_q(RC.DEFAULT_RELATIONSHIP[0])} END AS default_id,
  CASE WHEN strategy = 'default' AND location LIKE '%namespace%'
         THEN {_q(RC.DEFAULT_NAMESPACE[1])}
       WHEN strategy = 'default' AND location LIKE '%term%'
         THEN {_q(RC.DEFAULT_TERM[1])}
       WHEN strategy = 'default' AND location LIKE '%relationship%'
         THEN {_q(RC.DEFAULT_RELATIONSHIP[1])} END AS default_name,
  CASE WHEN strategy = 'default' AND location LIKE '%term%'
         THEN {_q(RC.DEFAULT_TERM[2])}
       WHEN strategy = 'default' AND location LIKE '%relationship%'
         THEN {_q(RC.DEFAULT_RELATIONSHIP[2])} END AS default_extra
FROM st""")

    # validate_owl analog: full-grammar docs all valid (triple count
    # from the serialization contract; the 5 namespaces are constant
    # by construction), planted-defect docs (V:) valid only for the
    # clean class
    sqls["owl_validate"] = "WITH " + terms_rdf_cte() + rf"""
SELECT id AS src_id, 'turtle' AS format, TRUE AS is_valid,
       CAST(13 + CASE WHEN syns <> ''
                      THEN len(string_split(syns, ';')) ELSE 0 END
               + CASE WHEN parent IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN xref1 IS NOT NULL THEN 2 ELSE 0 END
               + CASE WHEN alt1 IS NOT NULL THEN 2 ELSE 0 END
            AS BIGINT) AS n_triples,
       CAST(0 AS BIGINT) AS n_errors, CAST(5 AS INT) AS n_namespaces,
       TRUE AS has_type, TRUE AS has_label, CAST(0 AS INT) AS n_warnings
FROM terms_r
UNION ALL
SELECT 'V:' || id, 'turtle',
       CAST(regexp_extract(id, '(\d+)$', 1) AS INT) % 4 = 2,
       CASE WHEN CAST(regexp_extract(id, '(\d+)$', 1) AS INT) % 4 = 2
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
       CASE WHEN CAST(regexp_extract(id, '(\d+)$', 1) AS INT) % 4 = 2
            THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
       CASE WHEN CAST(regexp_extract(id, '(\d+)$', 1) AS INT) % 4 = 2
            THEN CAST(2 AS INT) ELSE CAST(0 AS INT) END,
       FALSE, FALSE, CAST(2 AS INT)
FROM terms_r"""

    # TriG / N-Quads: quads with the graph provenance column — the
    # three named-graph forms (labeled block, bare default statement,
    # GRAPH keyword + bnode label) re-derived from the dimension
    def _q8(pred, obj, ot, lang, graph):
        return (f"SELECT id AS src_id, {_u} AS subject,"
                f" {pred} AS predicate, {obj} AS object,"
                f" 'uri' AS subject_type, {ot} AS object_type,"
                f" {_nv} AS object_datatype, {lang} AS object_language,"
                f" {graph} AS graph FROM terms_r")

    _gg = "'urn:graft#g_' || ontology_id"
    sqls["trig_parse"] = ("WITH " + terms_rdf_cte() + "\n"
                          + "\nUNION ALL\n".join([
                              _q8(f"'{RDF_NS}type'", f"'{OWL_NS}Class'",
                                  "'uri'", _nv, _gg),
                              _q8(f"'{RDFS_NS}label'", "name",
                                  "'literal'", "'en'", _gg),
                              _q8("'urn:obo#src'", "name", "'literal'",
                                  _nv, _nv),
                              _q8("'urn:obo#note'", "'peer of ' || id",
                                  "'literal'", _nv,
                                  "'_:' || id || '.meta'"),
                          ]))
    # sink -> reassemble -> N-Quads parse must reproduce the quads
    sqls["nquads_roundtrip"] = sqls["trig_parse"]

    # GRAPH-scoped BGP: only the labeled graph block carries the
    # rdf:type assertion (one per term), grouped per graph label
    sqls["kg_graph_bgp"] = "WITH " + terms_rdf_cte() + """
SELECT 'urn:graft#g_' || ontology_id AS graph,
       CAST(count(*) AS BIGINT) AS n_class_assertions,
       CAST(count(DISTINCT 'urn:graft#' || replace(id, ':', '_'))
            AS BIGINT) AS n_subjects
FROM terms_r GROUP BY 1"""

    # reference-pattern media type classification: battery captions by
    # doc number, labels re-derived with the same RE2 regexes and the
    # same first-match-wins order
    from . import decorations as _DE
    from .operators.media import (FIGURE_TYPE_PATTERNS,
                                  TABLE_TYPE_PATTERNS)
    _figs = ", ".join(_q(c) for c in _DE.FIGURE_CAPTION_BATTERY)
    _tabs = ", ".join(_q(c) for c in _DE.TABLE_CAPTION_BATTERY)

    def _type_case(table):
        arms = []
        for label, patterns in table:
            cond = " OR ".join(
                f"regexp_matches(lower(caption), '{p}')"
                for p in patterns)
            arms.append(f"WHEN {cond} THEN '{label}'")
        return "CASE " + " ".join(arms) + " ELSE 'unknown' END"

    sqls["media_type_classify"] = corpus_prefix() + rf"""
, med AS (
  SELECT doc_id, kind, media_ref,
         CAST(regexp_extract(doc_id, '(\d+)$', 1) AS INT) AS d
  FROM spans WHERE kind IN ('figure', 'table') AND media_ref <> ''),
cap AS (
  SELECT doc_id, kind, media_ref,
         CASE WHEN kind = 'figure'
              THEN ([{_figs}])[d % {len(_DE.FIGURE_CAPTION_BATTERY)} + 1]
              ELSE ([{_tabs}])[(d // 4) % {len(_DE.TABLE_CAPTION_BATTERY)} + 1]
         END AS caption
  FROM med)
SELECT doc_id, kind, media_ref, caption,
       CASE WHEN kind = 'figure'
            THEN {_type_case(FIGURE_TYPE_PATTERNS)}
            ELSE {_type_case(TABLE_TYPE_PATTERNS)}
       END AS media_type
FROM cap"""

    # reference text-complexity metrics re-derived with DuckDB list
    # ops + the same case-insensitive pattern families (incl. the
    # reference's avg-sentence denominator: split count WITH the empty
    # tail piece)
    from .operators.textmeta import SCI_DECORATION, SCIENTIFIC_PATTERNS
    _sci_sum = " + ".join(
        f"len(regexp_extract_all(text, {_q(p)}, 0, 'i'))"
        for p in SCIENTIFIC_PATTERNS)
    sqls["doc_text_complexity"] = rf"""
WITH deco AS (
  SELECT doc_id, text || {_q(SCI_DECORATION)} AS text FROM documents),
base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'),
                     w -> w <> '') AS words,
         string_split_regex(text, '[.!?]+') AS pieces
  FROM deco),
agg AS (
  SELECT doc_id,
         len(words) AS wc,
         len(list_filter(pieces, s -> trim(s) <> '')) AS sc,
         len(pieces) AS np,
         len(list_distinct(list_transform(words,
                                          w -> lower(w)))) AS uw,
         CAST(list_sum(list_transform(words, w -> length(w)))
              AS DOUBLE) AS wlen,
         ({_sci_sum}) AS sci
  FROM base)
SELECT doc_id, CAST(wc AS INT) AS word_count,
       CAST(sc AS INT) AS sentence_count,
       round(CASE WHEN wc = 0 THEN 0 ELSE wlen / wc END, 6)
         AS avg_word_length,
       round(CASE WHEN np = 0 THEN 0
                  ELSE CAST(wc AS DOUBLE) / np END, 6)
         AS avg_sentence_length,
       CAST(uw AS INT) AS unique_words,
       round(CASE WHEN wc = 0 THEN 0
                  ELSE CAST(uw AS DOUBLE) / wc END, 6)
         AS lexical_diversity,
       CAST(sci AS INT) AS scientific_terms,
       round(CASE WHEN wc = 0 THEN 0
                  ELSE CAST(sci AS DOUBLE) / wc END, 6)
         AS scientific_density
FROM agg"""

    # OBO source: exploded (src_id, term_id, tag, value) rows
    # re-derived relationally from the terms dimension (the sink's
    # serialization contract)
    def _obo_arm(tag, value, where=""):
        return (f"SELECT ontology_id AS src_id, id AS term_id,"
                f" '{tag}' AS tag, {value} AS value FROM terms_r"
                f"{(' WHERE ' + where) if where else ''}")

    sqls["obo_parse"] = ("WITH " + terms_rdf_cte() + "\n"
                         + "\nUNION ALL\n".join([
                             _obo_arm("id", "id"),
                             _obo_arm("name", "name"),
                             _obo_arm("namespace", "namespace"),
                             _obo_arm("def",
                                      "'\"' || definition || '\" []'"),
                             "SELECT ontology_id AS src_id,"
                             " id AS term_id, 'synonym' AS tag,"
                             " '\"' || unnest(string_split(syns, ';'))"
                             " || '\" EXACT []' AS value"
                             " FROM terms_r WHERE syns <> ''",
                             _obo_arm("alt_id", "alt1",
                                      where="alt1 IS NOT NULL"),
                             _obo_arm("xref", "xref1",
                                      where="xref1 IS NOT NULL"),
                             _obo_arm("is_a", "parent",
                                      where="parent IS NOT NULL"),
                             _obo_arm("is_obsolete", "'true'",
                                      where="is_obsolete"),
                         ]))

    # OBO round-trip identity: sink -> parse -> pivot == the dimension
    sqls["obo_roundtrip"] = "WITH " + terms_rdf_cte() + """
SELECT ontology_id AS src_id, id AS term_id, name, namespace,
       definition,
       CAST(CASE WHEN syns = '' THEN 0
                 ELSE len(string_split(syns, ';')) END AS INT)
         AS n_synonyms,
       alt1 AS alt_id, xref1 AS xref, parent, is_obsolete
FROM terms_r"""

    # REPLACE-lane reparse: classes 0/1 cure into the triple stream,
    # class 3 re-quarantines with the parser's deterministic lex-error
    # message, class 2 parsed clean first pass (absent here)
    _pl = len(RC._PREFIX_PREAMBLE)
    sqls["parse_recovery_reparse"] = "WITH " + terms_rdf_cte() + rf""",
cls AS (
  SELECT id, name, replace(id, ':', '_') AS frag,
         CAST(regexp_extract(id, '(\d+)$', 1) AS INT) % 4 AS k
  FROM terms_r)
SELECT id AS src_id, 'urn:graft#' || frag AS subject,
       'urn:obo#src' AS predicate, name AS object,
       'uri' AS subject_type, 'literal' AS object_type,
       CAST(NULL AS VARCHAR) AS object_datatype,
       CAST(NULL AS VARCHAR) AS object_language
FROM cls WHERE k IN (0, 1)
UNION ALL
SELECT id, '', 'parse_error',
       'ValueError: lex error at offset '
         || ({2 * _pl + 13} + length(frag)) || ': ' || chr(39)
         || '%%% .' || chr(39),
       'error', 'error', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM cls WHERE k = 3"""

    return sqls
