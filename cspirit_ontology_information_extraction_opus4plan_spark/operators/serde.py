"""Serialization round-trips — CSV and JSON ontology formats parsed
back in-plan.

Reference analogs (SURVEY §2.1): the CSV parser's column-mapping
semantics (parsers/__init__.py:5823-5910 — id/name/definition/synonyms
';'-split) and the JSON-LD namespace-expansion path
(parsers/__init__.py:7274 get_namespaces, :7527 expand). Instead of a
driver-side rdflib/csv module pass, serialization and parsing are both
single codegen'd projections: `to_csv`/`from_csv` and
`to_json`/`from_json` exercise Spark's actual CSV/JSON codecs (quoting,
escaping, null handling), so the round-trip query equals the source
table iff the codec round-trips faithfully — which is exactly what the
oracle (reading the source table directly) asserts.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CSV_LINE_SCHEMA = ("id string, name string, definition string, "
                   "synonyms string, namespace string, is_obsolete boolean")

JSON_DOC_SCHEMA = "id string, name string, namespace string"

# prefix -> IRI expansion, the OBO-style context (JSON-LD @context analog)
OBO_BASE = "http://purl.obolibrary.org/obo/"


def csv_roundtrip(terms: DataFrame) -> DataFrame:
    """terms -> reference-format CSV line -> from_csv parse -> columns.
    synonyms travel ';'-joined inside one CSV field (the reference's
    encoding, ontology_manager.py:1229); n_synonyms proves the parse
    splits them back."""
    line = F.to_csv(F.struct(
        F.col("id"), F.col("name"), F.col("definition"),
        F.concat_ws(";", "synonyms").alias("synonyms"),
        F.col("namespace"), F.col("is_obsolete")))
    p = F.from_csv(line, CSV_LINE_SCHEMA)
    # Spark's CSV codec reads an empty field back as NULL — restore the
    # reference encoding's "no synonyms = empty string"
    syn = F.coalesce(p["synonyms"], F.lit(""))
    return terms.select(p["id"].alias("id"),
                        p["name"].alias("name"),
                        p["definition"].alias("definition"),
                        syn.alias("synonyms"),
                        F.when(syn == "", 0)
                        .otherwise(F.size(F.split(syn, ";")))
                        .alias("n_synonyms"),
                        p["namespace"].alias("namespace"),
                        p["is_obsolete"].alias("is_obsolete"))


JSONL_SCHEMA = "id bigint, lang string, nc bigint"


def jsonl_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, line): one JSONL record per document via to_json, with
    every doc_id % 7 == 3 line truncated by two characters — the
    malformed-row plant the quarantine contract needs (guards.py
    declares parse failures must surface as rows, not aborts)."""
    line = F.to_json(F.struct(F.col("doc_id").alias("id"),
                              F.col("lang"),
                              F.col("n_chars").alias("nc")))
    broken = F.col("doc_id") % 7 == 3
    return docs.select(
        "doc_id",
        F.when(broken, line.substr(F.lit(1), F.length(line) - 2))
        .otherwise(line).alias("line"))


def parse_jsonl(lines: DataFrame) -> DataFrame:
    """JSON-lines source with per-row quarantine: from_json in
    PERMISSIVE mode returns an all-null struct for malformed records,
    so bad rows surface as (parse_ok = false) quarantine rows instead
    of aborting the job — the JSONL sibling of parse_jats/parse_auto's
    error discipline, and the usual ingestion format for crawled /
    API-dumped corpora. Pure codegen, one pass, no Python."""
    p = F.from_json(F.col("line"), JSONL_SCHEMA)
    return lines.select("doc_id",
                        p["id"].alias("id"),
                        p["lang"].alias("lang"),
                        p["nc"].alias("nc"),
                        p["id"].isNotNull().alias("parse_ok"))


# boolean literal set for CSV type inference (parsers/__init__.py:5753)
CSV_BOOLEAN_VALUES = ["true", "false", "yes", "no", "1", "0",
                      "t", "f", "y", "n"]
CSV_NUMERIC_FRAC = 0.8   # >80% parseable floats -> numeric (:5745)
CSV_CURIE_RE = r"^[A-Z]+:\d+"  # ontology-id value shape (:5726)


def infer_csv_types(files: DataFrame) -> DataFrame:
    """CSV header + column-type inference over (path, payload) CSV
    documents -> (path, col_name, inferred_type), reproducing the
    reference's custom inference rules (CSVParser.infer_column_types
    parsers/__init__.py:5668, _infer_single_column_type :5719): an
    'id'-named column of PREFIX:NUMBER values -> ontology_id;
    synonym/alias columns -> list; categor*/type columns -> category;
    >80% float-parseable -> integer (no '.' anywhere) else float; all
    values in the boolean lexicon -> boolean; else string. These are
    ontology-domain types spark.read.csv's inferSchema cannot produce,
    so the rules run as column aggregates.

    Deliberate deviation, documented: the reference samples the first
    10/20/100 rows per rule (a single-process perf shortcut whose answer
    depends on row order); here each rule aggregates over ALL rows —
    order-independent and map-side combinable, the distributed-correct
    reading. Header row = line 0 (the reference's csv.Sniffer falls back
    to headers-present on its synthetic inputs)."""
    lines = files.select(
        "path", F.posexplode(F.split("payload", "\n")).alias("idx", "line"))
    hdr = (lines.filter(F.col("idx") == 0)
           .select("path", F.posexplode(F.split("line", ","))
                   .alias("col_pos", "col_name")))
    vals = (lines.filter(F.col("idx") > 0)
            .select("path", F.posexplode(F.split("line", ","))
                    .alias("col_pos", "value"))
            .filter(F.trim("value") != "")  # non-empty sample (:5698)
            .withColumn("value", F.trim("value")))
    v = F.col("value")
    per_col = vals.groupBy("path", "col_pos").agg(
        F.min(F.when(v.rlike(CSV_CURIE_RE), 1).otherwise(0)).alias("curie_all"),
        F.avg(F.when(v.try_cast("double").isNotNull(), 1.0)
              .otherwise(0.0)).alias("num_frac"),
        F.min(F.when(v.contains("."), 0).otherwise(1)).alias("no_dot_all"),
        F.min(F.when(F.lower(v).isin(CSV_BOOLEAN_VALUES), 1).otherwise(0))
        .alias("bool_all"))
    j = hdr.join(per_col, ["path", "col_pos"], "left")
    name = F.lower("col_name")
    inferred = (
        F.when(F.col("curie_all").isNull(), "string")  # no non-empty values
        .when(name.contains("id") & (F.col("curie_all") == 1), "ontology_id")
        .when(name.contains("synonym") | name.contains("alias"), "list")
        .when(name.contains("categor") | name.contains("type"), "category")
        .when(F.col("num_frac") > CSV_NUMERIC_FRAC,
              F.when(F.col("no_dot_all") == 1, "integer").otherwise("float"))
        .when(F.col("bool_all") == 1, "boolean")
        .otherwise("string"))
    return j.select("path", "col_name", inferred.alias("inferred_type"))


NT_SUBJ_URI = r"^<urn:ont:([^>]+)>"
NT_PRED = r"<urn:pred:([^>]+)>"
NT_OBJ_URI = r" <urn:ont:([^>]+)> \.$"
NT_OBJ_LIT = r' "((?:[^"\\]|\\.)*)"(?:@[A-Za-z0-9-]+|\^\^<[^>]+>)? \.$'
NT_SUBJ_BNODE = r"^_:(\S+)"


def parse_ntriples(lines: DataFrame) -> DataFrame:
    """N-Triples source: parse serialized lines back into
    (subject, predicate, object, object_type) — the bulk-RDF read path
    of SURVEY §2.1 (OWL/RDF source via spark.read.text + parse; here
    the parse is pure regexp_extract, no rdflib). Handles uri / bnode /
    literal objects; the corpus emits only uri-uri triples, so the
    literal branch mirrors the reference's grammar without firing."""
    ln = F.col("line")
    subj_uri = F.regexp_extract(ln, NT_SUBJ_URI, 1)
    subj_bn = F.regexp_extract(ln, NT_SUBJ_BNODE, 1)
    obj_uri = F.regexp_extract(ln, NT_OBJ_URI, 1)
    obj_lit = F.regexp_extract(ln, NT_OBJ_LIT, 1)
    return lines.select(
        F.when(subj_uri != "", subj_uri).otherwise(subj_bn)
        .alias("subject"),
        F.regexp_extract(ln, NT_PRED, 1).alias("predicate"),
        F.when(obj_uri != "", obj_uri).otherwise(obj_lit).alias("object"),
        F.when(obj_uri != "", "uri").otherwise("literal")
        .alias("object_type"))


# --- Turtle source ----------------------------------------------------------

TTL_SUBJ = r"^ont:(\S+)"
TTL_SUBJ_BNODE = r"^_:(\S+)"
TTL_PRED = r" pred:(\S+) "
TTL_OBJ_URI = r" ont:(\S+) \.$"
TTL_OBJ_LIT = r' "((?:[^"\\]|\\.)*)"(?:@[A-Za-z0-9-]+|\^\^<[^>]+>)? \.$'


def _uncurie(local: F.Column) -> F.Column:
    """Invert to_turtle's PN_LOCAL mapping: the serialized local name has
    its id colon written as '_' (ids match ^[A-Za-z]+:\\d+$, so exactly
    the first underscore after the alpha prefix is the colon)."""
    return F.regexp_replace(local, r"^([A-Za-z]+)_", "$1:")


def parse_turtle(lines: DataFrame) -> DataFrame:
    """Turtle source: parse prefixed-name triple lines back into
    (subject, predicate, object, object_type) — the Turtle leg of the
    reference's six-format OWLParser.parse (parsers/__init__.py:2738,
    format routing :2655), as pure regexp_extract over spark.read.text
    lines (no rdflib; the prefixed-triple-per-line subset is regular).
    Handles uri / bnode / literal objects with @lang / ^^<dt> suffixes,
    mirroring parse_ntriples."""
    ln = F.col("line")
    subj_uri = F.regexp_extract(ln, TTL_SUBJ, 1)
    subj_bn = F.regexp_extract(ln, TTL_SUBJ_BNODE, 1)
    obj_uri = F.regexp_extract(ln, TTL_OBJ_URI, 1)
    obj_lit = F.regexp_extract(ln, TTL_OBJ_LIT, 1)
    return lines.select(
        F.when(subj_uri != "", _uncurie(subj_uri)).otherwise(subj_bn)
        .alias("subject"),
        F.regexp_extract(ln, TTL_PRED, 1).alias("predicate"),
        F.when(obj_uri != "", _uncurie(obj_uri)).otherwise(obj_lit)
        .alias("object"),
        F.when(obj_uri != "", "uri").otherwise("literal")
        .alias("object_type"))


# --- RDF/XML source ----------------------------------------------------------

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
RDFXML_BASE = "urn:graft"

RDFXML_TRIPLE_SCHEMA = ("subject string, predicate string, object string, "
                        "object_type string")


def rdfxml_docs(terms: DataFrame) -> DataFrame:
    """Serialize terms to RDF/XML document strings — the input synthesis
    for the bulk RDF/XML read path (the corpus carries no raw ontology
    payloads). One rdf:Description per term with rdfs:label and, when a
    parent exists, rdfs:subClassOf. Names are [a-z0-9 ] by construction
    (ontology_data), so no XML escaping is required — asserted cheap."""
    # try_element_at: root terms have an EMPTY parents array, and ANSI
    # mode makes plain element_at throw on the out-of-bounds index
    parent = F.try_element_at("parents", F.lit(1))
    xml = F.concat(
        F.lit('<?xml version="1.0"?>'
              f'<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:rdfs="{RDFS_NS}">'
              f'<rdf:Description rdf:about="{RDFXML_BASE}#'),
        F.col("id"), F.lit('"><rdfs:label>'), F.col("name"),
        F.lit("</rdfs:label>"),
        F.when(parent.isNotNull(),
               F.concat(F.lit(f'<rdfs:subClassOf rdf:resource='
                              f'"{RDFXML_BASE}#'),
                        parent, F.lit('"/>')))
        .otherwise(F.lit("")),
        F.lit("</rdf:Description></rdf:RDF>"))
    return terms.select(xml.alias("xml"))


def _rdfxml_batches(batches: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
    import xml.etree.ElementTree as ET
    rdf, rdfs = "{%s}" % RDF_NS, "{%s}" % RDFS_NS
    for pdf in batches:
        subs, preds, objs, otypes = [], [], [], []

        def emit(s, p, o, t):
            subs.append(s)
            preds.append(p)
            objs.append(o)
            otypes.append(t)

        for xml in pdf["xml"]:
            try:
                root = ET.fromstring(xml)
            except ET.ParseError:
                # quarantine, don't abort: parse_auto content-sniffs any
                # '<?xml' payload here, so one malformed document in a
                # mixed-format file table must become a countable failed
                # row (subject='' is the parse_stats failure marker),
                # matching xmlsource.parse_jats and the guards.py rule
                emit("", "parse_error", "", "error")
                continue
            for desc in root.iter(rdf + "Description"):
                about = desc.attrib[rdf + "about"]
                subj = about.split("#", 1)[1]
                label = desc.find(rdfs + "label")
                if label is not None and label.text:
                    emit(subj, "label", label.text, "literal")
                for sc in desc.findall(rdfs + "subClassOf"):
                    res = sc.attrib[rdf + "resource"]
                    emit(subj, "is_a", res.split("#", 1)[1], "uri")
        yield pd.DataFrame({"subject": subs, "predicate": preds,
                            "object": objs, "object_type": otypes})


def parse_rdfxml(docs: DataFrame) -> DataFrame:
    """RDF/XML source: batch etree parse via one mapInPandas stage —
    the RDF/XML leg of OWLParser.parse (parsers/__init__.py:2738).
    Reproduces the reference's model-conversion quirks deliberately:
    only rdfs:subClassOf is kept among relationships and rewritten to
    predicate 'is_a' (extract_relationships :3686-3722), URIs are
    stripped to their #fragment (:3670-3676, :3740-3746), and
    rdfs:label becomes a literal triple (owlready2 synthesis path
    :4190). One Arrow crossing; each batch amortizes the parser over
    many documents — the SURVEY §2.1 mapInPandas+etree mapping."""
    return docs.select("xml").mapInPandas(
        _rdfxml_batches, schema=RDFXML_TRIPLE_SCHEMA)


# --- parser registry + format autodetect + routed parse ---------------------

# extension -> registry format (detect_format_from_extension,
# parsers/__init__.py:9144 — extension wins over content sniffing)
EXTENSION_FORMATS = {
    "nt": "ntriples", "ntriples": "ntriples",
    "ttl": "turtle", "n3": "turtle",
    "owl": "rdfxml", "rdf": "rdfxml", "xml": "rdfxml",
}

# format name -> parser over a (payload) column — the reference's
# format->parser-class registry (get_parser_for_format
# parsers/__init__.py:9291). Values are DataFrame->DataFrame callables so
# user formats slot in beside the built-ins; the dispatch is per-BRANCH
# (one filtered scan per registered format, unioned), never per-row
# Python.
PARSER_REGISTRY: dict[str, "Callable[[DataFrame], DataFrame]"] = {}


def register_parser(fmt: str, fn: "Callable[[DataFrame], DataFrame]"
                    ) -> None:
    PARSER_REGISTRY[fmt] = fn


def _payload_lines(df: DataFrame) -> DataFrame:
    """Line-based formats accept BOTH one-statement payloads and whole
    fetched files: split on newlines, drop blanks — a no-op for the
    single-line case."""
    return (df.select(F.explode(F.split("payload", "\n")).alias("line"))
            .filter(F.trim("line") != ""))


register_parser("ntriples", lambda df: parse_ntriples(_payload_lines(df)))
register_parser("turtle", lambda df: parse_turtle(_payload_lines(df)))
register_parser(
    "rdfxml",
    lambda df: parse_rdfxml(df.select(F.col("payload").alias("xml"))))


def detect_format_by_extension(path: F.Column) -> F.Column:
    """Map a file path's extension through EXTENSION_FORMATS; NULL for
    unknown/absent extensions (the caller falls back to content
    sniffing — auto_detect_parser parsers/__init__.py:9361 tries
    extension :9144 first, then content :9211)."""
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    pairs = [F.lit(x) for kv in EXTENSION_FORMATS.items() for x in kv]
    # try_element_at: a plain element_at throws on missing keys under
    # ANSI mode; unknown extensions must yield NULL, not an error
    return F.try_element_at(F.create_map(*pairs), ext)


def sniff_format(payload: F.Column) -> F.Column:
    """Content-sniff fallback onto registry format names
    (OWLParser.detect_format parsers/__init__.py:2655; the query-facing
    sniffer with the reference's full label set is
    textmeta.detect_formats)."""
    return (F.when(payload.startswith("<?xml"), "rdfxml")
            .when(payload.startswith("@prefix"), "turtle")
            .when(payload.rlike(r"^<[^>]+> <[^>]+> "), "ntriples")
            .otherwise(F.lit(None).cast("string")))


def route_formats(files: DataFrame) -> DataFrame:
    """(path, payload) -> (path, payload, fmt): extension first, content
    sniff for extension-less/unknown paths."""
    return files.withColumn(
        "fmt", F.coalesce(detect_format_by_extension(F.col("path")),
                          sniff_format(F.col("payload"))))


def dispatch_parsers(tagged: DataFrame) -> DataFrame:
    """Branch dispatch over an already-routed (.., payload, fmt) frame:
    one filtered branch per registered format — each branch's format
    predicate sits directly above the scan (pushdown-eligible), outputs
    union to (fmt, subject, predicate, object, object_type). Rows whose
    format is unknown to the registry are dropped here; parse_stats
    accounts for them."""
    branches = [
        fn(tagged.filter(F.col("fmt") == name))
        .select(F.lit(name).alias("fmt"), "subject", "predicate",
                "object", "object_type")
        for name, fn in sorted(PARSER_REGISTRY.items())
    ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def parse_auto(files: DataFrame) -> DataFrame:
    """Routed multi-format parse (auto_detect_parser + parse,
    parsers/__init__.py:9361) over a (path, payload) file table."""
    return dispatch_parsers(route_formats(files))


def parse_stats(files: DataFrame) -> DataFrame:
    """Load/parse statistics (ParserStatistics totals / success rate /
    format distribution, parsers/__init__.py:316-390; manager rollups
    ontology_manager.py:1604/:1676) — the deterministic subset (load
    times are wall-clock, not a semantic; per-partition run walls live
    in the checkpoint markers, plans/checkpointing.py).

    Line formats parse 1:1, so a failed line is a parse row with an
    empty subject (every grammar regex missed); document formats (rdfxml)
    quarantine malformed documents as one empty-subject row each.
    Both aggregates are map-side combinable; the final join is
    format-cardinality (tiny). Routing runs once and feeds both the
    input counts and the dispatch."""
    routed = route_formats(files)
    ins = routed.groupBy("fmt").agg(F.count("*").alias("n_inputs"))
    outs = dispatch_parsers(routed).groupBy("fmt").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("subject") == "", 1).otherwise(0))
        .alias("n_failed"))
    return (ins.join(outs, "fmt", "left")
            .select("fmt", "n_inputs",
                    (F.coalesce("n_rows", F.lit(0))
                     - F.coalesce("n_failed", F.lit(0)))
                    .alias("n_triples"),
                    F.coalesce("n_failed", F.lit(0)).alias("n_failed"),
                    F.round(F.lit(1) - F.coalesce("n_failed", F.lit(0))
                            / F.col("n_inputs"), 6)
                    .alias("success_rate")))


# --- URL source --------------------------------------------------------------


def url_scheme(url: F.Column) -> F.Column:
    """'https://host/x' -> 'https', 'file:///x' -> 'file'; '' for a
    bare path with no scheme."""
    return F.regexp_extract(url, r"^([a-z][a-z0-9+.-]*)://", 1)


def route_url_sources(files: DataFrame) -> DataFrame:
    """(url, payload) -> (url, payload, scheme, fmt): the URL leg of
    the source loader. The reference fetches http(s) sources and feeds
    the body through the same auto-detected parser as local files
    (ontology_manager.load_ontology :196-206 requests fallback;
    auto_detect_parser parsers/__init__.py:9361 routes by source path).
    Here the fetch is the storage layer's job (spark.read against the
    object store reads the payloads); the URL contributes routing
    metadata only — extension of the path component with query string
    and fragment stripped, content sniff as the fallback for
    extension-less keys. Pure column expressions, no Python."""
    path = F.regexp_replace(F.col("url"), r"[?#].*$", "")
    return files.select(
        "url", "payload", url_scheme(F.col("url")).alias("scheme"),
        F.coalesce(detect_format_by_extension(path),
                   sniff_format(F.col("payload"))).alias("fmt"))


def url_route_summary(files: DataFrame) -> DataFrame:
    """Routing table: one row per distinct URL with scheme, resolved
    format, payload count. Map-side combinable count; URL cardinality
    (the group key) is the number of source locations, not rows."""
    return (route_url_sources(files)
            .groupBy("url", "scheme", "fmt")
            .agg(F.count("*").cast("int").alias("n_payloads")))


def parse_url_sources(files: DataFrame) -> DataFrame:
    """Routed parse over URL-addressed payloads — the same per-format
    branch dispatch as parse_auto, fed by URL routing."""
    return dispatch_parsers(route_url_sources(files))


URL_FETCH_TIMEOUT = 30  # seconds — the reference's requests.get
#                         timeout (ontology_manager.py:205)


def fetch_url_sources(spark, urls, *, online: bool = False,
                      transport=None,
                      timeout: int = URL_FETCH_TIMEOUT) -> DataFrame:
    """Ontology download stage — the reference's URL path
    (`parser.parse_url` / requests fallback with timeout=30,
    ontology_manager.py:200-208; parsers/__init__.py:3191) behind an
    OFFLINE-DEFAULT flag so hermetic runs can never reach the network:

      * `file://` URLs always resolve (a local read, not network),
      * `http(s)://` requires `online=True` (production) or an
        injected `transport` callable (tests mock it) — otherwise the
        call raises at plan-build time with the remedy in the message.

    Fetching runs driver-side because ontology source lists are
    request-sized (the reference downloads one URL per load_ontology
    call); the returned (url, payload) frame feeds the existing
    route -> dispatch pipeline (parse_url_sources). A crawl-scale
    variant maps partitions of a URL table through the same transport
    inside mapInPandas — the webingest module owns that shape."""
    import urllib.request

    def default_transport(url: str) -> str:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            return r.read().decode("utf-8")

    fetch = transport if transport is not None else default_transport
    rows = []
    for url in urls:
        scheme = url.split(":", 1)[0].lower()
        if transport is None and scheme in ("http", "https") \
                and not online:
            raise RuntimeError(
                f"fetch_url_sources: {url!r} needs network access, and "
                "offline is the default. Pass online=True in production "
                "or inject a transport callable for tests.")
        rows.append((url, fetch(url)))
    return spark.createDataFrame(rows, "url string, payload string")


# --- conversion filters (class / property / individual groups) ---------------


def conversion_triples(terms: DataFrame, rels: DataFrame,
                       individuals: DataFrame) -> DataFrame:
    """OWL->triple conversion with entity-kind groups — the reference's
    extraction trio `_extract_class_triples` /
    `_extract_property_triples` / `_extract_individual_triples`
    (parsers/__init__.py:4115/:4190/:4248): classes emit
    rdf:type/rdfs:label/rdfs:subClassOf, properties are the distinct
    predicates typed owl:ObjectProperty, individuals emit
    rdf:type <class> + rdfs:label. Columns (subject, predicate, object,
    entity_kind, entity_name); entity_name feeds the
    class_filter/property_filter regexes (options :2640-2641). Pure
    unions of projections — no shuffle except the tiny
    distinct-predicates aggregate."""
    parent = F.try_element_at("parents", F.lit(1))
    cls = terms.select(
        F.col("id").alias("subject"), F.lit("rdf:type").alias("predicate"),
        F.lit("owl:Class").alias("object"),
        F.lit("class").alias("entity_kind"),
        F.col("name").alias("entity_name"))
    lbl = terms.select(
        F.col("id").alias("subject"),
        F.lit("rdfs:label").alias("predicate"),
        F.col("name").alias("object"), F.lit("class").alias("entity_kind"),
        F.col("name").alias("entity_name"))
    sub = terms.select(
        F.col("id").alias("subject"),
        F.lit("rdfs:subClassOf").alias("predicate"),
        parent.alias("object"), F.lit("class").alias("entity_kind"),
        F.col("name").alias("entity_name")).filter(
        F.col("object").isNotNull())
    prop = rels.select("predicate").distinct().select(
        F.col("predicate").alias("subject"),
        F.lit("rdf:type").alias("predicate"),
        F.lit("owl:ObjectProperty").alias("object"),
        F.lit("property").alias("entity_kind"),
        F.col("subject").alias("entity_name"))
    ind_t = individuals.select(
        F.col("ind_id").alias("subject"),
        F.lit("rdf:type").alias("predicate"),
        F.col("class_id").alias("object"),
        F.lit("individual").alias("entity_kind"),
        F.col("name").alias("entity_name"))
    ind_l = individuals.select(
        F.col("ind_id").alias("subject"),
        F.lit("rdfs:label").alias("predicate"),
        F.col("name").alias("object"),
        F.lit("individual").alias("entity_kind"),
        F.col("name").alias("entity_name"))
    out = cls
    for part in (lbl, sub, prop, ind_t, ind_l):
        out = out.unionByName(part)
    return out


def conversion_filter(tr: DataFrame, *, include_classes: bool = True,
                      include_properties: bool = True,
                      include_individuals: bool = True,
                      class_filter: str | None = None,
                      property_filter: str | None = None) -> DataFrame:
    """The reference's conversion-filter options
    (parsers/__init__.py:2636-2641 include_classes/properties/
    individuals + class_filter/property_filter regexes, applied
    :4068-4100): kind gating plus per-kind name-regex filters, all as
    pushdown-eligible column predicates."""
    kinds = [k for k, inc in (("class", include_classes),
                              ("property", include_properties),
                              ("individual", include_individuals)) if inc]
    out = tr.filter(F.col("entity_kind").isin(kinds))
    if class_filter is not None:
        out = out.filter((F.col("entity_kind") != "class")
                         | F.col("entity_name").rlike(class_filter))
    if property_filter is not None:
        out = out.filter((F.col("entity_kind") != "property")
                         | F.col("entity_name").rlike(property_filter))
    return out


def jsonld_expand(terms: DataFrame) -> DataFrame:
    """terms -> JSON doc -> from_json parse -> CURIE-to-IRI expansion
    (CHEBI:10001 -> <obo>/CHEBI_10001), the JSON-LD expand step with a
    constant context."""
    doc = F.to_json(F.struct(F.col("id"), F.col("name"),
                             F.col("namespace")))
    p = F.from_json(doc, JSON_DOC_SCHEMA)
    return terms.select(
        p["id"].alias("id"), p["name"].alias("name"),
        F.concat(F.lit(OBO_BASE), F.translate(p["id"], ":", "_"))
        .alias("uri"))


def jsonld_compact(terms: DataFrame) -> DataFrame:
    """JSON-LD compact (parsers/__init__.py:7708): the expanded document
    (full IRIs) is compacted back to CURIEs under the constant context
    {"obo": OBO_BASE}. Inverse of jsonld_expand's IRI expansion —
    compact(expand(x)) round-trips, which is what the oracle asserts.
    Prefix substitution is a startswith + substring (no regex — the IRI
    base contains regex metacharacters)."""
    doc = F.to_json(F.struct(
        F.concat(F.lit(OBO_BASE), F.translate("id", ":", "_"))
        .alias("id_iri"),
        F.col("name")))
    p = F.from_json(doc, "id_iri string, name string")
    iri = p["id_iri"]
    curie = F.when(
        iri.startswith(OBO_BASE),
        F.concat(F.lit("obo:"), F.substring(iri, len(OBO_BASE) + 1, 2048))
    ).otherwise(iri)
    return terms.select("id", p["name"].alias("name"),
                        curie.alias("curie"))


# non-IRI @context entries planted beside the prefix map — term aliases
# the reference's http(s) filter must drop (get_namespaces keeps only
# string values starting with http:// or https://)
JSONLD_CONTEXT_ALIASES = {"label": "rdfs:label", "deprecated": "owl:deprecated"}


def jsonld_namespaces(terms: DataFrame) -> DataFrame:
    """JSON-LD @context namespace extraction (get_namespaces
    parsers/__init__.py:7274): per ontology, a @context document maps
    each CURIE prefix to its IRI base (plus non-IRI term aliases); the
    document round-trips through Spark's JSON codec and only entries
    whose value starts with http:// or https:// survive — the
    reference's prefix->URI filter. Output (ontology_id, prefix, uri);
    the groupBy state is O(prefixes), trivially scale-safe."""
    pref = F.split("id", ":")[0]
    entries = F.struct(
        F.lower(pref).alias("key"),
        F.concat(F.lit(OBO_BASE), pref, F.lit("_")).alias("value"))
    ctx = terms.groupBy("ontology_id").agg(
        F.map_from_entries(F.array_distinct(F.collect_list(entries)))
        .alias("m"))
    alias_map = F.create_map(*[
        F.lit(x) for kv in sorted(JSONLD_CONTEXT_ALIASES.items())
        for x in kv])
    doc = F.to_json(F.struct(
        F.map_concat(F.col("m"), alias_map).alias("@context")))
    p = F.from_json(doc, "`@context` map<string,string>")
    return (ctx.select("ontology_id",
                       F.explode(p["@context"]).alias("prefix", "uri"))
            .filter(F.col("uri").startswith("http://")
                    | F.col("uri").startswith("https://")))


# The four namespaces the reference injects when a @context does not
# already bind the prefix (get_namespaces parsers/__init__.py:7330-7341)
JSONLD_DEFAULT_NAMESPACES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}


def jsonld_context_namespaces(docs: DataFrame) -> DataFrame:
    """Reference-exact @context namespace extraction over arbitrary
    JSON-LD documents (JSONLDParser.get_namespaces
    parsers/__init__.py:7274, pinned in-process by
    test_reference_parity_csv_jsonld): an entry survives iff its value
    is a string starting with http:// or https://, OR a dict whose @id
    is such a string; afterwards the four default RDF namespaces are
    injected for any prefix the SURVIVING entries did not bind (an
    entry dropped by the filter does NOT block its default — the
    reference checks `prefix not in namespaces` AFTER filtering).

    Spark shape: from_json(map<string,string>) coerces dict values to
    their JSON text, so the @id-dict branch is a startswith('{') +
    get_json_object — one codegen pass, no UDF; defaults are a 4-row
    broadcast anti-joined per doc. Output (doc_id, prefix, uri,
    source)."""
    ctx = F.from_json(F.get_json_object("payload", "$['@context']"),
                      "map<string,string>")
    entries = (docs
               .select("doc_id", F.explode(ctx).alias("prefix", "raw"))
               .withColumn(
                   "uri",
                   F.when(F.col("raw").startswith("{"),
                          F.get_json_object("raw", "$['@id']"))
                   .otherwise(F.col("raw"))))
    kept = (entries
            .filter(F.col("uri").startswith("http://")
                    | F.col("uri").startswith("https://"))
            .select("doc_id", "prefix", "uri",
                    F.lit("context").alias("source")))
    defaults = F.explode(F.array(*[
        F.struct(F.lit(p).alias("prefix"), F.lit(u).alias("uri"))
        for p, u in sorted(JSONLD_DEFAULT_NAMESPACES.items())]))
    injected = (docs.select("doc_id").distinct()
                .select("doc_id", defaults.alias("d"))
                .select("doc_id", "d.prefix", "d.uri")
                .join(kept.select("doc_id", "prefix"),
                      ["doc_id", "prefix"], "left_anti")
                .select("doc_id", "prefix", "uri",
                        F.lit("default").alias("source")))
    return kept.unionByName(injected)


def jsonld_flatten(terms: DataFrame) -> DataFrame:
    """JSON-LD flatten (parsers/__init__.py:7777): a @graph-nested
    document per ontology is flattened back to one row per node.
    The nested doc is built with collect_list(struct) -> to_json and
    re-parsed with from_json + explode, so the flatten step exercises
    Spark's real nested-JSON codec; node-set output is independent of
    the (nondeterministic) array order inside the doc."""
    nested = terms.groupBy("ontology_id").agg(
        F.to_json(F.struct(
            F.col("ontology_id").alias("graph_id"),
            F.collect_list(F.struct("id", "name")).alias("graph")))
        .alias("doc"))
    schema = "graph_id string, graph array<struct<id:string,name:string>>"
    p = F.from_json("doc", schema)
    return (nested
            .select(p["graph_id"].alias("ontology_id"),
                    F.explode(p["graph"]).alias("node"))
            .select("ontology_id",
                    F.col("node.id").alias("node_id"),
                    F.col("node.name").alias("name")))


# ---------------------------------------------------------------------------
# CSV dialect detection (CSVParser.detect_dialect parsers/__init__.py:5212)
# ---------------------------------------------------------------------------

# the reference's extended sniffer delimiter set (:5319)
CSV_SNIFF_DELIMITERS = ",\t|;: \u00A0"
CSV_DIALECT_SCHEMA = ("path string, fmt string, delimiter string, "
                      "quotechar string, method string, "
                      "confidence double, has_header boolean")


def _csv_detect_format(content: str) -> str:
    """CSVParser.detect_format (:5182): delimiter frequency over the
    first 10 lines; tsv only when tabs beat commas AND pipes."""
    if not content:
        return "csv"
    sample = "\n".join(content.split("\n")[:10])
    comma, tab, pipe = (sample.count(","), sample.count("\t"),
                        sample.count("|"))
    if tab > comma and tab > pipe:
        return "tsv"
    return "csv"


def _csv_sniffer_confidence(csv_mod, sample: str, dialect) -> float:
    """_calculate_sniffer_confidence (:5520): field-count consistency
    of the first 10 lines under the detected dialect — 0.9 when
    uniform, else the modal ratio clamped to [0.3, 0.9]."""
    valid = [ln for ln in sample.split("\n")[:10] if ln.strip()]
    if len(valid) < 2:
        return 0.5
    counts = []
    for ln in valid:
        try:
            counts.append(len(next(csv_mod.reader([ln], dialect=dialect))))
        except Exception:
            continue
    if not counts:
        return 0.3
    if len(set(counts)) == 1:
        return 0.9
    modal = max(set(counts), key=counts.count)
    return max(0.3, min(0.9, counts.count(modal) / len(counts)))


def _csv_manual_dialect(re_mod, sample: str):
    """_manual_dialect_detection (:5342): per-candidate consistency
    scoring (uniform field counts -> 1.0, else 1 - variance/avg) times
    occurrence rate; quote chars scored by quoted-field regex hits.
    Returns (delimiter, quotechar, confidence) or None when fewer than
    two lines."""
    lines = sample.split("\n")[:10]
    if len(lines) < 2:
        return None
    candidates = {",": 0.0, "\t": 0.0, "|": 0.0, ";": 0.0, ":": 0.0,
                  " ": 0.0, "\u00A0": 0.0}
    for ln in lines:
        if not ln.strip():
            continue
        for d in candidates:
            c = ln.count(d)
            if c > 0:
                candidates[d] += c
    best_delimiter, best_score = ",", 0.0
    for d, total in candidates.items():
        if total == 0:
            continue
        field_counts = [ln.count(d) + 1 for ln in lines if ln.strip()]
        if not field_counts:
            continue
        if len(set(field_counts)) == 1 and field_counts[0] > 1:
            consistency = 1.0
        else:
            avg = sum(field_counts) / len(field_counts)
            var = sum((x - avg) ** 2 for x in field_counts) \
                / len(field_counts)
            consistency = max(0.0, 1.0 - (var / avg) if avg > 0 else 0.0)
        score = consistency * (total / len(lines))
        if score > best_score:
            best_score, best_delimiter = score, d
    best_quote, quote_hits = '"', 0
    for q in ('"', "'", "`"):
        hits = sum(1 for ln in lines if re_mod.search(
            rf"{re_mod.escape(q)}[^{re_mod.escape(q)}]*{re_mod.escape(q)}",
            ln))
        if hits > quote_hits:
            quote_hits, best_quote = hits, q
    confidence = min(1.0, best_score + (quote_hits / len(lines)) * 0.1)
    return best_delimiter, best_quote, confidence


def _csv_fallback_dialect(sample: str):
    """_fallback_dialect_detection (:5467). The tab/pipe/semicolon
    heuristics are DEAD CODE in the reference: its default options
    always carry delimiter=',' (:5650 area defaults), and the
    user-delimiter branch overrides whatever the heuristics picked,
    pinning the fallback to (',', 0.7) for every input — mirrored
    faithfully (and pinned by the oneline battery doc)."""
    return ",", 0.7


def detect_csv_dialects(files: DataFrame) -> DataFrame:
    """Per-document CSV dialect + header detection reproducing the
    reference's full decision chain (detect_dialect :5212 — stdlib
    csv.Sniffer over content[:8192] with the extended delimiter set,
    accepted above confidence 0.6; else manual pattern scoring above
    0.4; else fallback heuristics — plus detect_format :5182 and
    detect_headers :5604 with its exception->True conservative
    default). The reference runs this once per file in-process; here it
    is an Arrow-batched mapInPandas stage, one stdlib-csv call per
    DOCUMENT (bounded metadata work, never per-row), so a 100 TB crawl
    of small CSV files dialect-sniffs embarrassingly parallel.
    In-process parity: test_reference_parity_csv_jsonld."""
    def _batch(batches):
        import csv
        import re

        def one(path: str, content: str):
            fmt = _csv_detect_format(content)
            sample = content[:8192]
            method = None
            delimiter = quotechar = None
            confidence = 0.0
            if not content:
                method, confidence = "fallback", 0.0
            else:
                try:
                    dialect = csv.Sniffer().sniff(
                        sample, delimiters=CSV_SNIFF_DELIMITERS)
                    conf = _csv_sniffer_confidence(csv, sample, dialect)
                    if conf > 0.6:
                        method, confidence = "sniffer", conf
                        delimiter = dialect.delimiter
                        quotechar = dialect.quotechar
                except Exception:
                    pass
                if method is None:
                    manual = _csv_manual_dialect(re, sample)
                    if manual is not None and manual[2] > 0.4:
                        delimiter, quotechar, confidence = manual
                        method = "manual"
                if method is None:
                    delimiter, confidence = _csv_fallback_dialect(sample)
                    quotechar, method = '"', "fallback"
            if not content:
                has_header = False
            else:
                try:
                    has_header = csv.Sniffer().has_header(
                        "\n".join(content.split("\n")[:10]))
                except Exception:
                    has_header = True  # conservative default (:5621)
            return (path, fmt, delimiter, quotechar, method,
                    float(confidence), bool(has_header))

        for pdf in batches:
            yield pd.DataFrame(
                [one(p, c) for p, c in zip(pdf["path"], pdf["payload"])],
                columns=["path", "fmt", "delimiter", "quotechar",
                         "method", "confidence", "has_header"])

    return files.mapInPandas(_batch, CSV_DIALECT_SCHEMA)
