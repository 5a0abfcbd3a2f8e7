"""One pass per workload kind, untraced and traced, with output checks.

A pass makes the same public calls ``jobs/kg_construct_job.py`` makes:

* ``build``  — ``materialize_triples(api.triples_df(...))`` into an empty
  output directory (16 partitions);
* ``resume`` (traced runs only) — a full build, then the same call over
  a copy of an output directory whose first 8 partitions are already
  complete, then once more with nothing pending;
* ``graph``  — over a stored, deduplicated triple table:
  ``canonical_triples(store, canonical_mapping(terms))``,
  ``kg_entailment(store)`` and ``publish_graph_layout(store)``.

The traced variants split the same work at layer boundaries: each
layer's input is materialized with ``localCheckpoint`` before the layer's
span opens, so the span times that layer alone.

Every pass checks its outputs against the oracle answers stored with the
input (``inputs.py``); a failed check or an exception fails the pass.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from cspirit_ontology_information_extraction_opus4plan_spark import api
from cspirit_ontology_information_extraction_opus4plan_spark.corpus import (
    spans_exploded,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (  # noqa: E501
    canonical_mapping,
    canonical_triples,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E501
    gazetteer_df,
    terms_df,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (  # noqa: E501
    kg_entailment,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.linking import (  # noqa: E501
    link_mentions,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.ner import (  # noqa: E501
    NER_KINDS,
    detect_mentions,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.relations import (  # noqa: E501
    TRIPLE_KEY,
    dedup_triples,
    extract_triples,
)
from cspirit_ontology_information_extraction_opus4plan_spark.plans.checkpointing import (  # noqa: E501
    materialize_triples,
    publish_graph_layout,
)

N_PARTS = 16
HALF = list(range(N_PARTS // 2))
TEMPLATE = "half_template"


@dataclass
class PassResult:
    wall: float            # seconds of the timed part of the pass
    docs: int              # documents the pass processed
    triples: int           # triples written (graph: store triples published)
    ok: bool = True
    layers: dict[str, float] = field(default_factory=dict)


class Runner:
    """Runs passes of one kind over one input directory. ``scratch`` is
    emptied between passes; the input directory is read-only except for
    ``stage``, which adds the resume fixture once per input."""

    def __init__(self, spark, tracer, kind: str, input_dir: str,
                 scratch: str):
        self.spark = spark
        self.tracer = tracer
        self.kind = kind
        self.sf = input_dir
        self.scratch = scratch
        self.n_docs = inputs.meta(input_dir)["n_docs"]
        self._dirs = 0

    # --- fixtures -----------------------------------------------------

    def stage(self) -> None:
        """For ``resume``: build the half-complete output once per input
        (under a temporary name, renamed into place)."""
        final = os.path.join(self.sf, TEMPLATE)
        if self.kind != "resume" or os.path.exists(final):
            return
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        out = os.path.join(tmp, "out")
        materialize_triples(self.spark, api.triples_df(self.spark, self.sf),
                            out, sf_dir=self.sf, n_parts=N_PARTS,
                            only_parts=HALF)
        os.rename(tmp, final)

    def fresh_dir(self) -> str:
        self._dirs += 1
        return os.path.join(self.scratch, f"d{self._dirs}")

    def clear(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)

    # --- passes -------------------------------------------------------

    def run(self, traced: bool) -> PassResult:
        fn = getattr(self, f"_{self.kind}_{'traced' if traced else 'pass'}")
        try:
            return fn()
        finally:
            self.clear()

    def _materialize(self, triples, out: str) -> dict:
        return materialize_triples(self.spark, triples, out, sf_dir=self.sf,
                                   n_parts=N_PARTS)

    def _build_pass(self) -> PassResult:
        out = self.fresh_dir()
        t0 = time.perf_counter()
        summary = self._materialize(api.triples_df(self.spark, self.sf), out)
        wall = time.perf_counter() - t0
        return PassResult(wall, self.n_docs, summary["rows"],
                          self._written_ok(out))

    def _build_traced(self) -> PassResult:
        tr, spark = self.tracer, self.spark
        out = self.fresh_dir()
        with tr.span("pass") as root:
            with tr.span("corpus") as s_corpus:
                spans = spans_exploded(spark, self.sf).localCheckpoint(True)
            with tr.span("ner") as s_ner:
                mentions = detect_mentions(spans).localCheckpoint(True)
            with tr.span("linking") as s_link:
                linked = link_mentions(mentions, gazetteer_df(spark)) \
                    .localCheckpoint(True)
            with tr.span("relations.extract") as s_rel:
                triples = extract_triples(spans, linked).localCheckpoint(True)
            with tr.span("relations.dedup") as s_dedup:
                dedup = dedup_triples(triples).localCheckpoint(True)
            with tr.span("checkpointing.materialize") as s_mat:
                summary = self._materialize(triples, out)
        with tr.span("checkpointing.noop") as s_noop:
            again = self._materialize(triples, out)
        chars = (spans.filter(F.col("kind").isin(*NER_KINDS))
                 .agg(F.sum(F.length("text"))).first()[0])
        n_mentions, n_linked = mentions.count(), linked.count()
        n_triples, n_dedup = triples.count(), dedup.count()
        ner_s = tr.self_seconds(s_ner)
        layers = {
            "corpus.s": tr.self_seconds(s_corpus),
            "corpus.spans": spans.count(),
            "corpus.jobs": s_corpus.jobs,
            "ner.s": ner_s,
            "ner.chars": chars,
            "ner.mentions": n_mentions,
            "ner.chars_per_s": chars / ner_s,
            "ner.jobs": s_ner.jobs,
            "linking.s": tr.self_seconds(s_link),
            "linking.mentions": n_linked,
            "linking.used_ratio": 2 * n_triples / n_linked,
            "linking.jobs": s_link.jobs,
            "relations.extract_s": tr.self_seconds(s_rel),
            "relations.triples": n_triples,
            "relations.dedup_s": tr.self_seconds(s_dedup),
            "relations.distinct_ratio": n_dedup / n_triples,
            "relations.jobs": s_rel.jobs + s_dedup.jobs,
            "checkpointing.materialize_s": tr.self_seconds(s_mat),
            "checkpointing.rows": summary["rows"],
            "checkpointing.bytes_per_row": _parquet_bytes(out)
            / summary["rows"],
            "checkpointing.noop_s": tr.self_seconds(s_noop),
            "checkpointing.jobs": s_mat.jobs + s_noop.jobs,
        }
        ok = again["written"] == [] and self._written_ok(out)
        return PassResult(root.seconds, self.n_docs, summary["rows"], ok,
                          layers)

    def _resume_traced(self) -> PassResult:
        """The resume probe: a full build, then a resume of a copy of the
        half-complete output and a re-run with nothing pending."""
        tr, spark = self.tracer, self.spark
        full = self.fresh_dir()
        with tr.span("checkpointing.full_build") as s_full:
            self._materialize(api.triples_df(spark, self.sf), full)
        out = self.fresh_dir()
        shutil.copytree(os.path.join(self.sf, TEMPLATE, "out"), out)
        with tr.span("pass") as root:
            with tr.span("checkpointing.resume") as s_res:
                first = self._materialize(api.triples_df(spark, self.sf), out)
            with tr.span("checkpointing.noop") as s_noop:
                again = self._materialize(api.triples_df(spark, self.sf), out)
        layers = {
            "checkpointing.resume_cost_ratio": s_res.seconds / s_full.seconds,
            "checkpointing.noop_s": tr.self_seconds(s_noop),
            "checkpointing.jobs": s_res.jobs + s_noop.jobs,
        }
        ok = (first["written"] == [k for k in range(N_PARTS) if k not in HALF]
              and again["written"] == [] and self._written_ok(out)
              and self._written_ok(full))
        return PassResult(root.seconds, self.n_docs, first["rows"], ok, layers)

    def _store(self):
        return self.spark.read.parquet(inputs.store_path(self.sf))

    def _graph_pass(self) -> PassResult:
        spark, store = self.spark, self._store()
        pub = self.fresh_dir()
        t0 = time.perf_counter()
        canon = canonical_triples(store, canonical_mapping(terms_df(spark))) \
            .collect()
        inferred = kg_entailment(store).collect()
        layout = publish_graph_layout(store, pub)
        wall = time.perf_counter() - t0
        return PassResult(wall, self.n_docs, layout["rows"],
                          self._graph_ok(canon, inferred, layout, store))

    def _graph_traced(self) -> PassResult:
        tr, spark, store = self.tracer, self.spark, self._store()
        pub = self.fresh_dir()
        with tr.span("pass") as root:
            with tr.span("canonicalize.mapping") as s_map:
                mapping = canonical_mapping(terms_df(spark)) \
                    .localCheckpoint(True)
            with tr.span("canonicalize.rewrite") as s_rw:
                canon = canonical_triples(store, mapping).collect()
            with tr.span("graphops.entail") as s_ent:
                inferred = kg_entailment(store).collect()
            with tr.span("checkpointing.publish") as s_pub:
                layout = publish_graph_layout(store, pub)
        layers = {
            "canonicalize.mapping_s": tr.self_seconds(s_map),
            "canonicalize.rewrite_s": tr.self_seconds(s_rw),
            "canonicalize.jobs": s_map.jobs + s_rw.jobs,
            "graphops.entail_s": tr.self_seconds(s_ent),
            "graphops.inferred": len(inferred),
            "graphops.jobs": s_ent.jobs,
            "checkpointing.publish_s": tr.self_seconds(s_pub),
            "checkpointing.files": layout["n_files"],
            "checkpointing.jobs": s_pub.jobs,
        }
        return PassResult(root.seconds, self.n_docs, layout["rows"],
                          self._graph_ok(canon, inferred, layout, store),
                          layers)

    # --- output checks ------------------------------------------------

    def _written_ok(self, out: str) -> bool:
        """The written table, deduplicated on the 7-tuple with max
        confidence and a support count, equals the oracle's
        triples_dedup."""
        t = pq.read_table(out, columns=TRIPLE_KEY + ["confidence"])
        cols = [t.column(c).to_pylist() for c in TRIPLE_KEY]
        conf = t.column("confidence").to_pylist()
        best: dict[tuple, float] = {}
        support: Counter = Counter()
        for key, c in zip(zip(*cols), conf):
            best[key] = max(c, best.get(key, c))
            support[key] += 1
        got = {k + (round(best[k], 6), support[k]) for k in best}
        return got == _oracle_rows(self.sf, "triples_dedup")

    def _graph_ok(self, canon, inferred, layout, store) -> bool:
        canon_rows = {tuple(r[c] for c in TRIPLE_KEY)
                      + (round(r["confidence"], 6), r["support"])
                      for r in canon}
        inferred_rows = {tuple(r) for r in inferred}
        return (canon_rows == _oracle_rows(self.sf, "canonical_triples")
                and inferred_rows == _oracle_rows(self.sf, "kg_entailment")
                and len(inferred_rows) == len(inferred)
                and layout["rows"] == store.count())


def _oracle_rows(input_dir: str, query: str) -> set[tuple]:
    t = inputs.oracle(input_dir, query)
    rows = zip(*[t.column(c).to_pylist() for c in t.column_names])
    if query == "kg_entailment":
        return set(rows)
    # confidence is a DECIMAL in DuckDB; compare as rounded floats
    return {r[:-2] + (round(float(r[-2]), 6), r[-1]) for r in rows}


def _parquet_bytes(out: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(out)
               for f in files if f.endswith(".parquet"))
