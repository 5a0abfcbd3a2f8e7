"""Universal Spark-vs-DuckDB parity gate: every queries() entry runs
against its oracle_sql() twin at sf0.001 — the same comparison the
driver's CORRECTNESS gate performs at sf0.01 (sorted columns, rounded
floats, full-frame equality). Parametrized so a regression names the
exact query."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

from .conftest import SF_DIR, kernel_path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_QUERIES = E.queries()
_ORACLES = E.oracle_sql()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_every_query_has_an_oracle():
    missing = sorted(set(_QUERIES) - set(_ORACLES))
    assert not missing, f"queries without oracle_sql: {missing}"


def _check(name, spark, duck):
    got = _normalize(_QUERIES[name](spark, SF_DIR).toPandas())
    want = _normalize(duck.execute(_ORACLES[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), f"{len(got)} vs {len(want)} rows"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, duck):
    _check(name, spark, duck)


# queries whose answer runs through connected_components or the
# entailment closures (kg_entailment, its delta and its retraction)
GRAPH_KERNEL_QUERIES = [
    "canonical_entities", "canonical_entities_delta",
    "canonical_entities_retract", "canonical_component_sizes",
    "canonical_triples", "doc_neardup_resolve", "kg_entailment",
    "kg_entailment_delta", "kg_entailment_retract", "kg_rule_mining"]


@pytest.mark.parametrize("name", GRAPH_KERNEL_QUERIES)
def test_graph_query_matches_oracle_distributed(name, spark, duck):
    """test_query_matches_oracle runs these on the in-driver kernels
    (operators/localgraph.py); this runs them on the distributed loops."""
    with kernel_path("distributed"):
        _check(name, spark, duck)


def test_bench_roster_queries_all_exist():
    """Every bench.py HEADLINE entry must resolve to a queries()
    entry (a stale roster name would silently drop a headline metric
    from BENCH_r{N}.json rather than fail)."""
    import bench
    missing = [q for q in bench.HEADLINE if q not in _QUERIES]
    assert not missing, missing
