from __future__ import annotations

import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cspirit_ontology_information_extraction_opus4plan_spark.session import (
        get_spark,
    )

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextmanager
def kernel_path(path: str):
    from cspirit_ontology_information_extraction_opus4plan_spark.operators import (  # noqa: E501
        localgraph,
    )

    with pytest.MonkeyPatch.context() as m:
        if path == "distributed":
            m.setattr(localgraph, "ROW_BOUND", 0)
            m.setattr(localgraph, "NODE_BOUND", 0)
        yield path


def kernel_paths():
    """Yield "driver" (the bounded in-driver kernels of
    operators/localgraph.py, as shipped) and then "distributed" (both
    bounds patched to 0, so connected_components and kg_entailment run
    their distributed loops); a loop body over it runs on both paths."""
    for path in ("driver", "distributed"):
        with kernel_path(path):
            yield path
