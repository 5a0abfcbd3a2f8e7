"""Launch-mode evidence for the north rule: the construct job runs
end-to-end under the REAL `spark-submit --py-files` binary (its own
JVM, not the test session), materializes a checkpointed triple table,
and a second identical invocation resumes to the identical result. Both
runs also publish the deduplicated store and its entailment, which must
equal the pandas oracle's dedup (and its saturation) every time."""

from __future__ import annotations

import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import pandas as pd
import pytest

from . import oracle

REPO = Path(__file__).resolve().parent.parent
SUBMIT = shutil.which("spark-submit")

pytestmark = pytest.mark.skipif(SUBMIT is None,
                                reason="spark-submit not on PATH")


def _zip_package(tmp: Path) -> Path:
    pkg = REPO / "cspirit_ontology_information_extraction_opus4plan_spark"
    zpath = tmp / "cspirit_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in pkg.rglob("*.py"):
            z.write(f, f.relative_to(REPO))
    return zpath


def _run(out: Path, zpath: Path, sf_dir: str) -> None:
    cmd = [SUBMIT, "--master", "local[4]",
           "--py-files", str(zpath),
           "--conf", "spark.sql.shuffle.partitions=4",
           "--conf", "spark.ui.enabled=false",
           str(REPO / "jobs" / "kg_construct_job.py"),
           "--sf-dir", sf_dir,
           "--out", str(out), "--parts", "2",
           "--publish", str(out.parent / "graph"),
           "--entail", str(out.parent / "entail")]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, r.stderr[-3000:]


def _oracle_dedup(sf_dir: str) -> dict[tuple, tuple]:
    """7-tuple -> (max confidence, support) over the pandas oracle."""
    flat = pd.read_parquet(f"{sf_dir}/documents.parquet")
    out: dict[tuple, tuple] = {}
    for r in oracle.expected_triples(oracle.expected_spans(flat)):
        k = tuple(r[c] for c in oracle.TRIPLE_KEY)
        conf, n = out.get(k, (r["confidence"], 0))
        out[k] = (max(conf, r["confidence"]), n + 1)
    return out


def _check_publish_and_entail(spark, tmp: Path, want: dict) -> None:
    from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (  # noqa: E501
        kg_entailment,
    )
    key = list(oracle.TRIPLE_KEY)
    got = {tuple(r[c] for c in key): (r["confidence"], r["support"])
           for r in spark.read.parquet(str(tmp / "graph")).collect()}
    assert got == want
    store = spark.createDataFrame(
        [k + v for k, v in want.items()],
        "subject string, predicate string, object string, "
        "subject_type string, object_type string, object_datatype string, "
        "object_language string, confidence double, support bigint")
    cols = ["subject", "predicate", "object", "rule"]
    entailed = sorted(tuple(r) for r in spark.read.parquet(
        str(tmp / "entail")).select(*cols).collect())
    assert entailed == sorted(tuple(r) for r in
                              kg_entailment(store).select(*cols).collect())


def test_spark_submit_job_end_to_end_and_resume(spark, sf_dir, tmp_path):
    zpath = _zip_package(tmp_path)
    out = tmp_path / "triples"
    want = _oracle_dedup(sf_dir)
    _run(out, zpath, sf_dir)
    first = (spark.read.parquet(str(out))
             .orderBy("triple_id", "doc_id").toPandas())
    assert len(first) > 0
    # one lineage+metrics marker per completed partition
    markers = sorted((out / "_checkpoints").glob("part_*.json"))
    assert len(markers) == 2, markers
    m = json.loads(markers[0].read_text())
    assert m["metrics"]["n_rows"] >= 0 and "lineage" in m
    # --publish / --entail are derived from the written table
    _check_publish_and_entail(spark, tmp_path, want)
    # a second run resumes partition 1 (its marker and data gone, as if
    # killed before they were written) to the identical table, and
    # publishes and entails over both partitions, not only the rewritten one
    (out / "_checkpoints" / "part_00001.json").unlink()
    shutil.rmtree(out / "part_id=1")
    _run(out, zpath, sf_dir)
    second = (spark.read.parquet(str(out))
              .orderBy("triple_id", "doc_id").toPandas())
    assert first.equals(second)
    _check_publish_and_entail(spark, tmp_path, want)
