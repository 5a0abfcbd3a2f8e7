"""Spark jobs, tasks and wall time per layer call, for one extraction
build pass and one graph pass on a perfbench input.

Each layer call runs under its own Spark job group; the job and task
counts are read back from the status tracker by group (tasks: the sum of
``numTasks`` over the stages of the group's jobs; a stage that AQE ran as
its own job and a later job lists again as skipped counts in both).
Passes repeat in one session after a warm-up pass; the table shows, per
call, the job and task counts of the last pass and the median wall
time, then the totals of the warm-up pass (pass 0, which pays the
session's set-up work such as starting Python workers) and of the
later passes. The build pass also times the planning it pays before any job:
building the ``api.triples_df`` plan and optimizing it
(``queryExecution().optimizedPlan()``; the write plans its own query
again, and the pass row includes both). Run from the root of a
checkout:

    python tools/job_counts.py                    # seed 1, 3 passes
    python tools/job_counts.py --seed 2 --passes 5 --only graph

The inputs are the benchmark's own (``perfbench/inputs.py``, corpus
``long`` for the build pass and ``graph`` for the graph pass), created
under ``.perfbench_work/inputs`` on first use. Outputs go to a temporary
directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import inputs  # noqa: E402

from cspirit_ontology_information_extraction_opus4plan_spark import api  # noqa: E402, E501
from cspirit_ontology_information_extraction_opus4plan_spark.operators.canonicalize import (  # noqa: E402, E501
    canonical_mapping,
    canonical_triples,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.gazetteer import (  # noqa: E402, E501
    terms_df,
)
from cspirit_ontology_information_extraction_opus4plan_spark.operators.graphops import (  # noqa: E402, E501
    kg_entailment,
)
from cspirit_ontology_information_extraction_opus4plan_spark.plans.checkpointing import (  # noqa: E402, E501
    materialize_triples,
    publish_graph_layout,
)
from cspirit_ontology_information_extraction_opus4plan_spark.session import (  # noqa: E402, E501
    get_spark,
)

WORK = os.path.join(ROOT, ".perfbench_work")
N_PARTS = 16  # as the benchmark's build pass


class JobCounter:
    """Runs calls under fresh job groups; keeps (jobs, tasks, seconds) per
    name."""

    def __init__(self, sc):
        self.sc = sc
        self.calls: dict[str, list[tuple[int, int, float]]] = {}

    def __call__(self, name: str, fn):
        group = f"job-counts-{uuid.uuid4().hex}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            stages = [tracker.getStageInfo(s) for j in jobs
                      for s in tracker.getJobInfo(j).stageIds]
            tasks = sum(st.numTasks for st in stages if st is not None)
            self.calls.setdefault(name, []).append((len(jobs), tasks, dt))


def build_pass(spark, count: JobCounter, sf: str, out: str) -> None:
    triples = count("api.triples_df (plan)",
                    lambda: api.triples_df(spark, sf))
    count("triples optimizedPlan()",
          lambda: triples._jdf.queryExecution().optimizedPlan())
    count("materialize_triples",
          lambda: materialize_triples(spark, triples, out, sf_dir=sf,
                                      n_parts=N_PARTS))


def graph_pass(spark, count: JobCounter, sf: str, out: str) -> None:
    store = spark.read.parquet(inputs.store_path(sf))
    mapping = count("canonical_mapping",
                    lambda: canonical_mapping(terms_df(spark)))
    count("canonical_triples .collect",
          lambda: canonical_triples(store, mapping).collect())
    count("kg_entailment .collect",
          lambda: kg_entailment(store).collect())
    count("publish_graph_layout",
          lambda: publish_graph_layout(store, out))


PASSES = {"build": ("long", build_pass), "graph": ("graph", graph_pass)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--only", choices=sorted(PASSES))
    args = p.parse_args(argv)

    kinds = [args.only] if args.only else list(PASSES)
    dirs = {k: inputs.ensure(WORK, PASSES[k][0], args.seed) for k in kinds}
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("job-counts", master=f"local[{cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    tmp = tempfile.mkdtemp(prefix="job-counts-")
    try:
        for kind in kinds:
            run = PASSES[kind][1]
            count = JobCounter(spark.sparkContext)
            for i in range(args.passes + 1):  # pass 0 warms up
                out = os.path.join(tmp, f"{kind}-{i}")
                t0 = time.perf_counter()
                run(spark, count, dirs[kind], out)
                wall = time.perf_counter() - t0
                last = [c[-1] for n, c in count.calls.items()
                        if not n.startswith("(")]
                total = (sum(c[0] for c in last), sum(c[1] for c in last),
                         wall)
                if i == 0:  # its calls leave the medians, its total stays
                    count.calls = {"(warm-up pass 0)": [total]}
                else:
                    count.calls.setdefault("(pass)", []).append(total)
                shutil.rmtree(out, ignore_errors=True)
            print(f"\n{kind} pass, seed {args.seed}, {dirs[kind]}")
            print(f"  {'call':<30} {'jobs':>5} {'tasks':>6} {'median s':>9}"
                  "  all s")
            for name, calls in sorted(count.calls.items(),
                                      key=lambda c: c[0].startswith("(")):
                secs = [c[2] for c in calls]
                print(f"  {name:<30} {calls[-1][0]:>5} {calls[-1][1]:>6} "
                      f"{statistics.median(secs):>9.3f}  "
                      + " ".join(f"{s:.3f}" for s in secs))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
