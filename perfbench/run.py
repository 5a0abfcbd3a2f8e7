"""KG-construction benchmark: one seeded workload, one closed-loop run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload extract_long --seed 1 \
        --seconds 10 --trace 0

The run generates (or reuses) the seeded input, starts a local Spark
session sized to the host, sets up ``N_SETUPS`` times (session start plus
one warm-up pass each, reported as the median ``setup_s``; the session is
restarted in between), then submits passes one after another for
``--seconds`` seconds. Every pass checks its
output against the repository's oracle. The last line on stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json. With ``--trace 1`` the timed window is split: untraced
passes for half of ``--seconds``, traced passes for the other half (their
difference is the tracing overhead), then one
traced pass of each pass kind the workload does not run itself, so that
every per-layer metric of BENCHMARK.json is measured; it prints the
per-layer metrics and writes the spans to ``.perfbench_work/traces``.

Everything the run writes stays under ``.perfbench_work`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# workload -> (corpus, pass kind); see perfbench/README.md for why each
WORKLOADS = {
    "extract_long": ("long", "build"),
    "graph_saturate": ("graph", "graph"),
}
KINDS = ("build", "resume", "graph")
N_SETUPS = 2
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def configure_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    let the Python workers import the program from the checkout."""
    for sub in ("local", "tmp", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session():
    from cspirit_ontology_information_extraction_opus4plan_spark.session import (  # noqa: E501
        get_spark,
    )
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    })


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


class Tally:
    """Passes attempted and failed, and the results of those that
    succeeded."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, runner, traced: bool):
        self.attempted += 1
        try:
            res = runner.run(traced)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if not res.ok:
            log(f"output check failed ({runner.kind}, traced={traced})")
            self.failed += 1
            return None
        return res


def window(tally: Tally, runner, traced: bool, seconds: float) -> list:
    """Closed loop: the next pass starts when the previous one ends,
    until `seconds` have passed."""
    out = []
    deadline = time.perf_counter() + seconds
    while True:
        res = tally.run(runner, traced)
        if res is not None:
            out.append(res)
        if time.perf_counter() >= deadline:
            return out


def median(values) -> float:
    """Median, or 0.0 when every pass failed (the run reports failures)."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cspirit_ontology_information_extraction_opus4plan_spark  # noqa
    except ImportError as e:
        log(f"the program is not in this checkout: {e}")
        return 2
    configure_environment()
    import inputs
    from spans import PeakRss, Tracer
    from workloads import Runner

    corpus, kind = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    scratch = os.path.join(WORK, "scratch", run_id)
    input_dir = inputs.ensure(WORK, corpus, args.seed)
    log(f"input ready: {input_dir}")
    tally = Tally()

    spark = None
    setups, starts = [], []
    try:
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            started = time.perf_counter() - t0
            runner = Runner(spark, Tracer(spark.sparkContext, run_id), kind,
                            input_dir, scratch)
            t1 = time.perf_counter()
            tally.run(runner, False)
            setups.append(started + time.perf_counter() - t1)
            starts.append(started)
            log(f"setup {i}: start {started:.2f}s, total {setups[-1]:.2f}s")

        rss = PeakRss()
        rss.start()
        try:
            timed = window(tally, runner, False,
                           args.seconds / 2 if args.trace else args.seconds)
        finally:
            rss.stop()
        log("timed passes: " + " ".join(f"{r.wall:.2f}" for r in timed))

        if args.trace:
            metrics = traced_metrics(runner, tally, corpus, args, timed)
            metrics["session.start_s"] = median(starts)
            metrics["peak_rss_mb"] = rss.peak / 2**20
            runner.tracer.write(
                os.path.join(WORK, "traces", f"{run_id}.jsonl"))
        else:
            metrics = {
                "setup_s": median(setups),
                "wall_s": median(r.wall for r in timed),
                "docs_per_s": median(r.docs / r.wall for r in timed),
                "triples_per_s": median(r.triples / r.wall for r in timed),
            }
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    metrics["error_rate"] = tally.failed / tally.attempted
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {name: {"value": metrics.get(name, 0.0), "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


def traced_metrics(own, tally, corpus, args, untraced) -> dict:
    """Per-layer metrics: traced passes of the workload's own kind, then
    one traced pass of every other kind, on the corpus that kind uses
    for this workload (the graph store is always built from the graph
    corpus of the same seed)."""
    import inputs
    from workloads import Runner

    traced = window(tally, own, True, args.seconds / 2)
    layers: dict[str, float] = {}
    for res in traced:
        for k in res.layers:
            layers.setdefault(k, median(r.layers[k] for r in traced
                                        if k in r.layers))
    for other in KINDS:
        if other == own.kind:
            continue
        other_corpus = "graph" if other == "graph" else corpus
        other_dir = inputs.ensure(WORK, other_corpus, args.seed)
        runner = Runner(own.spark, own.tracer, other, other_dir, own.scratch)
        runner.stage()
        res = tally.run(runner, True)
        if res is not None:
            for k, v in res.layers.items():
                layers.setdefault(k, v)
    layers["trace.overhead_s"] = (median(r.wall for r in traced)
                                  - median(r.wall for r in untraced))
    return layers


if __name__ == "__main__":
    raise SystemExit(main())
