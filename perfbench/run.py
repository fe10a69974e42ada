"""Benchmark entry point.

    python3 perfbench/run.py --workload sink_fanout --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of this repository. Prints a context
line (host facts) and, as the last line of standard output, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.bench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "kafka_sink_azure_kusto_spark"
MODULES = {"sink_fanout": "wl_fanout", "registry_mix": "wl_registry"}


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    trace: bool
    tracer: object
    workdir: str
    spark_dir: str
    process_start: float

    def log(self, msg: str) -> None:
        print(f"[{self.workload}] {msg}", file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: run from a checkout root; ./{PACKAGE} is missing", file=sys.stderr)
        return 2
    spec = _spec()
    workloads = {w["name"] for w in spec["workloads"]}
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the sink logs every retry and DLQ hand-off; the benchmark counts them instead
    logging.getLogger(PACKAGE).setLevel(logging.CRITICAL)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

    import importlib

    import harness  # after the path check, so a bare directory fails fast

    workload = importlib.import_module(MODULES[args.workload])
    out_dir = os.path.join(ROOT, ".bench_out")
    workdir = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # temporary files of the driver, its workers and the JVM stay in the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    tracer = harness.Tracer(bool(args.trace))
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), tracer,
                  workdir, os.path.join(workdir, "spark"), PROCESS_START)
    facts = harness.host_facts()
    try:
        with harness.RssSampler() as rss:
            res = workload.run(ctx)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    facts["loadavg_1m_after"] = os.getloadavg()[0]
    rss_mb = rss.non_heap_mb_between(*res["window"])
    # wall-clock figures follow the host's load; they are context here and
    # per-layer metrics in a traced run, where no bound applies
    res["context"]["wall"] = res["wall"]
    res["layers"].update({f"wall.{k}": v for k, v in res["wall"].items()})
    facts["steal_pct"] = rss.steal_pct_between(*res["window"])
    res["e2e"]["non_heap_rss_p90_mb"] = harness.percentile(rss_mb, 90)
    res["context"]["non_heap_rss_mb"] = {
        "p50": harness.percentile(rss_mb, 50), "p90": harness.percentile(rss_mb, 90),
        "max": max(rss_mb), "samples": len(rss_mb)}

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    if args.trace:
        for m in wanted:  # a layer this workload never calls did no work
            if not m["name"].startswith(workload.LAYERS):
                values.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"error: workload did not measure {missing}", file=sys.stderr)
        return 3
    if args.trace:
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "host": facts,
             "context": res["context"], "layers": res["layers"], "e2e": res["e2e"]},
        )
    print("context " + json.dumps({"workload": args.workload, "seed": args.seed, "host": facts,
                                   **res["context"]}))
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
