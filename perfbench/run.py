"""End-to-end benchmark of the paper's pipelines.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 8 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``batch_backfill``: hourly, daily and weekly jobs over a gzip JSONL archive;
- ``stream_live``: the alert, slot-state and hourly-document streams fed by an
  open-loop chunk generator;
- ``corpus_ops``: a fixed mix of extension operators over a generated corpus.

Inputs come from ``--seed`` only. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries run hygiene and informational
fields. A traced run also writes its spans to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"batch_backfill": "batch", "stream_live": "stream", "corpus_ops": "corpus"}


class Ctx:
    """What a workload gets: its arguments, a scratch directory and a tracer."""

    def __init__(self, args, workdir: str, cpus: int) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.cpus = cpus
        self.tracer = None
        self.setup_end = None

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()


MODULES = {"sources": "sources", "jobs": "jobs", "sinks": "streaming.pipelines",
           "stream": "microbatch"}


def module_of(span: dict) -> str:
    return span.get("module") or MODULES.get(span["name"].split(".")[0], span["name"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    os.environ["TZ"] = "UTC"  # collect() renders timestamps in the process time zone
    time.tzset()
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(root, "inde1_spark", "__init__.py")):
        print("perfbench: no inde1_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    if not os.path.isfile(bench_file):
        print("perfbench: BENCHMARK.json not found in the current directory", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    with open(bench_file) as f:
        spec = json.load(f)

    import common
    from spans import Tracer, self_times

    hyg = common.hygiene()
    cpus = hyg["nproc"]
    workdir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    spark = None
    try:
        ctx = Ctx(args, workdir, cpus)
        mod = importlib.import_module(WORKLOADS[args.workload])
        t = time.perf_counter()
        exp = mod.prepare(ctx)
        generate_s = time.perf_counter() - t
        t0 = time.perf_counter()
        spark = common.start_session(workdir, cpus)
        ctx.tracer = Tracer(spark.sparkContext, enabled=False,
                            run_id=f"{args.workload}-{args.seed}")
        res = mod.run(ctx, spark, exp)
        setup_s = ctx.setup_end - t0
        layers = res["layers"]
        if ctx.trace:
            layers.update(common.jvm_stats(spark), **{"bench.generate_s": generate_s})
            spans = ctx.tracer.spans
            shares = self_times(spans, module_of)
            total = sum(shares.values()) or 1.0
            largest = max(shares, key=shares.get) if shares else None
            layers["trace.largest_module_share"] = shares.get(largest, 0.0) / total
            summary = {"self_s_by_module": shares, "largest_module": largest,
                       "layers": layers}
            res["info"]["largest_module"] = largest
            os.makedirs(os.path.join(root, ".perfbench", "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(root, ".perfbench", "traces",
                                         f"{args.workload}-seed{args.seed}.json"), summary)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    layers["failed_ratio"] = failed / max(1, attempted)
    values = dict(res["e2e"], setup_s=setup_s)
    group = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float((layers if ctx.trace else values).get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in group}
    info = dict(hyg, workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=ctx.trace, generate_s=generate_s, setup_s=setup_s,
                contended=hyg["other_spark_jvms"] > 0, **res["info"])
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({"correct": failed == 0 and res.get("correct", True),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
