"""gliner-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads: kg_batch, kg_stream,
curation_batch (see perfbench/README.md for what each one exercises and
which layer metric should move which end-to-end metric).

--trace 0 measures the end-to-end metrics with tracing off. --trace 1 is a
separate traced run: it repeats the workload untraced, then traced (Spark
event log on, one job group per layer), then calls each layer's public
functions on the same inputs, and prints the per-layer metrics.

stdout: a human-readable summary, one JSON line of details (seed, input
properties, sample counts, checks), and as the LAST line the result object
{"correct", "attempted", "failed", "metrics"}. Any failed correctness
check makes "correct" false. Without the gliner_spark package next to this
directory the run exits with code 2 and prints no result.

All state (stage dirs, stream checkpoints, landing dir, warehouse, event
logs, Spark and JVM temp files) lives under a per-process directory in
<repo>/.perfbench_tmp/ that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _import_program() -> str | None:
    """Import gliner_spark from the checkout this file sits in; return an
    error message instead when it is missing or resolves elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import gliner_spark
    except ImportError as exc:
        return f"cannot import gliner_spark from {ROOT}: {exc}"
    where = os.path.abspath(gliner_spark.__file__)
    if not where.startswith(ROOT + os.sep):
        return f"gliner_spark resolved outside {ROOT}: {where}"
    return None


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    err = _import_program()
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2

    from harness import Bench, load_spec
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}",
            file=sys.stderr,
        )
        return 2
    spec = load_spec(os.path.join(ROOT, "BENCHMARK.json"))

    parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=parent)
    bench = Bench(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        outcome = WORKLOADS[args.workload].run(bench)
    except Exception:  # the run cannot produce a result; say why, exit 1
        traceback.print_exc()
        return 1
    finally:
        bench.close()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(parent)  # only when no concurrent run still uses it
        except OSError:
            pass

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in outcome.metrics:
            print(f"perfbench: metric {m['name']} not produced", file=sys.stderr)
            return 1
        metrics[m["name"]] = {
            "value": outcome.metrics[m["name"]],
            "unit": m["unit"],
        }
    for line in outcome.summary:
        print(line)
    print(json.dumps(outcome.details, sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
