"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Prints every metric by name with its unit, a ``details`` line, and, as
the last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). Exits non-zero without a result line when the engine
cannot be imported or a workload cannot run to the end."""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("sensor_alerts", "curation_serving")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv) -> int:
    args = parse(argv)
    try:
        import kstreams_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    from importlib import import_module

    work = os.path.join(common.WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.prepare_environment(work)

    module = import_module(f"perfbench.{args.workload}")
    tracer = common.Tracer(bool(args.trace))
    try:
        metrics, details, attempted, failed = module.run(args, tracer, work)
    except Exception:  # noqa: BLE001 - the run failed; report without a result line
        traceback.print_exc()
        return 1
    finally:
        common.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if tracer.enabled:
        tracer.dump(os.path.join(common.WORK, f"spans-{args.workload}-{args.seed}.json"))
    if not tracer.enabled and set(common.END_TO_END) - set(metrics):
        print(f"perfbench: {args.workload} did not measure every metric", file=sys.stderr)
        return 1
    # per-layer metrics of layers this workload does not run read 0
    wanted = common.LAYER_METRICS if tracer.enabled else common.END_TO_END
    metrics = {k: metrics.get(k, common.metric(0.0, unit)) for k, unit in wanted.items()}
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    common.emit(result, details)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
