"""sparkfilter benchmark: one closed-loop client running one workload.

    python3 perfbench/run.py --workload curate_calib --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads: ``curate_calib``,
``delta_ingest`` and ``catalog`` (see their modules). A run starts
Spark on ``local[<cpus>]`` in this process, sets the workload up
(inputs generated or loaded, read and counted, workload preparation),
runs its untimed warm-up, then runs operations back to back until they
have taken ``--seconds`` (at least one operation), checking every
operation's outputs outside the timed work. ``setup_s`` is the time
from before the JVM starts until the warm-up has ended.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones from spans around the program's public functions (a traced
``curate_calib`` run ends with one pass over the catalog's ``CORE``
queries, whose times are per-layer metrics too). The line
before it, and ``.perfbench/runs/``, hold the run's full record
(every operation, steal fraction, set-up and warm-up times, and
``clips_per_s`` where the workload processes clips).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import common
from common import RssSampler, median, percentile

E2E_UNITS = {"wall_s": "s", "batch_p50_s": "s", "batch_p90_s": "s", "setup_s": "s"}


def workload(name: str, seed: int):
    if name == "curate_calib":
        from curate_calib import CurateCalib

        return CurateCalib(seed)
    if name == "delta_ingest":
        from delta_ingest import DeltaIngest

        return DeltaIngest(seed)
    if name == "catalog":
        from catalog import Catalog

        return Catalog(seed)
    raise SystemExit(f"unknown workload {name!r}")


def end_to_end(ops: list[dict], setup_s: float) -> dict[str, float]:
    batches = [b for o in ops for b in o["batches"]]
    return {"wall_s": median([o["wall"] for o in ops]),
            "batch_p50_s": percentile(batches, 50), "batch_p90_s": percentile(batches, 90),
            "setup_s": setup_s}


def clips_per_s(ops: list[dict]) -> float | None:
    """Clips processed over timed wall time; not a gated metric, as it
    is the workload's fixed clip count over ``wall_s``."""
    clips = sum(o["clips"] for o in ops)
    return clips / sum(o["wall"] for o in ops) if clips else None


def per_layer(layer_ops: list[dict[str, float]]) -> dict[str, float]:
    """Median over operations of each per-layer number (0 where an
    operation did not reach the layer)."""
    names = sorted({k for d in layer_ops for k in d})
    return {k: median([d.get(k, 0.0) for d in layer_ops]) for k in names}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio"


def run(args) -> tuple[dict, dict]:
    """Set up, warm up and run the closed loop; returns (record, result)."""
    from layers import PER_LAYER, op_layers
    from spans import Tracer, max_job_id

    wl = workload(args.workload, args.seed)
    ops, layer_ops, problems = [], [], []
    attempted = failed = 0
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = common.start_spark()
        wl.setup(spark)
        t1 = time.perf_counter()
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        warmup_s = time.perf_counter() - t1
        tracer = Tracer(spark) if args.trace else None
        ticks0 = common.stat_ticks()
        timed = 0.0
        while attempted == 0 or timed < args.seconds:
            after = max_job_id(spark) if tracer else -1
            if tracer:
                wl.install(tracer)
            rss.active = True
            t0 = time.perf_counter()
            try:
                out = wl.op(spark, tracer, time.perf_counter)
            except Exception:
                out = None
                problems.append(traceback.format_exc(limit=8))
            finally:
                rss.active = False
                timed += time.perf_counter() - t0
                if tracer:
                    tracer.uninstall()
            if out is None:
                attempted += wl.units_per_op
                failed += wl.units_per_op
                if tracer:
                    tracer.release()
                continue
            if tracer:
                lay = wl.op_layers(out) if hasattr(wl, "op_layers") else {}
                if tracer.spans:
                    lay.update(op_layers(tracer, spark, after, out["wall"]))
                lay.update(wl.waste(tracer))
                lay["trace.wall_s"] = out["wall"]
                layer_ops.append(lay)
            t0 = time.perf_counter()
            try:
                bad = wl.check(spark, out)
            except Exception:
                bad = [traceback.format_exc(limit=8)]
            out["check_s"] = time.perf_counter() - t0
            if tracer:
                tracer.release()
            attempted += out["attempted"]
            failed += min(len(bad), out["attempted"])
            problems.extend(bad)
            ops.append({k: v for k, v in out.items() if k not in ("res", "failures")}
                       | {"problems": bad})
        steal = common.steal_frac(ticks0, common.stat_ticks())
        catalog_layers = {}
        if args.trace and args.workload == "curate_calib":
            # the catalog's layers, measured after the traced pipeline runs
            from catalog import layer_pass

            catalog_layers, bad, n = layer_pass(spark, args.seed)
            attempted += n
            failed += len(bad)
            problems.extend(bad)
        wl.cleanup()
        common.shutdown(spark)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": common.cpus(), "setup_s": setup_s,
        "warmup_s": warmup_s, "clips_per_s": clips_per_s(ops) if ops else None, "steal_frac": steal, "peak_rss_mb": rss.peak_mb,
        "ops": ops, "problems": problems,
    }
    metrics = {}
    if ops and args.trace:
        values = per_layer(layer_ops) | catalog_layers | {"process.peak_rss_mb": rss.peak_mb}
        record["layers"] = values
        metrics = {k: {"value": values.get(k, 0.0), "unit": layer_unit(k)}
                   for k in PER_LAYER}
    elif ops:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in end_to_end(ops, setup_s).items()}
    result = {"correct": failed == 0 and bool(ops), "attempted": max(attempted, 1),
              "failed": failed if ops else max(attempted, 1), "metrics": metrics}
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("curate_calib", "delta_ingest", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        common.require_program()
    except common.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    common.prepare_env()
    sys.path.insert(0, common.ROOT)
    record, result = run(args)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(common.RUNS, f"{args.workload}_s{args.seed}_t{args.trace}_{stamp}.json")
    with open(path, "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
