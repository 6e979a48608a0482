#!/usr/bin/env python3
"""Benchmark for universql_spark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads are defined in BENCHMARK.json
(``sql_interactive``, ``registry_sf001``). All load comes from this process
as a closed loop with one client against ``local[nproc]`` Spark. The work
done per run is a fixed function of ``--seconds`` (whole read passes and
write cycles), so every run of a workload does the same work; the seed fixes
statement order, DML predicates and key ranges.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a run with span wrappers installed (spans.py). The last line
of stdout is the result object; the line before it is a self-dating record
(harness and source digests, git sha, nproc, seed, calibration probes, load,
fixture digests, sample counts and any errors). Fixtures are generated on
first use, the star schema under ``perfbench/_work/`` and the dbgen TPC-H
tables under ``data/`` (by tools_tpch_verbatim.py); each run works in its own
directory under ``perfbench/_work/``, removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: timed work per second of --seconds, calibrated on a 4-core box
SCALE = {
    "sql_interactive": lambda s: {"passes": max(2, round(s * 0.2)), "cycles": max(4, round(s * 0.4))},
    "registry_sf001": lambda s: {"passes": max(2, round(s * 0.6))},
}


def _sha256_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def harness_sha256() -> str:
    return _sha256_files([os.path.join(HERE, f) for f in os.listdir(HERE) if f.endswith(".py")])


def source_sha256() -> str:
    pkg = os.path.join(ROOT, "universql_spark")
    return _sha256_files(
        [os.path.join(d, f) for d, _s, fs in os.walk(pkg) for f in fs if f.endswith(".py")]
    )


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or None


def end_to_end(tally) -> dict[str, float]:
    import harness as H

    return {
        "setup_s": H.median(tally.setup_s),
        "cold_setup_s": tally.setup_s[0],
        "stmt_p50_ms": 1000.0 * H.quantile(tally.samples, 0.5),
        "stmt_p90_ms": 1000.0 * H.quantile(tally.samples, 0.9),
        "suite_s": tally.suite_s(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny fixtures (star sf0.001); used by perfbench/smoke.py")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "universql_spark", "engine.py"))
            and os.path.isfile(os.path.join(ROOT, "tests", "compare.py"))
            and os.path.isfile(spec_path)):
        print(f"perfbench: no universql_spark source tree at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import fixtures
    import harness as H
    from tools_tpch_verbatim import ensure_fixture as ensure_tpch

    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    fx_root = os.path.join(WORK, "fixtures")
    os.makedirs(fx_root, exist_ok=True)
    star_sf = 0.001 if args.smoke else (0.1 if args.workload == "sql_interactive" else 0.01)
    fx = {"star": fixtures.ensure_star(fx_root, star_sf), "tpch": ensure_tpch(0.01)}

    cpus = len(os.sched_getaffinity(0))
    dirs = H.RunDirs(os.path.join(WORK, f"run-{os.getpid()}"))
    H.prepare_env(dirs, cpus)
    load_in = os.getloadavg()
    calib = {"spin_in": H.spin(), "duck_calib_in": H.duck_calib(f"{fx['star']}/lineitem.parquet")}

    import spans as T
    import registry
    import sql_interactive

    tracer = T.Tracer() if args.trace else None
    ctx = SimpleNamespace(root=ROOT, seed=args.seed, fixtures=fx, dirs=dirs, tracer=tracer,
                          scale=SCALE[args.workload](args.seconds))
    module = {"sql_interactive": sql_interactive, "registry_sf001": registry}[args.workload]
    tally, crashed, peak_mb = None, None, 0.0
    try:
        H.redirect_warehouse(dirs.warehouse)
        tally = module.run(ctx)
        peak_mb = H.peak_rss_mb()
    except Exception:  # noqa: BLE001 - reported as an incorrect run
        crashed = traceback.format_exc()
    finally:
        if tracer is not None:
            tracer.uninstall()
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        H.shutdown_all()
        dirs.remove()
    calib.update(spin_out=H.spin(), duck_calib_out=H.duck_calib(f"{fx['star']}/lineitem.parquet"))

    if tally is None:
        print(crashed, file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    if args.trace:
        layers = dict(tally.layers)
        layers.update({"box.spin_s": calib["spin_in"], "box.duck_calib_s": calib["duck_calib_in"],
                       "box.load_in": load_in[0], "peak_rss_mb": peak_mb,
                       "duckdb_ratio": tally.duckdb_ratio(),
                       "failed_share": tally.failed / max(1, tally.attempted)})
        wanted = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
        tally.facts["layers_measured"] = sorted(layers)
    else:
        wanted = spec["end_to_end"]
        values = end_to_end(tally)
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "harness_sha256": harness_sha256(), "source_sha256": source_sha256(), "git_sha": git_sha(),
        "nproc": cpus, "scale": ctx.scale, "peak_rss_mb": round(peak_mb, 1),
        "duckdb_ratio": round(tally.duckdb_ratio(), 3), "samples": len(tally.samples),
        "kind_median_ms": {k: round(1000 * H.median(v), 1) for k, v in sorted(tally.by_kind.items())},
        "setup_s": [round(x, 4) for x in tally.setup_s],
        "load_in": load_in, "load_out": os.getloadavg(),
        **{k: round(v, 4) for k, v in calib.items()},
        "fixtures": {k: fixtures.fixture_digest(v) for k, v in fx.items()},
        **tally.facts, "errors": tally.errors,
    }
    print(json.dumps(record))
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": max(1, tally.attempted), "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
