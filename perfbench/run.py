"""Benchmark entry point.

    python3 perfbench/run.py --cores 2 --driver-memory 2g \
        --workload event_backlog --seed 1 --seconds 16 --trace 0

Builds nothing: it drives the engine in this checkout (``firebolt_spark``)
through its public API on seeded generated inputs, checks the outputs,
and prints one JSON result as the last line of standard output. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Every run also writes its numbers (and, traced, its
spans) to ``.bench_trace/``; a traced run that finds the untraced run of
the same workload and seed there logs the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    ROOT,
    TRACE_DIR,
    RunConfig,
    Tracer,
    emit,
    log,
    stop_session,
    usable_cores,
)


def load_spec() -> dict:
    """BENCHMARK.json: the workload names and the metric lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv: list[str], spec: dict) -> RunConfig:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2,
                    help="local[k] and k shuffle partitions, capped at the cores this process may use")
    ap.add_argument("--driver-memory", default="2g")
    a = ap.parse_args(argv)
    return RunConfig(
        workload=a.workload,
        seed=a.seed,
        seconds=a.seconds,
        trace=bool(a.trace),
        cores=usable_cores(a.cores),
        driver_memory=a.driver_memory,
    )


def main(argv: list[str]) -> int:
    spec = load_spec()
    cfg = parse_args(argv, spec)
    # fails here, before any work, where the engine is not in the checkout
    import firebolt_spark  # noqa: F401

    from perfbench.curation import CurationBench
    from perfbench.events import BacklogBench

    tracer = Tracer(cfg.trace)
    bench_cls = BacklogBench if cfg.workload == "event_backlog" else CurationBench
    log(f"{cfg.workload}: seed {cfg.seed}, {cfg.seconds}s, local[{cfg.cores}], "
        f"driver heap {cfg.driver_memory}, trace {int(cfg.trace)}")
    bench = None
    try:
        bench = bench_cls(cfg, tracer)
        setup_s = bench.setup()
        res = bench.measure()
    finally:
        if bench is not None and bench.spark is not None:
            stop_session(bench.spark)
        shutil.rmtree(cfg.work_dir, ignore_errors=True)

    e2e = {"setup_s": (setup_s, "s"), **res["e2e"]}
    record = {
        "workload": cfg.workload,
        "seed": cfg.seed,
        "seconds": cfg.seconds,
        "trace": int(cfg.trace),
        "e2e": {k: v for k, (v, _) in e2e.items()},
    }
    path = os.path.join(TRACE_DIR, f"{cfg.workload}-seed{cfg.seed}-trace{int(cfg.trace)}.json")
    if cfg.trace:
        # every per-layer metric is printed; a layer the workload does not
        # call reads 0
        layers = {m["name"]: (0.0, m["unit"]) for m in spec["per_layer"]}
        build = next(sp for sp in tracer.spans if sp.name == "pipeline.build")
        layers["session.start_s"] = (tracer.total("session.start"), "s")
        layers["pipeline.build_s"] = (build.end - build.start, "s")
        layers["setup.warmup_s"] = (tracer.total("setup.warmup"), "s")
        layers.update(res["layers"])
        record["layers"] = {k: v for k, (v, _) in layers.items()}
        untraced = path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            record["overhead"] = {k: record["e2e"][k] / base[k] - 1 for k in base}
            log("tracing overhead (traced / untraced - 1): "
                + ", ".join(f"{k} {v:+.3f}" for k, v in record["overhead"].items()))
        metrics = layers
    else:
        metrics = e2e
    tracer.dump(path, record)
    log("metrics: " + ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items()))
    emit(res["correct"], res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
