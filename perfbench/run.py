"""Benchmark of record: one closed-loop workload against MorphikSpark.

    python3 perfbench/run.py --workload serve|mixed --seed N --seconds S --trace 0|1

Run from the checkout root. The last stdout line is the result object;
the line before it holds per-type details. ``--trace 1`` runs every
second op of each request type with every layer wrapped, then, after the
window, a registry slice (serve) or batch ingest (mixed), and reports the
per-layer metrics instead of the end-to-end ones. The exit code is
non-zero when an output check fails.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import morphik_core_spark  # noqa: E402,F401 — fail fast without the library

from perfbench import corpus, ingest, metrics, oracle, registry, sparkenv, stats, store, trace  # noqa: E402
from perfbench.workload import Runner  # noqa: E402

WORK = os.path.join(ROOT, "perfbench", "_work")
# warm-up on the workload's own mix, inside setup_s: the first request on
# a cold JVM takes 8-11 s and retrieve latencies keep falling for ~40
# requests, further than one client gets within the run budget, so the
# warm-up runs its reads two clients at a time (Runner.warm_up)
WARMUP_CYCLES = 2
WARM_CLIENTS = 2
# the window is a number of whole cycles fixed by --seconds alone, never by
# how fast the cycles run, so the tail's percentile, n and op mix are the
# same for every commit compared: --seconds 12 gives 2 cycles (16 serve
# ops, 14 mixed ops)
CYCLE_S = 10
MIN_CYCLES = 2


def window_cycles(seconds: float) -> int:
    return max(MIN_CYCLES, math.ceil(seconds / CYCLE_S))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(corpus.CYCLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _by_type(records) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in records:
        out.setdefault(r.op.type, []).append(r)
    return out


def _p50s(records) -> dict[str, float]:
    return {
        t: stats.p50([r.latency_ms for r in rs if r.error is None])
        for t, rs in _by_type(records).items()
        if any(r.error is None for r in rs)
    }


def check(model: oracle.StoreModel, records, run_store: str, workload: str) -> list[str]:
    """Replay every op into the model in order and check each read."""
    errors = []
    n_docs, n_chunks = len(model.doc_ids), model.n_chunks
    for rec in records:
        op = rec.op
        if op.type.startswith("update_"):
            if rec.error is not None:
                errors.append(f"op {rec.seq} ({op.type}) failed, so the store state is unknown")
                return errors
            if op.type == "update_text":
                model.update_text(op.params["doc"], corpus.updated_text(op))
            else:
                model.update_metadata(op.params["doc"], op.params["updates"])
        elif rec.error is None:
            err = oracle.check_read(model, op, rec.result)
            if err:
                errors.append(f"op {rec.seq} ({op.type}): {err}")
    if workload == "mixed":
        errors += oracle.check_final(model, run_store, n_docs, n_chunks)
    return errors


def end_to_end(window, elapsed: float, setup_s: float) -> tuple[dict, dict]:
    ok = [r for r in window if r.error is None]
    failed = len(window) - len(ok)
    tail = stats.tail([r.latency_ms for r in ok], failed=failed)
    p50s = _p50s(window)
    value, pct, n = tail
    if value == float("inf"):
        value = elapsed * 1000.0  # the tail rank is a failed op
    retrieve = [r.latency_ms for r in window if r.op.type == "retrieve" and r.error is None]
    first, last = stats.quarter_p50s(retrieve)
    values = {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / elapsed,
        "latency_tail_ms": value,
        # with every retrieve failed, the p50 is beyond the window
        "retrieve.p50_ms": p50s.get("retrieve", elapsed * 1000.0),
    }
    out = {name: _metric(values[name], unit) for name, unit in metrics.END_TO_END}
    detail = {
        "tail": {"percentile": pct, "n": n},
        "retrieve_quarter_p50_ms": {"first": first, "last": last},
    }
    return out, detail


def per_layer(untraced, traced, after_window: dict[str, float]) -> tuple[dict, dict]:
    base, with_trace = _p50s(untraced), _p50s(traced)
    values: dict[str, float] = {f"{t}.p50_ms": v for t, v in base.items()}
    for t, rs in _by_type(traced).items():
        ok = [r.layers for r in rs if r.error is None]
        for key in sorted({k for layers in ok for k in layers}):
            values[f"{t}.{key}"] = stats.p50([layers.get(key, 0.0) for layers in ok])
    # retrieve_chunks is the one type with 4-5 ops on each side
    if "retrieve" in base and "retrieve" in with_trace:
        values["tracing.overhead_pct"] = (with_trace["retrieve"] / base["retrieve"] - 1.0) * 100.0
    values.update(after_window)
    out = {name: _metric(float(values.get(name, 0.0)), unit) for name, unit in metrics.per_layer()}
    detail = {"traced_p50_ms": with_trace, "untraced_p50_ms": base}
    return out, detail


def run_after_window(spark, args, runner, run_dir: str) -> tuple[dict[str, float], list[str]]:
    """The traced run's layers that no serve or mixed op reaches: the
    registry slice after a serve window, batch ingest after a mixed one.
    Neither touches the window's ops or the end-to-end metrics."""
    if args.workload == "serve":
        data = os.path.join(run_dir, "registry")
        registry.write_tables(data)
        out, first, errors = registry.run(spark, data, args.seed, runner.counters)
        return out, errors + registry.check(data, first)
    return ingest.run(spark, run_dir, args.seed, runner.counters, runner.jvm)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.makedirs(WORK, exist_ok=True)
    store_src, build_s = store.ensure_store(ROOT, WORK)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    run_store = os.path.join(run_dir, "store")
    try:
        spark = sparkenv.start_spark(ROOT, run_dir)
        try:
            from morphik_core_spark.api import MorphikSpark

            store.fresh_copy(store_src, run_store)
            docs = oracle.read_documents(run_store).select(["external_id", "filename"]).to_pylist()
            ids = {corpus.doc_index(d["filename"]): d["external_id"] for d in docs}
            client = MorphikSpark(spark, run_store, chunk_size=corpus.CHUNK_SIZE, chunk_overlap=corpus.CHUNK_OVERLAP)
            runner = Runner(client, ids.__getitem__, corpus.op_cycles(args.workload, args.seed))
            warmup = runner.warm_up(WARMUP_CYCLES, WARM_CLIENTS)
            setup_s = time.perf_counter() - T0 - build_s
            if args.trace:
                runner.tracer = trace.Tracer()
                runner.counters = trace.SparkCounters(trace.StatusSource(spark))
                runner.jvm = sparkenv.jvm_pid()
            ran, elapsed = runner.run_cycles(window_cycles(args.seconds))
            window = [r for r in ran if r.phase == "window"]
            traced = [r for r in ran if r.phase == "traced"]
            after_window: dict[str, float] = {}
            after_errors: list[str] = []
            if args.trace:
                runner.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
                after_window, after_errors = run_after_window(spark, args, runner, run_dir)
        finally:
            sparkenv.stop_spark(spark)

        model = oracle.StoreModel(store_src)
        errors = check(model, runner.records, run_store, args.workload) + after_errors
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    measured = window + traced
    if args.trace:
        out, detail = per_layer(window, traced, after_window)
        detail["after_window"] = after_window
    else:
        out, detail = end_to_end(window, elapsed, setup_s)
    by_type = _by_type(measured)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        store={"documents": len(model.doc_ids), "chunks": model.n_chunks, "apps": len(corpus.APPS)},
        store_build_s=build_s,
        setup_s=setup_s,
        window_s=elapsed,
        warmup_ms=[r.latency_ms for r in warmup],
        window_ms=[[r.op.type, r.latency_ms] for r in measured],
        per_type={
            t: {
                "attempted": len(rs),
                "failed": sum(r.error is not None for r in rs),
                "p50_ms": stats.p50([r.latency_ms for r in rs if r.error is None]),
            }
            for t, rs in by_type.items()
        },
        errors=errors[:20] + [r.error for r in runner.records if r.error][:5],
    )
    print(json.dumps(detail))
    result = {
        "correct": not errors,
        "attempted": len(measured),
        "failed": sum(r.error is not None for r in measured),
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
