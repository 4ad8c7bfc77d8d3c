"""Benchmark entry point: one seeded workload per invocation.

    python3 perfbench/run.py --workload batch_short --seed 1 --seconds 10 --trace 0

--trace 0 measures the end-to-end metrics with tracing off; --trace 1 is the
separate traced run that reports per-layer metrics. The last stdout line is
one JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it ("perfbench": {...}) carries the context: generation time, the
host-noise probe at start and end, sample counts, the stream-only figures
and every output check. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("batch_short", "batch_long", "stream_append")
RECLUSTER_REPS = 3  # a re-clustering is short; its median over 3 is steadier
E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "recluster_s": "s",
    "recall": "ratio",
    "jvm_peak_rss_mb": "MiB",
}
LAYER_UNITS = {
    "text.s": "s", "text.shingles": "count", "text.jobs": "count",
    "minhash.s": "s", "minhash.docs": "count", "minhash.tasks": "count",
    "lsh.s": "s", "lsh.band_rows": "count", "lsh.hot_bands": "count",
    "lsh.candidate_pairs": "count", "lsh.dropped_bands": "count", "lsh.jobs": "count",
    "verify.s": "s", "verify.pairs_in": "count", "verify.pairs_out": "count",
    "verify.gated_pairs": "count", "verify.yield": "ratio",
    "cc.s": "s", "cc.edges": "count", "cc.components": "count",
    "cc.max_component": "count", "cc.jobs": "count",
    "best_match.s": "s", "best_match.jobs": "count",
    "pipeline.s": "s", "pipeline.jobs": "count", "pipeline.tasks": "count",
    "pipeline.failed_tasks": "count", "pipeline.trace_overhead_s": "s",
    "incremental.batch_s": "s", "incremental.batch_s_tail": "s", "incremental.jobs": "count",
    "incremental.history_rows": "count", "incremental.bytes_written": "B",
    "incremental.state_files": "count", "incremental.compact_bytes_rewritten": "B",
    "incremental.compact_s": "s", "incremental.state_bytes_per_doc": "B/doc",
}


class Ledger:
    """Operations attempted/failed, and every named output check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}

    def op(self, fn, check=None):
        """Run one operation; it fails if it raises or `check(result)` is
        false. Returns the result, or None on failure."""
        self.attempted += 1
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        if check is not None and not check(out):
            self.failed += 1
        return out

    def check(self, name: str, ok: bool) -> bool:
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        return bool(ok)


def warm_up(spark, inp, led) -> None:
    """The first pipeline run after start-up compiles generated code and
    warms the JIT on every path the timed runs take; it is output-checked,
    not timed."""
    from perfbench import workloads as w

    led.op(lambda: w.pipeline_op(spark, inp.pages),
           lambda r: led.check("clusters_match_oracle", r[2] == inp.corpus.expected_clusters))


def run_batch(spark, spec, inp, seconds, led, ctx) -> dict:
    from perfbench import workloads as w

    c = inp.corpus
    walls, last = [], None
    warm_up(spark, inp, led)
    t_end = time.perf_counter() + seconds
    while len(walls) < spec.timed_ops or time.perf_counter() < t_end:
        res = led.op(lambda: w.pipeline_op(spark, inp.pages),
                     lambda r: led.check("clusters_match_oracle", r[2] == c.expected_clusters))
        if res is None:
            break
        walls.append(res[0])
        last = res[1]
    if last is None:
        return {}
    reclusters = [led.op(lambda: w.recluster_op(last["prepared"], last["verified"]))
                  for _ in range(RECLUSTER_REPS)]
    if reclusters[-1] is not None and not led.check(
        "recluster_partition", w.same_partition(inp.labels, reclusters[-1][1])
    ):
        led.failed += 1
    rep = w.recall_report(inp.pages, last["prepared"], last["pairs"], last["verified"])
    led.check("expected_pairs_match_oracle", rep["expected_pairs"] == c.expected_pairs)
    if not led.check("recall", rep["recall"] >= w.MIN_RECALL):
        led.failed += 1  # the last run failed its output check
    p50 = w.median(walls)
    ctx.update(ops=len(walls), op_s=walls, median_op_s=p50, recall_report=rep)
    return {
        "docs_per_s": c.n_docs / p50,
        "recluster_s": w.median([r[0] for r in reclusters if r]),
        "recall": rep["recall"],
    }


def check_stream(spark, inp, res, led) -> dict:
    from perfbench import workloads as w

    led.check("stream_docs_ingested", res.inc.stored_sigs().count() == inp.corpus.n_docs)
    led.check("recluster_partition", w.same_partition(inp.labels, res.clusters))
    vp = res.inc.verified_pairs()
    rep = w.recall_report(inp.pages, res.inc.stored_sigs(), vp, vp)
    led.check("expected_pairs_match_oracle", rep["expected_pairs"] == inp.corpus.expected_pairs)
    led.check("recall", rep["recall"] >= w.MIN_RECALL)
    return rep


def stream_figures(res, n_docs) -> dict:
    from perfbench import workloads as w

    t, pct, n = w.tail(res.batch_s)
    return {
        "batch_s_tail": t, "batch_s_tail_percentile": pct, "batch_samples": n,
        "compact_s": w.median(res.compact_s) if res.compact_s else None,
        "state_bytes_per_doc": res.state_bytes / n_docs,
        "state_files": res.state_files,
    }


def run_stream(spark, spec, inp, seconds, led, ctx, work) -> dict:
    from perfbench import workloads as w

    streams = []
    t_end = time.perf_counter() + seconds
    while len(streams) < spec.timed_ops or time.perf_counter() < t_end:
        # each micro-batch, compaction and the recluster is one operation
        res = led.op(lambda: w.stream_op(spark, inp, spec, work / "state"))
        if res is None:
            break
        led.attempted += len(inp.feed) + len(res.compact_s)
        streams.append(res)
    if not streams:
        return {}
    res = streams[-1]
    rep = check_stream(spark, inp, res, led)
    if not all(led.checks.values()):
        led.failed += 1
    walls = [s for r in streams for s in r.batch_s]
    docs = sum(sum(r.batch_docs) for r in streams)
    ctx.update(streams=len(streams), batch_s=walls, recall_report=rep, **stream_figures(res, inp.corpus.n_docs))
    return {
        "docs_per_s": docs / sum(walls),
        "recluster_s": w.median([r.recluster_s for r in streams]),
        "recall": rep["recall"],
    }


def run_traced(spark, spec, inp, led, ctx, work, seed) -> dict:
    from pyspark.sql import functions as F

    from perfbench import workloads as w
    from perfbench.harness import Tracer

    c = inp.corpus
    tr = Tracer(spark, f"{spec.name}-{seed}")

    def pipeline_span():
        with tr.span("pipeline") as sp:
            out = w.pipeline_op(spark, inp.pages)
        led.check("clusters_match_oracle", out[2] == c.expected_clusters)
        return sp.end - sp.start, out

    if spec.kind == "stream":
        res = led.op(lambda: w.stream_op(spark, inp, spec, work / "state", tracer=tr))
        check_stream(spark, inp, res, led)
        pipe_s, out = led.op(pipeline_span)
        # the incremental result must equal a batch pipeline over the same docs
        batch_labels = out[1]["clusters"].select("doc_id", F.col("cluster_id").alias("root"))
        led.check("stream_equals_batch_pipeline", w.same_partition(batch_labels, res.clusters))
    else:
        warm_up(spark, inp, led)
        pipe_s, out = led.op(pipeline_span)
        res = led.op(lambda: w.stream_op(spark, inp, spec, work / "state", tracer=tr, warmup=False))
        led.check("recluster_partition", w.same_partition(inp.labels, res.clusters))
    m = w.layered_pass(tr, inp.pages)
    led.check("layered_clusters_match_oracle", m.pop("clusters") == c.expected_clusters)
    led.check("layered_partition", m.pop("partition_ok"))
    if not all(led.checks.values()):
        led.failed += 1

    for layer in ("text", "minhash", "lsh", "verify", "cc", "best_match"):
        t = tr.totals(layer)
        m[f"{layer}.s"] = t["s"]
        m[f"{layer}.jobs"] = t["jobs"]
        m[f"{layer}.tasks"] = t["tasks"]
    pipe = tr.totals("pipeline")
    layered = next(s for s in tr.spans if s.name == "layered")
    m["pipeline.s"] = pipe_s
    m["pipeline.jobs"] = pipe["jobs"]
    m["pipeline.tasks"] = pipe["tasks"]
    m["pipeline.failed_tasks"] = pipe["failed_tasks"]
    m["pipeline.trace_overhead_s"] = (layered.end - layered.start) - pipe_s

    inc = tr.totals("incremental.process_batch")
    fig = stream_figures(res, c.n_docs)
    m["incremental.batch_s"] = w.median(res.batch_s)
    m["incremental.batch_s_tail"] = fig["batch_s_tail"]
    m["incremental.jobs"] = inc["jobs"]
    m["incremental.history_rows"] = res.inc.stored_bands().count()
    m["incremental.bytes_written"] = res.bytes_written
    m["incremental.state_files"] = res.state_files
    m["incremental.compact_bytes_rewritten"] = res.compact_bytes_rewritten
    m["incremental.compact_s"] = fig["compact_s"]
    m["incremental.state_bytes_per_doc"] = fig["state_bytes_per_doc"]
    out_path = ROOT / ".perfbench" / "traces" / f"{spec.name}-seed{seed}.jsonl"
    tr.write(out_path)
    ctx.update(trace_file=str(out_path.relative_to(ROOT)), spans=len(tr.spans))
    return {k: m[k] for k in LAYER_UNITS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout, in this process and in the
    # Python workers Spark forks
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from perfbench import harness
    from perfbench import workloads as w

    spec = w.SPECS[args.workload]
    cores = os.cpu_count() or 1
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    led = Ledger()
    ctx: dict = {"workload": args.workload, "seed": args.seed, "cores": cores, "trace": args.trace}

    try:
        spark, setup_s = harness.start_session(work, cores)
        try:
            pid = harness.jvm_pid(spark)
            ctx["noise_start_s"] = harness.noise_probe(spark, cores)
            steal0 = harness.cpu_jiffies()
            t0 = time.perf_counter()
            inp = w.load(spark, spec, args.seed, cores, with_feed=bool(args.trace) or spec.kind == "stream")
            ctx.update(gen_s=time.perf_counter() - t0, n_docs=inp.corpus.n_docs,
                       expected_clusters=inp.corpus.expected_clusters,
                       expected_pairs=inp.corpus.expected_pairs)
            if args.trace:
                metrics = run_traced(spark, spec, inp, led, ctx, work, args.seed)
                units = LAYER_UNITS
            else:
                run = run_stream if spec.kind == "stream" else run_batch
                kwargs = {"work": work} if spec.kind == "stream" else {}
                metrics = run(spark, spec, inp, args.seconds, led, ctx, **kwargs)
                metrics.update(setup_s=setup_s, jvm_peak_rss_mb=harness.peak_rss_mb(pid))
                units = E2E_UNITS
            steal1 = harness.cpu_jiffies()
            ctx["host_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
            ctx["noise_end_s"] = harness.noise_probe(spark, cores)
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ctx["checks"] = led.checks
    correct = led.failed == 0 and all(led.checks.values()) and set(units) <= set(metrics)
    print(json.dumps({"perfbench": ctx}, default=float))
    print(json.dumps({
        "correct": correct,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
