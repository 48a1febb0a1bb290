"""Seeded build · query · ingest benchmark for blacklab_spark.

Run from the repository root:

    python3 perfbench/run.py --workload {build,query,ingest} --seed N \\
        --seconds S --trace {0,1}

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A fuller record (settings, input properties, per-kind latencies and
failures) goes to standard error and to ``perfbench/results/``; a
traced run also writes its spans there. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "query", "ingest")
# the oracle load is repeated this often in set-up and its median
# counts towards setup_s
SETUP_REPS = 3
# the ingest workload's second corpus is generated with this seed offset
BATCH_SEED_OFFSET = 1_000_003
MAX_STEPS = 6


def log(msg) -> None:
    print(msg if isinstance(msg, str) else json.dumps(msg), file=sys.stderr,
          flush=True)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def median_timed(fn, *args):
    """Run ``fn`` SETUP_REPS times; the last result and the median time."""
    times = []
    for _ in range(SETUP_REPS):
        out, s = timed(fn, *args)
        times.append(s)
    return out, statistics.median(times)


def load_oracle(corpus: str):
    import inputs
    return inputs.load_oracle(inputs.read_rows(corpus))


def set_up(spark, session_s: float, args, work: str):
    """Corpus, oracle and set-up build. Returns (ctx, setup)."""
    import inputs
    import workloads as W
    from tracing import Tracer

    seed = args.seed
    tracer = Tracer(spark, args.trace == 1)
    corpus = os.path.join(work, "corpus")
    with tracer.span("setup.gen"):
        _, gen_s = timed(inputs.generate_corpus, spark, seed,
                         inputs.N_CONVS, corpus)
    with tracer.span("setup.oracle"):
        oracle, oracle_s = median_timed(load_oracle, corpus)
    ctx = W.Ctx(spark, tracer, work, args.seconds, oracle)
    want = {"n_docs": oracle.n_docs, "total_tokens": sum(oracle.dl.values()),
            "vocab": len(oracle.postings)}
    setup = {"session_s": session_s, "gen_s": gen_s, "oracle_s": oracle_s,
             "counts": want}
    t0 = time.perf_counter()
    corpus_df = spark.read.parquet(corpus)
    index_dir = os.path.join(work, "idx")
    ctx.attempted += 1
    m, build_ms, sp = W.build_once(ctx, index_dir, corpus_df, "setup.build")
    W.check_manifest(ctx, -1, m, want)
    setup.update(corpus_df=corpus_df, index_dir=index_dir,
                 setup_build_s=build_ms / 1e3,
                 build_layers=[W.build_layer(m, sp, oracle.n_docs,
                                             index_dir)],
                 index_bytes_per_turn=W.dir_bytes(index_dir) / oracle.n_docs)
    if args.workload != "build":
        from blacklab_spark.engine import SearchEngine
        setup["engine"] = SearchEngine.open(spark, index_dir)
    if args.workload == "query":
        setup["stream"] = inputs.query_stream(seed, oracle, n_ops=400)
    if args.workload == "ingest":
        from pyspark.sql import functions as F
        batch_path = os.path.join(work, "batches")
        # a second corpus whose conv ids sort after the main corpus's,
        # so the oracle's dense ids match the delta's offset ids
        from blacklab_spark.sources.transcripts import gen_transcripts_spark
        (gen_transcripts_spark(spark, "bench",
                               seed=seed + BATCH_SEED_OFFSET,
                               n_convs=inputs.BATCH_CONVS * MAX_STEPS)
         .withColumn("conv_id", F.concat(F.lit("new-"), "conv_id"))
         .write.mode("overwrite").parquet(batch_path))
        batch_rows = inputs.read_rows(batch_path)
        setup["batch_df"] = spark.read.parquet(batch_path)
        setup["steps"] = inputs.ingest_steps(seed, oracle, batch_rows,
                                             MAX_STEPS)
    # session start, corpus generation and the set-up build happen once
    # per process: a second one in the same process would be warm
    setup["setup_s"] = (session_s + gen_s + oracle_s
                        + time.perf_counter() - t0)
    return ctx, setup


def run(args) -> dict:
    import host
    import layers
    import workloads as W

    settings = host.host_settings()
    work = os.path.join(HERE, "_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark, session_s = timed(host.start_session, work, settings)
        ctx, setup = set_up(spark, session_s, args, work)
        with ctx.tracer.span(args.workload):
            result = getattr(W, args.workload)(ctx, setup)
        kinds = [W.median(v) for v in result["kinds"].values() if v]
        e2e = {
            "main_p50_ms": W.median(result["main_ms"]),
            "kinds_geomean_ms": W.geomean(kinds) if kinds else 0.0,
            "index_bytes_per_turn": result["bytes_per_turn"],
            "setup_s": setup["setup_s"],
        }
        if args.trace:
            values = layers.per_layer(result, setup, ctx.tracer,
                                      ctx.attempted)
            units = layers.PER_LAYER
            stem = f"{args.workload}-seed{args.seed}-trace1"
            ctx.tracer.write(os.path.join(results, stem + ".spans.jsonl"),
                             args.workload)
        else:
            values, units = e2e, layers.END_TO_END
            stem = f"{args.workload}-seed{args.seed}-trace0"
        failed = len(ctx.failures)
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "settings": settings, "end_to_end": e2e,
            "failed_ratio": failed / max(1, ctx.attempted),
            "peak_rss_mb": host.peak_rss_mb(spark),
            "setup_build_turns_per_s": (setup["counts"]["n_docs"]
                                        / setup["setup_build_s"]),
            "setup_phases_s": {k: setup[k] for k in
                               ("session_s", "gen_s", "oracle_s",
                                "setup_build_s")},
            "latencies_ms": result["kinds"],
            **result["details"], "failures": ctx.failures,
        }
        if args.trace:
            record["per_layer"] = values
        with open(os.path.join(results, stem + ".json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        log(record)
        return {"correct": failed == 0, "attempted": ctx.attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u}
                            for k, u in units.items()}}
    finally:
        if spark is not None:
            host.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "blacklab_spark",
                                       "__init__.py")):
        log(f"blacklab_spark not found under {ROOT}: run from a full "
            "checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    out = run(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
